package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, its scratch area inside the
  * checkout, the seed, the listeners and the metric report. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val progress: ProgressListener) {
  val report = new Report
  var attempted = 0L
  var failed = 0L
  private var dirs = 0

  def fail(n: Long, why: String): Unit = {
    failed += n
    System.err.println(s"[perfbench] FAILED ($n): $why")
  }

  /** A fresh directory path under the scratch area (not yet created). */
  def dir(prefix: String): String = { dirs += 1; work.resolve(f"$prefix-$dirs%03d").toString }

  /** Recursive delete; a missing directory is a no-op. */
  def rmTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
  }

  def drainEvents(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: built in `setup`, warmed once without recording, then
  * run by `measure`, whose outputs `check` verifies. */
trait Workload {
  /** Set-up samples in seconds; their median is the per-unit set-up time. */
  def setup(): Seq[Double]
  def warmup(): Unit
  /** Runs units until `seconds` of measured time have passed, or exactly
    * `units` of them when given; returns the number run. The same unit
    * count on a fresh start repeats the same work. */
  def measure(tr: Tracer, units: Option[Int]): Int
  /** Layer metrics of the last `measure` call, which ran traced. */
  def layerMetrics(jobs: Seq[JobRec]): Unit
  /** Verifies the outputs; mismatches count as failed ops. Returns the
    * set-up samples of any fixture it had to rebuild. */
  def check(): Seq[Double]
}

/** The benchmark's entry point:
  *
  *   PerfBench --workload <ingest_default|cdc_sync_serve>
  *             --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints a detail line (every metric's median, quartiles and sample
  * count, plus the run's environment) and, last, the result line. With
  * `--trace 0` the result holds the end-to-end metrics; with `--trace 1`
  * the per-layer ones, from a traced pass that an untraced repeat of the
  * same work follows. */
object PerfBench {
  val EndToEnd: Seq[String] = Seq("docs_per_s", "batch_p50_ms", "sync_p50_ms",
    "serve_p50_ms", "setup_s", "peak_rss_mb")

  private val lanes = Seq("lsh", "bm25", "ivf", "payload")
  val PerLayer: Seq[String] = Seq(
    "sources.latest_offset_ms", "sources.planning_ms", "sources.file_opens_per_file",
    "sources.driver_parses", "sources.parse_us_per_doc",
    "checkpoint.batch_p90_ms", "checkpoint.wal_commit_ms", "checkpoint.commit_offsets_ms",
    "checkpoint.engine_other_ms",
    "checkpoint.batches", "checkpoint.files", "checkpoint.bytes",
    "ingest.add_batch_ms", "ingest.task_ms", "ingest.task_cpu_ms", "ingest.task_gc_ms",
    "ingest.tasks", "ingest.task_skew", "ingest.sink_files", "ingest.docs_per_file",
    "ingest.rejects", "ingest.publish_us_per_doc",
    "streaming.jobs_per_batch", "streaming.tasks_per_batch") ++
    (lanes :+ "index_store").map(l => s"operators.$l.sync_job_ms") ++
    lanes.map(l => s"operators.$l.rewrite_share") ++
    lanes.map(l => s"operators.$l.live_files") ++
    lanes.map(l => s"operators.$l.serve_ms") ++
    Seq("operators.shuffle_bytes", "operators.spill_bytes", "jvm.gc_ms", "jvm.jit_ms",
      "trace.overhead_share") ++
    Seq("sources", "checkpoint", "ingest", "streaming", "operators").map(l => s"trace.self_ms.$l")

  /** Units of the per-layer metrics; a metric a workload does not
    * exercise reads 0. */
  def layerUnit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_us_per_doc")) "us/doc"
    else if (name.endsWith("bytes")) "bytes"
    else if (name.endsWith("_share") || name.endsWith("_per_file") ||
             name.endsWith("skew")) "ratio"
    else "count"

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM start to a usable session
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val ctx = new Ctx(spark, work, seed, seconds, progress)
    val wl: Workload = workload match {
      case "ingest_default" => new IngestWorkload(ctx)
      case "cdc_sync_serve" => new CdcWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    val setups = wl.setup()
    val (_, warmS) = ctx.timeS(wl.warmup())
    // settle: let the JIT queue and the heap calm down before timing
    System.gc()
    Thread.sleep(1000)
    val off = new Tracer(false)
    val units =
      if (!traced) wl.measure(off, None)
      else {
        // traced first, then the same work untraced: what warm-up the
        // JVM still lacks makes the traced pass slower, so the overhead
        // share errs high rather than low
        val jobs = new JobListener
        spark.sparkContext.addSparkListener(jobs)
        val tr = new Tracer(true)
        val (gc0, jit0) = (gcMs, jitMs)
        val (n, tracedS) = ctx.timeS(wl.measure(tr, None))
        ctx.drainEvents()
        val (gc1, jit1) = (gcMs, jitMs)
        spark.sparkContext.removeSparkListener(jobs)
        val passJobs = jobs.jobs
        val passSpans = tr.spans
        wl.layerMetrics(passJobs)
        ctx.report.add("jvm.gc_ms", "ms", gc1 - gc0)
        ctx.report.add("jvm.jit_ms", "ms", jit1 - jit0)
        val self = Tracer.selfMsByLayer(passSpans, passJobs)
        Seq("sources", "checkpoint", "ingest", "streaming", "operators").foreach { l =>
          ctx.report.add(s"trace.self_ms.$l", "ms", self.getOrElse(l, 0.0))
        }
        Files.write(work.resolve("trace.json"),
          Tracer.toJson(passSpans, passJobs).getBytes("UTF-8"))
        val (_, untracedS) = ctx.timeS(wl.measure(off, Some(n)))
        ctx.report.add("trace.overhead_share", "ratio", tracedS / untracedS - 1)
        n
      }

    // the checks' own work does not count to the workload's footprint
    ctx.report.add("peak_rss_mb", "MB", peakRssMb)
    val rebuilds = wl.check()
    val perUnitSetup = Report.median(setups ++ rebuilds)
    ctx.report.add("setup_s", "s", sessionS + perUnitSetup + warmS)
    ctx.report.add("failed_share", "ratio", ctx.failed.toDouble / math.max(1L, ctx.attempted))

    val names = if (traced) PerLayer else EndToEnd
    if (traced) names.filterNot(ctx.report.has).foreach(n => ctx.report.add(n, layerUnit(n), 0.0))
    val rt = Runtime.getRuntime
    println(Json.write(Seq(
      "detail" -> Seq(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "cpus" -> cpus, "heap_max_mb" -> rt.maxMemory / (1024 * 1024),
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "session_s" -> sessionS, "warmup_s" -> warmS, "setup_unit_s" -> (setups ++ rebuilds),
        "units" -> units, "attempted" -> ctx.attempted, "failed" -> ctx.failed),
      "metrics" -> ctx.report.detail)))
    println(Json.write(Seq(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> ctx.report.result(names))))
    spark.stop()
    // a wrong output fails the command, after its result is printed
    if (ctx.failed > 0) sys.exit(1)
  }
}
