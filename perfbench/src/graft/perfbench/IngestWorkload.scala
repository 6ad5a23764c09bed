package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.{BulkAction, BulkBuffer, EsBulkClient, EsBulkSink, EsSimStore, FileEsBulkClient, IngestRecord}
import graft.sources.{EsSimSource, EsSimStats}

/** Store → source → bulk sink → published store, through `graft.Main
  * --once` in this JVM at the reference defaults, over the file transport.
  *
  * The source store holds `StoreFiles` bulk files of 1024 docs (the sink's
  * file flush size) with stats sidecars, written in ts order. At the
  * default `source.batch-size` of 1000 one file is admitted per
  * micro-batch, so a call runs `StoreFiles` micro-batches. Every `Main`
  * call reads a store this JVM has never planned (cold per-file stats
  * cache, as for a fresh `Main --once`) and writes fresh sink and
  * checkpoint directories. */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import IngestWorkload._
  import ctx.spark.implicits._

  private val records = Inputs.copyRecords(ctx.seed, StoreFiles * PerFile)
  private val docs = records.size.toLong
  private val fresh = mutable.Queue.empty[String]
  private val seedTimes = mutable.ArrayBuffer.empty[Double]
  /** (sink dir, rejects during its call) awaiting verification */
  private val sinks = mutable.ArrayBuffer.empty[(String, Long)]
  private var lastCalls = Seq.empty[Call]
  private var lastStore: String = _

  private def seedStore(nFiles: Int): String = {
    val dir = ctx.dir("source")
    val client = new FileEsBulkClient(dir, "ts")
    records.take(nFiles * PerFile).grouped(PerFile).foreach(client.bulk(_))
    dir
  }

  private def timedSeed(): String = {
    val (d, s) = ctx.timeS(seedStore(StoreFiles))
    seedTimes += s
    d
  }

  private def freshStore(): String = if (fresh.nonEmpty) fresh.dequeue() else timedSeed()

  /** Seeds two stores; stores seeded later for more calls add samples. */
  def setup(): Seq[Double] = {
    (1 to 2).foreach(_ => fresh.enqueue(timedSeed()))
    seedTimes.toSeq
  }

  private def runMain(src: String, sink: String, ckpt: String): Unit =
    graft.Main.main(Array(src, sink, ckpt, "--once"))

  /** A smaller copy. (`check` reads the source back before it times the
    * read-back of each sink.) */
  def warmup(): Unit = {
    val src = seedStore(WarmupFiles)
    val (sink, ckpt) = (ctx.dir("warm-sink"), ctx.dir("warm-ckpt"))
    runMain(src, sink, ckpt)
    Seq(src, sink, ckpt).foreach(ctx.rmTree)
  }

  private def call(tr: Tracer): Call = {
    val src = freshStore()
    val (sink, ckpt) = (ctx.dir("sink"), ctx.dir("ckpt"))
    val opened0 = EsSimSource.filesOpened.get
    val parsed0 = EsSimStats.filesParsed.get
    val rejects0 = BulkBuffer.rejectedTotal.get
    val t0 = Clock.nowMs
    val (_, s) = ctx.timeS(tr.span("graft.Main.main --once", "checkpoint") {
      runMain(src, sink, ckpt)
    })
    val t1 = Clock.nowMs
    ctx.drainEvents()
    val rejects = BulkBuffer.rejectedTotal.get - rejects0
    sinks += ((sink, rejects))
    ctx.attempted += docs
    val (ckFiles, ckBytes) = treeSize(Paths.get(ckpt))
    val c = Call(s, ctx.progress.lastQueryBatches, EsSimSource.filesOpened.get - opened0,
      EsSimStats.filesParsed.get - parsed0, rejects, ckFiles, ckBytes,
      bulkFiles(sink).size.toLong, t0, t1)
    ctx.rmTree(ckpt)
    if (lastStore != null) ctx.rmTree(lastStore)
    lastStore = src
    c
  }

  def measure(tr: Tracer, units: Option[Int]): Int = {
    val calls = mutable.ArrayBuffer.empty[Call]
    var spent = 0.0
    while (units.fold(spent < ctx.seconds || calls.isEmpty)(calls.size < _)) {
      val c = call(tr)
      calls += c
      spent += c.seconds
    }
    lastCalls = calls.toSeq
    if (!tr.on) {
      val r = ctx.report
      calls.foreach(c => r.add("docs_per_s", "docs/s", docs / c.seconds))
      val batches = calls.flatMap(_.batches).toSeq
      val trigger = batches.map(_.durationMs("triggerExecution").toDouble)
      r.addAll("batch_ms", "ms", trigger)
      r.add("batch_p50_ms", "ms", Report.median(trigger))
      r.add("batch_p90_ms", "ms", Report.percentile(trigger, 90))
      // the sink's share of a micro-batch: the foreachBatch bulk write
      r.addAll("sync_p50_ms", "ms", batches.map(_.durationMs("addBatch").toDouble))
    }
    calls.size
  }

  def layerMetrics(jobs: Seq[JobRec]): Unit = {
    val r = ctx.report
    val batches = lastCalls.flatMap(_.batches)
    def phase(k: String) = batches.map(_.durationMs.getOrElse(k, 0L).toDouble)
    r.add("checkpoint.batch_p90_ms", "ms", Report.percentile(phase("triggerExecution"), 90))
    r.addAll("sources.latest_offset_ms", "ms", phase("latestOffset"))
    r.addAll("sources.planning_ms", "ms", phase("queryPlanning"))
    r.addAll("checkpoint.wal_commit_ms", "ms", phase("walCommit"))
    r.addAll("checkpoint.commit_offsets_ms", "ms", phase("commitOffsets"))
    r.addAll("ingest.add_batch_ms", "ms", phase("addBatch"))
    val named = Seq("latestOffset", "queryPlanning", "walCommit", "commitOffsets", "addBatch")
    r.addAll("checkpoint.engine_other_ms", "ms", batches.map { b =>
      (b.durationMs("triggerExecution") - named.map(b.durationMs.getOrElse(_, 0L)).sum).toDouble
    })
    lastCalls.foreach { c =>
      r.add("sources.file_opens_per_file", "ratio", c.opened.toDouble / StoreFiles)
      r.add("sources.driver_parses", "count", c.parsed.toDouble)
      r.add("checkpoint.batches", "count", c.batches.size.toDouble)
      r.add("checkpoint.files", "count", c.ckptFiles.toDouble)
      r.add("checkpoint.bytes", "bytes", c.ckptBytes.toDouble)
      r.add("ingest.sink_files", "count", c.sinkFiles.toDouble)
      r.add("ingest.docs_per_file", "ratio", docs.toDouble / math.max(1L, c.sinkFiles))
      r.add("ingest.rejects", "count", c.rejects.toDouble)
      // the bulk-sink jobs of this call
      val sinkJobs = jobs.filter(j => Tracer.layerOf(j.file).contains("ingest") &&
        j.start >= c.spanStart && j.start <= c.spanEnd)
      r.add("ingest.task_ms", "ms", sinkJobs.map(_.runMs).sum)
      r.add("ingest.task_cpu_ms", "ms", sinkJobs.map(_.cpuMs).sum)
      r.add("ingest.task_gc_ms", "ms", sinkJobs.map(_.gcMs).sum)
      r.add("ingest.tasks", "count", sinkJobs.map(_.tasks).sum.toDouble)
      if (sinkJobs.nonEmpty) r.add("ingest.task_skew", "ratio", Report.median(sinkJobs.map(_.skew)))
    }
    isolatedParse(lastStore)
    isolatedPublish(lastStore)
  }

  /** The source's file parser alone, over every file of one store. */
  private def isolatedParse(store: String): Unit = {
    val files = bulkFiles(store)
    val samples = (1 to 3).map { _ =>
      val (n, s) = ctx.timeS(files.map(p => EsSimSource.parseBulkFile(p, "ts").size).sum)
      s * 1e6 / n
    }
    ctx.report.add("sources.parse_us_per_doc", "us/doc", Report.median(samples))
  }

  /** The bulk sink alone: `EsBulkSink.writeWith` over the store's docs,
    * timing each bulk call of the file client. */
  private def isolatedPublish(store: String): Unit = {
    val recs = ctx.spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", store).load()
      .select($"indexId", $"docId", $"source").as[IngestRecord].localCheckpoint()
    val n = recs.count()
    val samples = (1 to 3).map { _ =>
      val dir = ctx.dir("publish")
      TimedBulkClient.nanos.set(0)
      EsBulkSink.writeWith(recs, () => new TimedBulkClient(new FileEsBulkClient(dir, "ts")),
        maxActions = PerFile)
      ctx.rmTree(dir)
      TimedBulkClient.nanos.get / 1e3 / n
    }
    recs.unpersist()
    ctx.report.add("ingest.publish_us_per_doc", "us/doc", Report.median(samples))
  }

  /** Every sink must hold exactly the source store's documents, compared
    * as a count and an order-independent hash over what `EsSimStore.read`
    * resolves; a reject or a missing or different doc is a failed op.
    * The read-back of each published store is timed as the workload's
    * serve time. */
  def check(): Seq[Double] = {
    val src = lastStore
    val want = digest(src)
    if (want._1 != docs) ctx.fail(math.abs(docs - want._1), s"source store holds ${want._1} docs, not $docs")
    sinks.foreach { case (sink, rejects) =>
      val (got, s) = ctx.timeS(digest(sink))
      ctx.report.add("serve_p50_ms", "ms", s * 1000)
      if (rejects > 0) ctx.fail(rejects, s"$rejects bulk rejects writing $sink")
      if (got != want) {
        val a = EsSimStore.read(ctx.spark, src)
        val b = EsSimStore.read(ctx.spark, sink)
        val bad = a.join(b, Seq("indexId", "docId", "source"), "left_anti").count() +
          b.join(a, Seq("indexId", "docId", "source"), "left_anti").count()
        ctx.fail(math.max(bad, 1L), s"sink $sink differs from the source: $got vs $want")
      }
      ctx.rmTree(sink)
    }
    (fresh.toSeq :+ src).foreach(ctx.rmTree)
    seedTimes.drop(2).toSeq
  }

  private def digest(dir: String): (Long, java.math.BigDecimal) = {
    val row = EsSimStore.read(ctx.spark, dir).agg(count(lit(1)),
      sum(xxhash64($"indexId", $"docId", $"source").cast("decimal(38,0)"))).head()
    (row.getLong(0), row.getDecimal(1))
  }
}

object IngestWorkload {
  /** One `Main` call: its wall time, Spark's progress per micro-batch, and
    * the layer counters it moved. */
  private final case class Call(seconds: Double, batches: Seq[BatchProgress],
      opened: Long, parsed: Long, rejects: Long, ckptFiles: Long, ckptBytes: Long,
      sinkFiles: Long, spanStart: Double, spanEnd: Double)

  /** Source files per store: 100 micro-batches at the default batch
    * size, so batch_p90_ms has 10 samples beyond it. */
  val StoreFiles = 100
  val PerFile = 1024
  val WarmupFiles = 20

  def bulkFiles(dir: String): Seq[Path] = EsSimStats.list(dir)

  def treeSize(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally w.close()
    }
}

/** Times each bulk call of the wrapped client; the total lives in this
  * JVM, which in local mode runs every task. */
final class TimedBulkClient(inner: EsBulkClient) extends EsBulkClient {
  override def bulk(actions: Seq[BulkAction]): Unit = {
    val t0 = System.nanoTime()
    try inner.bulk(actions)
    finally TimedBulkClient.nanos.addAndGet(System.nanoTime() - t0)
  }
}

object TimedBulkClient { val nanos = new java.util.concurrent.atomic.AtomicLong() }
