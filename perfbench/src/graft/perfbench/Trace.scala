package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for spans and Spark's listener events: epoch milliseconds
  * with sub-millisecond resolution. */
object Clock {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
}

/** A benchmark span: one call from the benchmark into a layer. */
final case class Span(id: Int, name: String, layer: String,
                      start: Double, end: Double, parent: Int)

/** A finished Spark job, with the totals of its tasks. `file` is the
  * source file of the job's short call site, which names the layer
  * that submitted it. */
final case class JobRec(id: Int, start: Double, end: Double, file: String,
                        tasks: Int, runMs: Double, cpuMs: Double, gcMs: Double,
                        shuffleBytes: Long, spillBytes: Long, skew: Double) {
  def ms: Double = end - start
}

/** Spans kept in memory while the benchmark runs and written once at the
  * end. When off, `span` only runs its body. */
final class Tracer(val on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, String, Double)]
  private var nextId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized {
        val i = nextId; nextId += 1
        open = (i, name, layer, Clock.nowMs) :: open
        i
      }
      try body
      finally synchronized {
        val (_, n, l, start) = open.head
        open = open.tail
        done += Span(id, n, l, start, Clock.nowMs, open.headOption.map(_._1).getOrElse(-1))
      }
    }

  def spans: Seq[Span] = synchronized(done.toSeq)
}

object Tracer {
  /** Each job's parent: the innermost span open when the job started. */
  def parentOf(job: JobRec, spans: Seq[Span]): Option[Span] =
    spans.filter(s => s.start <= job.start && job.start <= s.end)
      .sortBy(s => s.end - s.start).headOption

  /** Layer of a job, from the file that submitted it; jobs from files
    * outside the layers take their parent span's layer. */
  def layerOf(file: String): Option[String] = file match {
    case "EsSimSource.scala" => Some("sources")
    case "EsBulkSink.scala" | "EsBulkClient.scala" | JobListener.ForeachBatch => Some("ingest")
    case "StreamingCorpusSync.scala" => Some("streaming")
    case "Dedup.scala" | "TextAnalysis.scala" | "Similarity.scala" |
         "Multimodal.scala" | "IndexStore.scala" => Some("operators")
    case _ => None
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans and jobs cover; each job's duration counts to the
    * job's layer. */
  def selfMsByLayer(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Double] = {
    val jobParents = jobs.map(j => j -> parentOf(j, spans))
    val byLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = spans.filter(_.parent == s.id).map(c => (c.start, c.end)) ++
        jobParents.collect { case (j, Some(p)) if p.id == s.id => (j.start, j.end) }
      byLayer(s.layer) += (s.end - s.start) - covered(kids, s.start, s.end)
    }
    // a job has no children: its whole duration is its layer's
    jobParents.foreach { case (j, p) =>
      byLayer(layerOf(j.file).orElse(p.map(_.layer)).getOrElse("bench")) += j.ms
    }
    byLayer.toMap
  }

  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def toJson(spans: Seq[Span], jobs: Seq[JobRec]): String = Json.write(Seq(
    "spans" -> spans.map(s => Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent)),
    "jobs" -> jobs.map(j => Seq("id" -> j.id, "file" -> j.file, "start_ms" -> j.start,
      "end_ms" -> j.end, "parent" -> parentOf(j, spans).map(_.id).getOrElse(-1),
      "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ms" -> j.cpuMs, "gc_ms" -> j.gcMs,
      "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes))))
}

/** Spark's own job, stage and task metrics, collected per job. */
final class JobListener extends SparkListener {
  import JobListener._
  private val starts = mutable.Map.empty[Int, (Double, String, Seq[Int])]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Task]]
  private val finished = mutable.ArrayBuffer.empty[JobRec]

  private val execFiles = mutable.Map.empty[Long, String]

  /** The innermost layer file on a call site's stack, else the file of
    * its short form ("foreachPartition at EsBulkSink.scala:186"). */
  private def fileOf(details: String, short: String): String =
    JobListener.Frame.findAllMatchIn(details).map(_.group(1))
      .find(f => Tracer.layerOf(f).isDefined)
      .getOrElse(short.split(" at ").last.takeWhile(_ != ':'))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      synchronized { execFiles(x.executionId) = fileOf(x.details, x.description) }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = e.stageInfos.sortBy(_.stageId).lastOption
      .map(st => fileOf(st.details, st.name)).getOrElse("")
    // adaptive execution submits a query's stages from a pool thread;
    // those jobs take the call site of the query they belong to
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execFiles.get(id.toLong))
    // a streaming query pins its jobs' call site to where it started;
    // its micro-batch jobs run the query's foreachBatch sink
    val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
    val file =
      if (Tracer.layerOf(own).isDefined) own
      else if (streaming) JobListener.ForeachBatch
      else exec.getOrElse(own)
    starts(e.jobId) = (e.time.toDouble, file, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += Task(
      e.taskInfo.duration.toDouble, m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
      m.jvmGCTime.toDouble, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, file, stages) =>
      val perStage = stages.flatMap(stageTasks.remove).filter(_.nonEmpty)
      val ts = perStage.flatten
      // slowest task over the median task, per stage; the job keeps its worst stage
      val skew = perStage.map { st =>
        val med = Report.median(st.map(_.durMs).toSeq)
        if (med > 0) st.map(_.durMs).max / med else 1.0
      }.foldLeft(1.0)((a, b) => math.max(a, b))
      finished += JobRec(e.jobId, t0, e.time.toDouble, file, ts.size, ts.map(_.runMs).sum,
        ts.map(_.cpuMs).sum, ts.map(_.gcMs).sum, ts.map(_.shuffle).sum, ts.map(_.spill).sum, skew)
    }
  }

  /** Jobs finished so far, oldest first. */
  def jobs: Seq[JobRec] = synchronized(finished.toSeq)
}

object JobListener {
  private final case class Task(durMs: Double, runMs: Double, cpuMs: Double, gcMs: Double,
                                shuffle: Long, spill: Long)
  /** The file name given to a streaming micro-batch job. */
  val ForeachBatch = "foreachBatch"
  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r
}

/** One micro-batch's progress: rows read and Spark's phase durations. */
final case class BatchProgress(rows: Long, durationMs: Map[String, Long])

/** Structured Streaming's per-micro-batch progress, as Spark reports it. */
final class ProgressListener extends StreamingQueryListener {
  private val byQuery =
    mutable.LinkedHashMap.empty[java.util.UUID, mutable.ArrayBuffer[BatchProgress]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    byQuery(e.id) = mutable.ArrayBuffer.empty
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    byQuery.getOrElseUpdate(p.id, mutable.ArrayBuffer.empty) +=
      BatchProgress(p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** The batches that read rows, of the most recently started query. */
  def lastQueryBatches: Seq[BatchProgress] = synchronized {
    byQuery.lastOption.map(_._2.filter(_.rows > 0).toSeq).getOrElse(Nil)
  }
}
