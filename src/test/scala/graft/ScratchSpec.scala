package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** `Scratch.releaseNow` frees a checkpointed frame's blocks without
  * Spark's per-RDD lineage WARN (a released frame is dead by contract,
  * so the line says nothing), while warnings that do say something
  * still reach the log. */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  /** Every log event under the root logger while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("scratch-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    app.start()
    root.addAppender(app)
    try body finally { root.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }

  test("releasing a checkpointed frame logs no lineage WARN; other WARNs still log") {
    val ck = spark.range(100).toDF("id").localCheckpoint()
    val rddId = ck.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
    val released = logged(Scratch.releaseNow(ck))
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId), "blocks not released")
    assert(!released.exists(_.contains("was locally checkpointed")),
      released.mkString("\n"))

    // StreamingHistory's orphan-pair WARN: a near-dup whose later end
    // was admitted in an earlier batch (ids not monotonic across batches)
    val hist = Files.createTempDirectory("scratch-orphan").toString
    try {
      val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val orphan = logged {
        streaming.StreamingCuration.admitBatch(
          Seq((10L, text)).toDF("doc_id", "text"), hist, 0.8, 0L)
        streaming.StreamingCuration.admitBatch(
          Seq((5L, text)).toDF("doc_id", "text"), hist, 0.8, 1L)
      }
      assert(orphan.exists(l => l.startsWith("WARN") && l.contains("near-dup pair(s) point at")),
        orphan.mkString("\n"))
      assert(!orphan.exists(_.contains("was locally checkpointed")), orphan.mkString("\n"))
    } finally BenchUtil.rmTree(hist)
  }
}
