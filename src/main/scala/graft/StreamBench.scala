package graft

import org.apache.spark.sql.functions._

/** Isolated streaming-admission measurement (round-17, VERDICT r16
  * #6): the exact 5-batch near-dup admission workload [[Bench]] times
  * in-suite (`curation_stream_s`), run in a FRESH JVM with nothing
  * else on the session — the [[CopyBench]] protocol on the streaming
  * leg.
  *
  * Why: r16's in-suite reading doubled (11.9 → 24.4 s) with only a
  * schema-fallback fix in the path, and the artifact could not say
  * whether that was the PATH or the suite CONTEXT. Bench forks this
  * main before building its own SparkSession and publishes both
  * numbers side by side; the in-suite number is demoted to context
  * telemetry, this bracket is the path's steady state.
  *
  * Prints ONE JSON line:
  *   {"metric":"stream_isolated","docs":N,"sec":S,"attempts_s":[a,b,c]}
  */
object StreamBench {

  import BenchUtil.{timeSec, rmTree}

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text").cache()
    val n = docs.count()
    val (lo, hi) = {
      val r = docs.agg(min($"doc_id"), max($"doc_id")).head
      (r.getLong(0), r.getLong(1))
    }
    // one unrecorded warmup run (codegen/JIT/footer cache), then the
    // in-suite protocol: settle + fresh state dir per attempt,
    // median-of-3, scratch drained between attempts
    val warm = java.nio.file.Files.createTempDirectory("streambench-warm").toString
    Bench.streamAdmitBatches(docs, warm, lo, hi)
    rmTree(warm)
    val attempts = (1 to 3).map { i =>
      val dir = java.nio.file.Files.createTempDirectory(s"streambench$i").toString
      Scratch.drain()
      System.gc(); Thread.sleep(2000)
      val sec = timeSec {
        Bench.streamAdmitBatches(docs, dir, lo, hi)
        streaming.StreamingCuration.admittedDocs(spark, dir).count()
      }
      rmTree(dir)
      sec
    }
    docs.unpersist()
    val sec = attempts.sorted.apply(1)
    def r3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    println(s"""{"metric":"stream_isolated","docs":$n,"sec":${r3(sec)}""" +
      s""","attempts_s":[${attempts.map(r3).mkString(",")}]}""")
    spark.stop()
  }
}
