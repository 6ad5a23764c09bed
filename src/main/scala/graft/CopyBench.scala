package graft

/** Isolated copy-throughput measurement (round-14 VERDICT #2): the
  * exact copy workload [[Bench]] times in-suite, run in a FRESH JVM
  * with nothing else on the session — same store layout, same
  * settle + median-of-3 + fresh-lineage protocol.
  *
  * Why a separate main: the in-suite copy number fell three rounds
  * running (138.7k → 116.6k → 96.4k docs/s) on an untouched path while
  * the query suite grew around it, and the artifact could not say
  * whether the slide was the PATH or the CONTEXT. Bench forks this
  * main before building its own SparkSession and publishes both
  * numbers side by side: in-suite ≈ isolated ⇒ the path moved;
  * in-suite ≪ isolated ⇒ suite/box context, with the isolated number
  * as the path's true baseline.
  *
  * Prints ONE JSON line:
  *   {"metric":"copy_isolated","docs":N,"sec":S,"docs_per_s":R,
  *    "attempts_s":[a,b,c]}
  */
object CopyBench {

  import BenchUtil.{timeSec, rmTree}

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()

    def records() = Bench.copyRecords(spark, sfDir)
    val nDocs = Tables.events(spark, sfDir).count() +
      Tables.lineitem(spark, sfDir).count()
    // one unrecorded warmup write (codegen/JIT/footer cache), then the
    // in-suite protocol: settle, median-of-3, fresh lineage per attempt
    val warmDir = java.nio.file.Files.createTempDirectory("copybench-warm").toString
    ingest.EsBulkSink.write(records(), warmDir)
    rmTree(warmDir)
    val attempts = (1 to 3).map { i =>
      val dir = java.nio.file.Files.createTempDirectory(s"copybench$i").toString
      System.gc(); Thread.sleep(2000)
      val sec = timeSec(ingest.EsBulkSink.write(records(), dir))
      rmTree(dir)
      sec
    }
    val sec = attempts.sorted.apply(1)
    def r3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    println(s"""{"metric":"copy_isolated","docs":$nDocs,"sec":${r3(sec)}""" +
      s""","docs_per_s":${r3(nDocs / sec)}""" +
      s""","attempts_s":[${attempts.map(r3).mkString(",")}]}""")
    spark.stop()
  }
}
