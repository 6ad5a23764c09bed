package graft

/** Median-of-5 timing for individual SparkEntry queries — the local
  * attribution tool behind bench-tail fixes (single Bench timings carry
  * ±2× context noise from GC debt and JIT; medians in isolation are
  * what to trust when deciding whether a slow entry is real).
  *
  *   sbt "Test/runMain graft.PerfProbe c01_curation_pipeline,d10_collapsed_jaccard"
  *
  * No argument = the five slowest from the last committed bench. */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()

    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq(
      "c01_curation_pipeline", "c02_curation_funnel", "s07_knn_graph",
      "d09_crossmodal", "d10_collapsed_jaccard"))

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).queryExecution.toRdd.count() // warmup
      val ts = (1 to 5).map { _ =>
        Scratch.drain() // tracked checkpoint scratch from the prior attempt
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"PERF $name%-28s med=${ts(2)}%7.3f min=${ts.head}%7.3f max=${ts.last}%7.3f s")
    }
    spark.stop()
  }
}
