package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Suite-order drift bisection (round-16, verdict #6): c12's OFFICIAL
  * suite-context number rose 4.21 → 7.39 s across r12–r15 while its
  * isolated bracket sat flat ~5.3–5.6 s on an unchanged plan. Two
  * competing attributions:
  *
  *   (a) SUITE POSITION — the ~200 queries that run before c12 leave
  *       JVM/GC/block-manager state that bills into it; then c12's
  *       reading should move when the suite ORDER is permuted, and
  *       early-position c12 should read ≈ isolated.
  *   (b) SELF-CONTEXT — c12's own settled median-of-3 protocol runs
  *       three back-to-back attempts, and each attempt leaves state
  *       (localCheckpoint blocks, temp state dirs, lineage debt) that
  *       slows the NEXT attempt; then consecutive attempts should
  *       climb even in a fresh session with no suite at all, and the
  *       median-of-3 structurally reports attempt 2 of a rising ramp.
  *       (The r15 artifact already hints at this: attempts
  *       [5.46, 7.39, 7.75] — attempt 1 ≈ the isolated 5.56.)
  *
  * The probe measures both: (1) N consecutive settled c12 attempts in
  * a fresh session (no suite), (2) the full timed suite (min-of-2, the
  * non-CC protocol, for wall-time budget) under three orders — sorted
  * (Bench's), reversed, fixed-seed shuffled — comparing per-query
  * readings across permutations. Findings land in DRIFT.md.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.OrderProbe"
  *   (optional arg: "c12only" skips the permutation passes)
  */
object OrderProbe {
  private def timeSec[T](f: => T): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def materialize(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")

    val c12 = SparkEntry.queries("c12_incremental_curation")

    // ---- (1) self-context: consecutive settled attempts, fresh session,
    // minimal warmup (one c12 execution for codegen/JIT) ----
    materialize(c12(spark, sfDir))
    System.gc(); Thread.sleep(3000)
    val ramp = (1 to 6).map { _ =>
      Scratch.drain()
      System.gc(); Thread.sleep(1000)
      timeSec(materialize(c12(spark, sfDir)))
    }
    println(f"ORDER c12_ramp_fresh_session ${ramp.map(t => f"$t%.2f").mkString("[", ", ", "]")}")

    if (!args.contains("c12only")) {
      // ---- (2) suite-order permutations ----
      val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      // full warmup pass (Bench's) so all three permutations start from
      // the same compiled/cached state
      sorted.foreach { case (_, fn) =>
        try materialize(fn(spark, sfDir)) catch { case _: Throwable => () }
      }
      System.gc(); Thread.sleep(3000)
      def pass(tag: String, qs: Seq[(String, (SparkSession, String) => DataFrame)])
          : Map[String, Double] = {
        val r = qs.map { case (name, fn) =>
          Scratch.drain()
          System.gc()
          val sec = try {
            val t1 = timeSec(materialize(fn(spark, sfDir)))
            val t2 = timeSec(materialize(fn(spark, sfDir)))
            math.min(t1, t2)
          } catch { case _: Throwable => -1.0 }
          name -> sec
        }.toMap
        println(f"ORDER pass=$tag c12=${r("c12_incremental_curation")}%.2f " +
          f"p100=${r.values.max}%.2f median=${r.values.toSeq.sorted.apply(r.size / 2)}%.2f")
        r
      }
      val a = pass("sorted", sorted)
      val b = pass("reversed", sorted.reverse)
      val rnd = new scala.util.Random(42)
      val c = pass("shuffled42", rnd.shuffle(sorted))
      // top movers across permutations
      val movers = a.keys.toSeq
        .map { k =>
          val v = Seq(a(k), b(k), c(k)).filter(_ >= 0)
          (k, v.min, v.max, if (v.min > 0) v.max / v.min else -1.0)
        }
        .sortBy(-_._4).take(12)
      movers.foreach { case (k, lo, hi, r) =>
        println(f"ORDER mover $k%-28s min=$lo%6.2f max=$hi%6.2f spread=$r%5.2fx " +
          f"(sorted=${a(k)}%.2f reversed=${b(k)}%.2f shuffled=${c(k)}%.2f)")
      }
    }
    spark.stop()
  }
}
