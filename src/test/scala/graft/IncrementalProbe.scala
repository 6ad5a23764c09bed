package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Measures the c12 claim: admitting a delta against SAVED curation
  * state costs a fraction of re-running c01 over the grown corpus —
  * the economics that make curation operable at 100 TB. The probe
  * mirrors production: the standing 80% of the corpus is curated once
  * and its [[graft.operators.Curation.curationState]] written to
  * parquet; the timed comparison is then
  *
  *   full    = c01 over the whole corpus (what a naive pipeline re-runs)
  *   delta   = admitDelta(state-from-parquet, last 20%)  [c12's steady state]
  *
  * with output equality asserted (same contract the oracle checks).
  * The registered c12 entry instead builds state in-plan — the oracle
  * rule is that entries are self-contained — so the bench time for c12
  * is state-build + admission; THIS probe is the steady-state number.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.IncrementalProbe"
  */
object IncrementalProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    import spark.implicits._
    import graft.operators.Curation

    // optional args: [denom] [x10] — denom is the delta's reciprocal
    // corpus share (default 5 → last 20%, the registered c12 split;
    // 50 → last 2%, the realistic daily-delta shape); "x10" grows the
    // corpus 10× first (ScaleProbe's suffix-copy construction: internal
    // near-dup structure preserved, no cross-copy shingles) so the
    // corpus-size-dependent terms dominate the fixed job overheads and
    // the ratio is read closer to its asymptote
    val denom = args.find(_ != "x10").map(_.toLong).getOrElse(5L)
    val baseDocs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val docs = if (!args.contains("x10")) baseDocs else {
      val dir = Files.createTempDirectory("c12-x10").toString
      // keep ids < 20 a single benchmark set: copies of bench docs get
      // ids ≥ 20 via the stride, and only copy 0 keeps the originals
      // copy 0 = the original corpus; copies 1..9 suffix every THIRD
      // token: every word-3-gram shingle then contains a copy-unique
      // token (zero cross-copy shingle overlap) while most stopwords
      // survive, so the language/quality stages still pass real mass
      (0 until 10).map { c =>
        val text = if (c == 0) $"text"
          else regexp_replace($"text", "(\\S+ \\S+ )(\\S+)", "$1$2~" + c)
        baseDocs.select(($"doc_id" + lit(c * 100000000L)).as("doc_id"),
          text.as("text"))
          .filter(if (c == 0) lit(true) else $"doc_id" % 100000000L >= 20)
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.read.parquet(s"$dir/documents.parquet")
    }
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    // delta = the last 1/denom of the stream BY RANK (the id space may
    // be sparse, e.g. the x10 construction's strided copies)
    val nStream = docs.filter($"doc_id" >= 20).count()
    val take = math.max(1L, nStream / denom).toInt
    val boundary = docs.filter($"doc_id" >= 20)
      .orderBy($"doc_id".desc).limit(take)
      .agg(min($"doc_id")).head().getLong(0)
    val bench = docs.filter($"doc_id" < 20)
    val standing = docs.filter($"doc_id" >= 20 && $"doc_id" < boundary)
    val delta = docs.filter($"doc_id" >= boundary)

    // the previous run: curate standing, persist its state (untimed)
    val stateDir = Files.createTempDirectory("c12-state").toString
    Curation.curationState(standing, bench)
      .write.mode("overwrite").parquet(stateDir)

    def time(f: => Long): (Double, Long) = {
      System.gc()
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def med3(f: => Long): (Double, Long) = {
      val rs = (1 to 3).map(_ => time(f))
      (rs.map(_._1).sorted.apply(1), rs.head._2)
    }

    // full recompute = incrementalCuration at an all-standing boundary:
    // ≡ c01 (the sweep spec proves boundary-independence) plus the
    // state write every production run performs anyway
    def fullRun() =
      Curation.incrementalCuration(docs, maxId + 1).queryExecution.toRdd.count()
    // warmup both lineages
    fullRun()
    val (fullS, nFull) = med3(fullRun())
    val state = spark.read.parquet(stateDir)
    Curation.admitDelta(state, delta, bench).queryExecution.toRdd.count()
    val (deltaS, nDelta) = med3(
      Curation.admitDelta(state, delta, bench).queryExecution.toRdd.count())

    // equality: the steady-state path must reproduce the full recompute
    val a = Curation.incrementalCuration(docs, maxId + 1)
      .as[(Long, Double)].collect().toSet
    val b = Curation.admitDelta(state, delta, bench)
      .as[(Long, Double)].collect().toSet
    require(a == b, s"admitDelta(state) diverges from c01: ${a.size} vs ${b.size}")

    println(f"C12PROBE sf=$sfDir boundary=$boundary " +
      f"full_recompute=$fullS%.3f s ($nFull rows) " +
      f"delta_admission=$deltaS%.3f s ($nDelta rows) " +
      f"ratio=${fullS / deltaS}%.2f x (delta = 1/$denom of corpus)")
    spark.stop()
  }
}
