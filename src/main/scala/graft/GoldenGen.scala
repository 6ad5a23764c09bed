package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Regenerates the committed golden-result parquet files under
  * `expected/<sfTag>/` for the deterministic engine-specific queries
  * that have no SQL oracle (d05 simhash banding, t08 mod-p fingerprint,
  * m01 stub-decoded metadata — all pure functions of fixed-seed hashes
  * over a fixed corpus, so a snapshot is a sound regression check).
  * Goldens are keyed by the scale-factor directory name, so the same
  * Verify run passes at every sf that has a committed snapshot.
  *
  * The driver's DuckDB gate then hash-compares them like any oracle via
  * `SELECT * FROM read_parquet('<repo>/expected/<sf>/<name>.parquet')` —
  * upgrading these entries from rows-only to hard checks. Run after an
  * INTENDED change to their semantics, once per supported sf:
  *
  * {{{ sbt "runMain graft.GoldenGen /root/testdata/sf0.01" }}}
  */
object GoldenGen {
  val goldenQueries: Seq[String] =
    Seq("d05_simhash", "t08_modp_fingerprint", "m01_multimodal_meta",
      // deterministic despite being approximate ALGORITHMS: HLL register
      // merge is a max (commutative), the quantile sketch and the
      // fixed-seed k-means produce partition-count-independent results —
      // probed empirically at local[4]/p=4 vs local[32]/p=32 before
      // promotion from rows-only to golden-hashed
      "s03_ivf_topk", "t06_approx_stats", "m07_perceptual_neardup",
      // fixed-seed CMS: integer cell sums are merge-order free, so the
      // result is partition-count independent by the same argument as
      // t19's histogram bins
      "t20_heavy_hitters",
      // per-term log2 values are pure per-value functions of integer
      // counts; the per-doc sum goes through Det.dsum (exact decimal) —
      // the only order-varying reduction is exact, so the snapshot is
      // parallelism-independent (probed in PartitionInvarianceSpec)
      "t21_lm_quality",
      // PQ: decimal-exact Lloyd's updates + exact ADC sums + total-order
      // ties make the whole train→encode→score path parallelism-
      // independent (probed in PartitionInvarianceSpec)
      "s12_pq_topk",
      // IVFADC composes the same decimal-exact stages (coarse Lloyd's,
      // residual Lloyd's, ADC sums) — deterministic end to end
      "s13_ivfadc_topk",
      // hashed-feature weights derive from xxhash64 (engine-specific,
      // deterministic); the per-doc sum is exact decimal
      "t24_hash_classifier",
      // BM25: per-term ln(idf) is a pure per-value function of integer
      // counts (transcendental → cross-engine unsafe, golden-hashed);
      // term scores 6dp-rounded, per-(q,doc) sum exact decimal
      "t25_bm25",
      // RRF fusion: deterministic fusion arithmetic (integer ranks, 6dp
      // reciprocal terms, exact sum) over t25's golden-safe BM25 ranks
      "t27_rrf_fusion",
      // HLL sketch profile: register state is a per-register MAX over
      // the value set — order- and partition-free; estimates are
      // integer longs (slicing invariance pinned in TextAnalysisSpec)
      "t28_sketch_profile",
      // BPE training: integer pair counts over the word histogram with
      // total-order argmax tie-breaks — bit-deterministic end to end
      "t29_bpe_train",
      // BPE encode: deterministic training artifact + pure per-row
      // greedy application; sequence pinned via order-sensitive
      // xxhash64 (engine-side → golden)
      "t30_bpe_encode",
      // c14: c10's admission window over t30's deterministic counts —
      // integer sums, 6dp sort key, golden like its inputs
      "c14_token_budget_bpe",
      // t31: t12's packing over t30's deterministic counts — integer
      // running sums per lang, golden by the same argument as c14
      "t31_bpe_packing",
      // t32: per-source integer aggregates of t30's counts + 6dp
      // ratios — golden like its input
      "t32_tokenizer_report",
      // c16 DSIR: hashed-bigram buckets are xxhash64 (engine-specific),
      // per-bucket log2 weights are pure per-value functions of integer
      // counts, the per-doc sum is exact decimal, ranking total-ordered
      // — parallelism-independent (probed in PartitionInvarianceSpec)
      "c16_dsir_selection",
      // m09: blockhash fingerprints (engine-specific, deterministic) +
      // integer hamming + total-ordered argmin + sha membership — the
      // m07 discipline applied to the decontamination audit
      "m09_bench_decontamination",
      // c17: deterministic composition of d16 (Bloom, engine-side) +
      // s19 (SQL-safe) + m09 (blockhash, engine-side) — golden like
      // its engine-side inputs
      "c17_decontamination_report",
      // m10: m07's fingerprints and banding restricted to the
      // delta-touching pair set — deterministic like m07, golden by
      // the same argument
      "m10_payload_index_probe",
      // m11: min-label CC over m07's deterministic edge set — golden
      // like d08's machinery over golden-safe inputs
      "m11_perceptual_clusters",
      // m12: gear-CDC chunk hashes are a sequential pure function per
      // row (spec-defined table), Jaccard join integer-exact — golden
      "m12_cdc_neardup",
      // m14: gear chunk SPANS share m12's kernel (same cut points,
      // lengths added) and the report is integer rollups — golden
      "m14_cdc_storage_dedup",
      // s28: composes s13's golden-safe ADC ranking with the exact s01
      // ranking; hit counts are integers, cosine masses go through
      // decimal(18,6) on 6dp-rounded values — deterministic like s13
      "s28_adc_recall_audit",
      // s30: s13's golden-safe shortlist re-ranked by exact per-row
      // cosine (sequential array dot — order-fixed) with total-order
      // ties — deterministic by the same composition argument as s28
      "s30_refined_topk",
      // m17: gear chunk spans are a sequential pure function per row
      // (m12/m14's argument); the transfer report is integer rollups
      // + hash-set membership — golden like m14
      "m17_snapshot_transfer",
      // s31: s17's deterministic serve with the neighbor set restricted
      // by the tombstone mask — golden by the same argument as s17/s03
      "s31_ivf_delete_serve",
      // m18: m10's deterministic probe with removed payloads masked —
      // golden by the same argument as m10/m07
      "m18_payload_delete_probe",
      // u04/u05 (r19): deterministic like s17/m10 — but their goldens
      // come from [[generators]], the REBUILD side of the sync ≡
      // rebuild contract, so the driver's hash check proves the
      // equivalence itself each round
      "u04_ivf_sync_serve",
      "u05_payload_sync_probe",
      // u06/u07 (r19): the compressed and labeled vector lanes of the
      // same contract — with these, EVERY artifact lane of the
      // composed CDC sync is driver-hash-checked against its rebuild
      "u06_ivfadc_sync_serve",
      "u07_labeled_sync_serve")

  /** Entries whose GOLDEN is generated by a DIFFERENT function than
    * the registered query — the two sides of an equivalence contract
    * (r19): the registered entry applies the composed CDC sync, the
    * golden is the rebuild over the post-diff corpus. A hash match at
    * the driver is then the sync ≡ rebuild proof itself, independent
    * of the sync code path, instead of a self-snapshot regression
    * check. */
  val generators: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "u04_ivf_sync_serve" -> (operators.Similarity.u04GoldenRebuild _),
    "u05_payload_sync_probe" -> (operators.Multimodal.u05GoldenRebuild _),
    "u06_ivfadc_sync_serve" -> (operators.Similarity.u06GoldenRebuild _),
    "u07_labeled_sync_serve" -> (operators.Similarity.u07GoldenRebuild _))

  /** The sf the current run verifies against — set by [[Verify]] from
    * its sfDir argument; defaults to the driver gate's sf0.01. */
  def sfTag: String = sys.props.getOrElse("graft.sf.tag", "sf0.01")

  def setSfTag(sfDir: String): Unit =
    sys.props("graft.sf.tag") = Paths.get(sfDir).getFileName.toString

  def goldenDir: Path =
    Paths.get(sys.props.getOrElse("graft.repo.dir", "/root/repo"), "expected", sfTag)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // optional 2nd arg: comma-separated subset — regenerate only new /
    // intentionally-changed snapshots instead of churning identical ones
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    setSfTag(sfDir)
    val spark = Engine.session()
    Files.createDirectories(goldenDir)
    goldenQueries.filter(n => only.forall(_.contains(n))).foreach { name =>
      val tmp = Files.createTempDirectory(s"golden-$name").resolve("out")
      generators.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().orElseThrow() finally listing.close()
      Files.move(part, goldenDir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      println(s"[golden] wrote expected/$sfTag/$name.parquet")
    }
    spark.stop()
  }

  /** Oracle SQL for a golden-snapshot query: DuckDB reads the committed
    * parquet directly, making the driver's compare a hard hash check.
    * Resolved at oracle-dump time, after [[setSfTag]]. */
  def oracle(name: String): String =
    s"SELECT * FROM read_parquet('${goldenDir.resolve(s"$name.parquet")}')"
}
