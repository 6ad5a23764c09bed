package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType,
  LongType, StringType, StructField, StructType}

import graft.operators.{Curation, Dedup}
import graft.streaming.StreamingHistory.{Leg, SideLanes}

/** Online near-dup curation: admit or reject each document of a stream
  * against everything that came before it.
  *
  * Contract (batching-invariant by construction): a document is
  * REJECTED iff some document with a smaller `doc_id` — in the seed
  * corpus or anywhere earlier in the stream, including rejected docs
  * and smaller-id docs of the same micro-batch — shares an LSH band
  * key with it (the d04/d21 16-band × 8-row banding over the 128-perm
  * minhash signature) AND has exact word-3-gram Jaccard ≥ τ with it.
  * Relative to the all-pairs-exact predicate this can only differ by a
  * banding miss, P = (1 − J^8)^16 — vanishing except within a few
  * percent above τ (< 1e-6 at J ≥ 0.95) — the same same-answer
  * precedent as the registered d04≡d03 and d21≡d11 entries, and
  * [[graft.StreamingCurationSpec]] still asserts equality with the
  * EXACT one-shot keep-first computation on its near-dup-chain
  * fixture. Both legs of the predicate are per-document-deterministic
  * functions of the document SET, never of how the stream was sliced
  * into batches, so the admitted set is batch-slicing-invariant
  * (asserted across slicings). Deliberately NO bucket cap here (the
  * probe runs with the cap disabled): a cap's drop set depends on WHEN
  * a bucket filled, which would break slicing invariance; dup-storm
  * hardening belongs in an exact pre-collapse upstream (the d10/s26
  * discipline). Rejected docs stay in the history because they still
  * suppress their own later near-copies. Requires doc_ids
  * non-decreasing across batches (stream order — a monotonic ingest
  * id; within a batch any order).
  *
  * Mechanics per micro-batch (round-15 — the delta-cost rework): the
  * standing corpus is carried as the d21 index lanes — per-batch
  * banded rows + bucket counts under `_lanes/`, folded generations
  * under `_folded/` ([[StreamingHistory]]) — so admission is one
  * [[Dedup.probeLshFromShingled]]: the batch's signatures compute
  * in-plan (delta-sized), the standing banded lane STREAMS past the
  * broadcast batch bands (no standing-side shuffle, no window, no
  * re-derivation of any standing structure), and exact verification
  * reads only candidate-pruned shingle rows. Per-batch admission cost
  * is delta-proportional in everything but a columnar textless scan —
  * the shape d21's LshProbeScale measured ~flat in standing size —
  * where the previous form re-derived the prefix-token index from ALL
  * standing `sh` arrays every micro-batch (O(B·corpus) cumulative).
  * The batch then lands under `batch=<id>` (rows + its own lane
  * files), making replays after a failure idempotent: a re-run of
  * batch N overwrites exactly batch N's dirs. [[compactHistory]]
  * (auto-run every `compactEvery` batches) folds retired batch dirs
  * into few large generation files, bounding history file count at
  * production cadence.
  */
object StreamingCuration {

  /** d21's banding geometry is fixed by the shared native expressions;
    * the probe's bucket cap is disabled for admission (see contract). */
  private val NoBucketCap = Int.MaxValue

  private val Sh = StructField("sh", ArrayType(LongType, containsNull = false))

  /** Start the admission query over a streaming (doc_id, text) frame.
    * History accumulates under `historyDir` (seed it with
    * [[seedHistory]]); admitted docs are the `admitted = true` rows
    * ([[admittedDocs]]). `compactEvery` > 0 folds the history every
    * that-many batches ([[compactHistory]]) so file count stays
    * bounded; 0 keeps the flat layout (tests, short streams). */
  def nearDupAdmission(docs: DataFrame, historyDir: String, tau: Double,
                       checkpointDir: String,
                       compactEvery: Int = 0,
                       clusterMapDir: Option[String] = None,
                       clusterMapCompactEvery: Int = 0): StreamingQuery =
    StreamingHistory.start(Text, docs, historyDir, checkpointDir, compactEvery)(
      admitBatch(_, historyDir, tau, _, clusterMapDir, clusterMapCompactEvery))

  /** One admission step — exposed so batch pipelines can run the same
    * policy over a bounded delta, and for tests.
    *
    * `clusterMapDir` (r17, VERDICT r16 #5) keeps the d25 cluster-map
    * artifact CURRENT per micro-batch: admission already computes the
    * exact verified delta pairs the merge needs, so each batch folds
    * its pairs into the persisted map through
    * [[graft.operators.Dedup.mergeIntoClusterMap]] — without this an
    * online corpus's cluster map goes stale between batch runs.
    * Streamed slicing ≡ one-shot merge ≡ d08's CC over all pairs
    * (spec-pinned), and a REPLAYED batch re-merges the same pairs into
    * a map that already holds them, which the union-find merge
    * no-ops (its endpoints are all members, the projected graph
    * collapses to reps) — replay-idempotent with no extra history,
    * the StreamingTakedown discipline. `clusterMapCompactEvery` passes
    * the map's own path-compression cadence through. */
  def admitBatch(batch0: DataFrame, historyDir: String, tau: Double,
                 batchId: Long,
                 clusterMapDir: Option[String] = None,
                 clusterMapCompactEvery: Int = 0): Unit = {
    val spark = batch0.sparkSession
    val batch = withShingles(batch0).persist()
    try {
      // exclude batch=<batchId> itself everywhere: on a replay the final
      // overwrite of that subdir would otherwise race the lazy read of
      // it, and a replayed batch must see exactly the history the
      // original run saw. (If an eager external fold already captured
      // this batch id, the probe's own delta-id anti-join keeps the
      // folded copy from self-pairing.)
      val (sBanded, sCounts) = standingLshLanes(spark, historyDir, batchId)
      val sSh = shingled(StreamingHistory.readRows(spark, historyDir,
        Text.schema, excludeBatch = Some(batchId)))
      // shingle-less docs can't pair (the probe drops them) — they admit
      val pairs = Dedup.probeLshFromShingled(sBanded, sCounts, sSh,
          shingled(batch), tau, NoBucketCap)
        .persist() // two consumers below; the frame is threshold-small
      try {
        StreamingHistory.verdict(Text, batch, pairs, "d2", historyDir, batchId)
        // the cluster-map fold consumes the SAME verified pair frame
        // the admission verdict used — no recompute, delta cost
        clusterMapDir.foreach(d => Dedup.mergeIntoClusterMap(
          pairs.select(col("d1"), col("d2")), d, clusterMapCompactEvery))
      } finally { pairs.unpersist(); () }
    } finally {
      batch.unpersist()
      // the probe's tracked checkpoint intermediates (delta shingle /
      // banded frames) are dead once this batch's writes completed —
      // a long-running stream must not stack one set per micro-batch
      graft.Scratch.drain()
    }
  }

  /** Fold retired `batch=` dirs (ids < `uptoExclusive` — pass the
    * in-flight batch id so the one replayable batch stays hot) into an
    * [[graft.operators.IndexStore]] generation: rows + the LSH banded
    * lane coalesced to few large files, the counts lane MERGED (one
    * row per bucket — readers sum per key, so merged sums are
    * semantics-identical). Probe answers are unchanged by
    * construction; [[graft.StreamingCurationSpec]] pins it. */
  def compactHistory(spark: SparkSession, dir: String,
                     uptoExclusive: Long): Unit =
    StreamingHistory.compact(Text, spark, dir, uptoExclusive)

  /** Pre-load a standing corpus (all admitted) before streaming. */
  def seedHistory(docs: DataFrame, historyDir: String): Unit =
    StreamingHistory.seed(Text, withShingles(docs).withColumn("admitted", lit(true)),
      historyDir)

  /** The curated output: admitted documents across seed + stream.
    * A fresh (or still-empty) history dir yields an empty frame. */
  def admittedDocs(spark: SparkSession, historyDir: String): DataFrame =
    StreamingHistory.admitted(Text, spark, historyDir)

  /** Per-batch admission funnel — the streaming twin of c02's
    * observability: docs seen / admitted / rejected per micro-batch
    * (batch −1 = the seeded corpus, admitted by definition). A
    * rejection-rate spike in this table is the first symptom of a dup
    * storm or a mis-sliced upstream producer; see
    * [[StreamingHistory.admissionStats]] for the tolerant read. */
  def admissionStats(spark: SparkSession, historyDir: String): DataFrame =
    StreamingHistory.admissionStats(Text, spark, historyDir)

  private def withShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
      array_sort(Dedup.shingleHashes(col("text"))).as("sh"))

  /** The (doc_id, sh) rows that can pair: shingle-less docs never do. */
  private def shingled(rows: DataFrame): DataFrame =
    rows.select(col("doc_id"), col("sh")).filter(size(col("sh")) > 0)

  // ---- the LSH lanes (shared by the near-dup and pipeline legs) ----

  private val BandedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("band_id", IntegerType),
    StructField("band_hash", LongType)))
  private val CountsSchema = StructType(Seq(
    StructField("band_id", IntegerType),
    StructField("band_hash", LongType),
    StructField("n", LongType)))

  /** The (doc_id, sh) subset of both legs' row shapes: what the
    * laneless-batch fallback reads. */
  private val ShSchema = StructType(Seq(StructField("doc_id", LongType), Sh))

  /** The batch's own banded + counts lane dirs, from its rows as
    * written (delta-sized; replay-overwritten together with the rows),
    * and the generation fold of both lanes. */
  private val LshLanes = SideLanes(
    write = (rows, dir, batchId) => {
      val banded = Dedup.bandedOf(shingled(rows)).persist()
      try {
        banded.write.mode("overwrite")
          .parquet(StreamingHistory.lanePath(dir, "banded", batchId))
        Dedup.bandedOf_counts(banded).write.mode("overwrite")
          .parquet(StreamingHistory.lanePath(dir, "counts", batchId))
      } finally { banded.unpersist(); () }
    },
    fold = (spark, dir, dst, foldIds) => {
      val (bandedParts, countsParts) = lshLanes(spark, dir, foldIds)
      val nFiles = math.max(1, bandedParts.map(_.inputFiles.length).sum / 16)
      StreamingHistory.union(spark, BandedSchema, bandedParts)
        .coalesce(nFiles).write.mode("overwrite").parquet(s"$dst/banded")
      StreamingHistory.union(spark, CountsSchema, countsParts)
        .groupBy(col("band_id"), col("band_hash")).agg(sum(col("n")).as("n"))
        .coalesce(nFiles).write.mode("overwrite").parquet(s"$dst/counts")
    })

  /** The banded and counts lane parts of the published generation and
    * of batches `ids`. Batches written before the lanes existed
    * (round-14 histories, or a crash between the rows and lane writes)
    * are banded in-plan from THEIR rows only — cost proportional to the
    * laneless batches, never the corpus. Reads are schema-explicit: an
    * all-shingle-less (or empty) batch writes FILE-LESS lane dirs. */
  private def lshLanes(spark: SparkSession, dir: String,
                       ids: Seq[Long]): (Seq[DataFrame], Seq[DataFrame]) = {
    val (laned, legacy) = ids.partition(id =>
      Files.isDirectory(Paths.get(StreamingHistory.lanePath(dir, "banded", id))))
    def lane(name: String, schema: StructType): Seq[DataFrame] =
      StreamingHistory.foldedLane(spark, dir, name, schema).toSeq ++
        StreamingHistory.readHotBatches(spark,
          StreamingHistory.laneDir(dir, name), laned, schema)
          .map(_.drop("batch"))
    val legacyBanded = StreamingHistory.readHotBatches(spark, dir, legacy, ShSchema)
      .map(rows => Dedup.bandedOf(shingled(rows))).toSeq
    (lane("banded", BandedSchema) ++ legacyBanded,
      lane("counts", CountsSchema) ++ legacyBanded.map(Dedup.bandedOf_counts))
  }

  /** The standing banded + counts lanes: the folded generation plus
    * every hot batch except `excludeBatch`. */
  private def standingLshLanes(spark: SparkSession, dir: String,
      excludeBatch: Long): (DataFrame, DataFrame) = {
    val (banded, counts) = lshLanes(spark, dir,
      StreamingHistory.hotBatchIds(dir).filterNot(_ == excludeBatch))
    (StreamingHistory.union(spark, BandedSchema, banded),
      StreamingHistory.union(spark, CountsSchema, counts))
  }

  /** The text leg: every doc with its shingles and verdict. */
  private val Text = Leg(StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      Sh,
      StructField("admitted", BooleanType))),
    output = Seq("doc_id", "text"), countName = "n_docs", lanes = Some(LshLanes))

  // ---- full-pipeline streaming admission (the streaming twin of c12) ----

  /** ALL FIVE c01 stages online — language, quality, exact keep-first,
    * near-dup keep-first, decontamination — against everything that
    * came before: the streaming form of [[graft.operators.Curation
    * .admitDelta]], and the operational shape of continuous corpus
    * curation (a crawler feeds documents; the curated set is always
    * current; nothing is ever recomputed).
    *
    * Batch-slicing invariance holds by the same argument as c12's
    * boundary sweep, iterated: each doc's verdict depends only on the
    * SET of smaller-id docs (monotonic ingest ids), never on where
    * batch boundaries fall — so the curated set equals a one-shot
    * [[graft.operators.Curation.c01CurationPipeline]] over seed ∪
    * stream, the equivalence [[graft.StreamingCurationSpec]] asserts
    * across slicings (the near-dup stage rides the same banded probe
    * as [[admitBatch]] — see the object contract for the banding
    * caveat). State is [[graft.operators.Curation.curationState]]
    * rows partitioned by batch id (~100 B per KEPT doc — rejected
    * non-f2 docs leave no state at all, unlike the near-dup-only
    * history which must retain every doc) plus the state rows' own
    * LSH lanes, in the [[StreamingHistory]] layout; the standing
    * exact-hash and shingle structures are never re-derived (hash
    * membership is a broadcast-semi SCAN of the state's `th` column;
    * near-dup candidates stream the standing banded lane past the
    * broadcast batch). The benchmark frame is tiny by d07's premise and
    * broadcast into each batch's decontamination. */
  def pipelineAdmission(docs: DataFrame, bench: DataFrame, stateDir: String,
                        checkpointDir: String,
                        compactEvery: Int = 0): StreamingQuery =
    StreamingHistory.start(Pipeline, docs, stateDir, checkpointDir, compactEvery)(
      admitPipelineBatch(_, bench, stateDir, _))

  /** One full-pipeline admission step — exposed for bounded deltas and
    * tests. Reads state excluding this batch id (replay safety), writes
    * the batch's f2-level state rows + LSH lanes under `batch=<batchId>`. */
  def admitPipelineBatch(batch0: DataFrame, bench: DataFrame, stateDir: String,
                         batchId: Long): Unit = {
    val spark = batch0.sparkSession
    val state = StreamingHistory.readRows(spark, stateDir, Pipeline.schema,
      excludeBatch = Some(batchId))
    val (sBanded, sCounts) = standingLshLanes(spark, stateDir, batchId)
    StreamingHistory.write(Pipeline, Curation.admitDeltaStateWith(
        state, batch0.select(col("doc_id"), col("text")), bench,
        (stSh, dSh) => Dedup.probeLshFromShingled(
          sBanded, sCounts, stSh, dSh, 0.8, NoBucketCap)),
      stateDir, batchId)
    // this batch's writes consumed the probe's tracked checkpoints
    graft.Scratch.drain()
  }

  /** Fold retired pipeline-state `batch=` dirs (rows + LSH lanes) —
    * the pipeline leg's [[compactHistory]]. */
  def compactPipelineState(spark: SparkSession, stateDir: String,
                           uptoExclusive: Long): Unit =
    StreamingHistory.compact(Pipeline, spark, stateDir, uptoExclusive)

  /** Seed the state with an already-curated standing corpus (the
    * previous batch run's [[graft.operators.Curation.curationState]]). */
  def seedPipelineState(standing: DataFrame, bench: DataFrame,
                        stateDir: String): Unit =
    StreamingHistory.seed(Pipeline, Curation.curationState(standing, bench), stateDir)

  /** The curated corpus as of now: (doc_id, quality) of survivors
    * across seed + stream — c01's output shape. */
  def curatedDocs(spark: SparkSession, stateDir: String): DataFrame =
    StreamingHistory.admitted(Pipeline, spark, stateDir)

  /** The pipeline leg: [[graft.operators.Curation.curationState]]'s row
    * shape, `m_surv` marking the survivors. */
  private val Pipeline = Leg(StructType(Seq(
      StructField("doc_id", LongType),
      StructField("quality", DoubleType),
      StructField("th", StringType),
      Sh,
      StructField("m_surv", BooleanType))),
    output = Seq("doc_id", "quality"), countName = "n_docs", flag = "m_surv",
    lanes = Some(LshLanes))
}
