package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, LongType, StructField, StructType}

import graft.operators.Similarity
import graft.streaming.StreamingHistory.Leg

/** Online embedding-space near-dup admission: admit or reject each
  * vector of a stream against everything that came before it.
  *
  * Contract: a vector is REJECTED iff some vector with a smaller `vec_id` — seed corpus or
  * anywhere earlier in the stream, including rejected vectors and
  * smaller-id vectors of the same micro-batch — has cosine ≥ τ with
  * it. The predicate depends only on the global vector SET, so the
  * admitted set equals the one-shot keep-first computation (drop the
  * larger id of every [[Similarity.deltaEmbeddingNearDup]] pair),
  * asserted by [[graft.StreamingVectorCurationSpec]] across slicings.
  * Requires vec_ids non-decreasing across batches.
  *
  * Mechanics per micro-batch: one asymmetric blocked delta join of the
  * batch against the history — cost |batch| · |corpus| spread evenly
  * over block tasks, never |corpus|² — then the batch lands through
  * the [[StreamingHistory]] lifecycle. The exact-cosine contract makes
  * the standing-side scan inherent (every standing vector must be
  * dotted against the batch; an IVF-probed variant exists in batch
  * form as s18 for callers that accept approximation), but the
  * standing side only ever STREAMS — no shuffle, no window. Any numeric
  * array embedding is admitted; the history stores it as
  * array<double>. */
object StreamingVectorCuration {

  /** Start the admission query over a streaming (vec_id, v) frame —
    * `v` a numeric-array embedding. `compactEvery` > 0 folds the
    * history every that-many batches ([[compactHistory]]). */
  def nearDupAdmission(vecs: DataFrame, historyDir: String, tau: Double,
                       checkpointDir: String,
                       compactEvery: Int = 0): StreamingQuery =
    StreamingHistory.start(Vectors, vecs, historyDir, checkpointDir, compactEvery)(
      admitBatch(_, historyDir, tau, _))

  /** Fold retired `batch=` dirs into a generation (rows only — this
    * leg has no side lanes). */
  def compactHistory(spark: SparkSession, dir: String,
                     uptoExclusive: Long): Unit =
    StreamingHistory.compact(Vectors, spark, dir, uptoExclusive)

  /** One admission step — exposed for bounded deltas and tests. Delta
    * pairs are (a_id, b_id) with a_id < b_id, so `b_id` is the rejected
    * end. */
  def admitBatch(batch0: DataFrame, historyDir: String, tau: Double,
                 batchId: Long): Unit = {
    val spark = batch0.sparkSession
    val batch = batch0.select(col("vec_id"), col("v")).persist()
    try {
      val hist = StreamingHistory.readRows(spark, historyDir, Vectors.schema,
        excludeBatch = Some(batchId))
      val pairs = Similarity.deltaEmbeddingNearDup(
          hist.select(col("vec_id"), col("v")), batch, tau)
        .persist()
      try StreamingHistory.verdict(Vectors, batch, pairs, "b_id", historyDir, batchId)
      finally { pairs.unpersist(); () }
    } finally { batch.unpersist(); () }
  }

  /** Pre-load a standing corpus (all admitted) before streaming. */
  def seedHistory(vecs: DataFrame, historyDir: String): Unit =
    StreamingHistory.seed(Vectors, vecs.withColumn("admitted", lit(true)), historyDir)

  /** The curated output: admitted vectors across seed + stream. */
  def admittedVecs(spark: SparkSession, historyDir: String): DataFrame =
    StreamingHistory.admitted(Vectors, spark, historyDir)

  /** Per-batch admission funnel on the vector modality. */
  def admissionStats(spark: SparkSession, historyDir: String): DataFrame =
    StreamingHistory.admissionStats(Vectors, spark, historyDir)

  private val Vectors = Leg(StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType)),
      StructField("admitted", BooleanType))),
    output = Seq("vec_id", "v"), countName = "n_vecs")
}
