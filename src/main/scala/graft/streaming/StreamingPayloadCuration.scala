package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import graft.streaming.StreamingHistory.Leg

/** Online byte-exact payload admission — the PAYLOAD leg of the
  * streaming curation family, completing the matrix: text near-dup
  * ([[StreamingCuration]]), vectors ([[StreamingVectorCuration]]),
  * whole pipeline (`pipelineAdmission`), and now binary payloads (the
  * streaming form of m08's batch admission). A crawl's media stream
  * drops re-crawled bytes the moment they arrive, BEFORE any decode /
  * feature / perceptual stage spends compute on them.
  *
  * Contract: a payload is REJECTED iff some payload
  * with a smaller doc_id — seed corpus or anywhere earlier in the
  * stream, including smaller ids of the same micro-batch and payloads
  * that were themselves rejected — has identical bytes (sha-256).
  * The predicate depends only on the global payload SET, so the
  * admitted set equals the one-shot keep-first dedup (m05's min-id
  * per sha) for ANY batch slicing, asserted across slicings by
  * [[graft.StreamingPayloadCurationSpec]]. Requires doc_ids
  * non-decreasing across batches (ingestion order).
  *
  * Mechanics per micro-batch: hash payloads in-plan (one narrow
  * pass), keep-first within the batch (min-id per hash — a groupBy
  * with map-side combine, NOT a window: a mass-duplicated payload
  * batch would concentrate its whole clique on one window task),
  * then membership against the standing sha column as a SCAN: the
  * history's `payload_sha256` lane streams map-side past the
  * broadcast batch hash set (left-semi) and only the HIT set —
  * ≤ |batch| hashes — broadcasts into the batch-side anti-join.
  * ~50 B/payload of standing state, payload BYTES never reread,
  * nothing standing ever shuffled. The batch then lands through the
  * [[StreamingHistory]] lifecycle. */
object StreamingPayloadCuration {

  /** Start the admission query over a streaming (doc_id, payload)
    * frame — `payload` a binary column. `compactEvery` > 0 folds the
    * history every that-many batches ([[compactHistory]]). */
  def exactDedupAdmission(payloads: DataFrame, historyDir: String,
                          checkpointDir: String,
                          compactEvery: Int = 0): StreamingQuery =
    StreamingHistory.start(Payloads, payloads, historyDir, checkpointDir, compactEvery)(
      admitBatch(_, historyDir, _))

  /** Fold retired `batch=` dirs into a generation (rows only — this
    * leg has no side lanes). */
  def compactHistory(spark: SparkSession, dir: String,
                     uptoExclusive: Long): Unit =
    StreamingHistory.compact(Payloads, spark, dir, uptoExclusive)

  /** One admission step — exposed for bounded deltas and tests. */
  def admitBatch(batch0: DataFrame, historyDir: String, batchId: Long): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    val batch = hashed(batch0).persist()
    try {
      val hist = StreamingHistory.readRows(spark, historyDir, Payloads.schema,
        excludeBatch = Some(batchId))
      // standing membership as a scan (see object doc): semi-probe the
      // history lane with the broadcast batch set, anti-join the small
      // hit set back — never broadcast or shuffle the standing side
      val hitShas = hist.select($"payload_sha256")
        .join(broadcast(batch.select($"payload_sha256").distinct()),
          Seq("payload_sha256"), "left_semi")
        .distinct()
      val firstInBatch = batch
        .groupBy($"payload_sha256").agg(min($"doc_id").as("doc_id"))
        .join(broadcast(hitShas), Seq("payload_sha256"), "left_anti")
        .select($"doc_id")
      StreamingHistory.write(Payloads, batch
        .join(firstInBatch.withColumn("adm", lit(true)), Seq("doc_id"), "left_outer")
        .withColumn("admitted", coalesce($"adm", lit(false))), historyDir, batchId)
    } finally { batch.unpersist(); () }
  }

  /** Pre-load a standing corpus (already deduped, all admitted). */
  def seedHistory(payloads: DataFrame, historyDir: String): Unit =
    StreamingHistory.seed(Payloads, hashed(payloads).withColumn("admitted", lit(true)),
      historyDir)

  /** The curated output: admitted doc ids across seed + stream. */
  def admittedDocs(spark: SparkSession, historyDir: String): DataFrame =
    StreamingHistory.admitted(Payloads, spark, historyDir)

  /** Per-batch admission funnel on the payload modality (a
    * rejection-rate spike here is a re-crawl storm caught before any
    * decode spends compute). */
  def admissionStats(spark: SparkSession, historyDir: String): DataFrame =
    StreamingHistory.admissionStats(Payloads, spark, historyDir)

  private def hashed(payloads: DataFrame): DataFrame =
    payloads.select(col("doc_id"), sha2(col("payload"), 256).as("payload_sha256"))

  private val Payloads = Leg(StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload_sha256", StringType),
      StructField("admitted", BooleanType))),
    output = Seq("doc_id", "payload_sha256"), countName = "n_payloads")
}
