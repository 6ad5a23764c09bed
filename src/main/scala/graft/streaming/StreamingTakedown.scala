package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Online takedown propagation — the streaming face of the artifact
  * family's deletion verb (round 16). Takedowns arrive as a STREAM in
  * production (DMCA queues, robots re-crawl diffs, trust-and-safety
  * actions), and every micro-batch must reach every persisted index
  * before the next serving window; batching them up for a nightly job
  * leaves removed content servable for hours.
  *
  * Mechanics: one `foreachBatch` loop fans each removal batch out to
  * the configured artifact dirs through the `deleteFrom*` verbs —
  * tombstones append under each artifact's current IndexStore
  * generation at cost ∝ |batch|, probes mask immediately, and the
  * artifacts' own `compactEvery` cadence reclaims. foreachBatch is
  * sequential, so the artifacts' single-maintainer contract holds
  * without extra coordination; a replayed batch re-deletes the same
  * ids, which every verb treats as a no-op (the IndexDeletionSpec
  * idempotence contract) — takedown propagation is replay-idempotent
  * with NO per-batch history of its own. Doc-keyed artifacts take the
  * batch's `doc_id` column; the vector index takes `vec_id` when the
  * stream carries one (a takedown feed that maps docs to their
  * embedding rows upstream).
  *
  * The cluster map is deliberately NOT in the fan-out: it is the
  * seventh IndexStore family, but its deletion verb is a generation
  * fold that re-derives affected live pairs, not a tombstone append
  * (c07 snapshot cadence — see
  * [[graft.operators.Dedup.deleteFromClusterMap]]), which is
  * maintenance-window work, not per-micro-batch work. Its CDC sync
  * ([[StreamingCorpusSync]]) folds delete and merge in one publish. */
object StreamingTakedown {

  /** Start the propagation query over a streaming removals frame.
    * Each optional dir receives every batch's ids via its family's
    * `deleteFrom*`; `compactEvery` > 0 passes the artifacts' own
    * auto-reclaim cadence through. */
  def propagate(removals: DataFrame, checkpointDir: String,
                lshDir: Option[String] = None,
                payloadDir: Option[String] = None,
                bm25Dir: Option[String] = None,
                ivfDir: Option[String] = None,
                compactEvery: Int = 0): StreamingQuery =
    removals.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        propagateBatch(batch, lshDir, payloadDir, bm25Dir, ivfDir,
          compactEvery)
        ()
      }
      .start()

  /** One propagation step — exposed for bounded feeds and tests. */
  def propagateBatch(batch0: DataFrame,
                     lshDir: Option[String], payloadDir: Option[String],
                     bm25Dir: Option[String], ivfDir: Option[String],
                     compactEvery: Int = 0): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    val batch = batch0.localCheckpoint() // ≤ |batch| ids; many consumers
    val docIds =
      if (batch.columns.contains("doc_id")) Some(batch.select($"doc_id"))
      else None
    docIds.foreach { ids =>
      lshDir.foreach(Dedup.deleteFromLshIndex(ids, _, compactEvery))
      payloadDir.foreach(Multimodal.deleteFromPayloadIndex(ids, _, compactEvery))
      bm25Dir.foreach(TextAnalysis.deleteFromBm25Index(ids, _, compactEvery))
    }
    if (batch.columns.contains("vec_id"))
      ivfDir.foreach(Similarity.deleteFromIvfIndex(
        batch.select($"vec_id"), _, compactEvery))
    // every deleteFrom* above ends in its own write — the batch's
    // checkpoint blocks are dead here; a long-running takedown stream
    // must not stack one block set per micro-batch
    graft.Scratch.releaseNow(batch)
  }
}
