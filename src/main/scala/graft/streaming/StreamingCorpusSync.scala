package graft.streaming

import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, IndexStore, Multimodal, Similarity, TextAnalysis}

/** Online corpus synchronization — the streaming face of the composed
  * lifecycle verb (r17, widened to every artifact lane in r18): a
  * CDC-shaped stream of per-document events kept current against ALL
  * the persisted artifacts a curation stack serves from. This is the
  * reference's OWN production shape — its cursor sketch
  * (core.clj:133-137) polls a source for new/updated docs precisely
  * because corpora get re-written in place — composed over the
  * artifact family: adds and revisions arrive as upserts (the
  * `sync*Index` verbs fold them in one generation; an absent id
  * inserts, a present id replaces), takedowns as deletes.
  *
  * Event schema: `doc_id` + `op ∈ {upsert, delete}` always; plus
  * whichever content columns the configured lanes consume — `text`
  * (LSH / BM25 / cluster map), `v: array<double>` (IVF / IVFADC /
  * labeled IVF), `label` (labeled IVF), `payload: binary` (payload
  * index) — and optionally `seq`, a monotone per-feed ordering. A
  * real CDC feed carries embeddings and payload bytes alongside the
  * text, so one stream keeps every artifact current; lanes are
  * opt-in via [[SyncTargets]].
  *
  * Per micro-batch each configured artifact folds exactly ONE
  * generation carrying the whole batch's diff — atomically published,
  * so a reader never sees a partially-applied batch on any single
  * artifact. Each artifact has exactly one writer, its own lane, and
  * no two lanes may name one directory. The artifacts share nothing,
  * so their lanes fold concurrently, one thread each, and a batch
  * publishes per artifact: a lane that fails leaves its `_current`
  * where it was while others may already have flipped, and
  * [[syncBatch]] returns or throws only once every lane has ended. A
  * REPLAYED batch re-applies the same diff onto a corpus that already
  * reflects it (wholly or on some lanes), and the fold is
  * answer-idempotent by construction (the same ids mask out, the same
  * revisions land) — replay-safe with NO per-batch history of its
  * own, the StreamingTakedown discipline.
  *
  * Conflict resolution (r18, shared with the sync verbs themselves —
  * direct verb callers get the SAME semantics, closing the r17
  * wrapper/verb divergence):
  *  - an unknown or null `op` REJECTS the batch loudly — a silent
  *    `=!=` drop would make a malformed feed look synced;
  *  - with a `seq` column, the LAST event per id wins outright (true
  *    CDC order — a delete followed by an upsert revives the doc);
  *  - without one, a DataFrame carries no arrival order, so same-id
  *    duplicate upserts resolve to one deterministic revision
  *    ([[IndexStore.latestRevision]]) and a same-id upsert+delete
  *    resolves DELETE-WINS: takedowns are the legally-loaded verb, so
  *    the conservative resolution is to drop the doc; the next honest
  *    upsert re-inserts it. */
object StreamingCorpusSync {

  /** A frozen-model IVF lane: the list directory + the centroids every
    * lifecycle verb assigns against (frozen by the s18 contract). */
  final case class IvfTarget(dir: String, centroids: DataFrame)

  /** A frozen-quantizer IVFADC lane: the artifact dir + the residual
    * PQ subvector width (`dsub`) and the coarse-stage split width
    * (`coarseWidth` — the [[Similarity.pqSubvectors]] width the
    * artifact was built with; one coarse subspace of the full
    * embedding dim in every fixture). The quantizers themselves are
    * read from the artifact's own model lanes. */
  final case class IvfAdcTarget(dir: String, dsub: Int, coarseWidth: Int = 64)

  /** Labeled-IVF lane — needs the `label` column on upsert events. */
  final case class LabeledIvfTarget(dir: String, centroids: DataFrame)

  /** Cluster-map lane: the map dir + the d21 LSH index its pair
    * derivation reads. If [[SyncTargets.lshDir]] names the same index,
    * the wrapper folds it once (inside the map sync), not twice. */
  final case class ClusterMapTarget(cmapDir: String, lshDir: String,
                                    threshold: Double = 0.8)

  /** The artifact lanes one CDC stream keeps current — all optional,
    * any combination. */
  final case class SyncTargets(
      lshDir: Option[String] = None,
      bm25Dir: Option[String] = None,
      payloadDir: Option[String] = None,
      ivf: Option[IvfTarget] = None,
      ivfAdc: Option[IvfAdcTarget] = None,
      labeledIvf: Option[LabeledIvfTarget] = None,
      clusterMap: Option[ClusterMapTarget] = None)

  /** Start the sync query over a streaming CDC event frame. */
  def sync(events: DataFrame, checkpointDir: String,
           targets: SyncTargets): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        syncBatch(batch, targets)
        ()
      }
      .start()

  /** One artifact's fold: the directories it writes, the event
    * columns it reads, and its sync verb over the resolved diff
    * (upserts, removed ids). */
  private final case class Lane(name: String, dirs: Seq[String], cols: Seq[String],
                                fold: (DataFrame, DataFrame) => Unit)

  private def samePath(a: String, b: String): Boolean =
    Paths.get(a).toAbsolutePath.normalize == Paths.get(b).toAbsolutePath.normalize

  private def lanesOf(t: SyncTargets): Seq[Lane] = {
    def text(u: DataFrame) = u.select(col("doc_id"), col("text"))
    // the vector lanes: doc identity rides as vec_id
    def vec(u: DataFrame, cols: String*) =
      u.select(col("doc_id").as("vec_id") +: cols.map(col): _*)
    def vecGone(r: DataFrame) = r.select(col("doc_id").as("vec_id"))
    // the cluster-map sync folds its own LSH index; skip the
    // standalone fold when both point at the same artifact
    val lshViaMap = t.clusterMap.exists(cm => t.lshDir.exists(samePath(_, cm.lshDir)))
    t.lshDir.filterNot(_ => lshViaMap).map(d => Lane("LSH", Seq(d), Seq("text"),
      (u, r) => Dedup.syncLshIndex(text(u), r, d))).toSeq ++
    t.clusterMap.map(cm => Lane("cluster map", Seq(cm.cmapDir, cm.lshDir), Seq("text"),
      (u, r) => Dedup.syncClusterMapViaLshIndex(text(u), r, cm.cmapDir, cm.lshDir,
        cm.threshold))) ++
    t.bm25Dir.map(d => Lane("BM25", Seq(d), Seq("text"),
      (u, r) => TextAnalysis.syncBm25Index(text(u), r, d))) ++
    t.ivf.map(i => Lane("IVF", Seq(i.dir), Seq("v"),
      (u, r) => Similarity.syncIvfIndex(vec(u, "v"), vecGone(r), i.centroids, i.dir))) ++
    t.ivfAdc.map(i => Lane("IVFADC", Seq(i.dir), Seq("v"),
      (u, r) => Similarity.syncIvfAdcIndex(vec(u, "v"), vecGone(r), i.dsub,
        i.coarseWidth, i.dir))) ++
    t.labeledIvf.map(i => Lane("labeled IVF", Seq(i.dir), Seq("label", "v"),
      (u, r) => Similarity.syncLabeledIvfIndex(vec(u, "label", "v"), vecGone(r),
        i.centroids, i.dir))) ++
    t.payloadDir.map(d => Lane("payload", Seq(d), Seq("payload"),
      (u, r) => Multimodal.syncPayloadIndex(u.select(col("doc_id"), col("payload")), r, d)))
  }

  /** The batch's diff: (upserts, one winning event row per id; removed
    * ids), after rejecting any row whose op is not upsert or delete. */
  private def resolve(raw: DataFrame): (DataFrame, DataFrame) = {
    val spark = raw.sparkSession
    import spark.implicits._
    val hasSeq = raw.columns.contains("seq")
    // validate BEFORE resolving: null/unknown ops reject the batch —
    // one diff-sized job, vs silently dropping rows from both sides
    val bad = raw.filter($"op".isNull || !$"op".isin("upsert", "delete"))
    if (!bad.isEmpty) {
      val sample = bad.select($"doc_id", $"op").take(3).mkString(", ")
      throw new IllegalArgumentException(
        s"StreamingCorpusSync: op must be 'upsert' or 'delete'; got $sample")
    }
    // seq-ordered feeds: the LAST event per id wins outright (cross-op
    // too); orderless feeds defer to the sync verbs' shared resolution
    // (deterministic same-id dedup + delete-wins)
    val batch =
      if (hasSeq) {
        // equal-seq ties break DELETE-FIRST (r18 advice): the old
        // content-desc tiebreak always handed the tie to the upsert
        // (delete rows carry null content) — silently the opposite of
        // the documented conservative resolution for unordered
        // conflicts. Content columns follow only to make equal-seq
        // same-op duplicates deterministic.
        val tiebreak = raw.columns
          .filter(c => c != "doc_id" && c != "seq" && c != "op")
          .map(col(_).desc_nulls_last)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id")
          .orderBy($"seq".desc_nulls_last +:
            when($"op" === "delete", 1).otherwise(0).desc +: tiebreak: _*)
        raw.withColumn("__seq_rn", row_number().over(w))
          .filter($"__seq_rn" === 1).drop("__seq_rn", "seq")
      } else raw
    val removed = batch.filter($"op" === "delete").select($"doc_id")
    val upserts = batch.filter($"op" === "upsert").drop("op")
    // delete-wins once here for the orderless case (see scaladoc) so
    // each lane's verb sees a pre-resolved diff; with seq the winner
    // already decided and this anti-join is a no-op by construction
    val ups0 = upserts.join(broadcast(removed), Seq("doc_id"), "left_anti")
    // ONE winning event row per id, resolved over the FULL event row
    // BEFORE the per-lane projections (r18 advice): leaving the fold
    // to each lane's verb let different lanes rank different
    // projections (text for LSH/BM25, v for IVF, payload bytes for
    // the payload index) and pick different winners — synced
    // artifacts describing a document that never existed (revision
    // A's text paired with revision B's vector). With seq the winner
    // is already decided above; the verbs' own latestRevision calls
    // are identities on this pre-resolved diff.
    val ups =
      if (hasSeq) ups0 else IndexStore.latestRevision(ups0, "doc_id")
    (ups, removed)
  }

  /** One sync step — exposed for bounded feeds and tests. */
  def syncBatch(batch0: DataFrame, targets: SyncTargets): Unit = {
    val lanes = lanesOf(targets)
    // every lane's preconditions hold BEFORE any lane folds: a batch
    // that fails one must not publish on the others first
    for (l <- lanes; c <- l.cols)
      require(batch0.columns.contains(c),
        s"StreamingCorpusSync: the ${l.name} lane needs an event column '$c'")
    val owned = lanes.flatMap(l => l.dirs.distinct.map(l.name -> _))
    for (((a, d), i) <- owned.zipWithIndex; (b, e) <- owned.drop(i + 1))
      require(!samePath(d, e),
        s"StreamingCorpusSync: the $a and $b lanes both write $d, and their " +
        "concurrent folds would race; give each lane its own directory (a " +
        "cluster map whose lshDir equals SyncTargets.lshDir folds that index once)")
    val raw = batch0.localCheckpoint() // ≤ |batch|; 2 ops × N artifacts
    try {
      val (ups, removed) = resolve(raw)
      foldAll(batch0.sparkSession.sparkContext,
        lanes.map(l => l.name -> (() => l.fold(ups, removed))))
    } finally {
      // the releases block, so an interrupt the folds' wait restored
      // is held back until they are done
      val interrupted = Thread.interrupted()
      try {
        graft.Scratch.releaseNow(raw)
        graft.Scratch.drain()
      } finally if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** Run each fold on a thread of its own and return only once every
    * one has ended. A failed fold leaves the others running to their
    * end; then the first failure is thrown, with the rest suppressed
    * on it. An interrupt of the calling thread (a stopped query) does
    * not cut the wait short: it is restored once the folds are over,
    * so no fold is still writing when this returns. Fresh threads
    * inherit the caller's active session and a copy of its local
    * properties (job group, SQL execution id); each appends
    * ` · corpus-sync <lane>` to its job description, so the UI and any
    * listener can tell the lanes' jobs apart, and drains its own
    * scratch scope. */
  private def foldAll(sc: SparkContext, folds: Seq[(String, () => Unit)]): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = folds.map { case (name, fold) =>
      new Thread(() =>
        try {
          val tag = s"corpus-sync $name"
          sc.setJobDescription(Option(sc.getLocalProperty("spark.job.description"))
            .fold(tag)(d => s"$d · $tag"))
          fold()
        } catch { case e: Throwable => failures.add(e); () }
        finally graft.Scratch.drain(),
        s"corpus-sync-$name")
    }
    threads.foreach(t => try t.start() catch { case e: Throwable => failures.add(e) })
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    Option(failures.poll()).foreach { first =>
      failures.forEach(first.addSuppressed(_))
      throw first
    }
  }

  /** Back-compat text-only form (the r17 signature). */
  def syncBatch(batch0: DataFrame, lshDir: Option[String],
                bm25Dir: Option[String]): Unit =
    syncBatch(batch0, SyncTargets(lshDir = lshDir, bm25Dir = bm25Dir))
}
