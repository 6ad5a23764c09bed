package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingCorpusSync
import graft.streaming.StreamingCorpusSync._

/** The r18 corpus-sync surface: every artifact lane wired into the
  * streaming CDC wrapper, and the conflict-resolution contract SHARED
  * between the wrapper and the sync verbs themselves (closing the r17
  * advice: direct verb callers must get the same semantics as the
  * stream).
  *
  * Contract:
  *  1. streamed slicing ≡ one-shot sync ≡ rebuild, per lane (IVF,
  *     IVFADC, labeled IVF, payload, cluster map — the LSH/BM25 legs
  *     are pinned in IndexUpdateSpec);
  *  2. replaying a batch is answer-idempotent on every lane;
  *  3. same-id duplicate upserts fold ONE deterministic revision
  *     (verbs), and a seq-ordered feed resolves last-event-wins
  *     (wrapper);
  *  4. an id in both upserts and removed resolves DELETE-WINS in the
  *     VERBS too, not just the wrapper;
  *  5. null/unknown op rejects the batch loudly;
  *  6. maintenance concurrency: a reader holding the pre-sync
  *     generation — and a sibling thread's tracked scratch — survives
  *     a sync + drain + compaction cycle;
  *  7. the lanes fold concurrently, one thread each: a batch that some
  *     lane cannot take, or two lanes on one directory, fail before
  *     any lane folds; a failing lane leaves its artifact as it was
  *     while the others publish, and `syncBatch` throws only once no
  *     lane thread is alive; an interrupted caller still waits for
  *     every lane and keeps its interrupt.
  */
class StreamingCorpusSyncSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
  private def revised(d: DataFrame): DataFrame =
    d.select($"doc_id", concat($"text", lit(" updated revision edition")).as("text"))
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  // the shared CDC fixture: adds (%9=0 of the universe), revisions
  // (%11=0 of standing), deletes (%7=0 of standing, not also revised)
  private def universe = docs.filter($"doc_id" <= 500)
  private def standing = universe.filter($"doc_id" % 9 =!= 0)
  private def added = universe.filter($"doc_id" % 9 === 0)
  private def changed = revised(standing.filter($"doc_id" % 11 === 0))
  private def removedIds = standing
    .filter($"doc_id" % 7 === 0 && $"doc_id" % 11 =!= 0).select($"doc_id")
  private def upserts = changed.unionByName(added)
  private def net = standing
    .join(removedIds, Seq("doc_id"), "left_anti")
    .join(upserts.select($"doc_id"), Seq("doc_id"), "left_anti")
    .unionByName(upserts)

  // deterministic pseudo-embeddings from doc_id ONLY: deriving them
  // from `text` poisons every later localCheckpoint — the LogicalRDD
  // keeps origin ALIAS constraints referencing text (not in the
  // output), and the CDC union's constraint rewrite then throws
  // `key not found: text` (a Spark constraint-propagation edge)
  private def vecOf(d: DataFrame): DataFrame =
    d.select($"doc_id",
      transform(sequence(lit(0), lit(7)),
        i => round(sin($"doc_id" * (i + lit(1)) +
          pmod(xxhash64($"doc_id"), lit(997)).cast("double") / 1e3), 6)).as("v"))

  private def eventsOf(ups: DataFrame, rem: DataFrame): DataFrame = {
    val contentCols = ups.columns.filter(_ != "doc_id")
    val delRows = rem.select($"doc_id" +: contentCols.map(c =>
      lit(null).cast(ups.schema(c).dataType).as(c)): _*)
    ups.withColumn("op", lit("upsert"))
      .unionByName(delRows.withColumn("op", lit("delete")))
  }

  private def slices(ev: DataFrame, n: Int): Seq[DataFrame] = {
    val r = ev.agg(min($"doc_id"), max($"doc_id")).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val bounds = (0 to n).map(i => lo + (hi - lo + 1) * i / n)
    (0 until n).map(i =>
      ev.filter($"doc_id" >= bounds(i) && $"doc_id" < bounds(i + 1)))
  }

  test("vector lanes: sliced CDC feed ≡ rebuild (IVF, IVFADC, labeled); replay idempotent") {
    // materialized once: the vector fixture derives v from text via
    // crc32, and running the raw lineage through the CDC union trips
    // Spark's Union constraint-rewrite on the shared text attribute
    val corpus = vecOf(docs.filter($"doc_id" <= 500))
      .withColumn("label", ($"doc_id" % 4).cast("int"))
      .localCheckpoint()
    val standingV = corpus.filter($"doc_id" % 9 =!= 0)
    val addedV = corpus.filter($"doc_id" % 9 === 0)
    val changedV = standingV.filter($"doc_id" % 11 === 0)
      .select($"doc_id",
        transform($"v", (x, i) => when(i === 0, x + 0.3).otherwise(x)).as("v"),
        (($"label" + 1) % 4).cast("int").as("label"))
    val removedV = standingV
      .filter($"doc_id" % 7 === 0 && $"doc_id" % 11 =!= 0).select($"doc_id")
    val upsertsV = changedV.unionByName(addedV.select($"doc_id", $"v", $"label"))
    val netV = standingV
      .join(removedV, Seq("doc_id"), "left_anti")
      .join(upsertsV.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"v", $"label")
      .unionByName(upsertsV)
    val asVec = (d: DataFrame) => d.select($"doc_id".as("vec_id"), $"v")
    val cents = Similarity.kmeansCentroids(asVec(standingV), 4, 2)
    val dsub = 4
    val ivf = tmp("csync-ivf"); val ivfRb = tmp("csync-ivf-rb")
    val adc = tmp("csync-adc"); val adcRb = tmp("csync-adc-rb")
    val lab = tmp("csync-lab"); val labRb = tmp("csync-lab-rb")
    try {
      Similarity.writeIvfIndex(asVec(standingV), cents, ivf)
      // the 8-dim fixture: one coarse subspace of width 8, residual PQ
      // split at dsub = 4 (the IndexDeletionSpec training recipe)
      val vq = Similarity.pqSubvectors(asVec(standingV), 8).cache()
      val coarse = Similarity.pqCodebooks(vq, 4, 2).cache()
      val rsv = Similarity.coarseResidualsForSpec(vq, coarse)
        .select($"vec_id", posexplode(Similarity.subSplit($"r", dsub)))
        .toDF("vec_id", "sub", "sv")
      val books = Similarity.pqCodebooks(rsv, 16, 2).cache()
      Similarity.writeIvfAdcIndex(vq, coarse, books, dsub, adc)
      Similarity.writeLabeledIvfIndex(
        standingV.select($"doc_id".as("vec_id"), $"label", $"v"), cents, lab)
      val ev = eventsOf(upsertsV, removedV)
      val targets = SyncTargets(
        ivf = Some(IvfTarget(ivf, cents)),
        ivfAdc = Some(IvfAdcTarget(adc, dsub, coarseWidth = 8)),
        labeledIvf = Some(LabeledIvfTarget(lab, cents)))
      slices(ev, 3).foreach(StreamingCorpusSync.syncBatch(_, targets))
      // rebuilds over the post-diff corpus with the SAME frozen models
      Similarity.writeIvfIndex(asVec(netV), cents, ivfRb)
      Similarity.writeIvfAdcIndex(
        Similarity.pqSubvectors(asVec(netV), 8), coarse, books, dsub, adcRb)
      Similarity.writeLabeledIvfIndex(
        netV.select($"doc_id".as("vec_id"), $"label", $"v"), cents, labRb)
      val q = vecOf(docs.filter($"doc_id" < 10))
        .select($"doc_id".as("q_id"), $"v".as("qv"),
          Similarity.norm($"v").as("qn")).localCheckpoint()
      def sIvf(d: String) =
        Similarity.ivfTopKFromIndex(spark, d, cents, q, nprobe = 2, k = 3)
          .as[(Long, Long, Int, Double)].collect().toSet
      assert(sIvf(ivf) === sIvf(ivfRb), "IVF streamed sync diverged from rebuild")
      val qVq = Similarity.pqSubvectors(
        vecOf(docs.filter($"doc_id" < 10)).select($"doc_id".as("vec_id"), $"v"),
        8).localCheckpoint()
      def sAdc(d: String) =
        Similarity.ivfAdcTopKFromIndex(spark, d, qVq, dsub, nprobe = 2, k = 3)
          .collect().map(_.toString).toSet
      assert(sAdc(adc) === sAdc(adcRb), "IVFADC streamed sync diverged from rebuild")
      val qLab = vecOf(docs.filter($"doc_id" < 10))
        .select($"doc_id".as("q_id"), ($"doc_id" % 4).cast("int").as("label"),
          $"v".as("qv"), Similarity.norm($"v").as("qn")).localCheckpoint()
      def sLab(d: String) =
        Similarity.filteredTopKFromIndex(spark, d, qLab, k = 3)
          .as[(Long, Long, Int, Double)].collect().toSet
      assert(sLab(lab) === sLab(labRb), "labeled streamed sync diverged from rebuild")
      // replay the middle slice — every lane answer-idempotent
      StreamingCorpusSync.syncBatch(slices(ev, 3)(1), targets)
      assert(sIvf(ivf) === sIvf(ivfRb), "IVF replay changed the answer")
      assert(sAdc(adc) === sAdc(adcRb), "IVFADC replay changed the answer")
      assert(sLab(lab) === sLab(labRb), "labeled replay changed the answer")
    } finally Seq(ivf, ivfRb, adc, adcRb, lab, labRb).foreach(BenchUtil.rmTree)
  }

  test("payload lane: sliced CDC feed ≡ rebuild; replay idempotent") {
    val pay = (d: DataFrame) => d.select($"doc_id",
      encode($"text", "UTF-8").as("payload"))
    val dir = tmp("csync-pay"); val rb = tmp("csync-pay-rb")
    try {
      Multimodal.writePayloadIndex(pay(standing), dir)
      val ev = eventsOf(pay(upserts), removedIds)
      val targets = SyncTargets(payloadDir = Some(dir))
      slices(ev, 3).foreach(StreamingCorpusSync.syncBatch(_, targets))
      Multimodal.writePayloadIndex(pay(net), rb)
      val delta = pay(docs.filter($"doc_id" > 500 && $"doc_id" <= 700))
      def probe(d: String) = Multimodal.probePayloadIndex(spark, d, delta, 3)
        .collect().map(_.toString).toSet
      assert(probe(dir) === probe(rb), "payload streamed sync diverged from rebuild")
      StreamingCorpusSync.syncBatch(slices(ev, 3)(1), targets)
      assert(probe(dir) === probe(rb), "payload replay changed the answer")
    } finally Seq(dir, rb).foreach(BenchUtil.rmTree)
  }

  test("cluster-map lane: sliced CDC feed ≡ map rebuilt over the post-diff corpus") {
    val lsh = tmp("csync-cm-lsh"); val cmap = tmp("csync-cm-map")
    val rb = tmp("csync-cm-rb")
    try {
      Dedup.writeLshIndex(standing, lsh)
      Dedup.writeClusterMap(
        Dedup.ngramJaccardPairs(standing, 0.8).select($"d1", $"d2"), cmap)
      val ev = eventsOf(upserts, removedIds)
      // lshDir == the map's index: the wrapper must fold it ONCE
      val targets = SyncTargets(lshDir = Some(lsh),
        clusterMap = Some(ClusterMapTarget(cmap, lsh)))
      val g0 = IndexStore.currentGen(lsh).get
      val sl = slices(ev, 3)
      StreamingCorpusSync.syncBatch(sl(0), targets)
      assert(IndexStore.currentGen(lsh).get === g0 + 1,
        "clusterMap+lshDir on the same index must fold one generation per batch")
      sl.drop(1).foreach(StreamingCorpusSync.syncBatch(_, targets))
      Dedup.writeClusterMap(
        Dedup.ngramJaccardPairs(net, 0.8).select($"d1", $"d2"), rb)
      def read(d: String) = Dedup.readClusterMap(spark, d)
        .as[(Long, Long)].collect().toMap
      assert(read(cmap) === read(rb),
        "streamed cluster-map sync diverged from the one-shot rebuild")
      // the index itself also matches a rebuild (one fold, not two)
      val delta = docs.filter($"doc_id" > 500 && $"doc_id" <= 700)
      val lshRb = tmp("csync-cm-lshrb")
      try {
        Dedup.writeLshIndex(net, lshRb)
        def probe(d: String) = Dedup.probeLshIndex(spark, d, delta, 0.8)
          .as[(Long, Long, Double)].collect().toSet
        assert(probe(lsh) === probe(lshRb))
      } finally BenchUtil.rmTree(lshRb)
    } finally Seq(lsh, cmap, rb).foreach(BenchUtil.rmTree)
  }

  test("sync verbs: same-id duplicate upserts fold ONE deterministic revision") {
    val base = docs.filter($"doc_id" <= 300)
    val dup0 = revised(base.filter($"doc_id" % 11 === 0))
    val dup1 = dup0.select($"doc_id",
      concat($"text", lit(" zz-second-revision")).as("text"))
    // the deterministic winner: latestRevision keeps the row ranking
    // first over the content columns DESC — here the zz- revision
    val winner = dup1
    val dir = tmp("dup-lsh"); val rb = tmp("dup-lsh-rb")
    try {
      Dedup.writeLshIndex(base, dir)
      Dedup.syncLshIndex(dup0.unionByName(dup1),
        spark.range(0).select($"id".as("doc_id")), dir)
      Dedup.writeLshIndex(
        base.join(winner.select($"doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(winner), rb)
      // one row per doc in the shingle lane — never both revisions
      val lane = spark.read
        .parquet(s"${IndexStore.currentPath(dir)}/shingles")
      assert(lane.groupBy($"doc_id").count().filter($"count" > 1).isEmpty,
        "a same-id duplicate upsert landed BOTH revisions in the lanes")
      val delta = docs.filter($"doc_id" > 300 && $"doc_id" <= 500)
      def probe(d: String) = Dedup.probeLshIndex(spark, d, delta, 0.8)
        .as[(Long, Long, Double)].collect().toSet
      assert(probe(dir) === probe(rb),
        "duplicate-upsert fold diverged from rebuild-with-the-winner")
    } finally Seq(dir, rb).foreach(BenchUtil.rmTree)
  }

  test("sync verbs: an id in BOTH upserts and removed resolves delete-wins (verb-level)") {
    val base = docs.filter($"doc_id" <= 300)
    val victim = base.orderBy($"doc_id").limit(1)
    val vid = victim.select($"doc_id").as[Long].head()
    val dir = tmp("dw-lsh")
    val bm = tmp("dw-bm")
    val ivf = tmp("dw-ivf")
    try {
      Dedup.writeLshIndex(base, dir)
      // direct VERB call (not the wrapper): conflict must still die
      Dedup.syncLshIndex(revised(victim), victim.select($"doc_id"), dir)
      val live = spark.read
        .parquet(s"${IndexStore.currentPath(dir)}/shingles")
        .select($"doc_id").as[Long].collect().toSet
      assert(!live.contains(vid), "LSH verb: delete must win a same-batch conflict")
      TextAnalysis.writeBm25Index(base, bm)
      TextAnalysis.syncBm25Index(revised(victim), victim.select($"doc_id"), bm)
      val liveBm = spark.read
        .parquet(s"${IndexStore.currentPath(bm)}/postings")
        .select($"doc_id").as[Long].collect().toSet
      assert(!liveBm.contains(vid), "BM25 verb: delete must win a same-batch conflict")
      val vecs = vecOf(base).select($"doc_id".as("vec_id"), $"v")
      val cents = Similarity.kmeansCentroids(vecs, 4, 2)
      Similarity.writeIvfIndex(vecs, cents, ivf)
      Similarity.syncIvfIndex(vecs.filter($"vec_id" === vid),
        vecs.filter($"vec_id" === vid).select($"vec_id"), cents, ivf)
      val liveIvf = spark.read.parquet(IndexStore.currentPath(ivf))
        .select($"vec_id").as[Long].collect().toSet
      assert(!liveIvf.contains(vid), "IVF verb: delete must win a same-batch conflict")
    } finally Seq(dir, bm, ivf).foreach(BenchUtil.rmTree)
  }

  test("wrapper: null or unknown op rejects the batch loudly") {
    val dir = tmp("badop-lsh")
    try {
      Dedup.writeLshIndex(docs.filter($"doc_id" <= 100), dir)
      val badNull = docs.filter($"doc_id" <= 3)
        .select($"doc_id", $"text", lit(null).cast("string").as("op"))
      val e1 = intercept[IllegalArgumentException] {
        StreamingCorpusSync.syncBatch(badNull, SyncTargets(lshDir = Some(dir)))
      }
      assert(e1.getMessage.contains("op must be"))
      val badVerb = docs.filter($"doc_id" <= 3)
        .select($"doc_id", $"text", lit("UPSERT").as("op"))
      intercept[IllegalArgumentException] {
        StreamingCorpusSync.syncBatch(badVerb, SyncTargets(lshDir = Some(dir)))
      }
    } finally BenchUtil.rmTree(dir)
  }

  test("wrapper: a seq-ordered feed resolves last-event-wins, including delete→upsert revival") {
    val base = docs.filter($"doc_id" <= 100)
    val victim = base.orderBy($"doc_id").limit(1).localCheckpoint()
    val vid = victim.select($"doc_id").as[Long].head()
    val dir = tmp("seq-lsh")
    try {
      Dedup.writeLshIndex(base, dir)
      // delete at seq 1, upsert at seq 2 → the doc REVIVES
      val feed = victim
        .select($"doc_id", lit(null).cast("string").as("text"),
          lit("delete").as("op"), lit(1L).as("seq"))
        .unionByName(revised(victim)
          .select($"doc_id", $"text", lit("upsert").as("op"), lit(2L).as("seq")))
      StreamingCorpusSync.syncBatch(feed, SyncTargets(lshDir = Some(dir)))
      val live = spark.read
        .parquet(s"${IndexStore.currentPath(dir)}/shingles")
        .select($"doc_id").as[Long].collect().toSet
      assert(live.contains(vid), "seq feed: a later upsert must win over an earlier delete")
      // upsert at seq 3, delete at seq 4 → dead
      val feed2 = revised(victim)
        .select($"doc_id", $"text", lit("upsert").as("op"), lit(3L).as("seq"))
        .unionByName(victim.select($"doc_id",
          lit(null).cast("string").as("text"),
          lit("delete").as("op"), lit(4L).as("seq")))
      StreamingCorpusSync.syncBatch(feed2, SyncTargets(lshDir = Some(dir)))
      val live2 = spark.read
        .parquet(s"${IndexStore.currentPath(dir)}/shingles")
        .select($"doc_id").as[Long].collect().toSet
      assert(!live2.contains(vid), "seq feed: a later delete must win over an earlier upsert")
    } finally BenchUtil.rmTree(dir)
  }

  test("maintenance concurrency: a pre-sync reader and a sibling thread's scratch survive sync + drain + compaction") {
    val dir = tmp("conc-lsh")
    try {
      Dedup.writeLshIndex(standing, dir)
      // READER: resolves the pre-sync generation, plans a frame over
      // it, AND tracks a checkpointed probe result in ITS OWN thread's
      // scratch scope — the r17-advice victim profile
      val preRoot = IndexStore.currentPath(dir)
      val delta = docs.filter($"doc_id" > 500 && $"doc_id" <= 700)
      @volatile var preFrame: DataFrame = null
      @volatile var tracked: DataFrame = null
      @volatile var preCount = -1L
      val reader = new Thread(() => {
        preFrame = spark.read.parquet(s"$preRoot/shingles")
        preCount = preFrame.count()
        tracked = Scratch.track(
          Dedup.probeLshIndex(spark, dir, delta, 0.8).localCheckpoint())
      })
      reader.start(); reader.join()
      val want = tracked.count()
      // MAINTAINER (this thread): a full sync batch — whose syncBatch
      // ends in a Scratch.drain() — must not release the reader's scope
      StreamingCorpusSync.syncBatch(eventsOf(upserts, removedIds),
        SyncTargets(lshDir = Some(dir)))
      // the reader's planned pre-sync frame still materializes: the
      // sync published ONE generation, inside the sweep-grace window
      assert(preFrame.count() === preCount,
        "a reader holding the pre-sync generation must keep it through a sync")
      // a further compaction publishes gen N+2 and sweeps gen N — the
      // reader's MATERIALIZED (checkpointed) result is immune to both
      // the sweep and the maintainer's drains (its blocks belong to
      // the reader thread's scope)
      Dedup.compactLshIndex(spark, dir)
      assert(tracked.count() === want,
        "a sibling thread's tracked scratch must survive the maintainer's drain + sweep")
      assert(Scratch.liveCount >= 1, "the reader's frame must still be registered")
      Scratch.releaseNow(tracked) // test hygiene; registry entry is inert
    } finally BenchUtil.rmTree(dir)
  }

  // the four lanes cdc_sync_serve keeps current, over one fixture whose
  // events carry text, v and payload (v from doc_id only, see vecOf)
  private lazy val laneCorpus = docs.filter($"doc_id" <= 500)
    .join(vecOf(docs.filter($"doc_id" <= 500)), Seq("doc_id"))
    .withColumn("payload", encode($"text", "UTF-8"))
    .localCheckpoint()
  private def laneStanding = laneCorpus.filter($"doc_id" % 9 =!= 0)
  private def laneUpserts = laneStanding.filter($"doc_id" % 11 === 0)
    .select($"doc_id", concat($"text", lit(" updated revision edition")).as("text"),
      transform($"v", (x, i) => when(i === 0, x + 0.3).otherwise(x)).as("v"),
      encode(concat($"text", lit(" updated revision edition")), "UTF-8").as("payload"))
    .unionByName(laneCorpus.filter($"doc_id" % 9 === 0))
  private def laneRemoved = laneStanding
    .filter($"doc_id" % 7 === 0 && $"doc_id" % 11 =!= 0).select($"doc_id")
  private def laneNet = laneStanding
    .join(laneRemoved, Seq("doc_id"), "left_anti")
    .join(laneUpserts.select($"doc_id"), Seq("doc_id"), "left_anti")
    .unionByName(laneUpserts)

  /** One lane's artifact: how to write it from a corpus and serve it. */
  private case class LaneArtifact(name: String, write: (DataFrame, String) => Unit,
                                  serve: String => Set[String])

  private def laneArtifacts(cents: DataFrame): Seq[LaneArtifact] = {
    val probes = laneCorpus.filter($"doc_id" < 40)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text", $"payload", $"v")
    def rows(df: DataFrame) = df.collect().map(_.toString).toSet
    Seq(
      LaneArtifact("LSH", (d, dir) => Dedup.writeLshIndex(d.select($"doc_id", $"text"), dir),
        dir => rows(Dedup.probeLshIndex(spark, dir, probes.select($"doc_id", $"text"), 0.8))),
      LaneArtifact("BM25", (d, dir) => TextAnalysis.writeBm25Index(d.select($"doc_id", $"text"), dir),
        dir => rows(TextAnalysis.bm25TopKFromIndex(spark, dir,
          probes.select($"doc_id", $"text"), 3))),
      LaneArtifact("payload",
        (d, dir) => Multimodal.writePayloadIndex(d.select($"doc_id", $"payload"), dir),
        dir => rows(Multimodal.probePayloadIndex(spark, dir,
          probes.select($"doc_id", $"payload"), 3))),
      LaneArtifact("IVF",
        (d, dir) => Similarity.writeIvfIndex(d.select($"doc_id".as("vec_id"), $"v"), cents, dir),
        dir => rows(Similarity.ivfTopKFromIndex(spark, dir, cents,
          probes.select($"doc_id".as("q_id"), $"v".as("qv"), Similarity.norm($"v").as("qn")),
          nprobe = 2, k = 3))))
  }

  /** The live threads `syncBatch` folds its lanes on (named per lane). */
  private def laneThreads: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
    .filter(_.getName.startsWith("corpus-sync-")).toSet

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("wrapper: a batch missing a column some lane reads changes no lane") {
    val lsh = tmp("cols-lsh"); val pay = tmp("cols-pay")
    try {
      Dedup.writeLshIndex(standing, lsh)
      Multimodal.writePayloadIndex(
        standing.select($"doc_id", encode($"text", "UTF-8").as("payload")), pay)
      val gens = Seq(lsh, pay).map(IndexStore.currentGen)
      val e = intercept[IllegalArgumentException] {
        StreamingCorpusSync.syncBatch(eventsOf(upserts, removedIds),
          SyncTargets(lshDir = Some(lsh), payloadDir = Some(pay)))
      }
      assert(e.getMessage.contains(
        "StreamingCorpusSync: the payload lane needs an event column 'payload'"))
      assert(Seq(lsh, pay).map(IndexStore.currentGen) === gens,
        "a batch rejected for a missing column published on another lane first")
    } finally Seq(lsh, pay).foreach(BenchUtil.rmTree)
  }

  test("wrapper: two lanes naming one directory are rejected before any fold") {
    val dir = tmp("shared-dir"); val cmap = tmp("shared-cmap")
    try {
      Dedup.writeLshIndex(standing, dir)
      val g = IndexStore.currentGen(dir)
      val ev = eventsOf(upserts, removedIds)
      val e = intercept[IllegalArgumentException] {
        StreamingCorpusSync.syncBatch(ev,
          SyncTargets(lshDir = Some(dir), bm25Dir = Some(s"$dir/")))
      }
      assert(e.getMessage.contains("the LSH and BM25 lanes both write") &&
        e.getMessage.contains("own directory"), e.getMessage)
      // a cluster map over a different index than lshDir writes that
      // index too: sharing it with the BM25 lane is a race as well
      val e2 = intercept[IllegalArgumentException] {
        StreamingCorpusSync.syncBatch(ev, SyncTargets(bm25Dir = Some(dir),
          clusterMap = Some(ClusterMapTarget(cmap, dir))))
      }
      assert(e2.getMessage.contains("the cluster map and BM25 lanes both write"),
        e2.getMessage)
      assert(IndexStore.currentGen(dir) === g, "a rejected batch moved _current")
    } finally Seq(dir, cmap).foreach(BenchUtil.rmTree)
  }

  test("lane isolation: failing lanes change nothing, the others publish, no lane outlives the throw; replay ≡ rebuild") {
    val cents = Similarity.kmeansCentroids(
      laneStanding.select($"doc_id".as("vec_id"), $"v"), 4, 2).localCheckpoint()
    val arts = laneArtifacts(cents)
    val dirs = arts.map(a => a.name -> tmp(s"iso-${a.name}")).toMap
    val rbs = arts.map(a => a.name -> tmp(s"iso-rb-${a.name}")).toMap
    try {
      arts.foreach(a => a.write(laneStanding, dirs(a.name)))
      val want = arts.map(a => a.name -> a.serve(dirs(a.name))).toMap
      val gens = dirs.map { case (n, d) => n -> IndexStore.currentGen(d) }
      val targets = SyncTargets(lshDir = dirs.get("LSH"), bm25Dir = dirs.get("BM25"),
        payloadDir = dirs.get("payload"), ivf = dirs.get("IVF").map(IvfTarget(_, cents)))
      val ev = eventsOf(laneUpserts, laneRemoved).localCheckpoint()
      // two lanes fail: an unreadable tombstone file in each, so their
      // upserts checkpoint and then the dead mask fails to build
      val failing = Seq("BM25", "IVF")
      val corrupt = failing.map { n =>
        val lane = Paths.get(IndexStore.tombstoneLane(IndexStore.currentPath(dirs(n))))
        Files.createDirectories(lane)
        Files.write(lane.resolve("part-00000-corrupt.parquet"), "not parquet".getBytes("UTF-8"))
        lane
      }
      Scratch.drain()
      val before = persisted
      val e = intercept[Exception](StreamingCorpusSync.syncBatch(ev, targets))
      assert(laneThreads.isEmpty, s"syncBatch threw while lanes still ran: $laneThreads")
      // the first failure is thrown and the other rides on it
      val thrown = e +: e.getSuppressed.toSeq
      failing.foreach(n => assert(thrown.exists(_.getMessage.contains(dirs(n))),
        s"the $n lane's failure is missing from $e and its suppressed ${e.getSuppressed.toSeq}"))
      assert(persisted === before, "a failed batch left persisted RDDs behind")
      arts.foreach { a =>
        val g = IndexStore.currentGen(dirs(a.name))
        if (failing.contains(a.name))
          assert(g === gens(a.name), s"${a.name}: a failed lane moved _current")
        else assert(g === gens(a.name).map(_ + 1),
          s"${a.name}: a lane that did not fail must have published its generation")
      }
      corrupt.foreach(l => BenchUtil.rmTree(l.toString))
      failing.foreach(n => assert(arts.find(_.name == n).get.serve(dirs(n)) === want(n),
        s"$n: a failed lane changed its answers"))
      // the replay's jobs carry their lane in the job description,
      // appended to the caller's
      val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .foreach(descs.add)
      }
      val sc = spark.sparkContext
      sc.setJobDescription("lane isolation replay")
      sc.addSparkListener(listener)
      try StreamingCorpusSync.syncBatch(ev, targets)
      finally {
        org.apache.spark.GraftTestGlue.drainListeners(sc)
        sc.removeSparkListener(listener)
        sc.setJobDescription(null)
      }
      arts.foreach(a => assert(descs.contains(s"lane isolation replay · corpus-sync ${a.name}"),
        s"no job tagged for the ${a.name} lane among ${descs.asScala.toSet}"))
      arts.foreach { a =>
        a.write(laneNet, rbs(a.name))
        assert(a.serve(dirs(a.name)) === a.serve(rbs(a.name)),
          s"${a.name}: the replayed batch diverged from a rebuild")
      }
    } finally (dirs.values ++ rbs.values).foreach(BenchUtil.rmTree)
  }

  test("an interrupted caller waits for every lane and keeps its interrupt") {
    val lsh = tmp("intr-lsh"); val bm = tmp("intr-bm")
    try {
      Dedup.writeLshIndex(standing, lsh)
      TextAnalysis.writeBm25Index(standing, bm)
      val gens = Seq(lsh, bm).map(IndexStore.currentGen(_).get)
      @volatile var failure: Option[Throwable] = Some(new IllegalStateException("never ran"))
      @volatile var lanesAtReturn = Set.empty[Thread]
      @volatile var keptInterrupt = false
      val caller = new Thread(() => {
        failure =
          try {
            StreamingCorpusSync.syncBatch(eventsOf(upserts, removedIds),
              SyncTargets(lshDir = Some(lsh), bm25Dir = Some(bm)))
            None
          } catch { case e: Throwable => Some(e) }
        lanesAtReturn = laneThreads
        keptInterrupt = Thread.currentThread().isInterrupted
      })
      caller.start()
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (laneThreads.isEmpty && caller.isAlive && System.nanoTime() < deadline)
        Thread.sleep(1)
      assert(laneThreads.nonEmpty, "no lane thread started")
      caller.interrupt()
      caller.join()
      assert(failure.isEmpty, s"the interrupted batch failed: $failure")
      assert(lanesAtReturn.isEmpty, s"syncBatch returned while lanes still ran: $lanesAtReturn")
      assert(keptInterrupt, "syncBatch swallowed the caller's interrupt")
      assert(Seq(lsh, bm).map(IndexStore.currentGen(_).get) === gens.map(_ + 1))
    } finally Seq(lsh, bm).foreach(BenchUtil.rmTree)
  }

  test("IVFADC raw sync verb: duplicate upserts fold ONE revision, consistent across subspaces") {
    // r19 (verdict #6): the raw-vector overload resolves revisions
    // BEFORE the subspace split, giving the IVFADC lane the same
    // duplicate-fold contract as the other six verbs
    val corpus = vecOf(docs.filter($"doc_id" <= 300)).localCheckpoint()
    val standing = corpus.select($"doc_id".as("vec_id"), $"v")
    val dsub = 4
    val vq = Similarity.pqSubvectors(standing, 8).cache()
    val coarse = Similarity.pqCodebooks(vq, 4, 2).cache()
    val rsv = Similarity.coarseResidualsForSpec(vq, coarse)
      .select($"vec_id", posexplode(Similarity.subSplit($"r", dsub)))
      .toDF("vec_id", "sub", "sv")
    val books = Similarity.pqCodebooks(rsv, 16, 2).cache()
    val dupIds = standing.filter($"vec_id" % 11 === 0)
    val revA = dupIds.select($"vec_id",
      transform($"v", (x, i) => when(i === 0, x + 0.3).otherwise(x)).as("v"))
    val revB = dupIds.select($"vec_id",
      transform($"v", (x, i) => when(i === 0, x + 0.6).otherwise(x)).as("v"))
    // latestRevision ranks (v) desc — revB's larger first element wins
    val dir = tmp("adc-dup"); val rb = tmp("adc-dup-rb")
    try {
      Similarity.writeIvfAdcIndex(vq, coarse, books, dsub, dir)
      val none = spark.range(0).select($"id".as("vec_id"))
      Similarity.syncIvfAdcIndex(revA.unionByName(revB), none, dsub, 8, dir)
      val net = standing
        .join(dupIds.select($"vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(revB)
      Similarity.writeIvfAdcIndex(
        Similarity.pqSubvectors(net, 8), coarse, books, dsub, rb)
      val qVq = Similarity.pqSubvectors(
        vecOf(docs.filter($"doc_id" < 10)).select($"doc_id".as("vec_id"), $"v"),
        8).localCheckpoint()
      def serve(d: String) =
        Similarity.ivfAdcTopKFromIndex(spark, d, qVq, dsub, nprobe = 2, k = 3)
          .collect().map(_.toString).toSet
      assert(serve(dir) === serve(rb),
        "duplicate-upsert fold diverged from rebuild-with-the-winner")
      // exactly one encoded row per id — never both revisions
      val codes = spark.read.parquet(s"${IndexStore.currentPath(dir)}/codes")
      assert(codes.groupBy($"vec_id").count().filter($"count" > 1).isEmpty,
        "a duplicate upsert landed both revisions' codes")
    } finally {
      vq.unpersist(); coarse.unpersist(); books.unpersist()
      Seq(dir, rb).foreach(BenchUtil.rmTree)
    }
  }

  test("wrapper: an orderless duplicate upsert resolves ONE winner for EVERY lane") {
    // r19 (r18 advice, medium): the winning event row is resolved ONCE
    // over the full row before the per-lane projections — lanes must
    // never stitch revision A's text to revision B's vector. The two
    // revisions here are crafted so the OLD per-lane fold would have
    // diverged: text ranks the zz- row first, v ranks the aa- row's
    // (elementwise larger) vector first.
    val base = docs.filter($"doc_id" <= 100)
    val baseV = vecOf(base)
    val victim = base.orderBy($"doc_id").limit(1).localCheckpoint()
    val vid = victim.select($"doc_id").as[Long].head()
    val vSmall = baseV.filter($"doc_id" === vid)
    val winnerText = victim.select($"doc_id",
      concat($"text", lit(" zz winner revision edition")).as("text"))
    val row1 = winnerText.join(vSmall.select($"doc_id", $"v"), Seq("doc_id"))
    val row2 = victim.select($"doc_id",
        concat($"text", lit(" aa loser revision edition")).as("text"))
      .join(vSmall.select($"doc_id",
        transform($"v", x => x + 0.5).as("v")), Seq("doc_id"))
    val lsh = tmp("onewin-lsh"); val ivf = tmp("onewin-ivf")
    try {
      Dedup.writeLshIndex(base, lsh)
      val vecs = baseV.select($"doc_id".as("vec_id"), $"v")
      val cents = Similarity.kmeansCentroids(vecs, 4, 2)
      Similarity.writeIvfIndex(vecs, cents, ivf)
      val ev = row1.unionByName(row2).withColumn("op", lit("upsert"))
      StreamingCorpusSync.syncBatch(ev, SyncTargets(lshDir = Some(lsh),
        ivf = Some(IvfTarget(ivf, cents))))
      // vector lane carries the WINNING row's (small) vector
      val vGot = spark.read.parquet(IndexStore.currentPath(ivf))
        .filter($"vec_id" === vid).select($"v").as[Seq[Double]].head()
      val vWant = vSmall.select($"v").as[Seq[Double]].head()
      assert(vGot === vWant,
        "the vector lane folded a different winner than the text lane")
      // text lane carries the winning row's text: probing with it
      // finds the victim at similarity 1
      val probe = Dedup.probeLshIndex(spark, lsh,
        winnerText.select(($"doc_id" + 1000000L).as("doc_id"), $"text"), 0.9)
        .filter($"d1" === vid || $"d2" === vid)
      assert(probe.count() >= 1,
        "the text lane does not hold the winning revision's text")
    } finally Seq(lsh, ivf).foreach(BenchUtil.rmTree)
  }

  test("wrapper: an equal-seq same-id upsert+delete tie resolves delete-first") {
    // r19 (r18 advice): delete rows carry null content, so the old
    // content-desc tiebreak silently handed every equal-seq tie to the
    // upsert — the opposite of the documented conservative resolution
    val base = docs.filter($"doc_id" <= 100)
    val victim = base.orderBy($"doc_id").limit(1).localCheckpoint()
    val vid = victim.select($"doc_id").as[Long].head()
    val dir = tmp("eqseq-lsh")
    try {
      Dedup.writeLshIndex(base, dir)
      val feed = revised(victim)
        .select($"doc_id", $"text", lit("upsert").as("op"), lit(7L).as("seq"))
        .unionByName(victim.select($"doc_id",
          lit(null).cast("string").as("text"),
          lit("delete").as("op"), lit(7L).as("seq")))
      StreamingCorpusSync.syncBatch(feed, SyncTargets(lshDir = Some(dir)))
      val live = spark.read
        .parquet(s"${IndexStore.currentPath(dir)}/shingles")
        .select($"doc_id").as[Long].collect().toSet
      assert(!live.contains(vid),
        "an equal-seq upsert+delete tie must resolve delete-first")
    } finally BenchUtil.rmTree(dir)
  }

  test("latestRevision: a non-orderable event column fails with the contract spelled out") {
    val df = spark.range(3).select($"id".as("doc_id"),
      map(lit("k"), $"id").as("m"))
    val e = intercept[IllegalArgumentException] {
      IndexStore.latestRevision(df, "doc_id")
    }
    assert(e.getMessage.contains("non-orderable") &&
      e.getMessage.contains("m"),
      s"expected the contract error to name the column; got: ${e.getMessage}")
  }
}
