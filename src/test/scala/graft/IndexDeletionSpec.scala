package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IndexStore, Multimodal, Similarity}

/** The index-deletion contract (round-16): persisted index artifacts
  * must support the lifecycle verb a real corpus needs — REMOVAL
  * (takedowns, robots re-crawls; c07's snapshot diff computes exactly
  * this set). The contract, per artifact family:
  *
  *  1. delete → probe ≡ probe of an index REBUILT without the removed
  *     rows (the s18 append≡rebuild precedent, on the other verb);
  *  2. deletion is idempotent — double-deleting, or deleting ids the
  *     index never held, changes nothing;
  *  3. compaction folds tombstones in: dead rows physically dropped,
  *     no tombstone lane carried into the new generation (reclaim),
  *     and probe answers unchanged across the fold;
  *  4. the bucket-cap mass (LSH counts lane) reflects LIVE docs only —
  *     dead docs must not keep suppressing near-cap buckets.
  */
class IndexDeletionSpec extends SparkSpec {

  private def parquetFiles(dir: String): Seq[String] = {
    val b = scala.collection.mutable.ArrayBuffer[String]()
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try st.forEach(p => if (p.toString.endsWith(".parquet")) b += p.toString)
    finally st.close()
    b.toSeq
  }

  private def tombLaneExists(dir: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
      IndexStore.tombstoneLane(IndexStore.currentPath(dir))))

  test("LSH index: delete → probe ≡ rebuild-without-removed; idempotent; compaction reclaims") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val standing = docs.filter($"doc_id" % 10 =!= 0)
    val delta = docs.filter($"doc_id" % 10 === 0)
    val removed = standing.filter($"doc_id" % 7 === 0).select($"doc_id")
    val dir = java.nio.file.Files.createTempDirectory("del-lsh").toString
    val rebuilt = java.nio.file.Files.createTempDirectory("del-lsh-rb").toString
    try {
      Dedup.writeLshIndex(standing, dir)
      Dedup.deleteFromLshIndex(removed, dir)
      Dedup.writeLshIndex(
        standing.join(removed, Seq("doc_id"), "left_anti"), rebuilt)
      def probe(d: String) = Dedup.probeLshIndex(spark, d, delta, 0.8)
        .as[(Long, Long, Double)].collect().toSet
      val want = probe(rebuilt)
      assert(want.nonEmpty, "fixture delta must touch some live pair")
      assert(probe(dir) === want, "delete→probe diverged from rebuild")
      assert(want.forall { case (d1, d2, _) =>
        !(d1 % 10 != 0 && d1 % 7 == 0) && !(d2 % 10 != 0 && d2 % 7 == 0) },
        "a removed doc surfaced in a pair")
      // idempotence: double-delete + delete of never-held ids
      Dedup.deleteFromLshIndex(removed, dir)
      Dedup.deleteFromLshIndex(
        spark.range(10).select(($"id" + 1000000L).as("doc_id")), dir)
      assert(probe(dir) === want, "re-delete / absent-id delete changed the answer")
      // compaction: physical reclaim, answer unchanged, lane dropped
      val gen0 = IndexStore.currentGen(dir).get
      Dedup.compactLshIndex(spark, dir)
      assert(IndexStore.currentGen(dir).get === gen0 + 1)
      assert(probe(dir) === want, "compaction-with-tombstones changed the answer")
      assert(!tombLaneExists(dir), "new generation must carry no tombstone lane")
      val removedSet = removed.as[Long].collect().toSet
      val liveIds = spark.read
        .parquet(s"${IndexStore.currentPath(dir)}/shingles")
        .select($"doc_id").as[Long].collect().toSet
      assert(liveIds.intersect(removedSet).isEmpty,
        "dead rows must be physically dropped at compaction")
      // counts lane ≡ the rebuilt index's counts (dead mass subtracted,
      // all-dead buckets dropped — byte-equivalent to a fresh build)
      def counts(d: String) = spark.read
        .parquet(s"${IndexStore.currentPath(d)}/bucket_counts")
        .as[(Int, Long, Long)].collect().toSet
      assert(counts(dir) === counts(rebuilt),
        "compacted counts lane diverged from a rebuild's")
    } finally { graft.BenchUtil.rmTree(dir); graft.BenchUtil.rmTree(rebuilt) }
  }

  test("LSH bucket-cap mass: dead docs stop suppressing near-cap buckets") {
    import spark.implicits._
    // ten identical docs share every band bucket; cap 8 suppresses the
    // bucket while all ten are live. Deleting five brings the union
    // mass (5 standing + 1 delta = 6) under the cap — the probe must
    // see the live mass, not the historical one.
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val standing = spark.range(1, 11)
      .select($"id".as("doc_id"), lit(text).as("text"))
    val delta = Seq((100L, text)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("del-cap").toString
    try {
      Dedup.writeLshIndex(standing, dir)
      assert(Dedup.probeLshIndex(spark, dir, delta, 0.8, maxBucket = 8)
        .count() === 0L, "over-cap bucket must be suppressed while all docs live")
      Dedup.deleteFromLshIndex(
        standing.filter($"doc_id" <= 5).select($"doc_id"), dir)
      val pairs = Dedup.probeLshIndex(spark, dir, delta, 0.8, maxBucket = 8)
        .as[(Long, Long, Double)].collect().toSet
      assert(pairs === (6L to 10L).map(i => (i, 100L, 1.0)).toSet,
        s"after deletion the live bucket must pair the survivors, got $pairs")
    } finally graft.BenchUtil.rmTree(dir)
  }

  test("IVF index: delete → serve ≡ rebuild-without-removed; compaction reclaims") {
    import spark.implicits._
    val c = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val centroids = Similarity.trainedCentroids(spark, sf0001, k = 5, iters = 2)
    val q = c.withColumn("nrm", Similarity.norm($"v")).filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    def serve(dir: String) =
      Similarity.ivfTopKFromIndex(spark, dir, centroids, q, nprobe = 2, k = 3)
        .as[(Long, Long, Int, Double)].collect().toSet
    val removed = c.filter($"vec_id" % 7 === 0).select($"vec_id")
    val dir = java.nio.file.Files.createTempDirectory("del-ivf").toString
    val rebuilt = java.nio.file.Files.createTempDirectory("del-ivf-rb").toString
    try {
      Similarity.writeIvfIndex(c, centroids, dir)
      val before = serve(dir)
      Similarity.deleteFromIvfIndex(removed, dir)
      Similarity.writeIvfIndex(
        c.join(removed, Seq("vec_id"), "left_anti"), centroids, rebuilt)
      val want = serve(rebuilt)
      assert(want.nonEmpty && want != before,
        "fixture deletion must change some neighbor list")
      assert(serve(dir) === want, "delete→serve diverged from rebuild")
      assert(want.forall { case (_, nId, _, _) => nId % 7 != 0L },
        "a removed vector surfaced as a neighbor")
      Similarity.deleteFromIvfIndex(removed, dir) // idempotent
      assert(serve(dir) === want)
      Similarity.compactIvfIndex(spark, dir)
      assert(serve(dir) === want, "compaction-with-tombstones changed the answer")
      assert(!tombLaneExists(dir))
      val liveIds = spark.read.parquet(IndexStore.currentPath(dir))
        .select($"vec_id").as[Long].collect().toSet
      assert(liveIds.forall(_ % 7 != 0), "dead vectors must be dropped at compaction")
    } finally { graft.BenchUtil.rmTree(dir); graft.BenchUtil.rmTree(rebuilt) }
  }

  test("IVFADC index: delete → serve ≡ rebuild-without-removed; compaction reclaims") {
    import spark.implicits._
    val (kc, dsub, kpq, iters, nprobe) = (5, 4, 16, 2, 2)
    val vq64 = Similarity.pqSubvectors(
      Tables.embeddings(spark, sf0001)
        .select($"vec_id", $"embedding".cast("array<double>").as("v")), 64)
      .cache()
    try {
      val coarse = Similarity.trainedPqCodebooks(spark, sf0001, 64, kc, iters)
      val rsv = Similarity.coarseResidualsForSpec(vq64, coarse)
        .select($"vec_id", posexplode(Similarity.subSplit($"r", dsub)))
        .toDF("vec_id", "sub", "sv")
      val books = Similarity.pqCodebooks(rsv, kpq, iters).cache()
      def serve(dir: String) =
        Similarity.ivfAdcTopKFromIndex(spark, dir,
            vq64.filter($"vec_id" < 20), dsub, nprobe, k = 3)
          .as[(Long, Long, Int, Double)].collect().toSet
      val removed = vq64.select($"vec_id").distinct()
        .filter($"vec_id" % 7 === 0)
      val dir = java.nio.file.Files.createTempDirectory("del-adc").toString
      val rebuilt = java.nio.file.Files.createTempDirectory("del-adc-rb").toString
      try {
        Similarity.writeIvfAdcIndex(vq64, coarse, books, dsub, dir)
        Similarity.deleteFromIvfAdcIndex(removed, dir)
        Similarity.writeIvfAdcIndex(
          vq64.join(removed, Seq("vec_id"), "left_anti"),
          coarse, books, dsub, rebuilt)
        val want = serve(rebuilt)
        assert(want.nonEmpty)
        assert(serve(dir) === want, "delete→serve diverged from rebuild")
        Similarity.compactIvfAdcIndex(spark, dir)
        assert(serve(dir) === want)
        assert(!tombLaneExists(dir))
        val liveIds = spark.read
          .parquet(s"${IndexStore.currentPath(dir)}/codes")
          .select($"vec_id").as[Long].collect().toSet
        assert(liveIds.forall(_ % 7 != 0), "dead codes must be dropped at compaction")
      } finally { graft.BenchUtil.rmTree(dir); graft.BenchUtil.rmTree(rebuilt) }
    } finally { vq64.unpersist(); () }
  }

  test("payload index: delete → probe ≡ rebuild-without-removed; compaction reclaims") {
    import spark.implicits._
    val all = Tables.documents(spark, sf0001)
      .select($"doc_id", encode($"text", "utf-8").as("payload"))
    val standing = all.filter($"doc_id" % 10 =!= 0)
    val delta = all.filter($"doc_id" % 10 === 0)
    val removed = standing.filter($"doc_id" % 7 === 0).select($"doc_id")
    val dir = java.nio.file.Files.createTempDirectory("del-pay").toString
    val rebuilt = java.nio.file.Files.createTempDirectory("del-pay-rb").toString
    try {
      Multimodal.writePayloadIndex(standing, dir)
      Multimodal.deleteFromPayloadIndex(removed, dir)
      Multimodal.writePayloadIndex(
        standing.join(removed, Seq("doc_id"), "left_anti"), rebuilt)
      def probe(d: String) = Multimodal.probePayloadIndex(spark, d, delta, 7)
        .as[(Long, Long, Int)].collect().toSet
      val want = probe(rebuilt)
      assert(probe(dir) === want, "delete→probe diverged from rebuild")
      Multimodal.deleteFromPayloadIndex(removed, dir) // idempotent
      assert(probe(dir) === want)
      Multimodal.compactPayloadIndex(spark, dir)
      assert(probe(dir) === want)
      assert(!tombLaneExists(dir))
      val removedSet = removed.as[Long].collect().toSet
      val liveIds = spark.read
        .parquet(s"${IndexStore.currentPath(dir)}/bands")
        .select($"doc_id").as[Long].collect().toSet
      assert(liveIds.intersect(removedSet).isEmpty,
        "dead band rows must be dropped at compaction")
    } finally { graft.BenchUtil.rmTree(dir); graft.BenchUtil.rmTree(rebuilt) }
  }

  test("labeled index: delete → filtered serve ≡ rebuild-without-removed; compaction reclaims") {
    import spark.implicits._
    val c = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label",
        $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm($"v"))
    val centroids = Similarity.trainedCentroids(spark, sf0001, k = 5, iters = 2)
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"label", $"v".as("qv"), $"nrm".as("qn"))
    def serve(dir: String) =
      Similarity.filteredTopKFromIndex(spark, dir, q, k = 3)
        .as[(Long, Long, Int, Double)].collect().toSet
    val removed = c.filter($"vec_id" % 7 === 0).select($"vec_id")
    val dir = java.nio.file.Files.createTempDirectory("del-lab").toString
    val rebuilt = java.nio.file.Files.createTempDirectory("del-lab-rb").toString
    try {
      Similarity.writeLabeledIvfIndex(
        c.select($"vec_id", $"label", $"v"), centroids, dir)
      Similarity.deleteFromLabeledIvfIndex(removed, dir)
      Similarity.writeLabeledIvfIndex(
        c.join(removed, Seq("vec_id"), "left_anti")
          .select($"vec_id", $"label", $"v"), centroids, rebuilt)
      val want = serve(rebuilt)
      assert(want.nonEmpty)
      assert(serve(dir) === want, "delete→filtered-serve diverged from rebuild")
      Similarity.compactLabeledIvfIndex(spark, dir)
      assert(serve(dir) === want)
      assert(!tombLaneExists(dir))
      val liveIds = spark.read.parquet(IndexStore.currentPath(dir))
        .select($"vec_id").as[Long].collect().toSet
      assert(liveIds.forall(_ % 7 != 0), "dead vectors must be dropped at compaction")
    } finally { graft.BenchUtil.rmTree(dir); graft.BenchUtil.rmTree(rebuilt) }
  }

  test("deletes count toward the auto-compaction cadence") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
      .filter($"doc_id" <= 100)
    val dir = java.nio.file.Files.createTempDirectory("del-cadence").toString
    try {
      Dedup.writeLshIndex(docs, dir)
      val gen0 = IndexStore.currentGen(dir).get
      (1 to 3).foreach { i =>
        Dedup.deleteFromLshIndex(
          docs.filter($"doc_id" === i).select($"doc_id"), dir,
          compactEvery = 3)
      }
      assert(IndexStore.currentGen(dir).get === gen0 + 1,
        "third counted delete at cadence 3 must trigger a fold")
      assert(!tombLaneExists(dir), "the fold must reclaim the tombstone lane")
    } finally graft.BenchUtil.rmTree(dir)
  }

  test("zero-tombstone fast path: never-deleted probe/serve plans carry no mask (r17)") {
    // the r16 regression: every probe/serve paid a broadcast-empty
    // anti-join + a `_tombstones` listing on artifacts that never saw a
    // delete. The pin: a never-deleted artifact's physical plan must
    // not reference the tombstone lane or carry a LeftAnti join keyed
    // on the artifact's id; after ONE delete both must appear.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    def tombScans(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("_tombstones")) => f
      }.size
    def antiJoins(df: DataFrame, key: String): Int =
      df.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec if b.joinType == LeftAnti &&
          b.leftKeys.exists(_.references.exists(_.name == key)) => b
      }.size
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val standing = docs.filter($"doc_id" % 10 =!= 0)
    val delta = docs.filter($"doc_id" % 10 === 0)
    val lsh = java.nio.file.Files.createTempDirectory("fp-lsh").toString
    val ivf = java.nio.file.Files.createTempDirectory("fp-ivf").toString
    // physical-node assertions need the non-adaptive plan (AQE wraps
    // the tree in AdaptiveSparkPlanExec, which collect() cannot enter
    // before execution) — the PlanSpec discipline
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Dedup.writeLshIndex(standing, lsh)
      val clean = Dedup.probeLshIndex(spark, lsh, delta, 0.8)
      assert(tombScans(clean) === 0, "never-deleted probe scans _tombstones")
      Dedup.deleteFromLshIndex(
        standing.filter($"doc_id" % 7 === 0).select($"doc_id"), lsh)
      val masked = Dedup.probeLshIndex(spark, lsh, delta, 0.8)
      assert(tombScans(masked) > 0, "post-delete probe must read the lane")
      val c = Tables.embeddings(spark, sf0001)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .withColumn("nrm", graft.operators.Similarity.norm($"v"))
      val cents = graft.operators.Similarity.kmeansCentroids(
        c.select($"vec_id", $"v"), 5, 2)
      Similarity.writeIvfIndex(c.select($"vec_id", $"v"), cents, ivf)
      val q = c.filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
      val cleanServe = Similarity.ivfTopKFromIndex(spark, ivf, cents, q, 2, 3)
      assert(tombScans(cleanServe) === 0 && antiJoins(cleanServe, "vec_id") === 0,
        "never-deleted IVF serve plan must be mask-free")
      Similarity.deleteFromIvfIndex(
        c.filter($"vec_id" % 7 === 0).select($"vec_id"), ivf)
      val maskedServe = Similarity.ivfTopKFromIndex(spark, ivf, cents, q, 2, 3)
      assert(tombScans(maskedServe) > 0,
        "post-delete IVF serve must read the lane")
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      graft.BenchUtil.rmTree(lsh); graft.BenchUtil.rmTree(ivf)
    }
  }
}
