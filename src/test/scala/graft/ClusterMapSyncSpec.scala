package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore}

/** The cluster map's sync is one generation: the delete's re-label and
  * the merge of the surviving upserts' pairs publish together, so a
  * failure between them leaves readers on the pre-batch map, and the
  * replayed batch answers as a map rebuilt over the post-diff corpus.
  * Maps written before the map's verbs were the shared ones (an
  * `aliases` lane in the published generation, or a legacy flat dir)
  * still read, take a merge and take a sync. */
class ClusterMapSyncSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
  private def revised(d: DataFrame): DataFrame =
    d.select($"doc_id", concat($"text", lit(" updated revision edition")).as("text"))
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  // adds (%9=0), revisions (%11=0 of standing), deletes (%7=0 of
  // standing, not also revised) over the first 500 docs
  private def universe = docs.filter($"doc_id" <= 500)
  private def standing = universe.filter($"doc_id" % 9 =!= 0)
  private def upserts = revised(standing.filter($"doc_id" % 11 === 0))
    .unionByName(universe.filter($"doc_id" % 9 === 0))
  private def removedIds = standing
    .filter($"doc_id" % 7 === 0 && $"doc_id" % 11 =!= 0).select($"doc_id")
  private def net(base: DataFrame) = base
    .join(removedIds, Seq("doc_id"), "left_anti")
    .join(upserts.select($"doc_id"), Seq("doc_id"), "left_anti")
    .unionByName(upserts)

  private def pairs(d: DataFrame) = Dedup.ngramJaccardPairs(d, 0.8).select($"d1", $"d2")
  private def mapOf(dir: String): Map[Long, Long] =
    Dedup.readClusterMap(spark, dir).as[(Long, Long)].collect().toMap
  private def ccOf(d: DataFrame): Map[Long, Long] =
    Dedup.clusterPairs(pairs(d)).as[(Long, Long)].collect().toMap

  /** `ids` with a tripwire: the first time any of its rows is read
    * after the index at `lshDir` has published past its current
    * generation, an unreadable file lands in that new generation's
    * `lane`. A reader of the lane after that point fails, one before it
    * does not. */
  private def tripwired(ids: DataFrame, lshDir: String, lane: String): DataFrame = {
    val g0 = IndexStore.currentGen(lshDir).get
    val trip = udf { (_: Long) =>
      IndexStore.currentGen(lshDir).filter(_ > g0).foreach { g =>
        val f = Paths.get(IndexStore.genPath(lshDir, g), lane, "part-99999-tripwire.parquet")
        if (!Files.exists(f)) Files.write(f, "not parquet".getBytes("UTF-8"))
      }
      true
    }.asNondeterministic()
    ids.filter(trip($"doc_id"))
  }

  test("a sync that fails after its re-label and before the merge publishes nothing; the replay ≡ rebuild") {
    val lsh = tmp("cmsync-lsh"); val cmap = tmp("cmsync-map"); val rb = tmp("cmsync-rb")
    try {
      Dedup.writeLshIndex(standing, lsh)
      Dedup.writeClusterMap(pairs(standing), cmap)
      val gen = IndexStore.currentGen(cmap)
      val want = mapOf(cmap)
      val ups = upserts.localCheckpoint()
      val rem = removedIds.localCheckpoint()
      // the map's re-label reads the synced index's shingles; only the
      // merge's probe reads its banded lane
      intercept[Exception](Dedup.syncClusterMapViaLshIndex(ups,
        tripwired(rem, lsh, "banded"), cmap, lsh))
      assert(IndexStore.currentGen(cmap) === gen, "the failed sync moved the map's _current")
      assert(mapOf(cmap) === want, "a reader saw part of the failed batch")

      Files.walk(Paths.get(lsh)).iterator().asScala.toList
        .filter(_.getFileName.toString == "part-99999-tripwire.parquet")
        .foreach(Files.delete)
      Dedup.syncClusterMapViaLshIndex(ups, rem, cmap, lsh)
      Dedup.writeClusterMap(pairs(net(standing)), rb)
      assert(mapOf(cmap) === mapOf(rb), "the replayed batch diverged from a rebuild")
      assert(IndexStore.currentGen(cmap) === gen.map(_ + 1), "one batch, one generation")
      Scratch.drain()
    } finally Seq(lsh, cmap, rb).foreach(BenchUtil.rmTree)
  }

  test("maps in the earlier layouts (aliases lane; legacy flat dir) read, merge and sync") {
    val base = universe.filter($"doc_id" <= 400)
    // two merges' worth of history: the members of a first batch's CC
    // (the corpus pairs plus two clusters of ids no doc has), then the
    // rows and the alias of a second batch whose edge joins the two
    val m = 1000000L
    val first = Dedup.clusterPairs(pairs(base)
      .unionByName(Seq((m + 1, m + 2), (m + 3, m + 4)).toDF("d1", "d2"))).localCheckpoint()
    val (more, aliases) = Dedup.clusterMergeDelta(first, Seq((m + 2, m + 3)).toDF("d1", "d2"))
    val moreRows = more.localCheckpoint()
    val aliasRows = aliases.localCheckpoint()
    assert(aliasRows.as[(Long, Long)].collect().toSeq === Seq((m + 3, m + 1)))
    // no doc is dead or upserted in those clusters: every verb keeps them
    val apart = (1 to 4).map(i => (m + i) -> (m + 1)).toMap
    def layOut(root: String): Unit = {
      first.write.parquet(s"$root/members")
      moreRows.write.mode("append").parquet(s"$root/members")
      aliasRows.write.parquet(s"$root/aliases")
    }
    val lsh = tmp("cmlegacy-lsh")
    val gens = tmp("cmlegacy-gen"); val flat = tmp("cmlegacy-flat")
    try {
      Dedup.writeLshIndex(base, lsh)
      layOut(IndexStore.genPath(gens, 3L))
      IndexStore.publish(gens, 3L)
      layOut(flat)
      val delta = universe.filter($"doc_id" > 400 && $"doc_id" <= 450)
      val deltaPairs = Dedup.probeLshIndex(spark, lsh, delta, 0.8)
        .select($"d1", $"d2").localCheckpoint()
      Dedup.appendToLshIndex(delta, lsh)
      val grown = universe.filter($"doc_id" <= 450)
      Seq(gens, flat).foreach { dir =>
        assert(mapOf(dir) === ccOf(base) ++ apart, s"$dir: the earlier layout reads wrong")
        Dedup.mergeIntoClusterMap(deltaPairs, dir)
        assert(mapOf(dir) === ccOf(grown) ++ apart, s"$dir: merge into the earlier layout")
      }
      // one index sync serves both maps: the second map sync folds the
      // index again, which a replayed diff leaves answer-identical
      val ups = upserts.filter($"doc_id" <= 450).localCheckpoint()
      val rem = removedIds.filter($"doc_id" <= 450).localCheckpoint()
      val after = grown.join(rem, Seq("doc_id"), "left_anti")
        .join(ups.select($"doc_id"), Seq("doc_id"), "left_anti").unionByName(ups)
      Seq(gens, flat).foreach { dir =>
        Dedup.syncClusterMapViaLshIndex(ups, rem, dir, lsh)
        assert(mapOf(dir) === ccOf(after) ++ apart, s"$dir: sync of the earlier layout")
        assert(!Files.isDirectory(Paths.get(IndexStore.currentPath(dir), "aliases")),
          s"$dir: a sync writes the map resolved")
      }
      Scratch.drain()
    } finally Seq(lsh, gens, flat).foreach(BenchUtil.rmTree)
  }
}
