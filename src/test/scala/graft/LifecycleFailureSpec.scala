package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore, Multimodal, Similarity, TextAnalysis}

/** A sync that fails part-way, for every artifact family that goes
  * through `IndexStore`'s shared lifecycle verbs, the cluster map
  * included. The replay contract of
  * a `foreachBatch` sink (Structured Streaming re-runs a failed batch)
  * needs three things of a failed sync:
  *
  *  1. readers are unaffected: `_current` and the served answers are
  *     what they were before the call;
  *  2. nothing stays pinned: every persisted RDD the call created
  *     (checkpointed upserts, the dead mask, fresh lanes) is released;
  *  3. the batch can be run again: re-running it without the bad row
  *     answers exactly as an artifact written from the final corpus.
  *
  * Two failures per family: one upsert row whose content columns
  * `raise_error` (the batch fails while its rows are first evaluated),
  * and an unreadable tombstone file (the upserts are checkpointed, then
  * the dead mask fails to build). The cluster map's second failure is
  * its pair source: the LSH index it re-labels from turns unreadable
  * once that index has taken the batch.
  */
class LifecycleFailureSpec extends SparkSpec {
  import spark.implicits._

  private val dsub = 4

  /** (doc_id, text, v, label, payload) over a few hundred fixture docs,
    * written once so every verb reads plain parquet. */
  private lazy val corpusDir: String = {
    val dir = Files.createTempDirectory("lfail-corpus").toString
    Tables.documents(spark, sf0001).filter($"doc_id" <= 240)
      .select($"doc_id", $"text",
        transform(sequence(lit(0), lit(7)),
          i => round(sin($"doc_id" * (i + lit(1)) + lit(0.5)), 6)).as("v"),
        ($"doc_id" % 4).cast("int").as("label"),
        encode($"text", "UTF-8").as("payload"))
      .write.mode("overwrite").parquet(dir)
    dir
  }
  private def corpus = spark.read.parquet(corpusDir)

  private def revised(d: DataFrame): DataFrame = d.select($"doc_id",
    concat($"text", lit(" updated revision edition")).as("text"),
    transform($"v", (x, i) => when(i === 0, x + 0.3).otherwise(x)).as("v"),
    (($"label" + 1) % 4).cast("int").as("label"),
    encode(concat($"text", lit(" updated revision edition")), "UTF-8").as("payload"))

  private def standing = corpus.filter($"doc_id" % 9 =!= 0)
  private def upserts = revised(standing.filter($"doc_id" % 11 === 0))
    .unionByName(corpus.filter($"doc_id" % 9 === 0))
  private def removed = standing.filter($"doc_id" % 7 === 0 && $"doc_id" % 11 =!= 0)
    .select($"doc_id")
  private def finalCorpus = standing
    .join(removed, Seq("doc_id"), "left_anti")
    .join(upserts.select($"doc_id"), Seq("doc_id"), "left_anti")
    .unionByName(upserts)

  /** Every content column of one upsert row raises when evaluated. */
  private def poisoned(ups: DataFrame, badId: Long): DataFrame =
    ups.select($"doc_id" +: ups.columns.filter(_ != "doc_id").map(c =>
      when($"doc_id" === badId, raise_error(lit(s"poisoned revision $badId")))
        .otherwise(col(c)).as(c)): _*)

  private def asVec(d: DataFrame) = d.select($"doc_id".as("vec_id"), $"v")
  private def vecQueries = corpus.filter($"doc_id" < 20)
    .select($"doc_id".as("q_id"), $"v".as("qv"), Similarity.norm($"v").as("qn"), $"label")

  // frozen models, materialized before any persisted-RDD snapshot
  private lazy val centroids = Similarity.kmeansCentroids(asVec(standing), 4, 2).localCheckpoint()
  private lazy val (coarse, books) = {
    val vq = Similarity.pqSubvectors(asVec(standing), 8).localCheckpoint()
    val c = Similarity.pqCodebooks(vq, 4, 2).localCheckpoint()
    val rsv = Similarity.coarseResidualsForSpec(vq, c)
      .select($"vec_id", posexplode(Similarity.subSplit($"r", dsub)))
      .toDF("vec_id", "sub", "sv")
    (c, Similarity.pqCodebooks(rsv, 16, 2).localCheckpoint())
  }

  /** The second failure of a sync of removed ids `rem` into `dir`: set
    * it up, and give the removed ids to sync with and the cleanup. */
  private type Breaker = (String, DataFrame) => (DataFrame, () => Unit)

  /** An unreadable tombstone: the upserts checkpoint, then the dead
    * mask fails to build. */
  private val unreadableTombstone: Breaker = (dir, rem) => {
    val lane = Paths.get(IndexStore.tombstoneLane(IndexStore.currentPath(dir)))
    Files.createDirectories(lane)
    Files.write(lane.resolve("part-00000-corrupt.parquet"), "not parquet".getBytes("UTF-8"))
    (rem, () => BenchUtil.rmTree(lane.toString))
  }

  /** The cluster map's LSH index (inside the map dir, where no lane
    * listing sees it). */
  private def lshOf(dir: String) = s"$dir/_lsh"

  /** A failing pair source: the first read of `rem` after the map's
    * LSH index has published the batch drops an unreadable file into
    * that generation's shingle lane, which the map's re-label reads. */
  private val unreadablePairSource: Breaker = (dir, rem) => {
    val lsh = lshOf(dir)
    val g0 = IndexStore.currentGen(lsh).get
    val bad = "part-99999-tripwire.parquet"
    val trip = udf { (_: Long) =>
      IndexStore.currentGen(lsh).filter(_ > g0).foreach { g =>
        val f = Paths.get(IndexStore.genPath(lsh, g), "shingles", bad)
        if (!Files.exists(f)) Files.write(f, "not parquet".getBytes("UTF-8"))
      }
      true
    }.asNondeterministic()
    (rem.filter(trip($"doc_id")), () => {
      val st = Files.walk(Paths.get(lsh))
      try st.iterator().asScala.filter(_.getFileName.toString == bad).foreach(Files.delete)
      finally st.close()
    })
  }

  /** One family: its key column, write and sync over corpus-shaped
    * frames, a serve round as a set of answer rows, and its second
    * failure. */
  private case class Family(name: String, key: String,
      write: (DataFrame, String) => Unit,
      sync: (DataFrame, DataFrame, String) => Unit,
      serve: String => Set[String],
      break: Breaker = unreadableTombstone)

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
  private def text(d: DataFrame) = d.select($"doc_id", $"text")
  private def probeDocs = corpus.filter($"doc_id" < 30)
    .select(($"doc_id" + 1000000L).as("doc_id"), $"text", $"payload")

  private val families = Seq(
    Family("LSH", "doc_id",
      (d, dir) => Dedup.writeLshIndex(text(d), dir),
      (u, r, dir) => Dedup.syncLshIndex(text(u), r, dir),
      dir => rows(Dedup.probeLshIndex(spark, dir, text(probeDocs), 0.8))),
    Family("BM25", "doc_id",
      (d, dir) => TextAnalysis.writeBm25Index(text(d), dir),
      (u, r, dir) => TextAnalysis.syncBm25Index(text(u), r, dir),
      dir => rows(TextAnalysis.bm25TopKFromIndex(spark, dir, text(probeDocs), 3))),
    Family("payload", "doc_id",
      (d, dir) => Multimodal.writePayloadIndex(d.select($"doc_id", $"payload"), dir),
      (u, r, dir) => Multimodal.syncPayloadIndex(u.select($"doc_id", $"payload"), r, dir),
      dir => rows(Multimodal.probePayloadIndex(spark, dir,
        probeDocs.select($"doc_id", $"payload"), 3))),
    Family("IVF", "vec_id",
      (d, dir) => Similarity.writeIvfIndex(asVec(d), centroids, dir),
      (u, r, dir) => Similarity.syncIvfIndex(asVec(u), r, centroids, dir),
      dir => rows(Similarity.ivfTopKFromIndex(spark, dir, centroids,
        vecQueries.drop("label"), nprobe = 2, k = 3))),
    Family("IVFADC", "vec_id",
      (d, dir) => Similarity.writeIvfAdcIndex(
        Similarity.pqSubvectors(asVec(d), 8), coarse, books, dsub, dir),
      (u, r, dir) => Similarity.syncIvfAdcIndex(
        Similarity.pqSubvectors(asVec(u), 8), r, dsub, dir),
      dir => rows(Similarity.ivfAdcTopKFromIndex(spark, dir,
        Similarity.pqSubvectors(vecQueries.select($"q_id".as("vec_id"), $"qv".as("v")), 8),
        dsub, nprobe = 2, k = 3))),
    Family("labeled IVF", "vec_id",
      (d, dir) => Similarity.writeLabeledIvfIndex(
        d.select($"doc_id".as("vec_id"), $"label", $"v"), centroids, dir),
      (u, r, dir) => Similarity.syncLabeledIvfIndex(
        u.select($"doc_id".as("vec_id"), $"label", $"v"), r, centroids, dir),
      dir => rows(Similarity.filteredTopKFromIndex(spark, dir, vecQueries, k = 3))),
    Family("cluster map", "doc_id",
      (d, dir) => {
        Dedup.writeLshIndex(text(d), lshOf(dir))
        Dedup.writeClusterMap(Dedup.ngramJaccardPairs(text(d), 0.8)
          .select($"d1", $"d2"), dir)
      },
      (u, r, dir) => Dedup.syncClusterMapViaLshIndex(text(u), r, dir, lshOf(dir)),
      dir => rows(Dedup.readClusterMap(spark, dir)),
      unreadablePairSource))

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run a sync that must throw; assert it moved neither `_current`
    * nor the set of persisted RDDs. */
  private def failedSync(dir: String)(run: => Unit): Unit = {
    val gen = IndexStore.currentGen(dir)
    val before = persisted
    intercept[Exception](run)
    assert(persisted === before, "a failed sync left persisted RDDs behind")
    assert(IndexStore.currentGen(dir) === gen, "a failed sync moved _current")
  }

  families.foreach { f =>
    test(s"${f.name}: a failed sync changes nothing and the retried batch ≡ rebuild") {
      val dir = Files.createTempDirectory("lfail").toString
      val rb = Files.createTempDirectory("lfail-rb").toString
      try {
        val ups = upserts.localCheckpoint()
        val rem = removed.select($"doc_id".as(f.key)).localCheckpoint()
        f.write(standing, dir)
        val want = f.serve(dir)
        Scratch.drain()

        val badId = ups.select($"doc_id").as[Long].collect().max
        failedSync(dir)(f.sync(poisoned(ups, badId), rem, dir))
        assert(f.serve(dir) === want, "a failed sync changed the served answers")

        val (broken, mend) = f.break(dir, rem)
        try failedSync(dir)(f.sync(ups, broken, dir))
        finally mend()
        assert(f.serve(dir) === want, "a failed sync changed the served answers")
        Scratch.drain()

        f.sync(ups.filter($"doc_id" =!= badId), rem, dir)
        f.write(finalCorpus.filter($"doc_id" =!= badId)
          .unionByName(standing.filter($"doc_id" === badId)), rb)
        assert(f.serve(dir) === f.serve(rb), "the retried batch diverged from a rebuild")
        Scratch.drain()
      } finally Seq(dir, rb).foreach(BenchUtil.rmTree)
    }
  }

  override def afterAll(): Unit = {
    if (Files.isDirectory(Paths.get(corpusDir))) BenchUtil.rmTree(corpusDir)
    super.afterAll()
  }
}
