package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Dedup, IndexStore, Multimodal, Similarity, TextAnalysis}

/** Artifact lane reads through `IndexStore.readLane`: every lane of the
  * seven families declares the schema Spark would infer from its files;
  * a read plans from a driver listing with no Spark job (no footer job,
  * no `Listing leaf files` job); an empty partitioned lane reads as
  * empty; and reading a tombstone lane logs nothing. */
class LaneReadSpec extends SparkSpec {
  import spark.implicits._

  private val dsub = 4

  /** (doc_id, text, v, label, payload) over a few hundred fixture docs. */
  private lazy val corpusDir: String = {
    val dir = tmp("corpus")
    Tables.documents(spark, sf0001).filter($"doc_id" <= 240)
      .select($"doc_id", $"text",
        transform(sequence(lit(0), lit(7)),
          i => round(sin($"doc_id" * (i + lit(1)) + lit(0.5)), 6)).as("v"),
        ($"doc_id" % 4).cast("int").as("label"),
        encode($"text", "UTF-8").as("payload"))
      .write.mode("overwrite").parquet(dir)
    dir
  }
  private lazy val corpus = spark.read.parquet(corpusDir)
  private def text(d: DataFrame) = d.select($"doc_id", $"text")
  private def asVec(d: DataFrame) = d.select($"doc_id".as("vec_id"), $"v")
  private def labeled(d: DataFrame) = d.select($"doc_id".as("vec_id"), $"label", $"v")
  private def probeDocs = corpus.filter($"doc_id" < 30)
    .select(($"doc_id" + 1000000L).as("doc_id"), $"text", $"payload")
  private def vecQueries = corpus.filter($"doc_id" < 20)
    .select($"doc_id".as("q_id"), $"v".as("qv"), Similarity.norm($"v").as("qn"), $"label")

  private lazy val centroids = Similarity.kmeansCentroids(asVec(corpus), 4, 2).localCheckpoint()
  private lazy val (coarse, books) = {
    val vq = Similarity.pqSubvectors(asVec(corpus), 8).localCheckpoint()
    val c = Similarity.pqCodebooks(vq, 4, 2).localCheckpoint()
    val rsv = Similarity.coarseResidualsForSpec(vq, c)
      .select($"vec_id", posexplode(Similarity.subSplit($"r", dsub)))
      .toDF("vec_id", "sub", "sv")
    (c, Similarity.pqCodebooks(rsv, 16, 2).localCheckpoint())
  }

  /** One family: its lifecycle value, a write, a delete and a sync over
    * corpus-shaped frames, the frame a probe builds, and whether its
    * deletes leave tombstones (the cluster map's fold a generation). */
  private case class Family(name: String, family: IndexStore.Family[_],
      write: (DataFrame, String) => Unit,
      delete: (DataFrame, String) => Unit,
      sync: (DataFrame, DataFrame, String) => Unit,
      probe: String => DataFrame,
      tombstoned: Boolean = true)

  private val dirs = new ConcurrentLinkedQueue[String]()
  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("lane-" + name.replace(' ', '-')).toString
    dirs.add(d)
    d
  }

  private def lshOf(dir: String) = s"$dir/_lsh"

  private lazy val families = Seq(
    Family("LSH", Dedup.Lsh,
      (d, dir) => Dedup.writeLshIndex(text(d), dir),
      (r, dir) => Dedup.deleteFromLshIndex(r, dir),
      (u, r, dir) => Dedup.syncLshIndex(text(u), r, dir),
      dir => Dedup.probeLshIndex(spark, dir, text(probeDocs), 0.8)),
    Family("BM25", TextAnalysis.Bm25,
      (d, dir) => TextAnalysis.writeBm25Index(text(d), dir),
      (r, dir) => TextAnalysis.deleteFromBm25Index(r, dir),
      (u, r, dir) => TextAnalysis.syncBm25Index(text(u), r, dir),
      dir => TextAnalysis.bm25TopKFromIndex(spark, dir, text(probeDocs), 3)),
    Family("payload", Multimodal.Payload,
      (d, dir) => Multimodal.writePayloadIndex(d.select($"doc_id", $"payload"), dir),
      (r, dir) => Multimodal.deleteFromPayloadIndex(r, dir),
      (u, r, dir) => Multimodal.syncPayloadIndex(u.select($"doc_id", $"payload"), r, dir),
      dir => Multimodal.probePayloadIndex(spark, dir, probeDocs.select($"doc_id", $"payload"), 3)),
    Family("IVF", Similarity.Ivf,
      (d, dir) => Similarity.writeIvfIndex(asVec(d), centroids, dir),
      (r, dir) => Similarity.deleteFromIvfIndex(r.select($"doc_id".as("vec_id")), dir),
      (u, r, dir) => Similarity.syncIvfIndex(asVec(u), r.select($"doc_id".as("vec_id")),
        centroids, dir),
      dir => Similarity.ivfTopKFromIndex(spark, dir, centroids, vecQueries.drop("label"),
        nprobe = 2, k = 3)),
    Family("IVFADC", Similarity.IvfAdc,
      (d, dir) => Similarity.writeIvfAdcIndex(
        Similarity.pqSubvectors(asVec(d), 8), coarse, books, dsub, dir),
      (r, dir) => Similarity.deleteFromIvfAdcIndex(r.select($"doc_id".as("vec_id")), dir),
      (u, r, dir) => Similarity.syncIvfAdcIndex(Similarity.pqSubvectors(asVec(u), 8),
        r.select($"doc_id".as("vec_id")), dsub, dir),
      dir => Similarity.ivfAdcTopKFromIndex(spark, dir,
        Similarity.pqSubvectors(vecQueries.select($"q_id".as("vec_id"), $"qv".as("v")), 8),
        dsub, nprobe = 2, k = 3)),
    Family("labeled IVF", Similarity.LabeledIvf,
      (d, dir) => Similarity.writeLabeledIvfIndex(labeled(d), centroids, dir),
      (r, dir) => Similarity.deleteFromLabeledIvfIndex(r.select($"doc_id".as("vec_id")), dir),
      (u, r, dir) => Similarity.syncLabeledIvfIndex(labeled(u),
        r.select($"doc_id".as("vec_id")), centroids, dir),
      dir => Similarity.filteredTopKFromIndex(spark, dir, vecQueries, k = 3)),
    Family("cluster map", Dedup.ClusterMap,
      (d, dir) => {
        Dedup.writeLshIndex(text(d), lshOf(dir))
        Dedup.writeClusterMap(Dedup.ngramJaccardPairs(text(d), 0.8).select($"d1", $"d2"), dir)
      },
      (r, dir) => {
        Dedup.deleteFromClusterMapViaLshIndex(r, dir, lshOf(dir))
        // a delete writes the map resolved; a merge appends the alias lane
        Dedup.mergeIntoClusterMap(Seq((1L, 2L), (3L, 1L)).toDF("d1", "d2"), dir)
      },
      (u, r, dir) => Dedup.syncClusterMapViaLshIndex(text(u), r, dir, lshOf(dir)),
      dir => Dedup.readClusterMap(spark, dir),
      tombstoned = false))

  private def standing = corpus.filter($"doc_id" % 9 =!= 0)
  private def removed = corpus.filter($"doc_id" % 7 === 0).select($"doc_id")
  private def upserts = corpus.filter($"doc_id" % 9 === 0)

  /** Each family written from the standing docs, then some deleted, so
    * every lane a family has exists: keyed, derived, carried and
    * tombstones. */
  private lazy val built: Map[String, String] = families.map { f =>
    val dir = tmp(f.name)
    f.write(standing, dir)
    f.delete(removed, dir)
    Scratch.drain()
    f.name -> dir
  }.toMap

  /** Every lane a family's generation can hold. */
  private def lanesOf(f: Family): Seq[IndexStore.Lane] = {
    val g = f.family
    g.lanes ++ g.derived.map(_.lane) ++ g.carried ++
      Option.when(f.tombstoned)(IndexStore.tombstones(g.key))
  }

  private def cols(t: StructType): Seq[(String, String)] =
    t.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  families.foreach { f =>
    test(s"${f.name}: every declared lane schema is what Spark infers from its files") {
      val root = IndexStore.currentPath(built(f.name))
      lanesOf(f).foreach { lane =>
        val path = IndexStore.at(root, lane)
        assert(IndexStore.exists(root, lane), s"no lane at $path")
        // a flat lane is handed over as its files: Spark warns when a root
        // it is handed has a hidden name (`_tombstones`)
        val inferred = spark.read.parquet(
          if (lane.layout == IndexStore.Coalesced) s"$path/*.parquet" else path).schema
        assert(cols(lane.schema) === cols(inferred),
          s"lane '${lane.name}': declared ${lane.schema.catalogString}, " +
          s"inferred ${inferred.catalogString}")
        assert(cols(IndexStore.read(spark, root, lane).schema) === cols(inferred),
          s"lane '${lane.name}': the read's columns differ from inference")
      }
    }
  }

  test("put rejects rows that break a lane's declaration, naming the lane") {
    val dir = tmp("drift")
    val lsh = intercept[IllegalArgumentException](
      Dedup.writeLshIndex(Seq((1, "alpha beta gamma delta")).toDF("doc_id", "text"), dir))
    assert(lsh.getMessage.contains(s"$dir/gen=0/shingles"), lsh.getMessage)
    val ivf = intercept[IllegalArgumentException](Similarity.writeIvfIndex(
      asVec(corpus).select($"vec_id".cast("int").as("vec_id"), $"v"), centroids, dir))
    assert(ivf.getMessage.contains(s"lane $dir/gen=0:"), ivf.getMessage)
    assert(IndexStore.currentGen(dir).isEmpty, "a rejected write published a generation")
    Scratch.drain()
  }

  /** (stage name, call-site details, job description) of every job
    * `body` submits. */
  private def jobsOf(body: => Unit): Seq[(String, String, String)] = {
    val jobs = new ConcurrentLinkedQueue[(String, String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val st = j.stageInfos.sortBy(_.stageId).lastOption
        jobs.add((st.map(_.name).getOrElse(""), st.map(_.details).getOrElse(""),
          Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.GraftTestGlue.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  /** A job that only plans a read: a listing job, or one a
    * `DataFrameReader` call submitted (a footer read for inference). */
  private def planning(job: (String, String, String)): Boolean =
    job._3.startsWith("Listing leaf files") ||
      job._2.linesIterator.nextOption().exists(_.contains("DataFrameReader"))

  families.foreach { f =>
    test(s"${f.name}: building a probe frame and folding a batch run no read-planning job") {
      val dir = built(f.name)
      val probe = jobsOf(f.probe(dir)).filter(j => j._1.startsWith("parquet at") || planning(j))
      assert(probe.isEmpty, s"building the probe frame ran ${probe.mkString("; ")}")
      val fold = jobsOf(f.sync(upserts, corpus.filter($"doc_id" % 13 === 0)
        .select($"doc_id"), dir)).filter(planning)
      assert(fold.isEmpty, s"the fold's lane reads ran ${fold.mkString("; ")}")
      Scratch.drain()
    }
  }

  /** Every log event under the root logger while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("lane-read-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    app.start()
    root.addAppender(app)
    try body finally { root.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }

  test("probing an artifact with deletions logs no ignored-paths WARN") {
    Seq("LSH", "IVF").foreach { n =>
      val f = families.find(_.name == n).get
      val dir = built(n)
      f.delete(corpus.filter($"doc_id" % 11 === 0).select($"doc_id"), dir)
      assert(IndexStore.hasTombstones(dir), s"$n: the fixture has no tombstones")
      val lines = logged(f.probe(dir).collect())
      assert(!lines.exists(_.contains("All paths were ignored")), lines.mkString("\n"))
      Scratch.drain()
    }
  }

  test("an emptied or empty partitioned lane reads as empty and refills") {
    val Seq(bm, bm0, ivf, lab) = Seq("bm25", "bm25-0", "ivf", "labeled").map(n => tmp(s"empty-$n"))
    val docs = corpus.filter($"doc_id" <= 60)
    val ids = docs.select($"doc_id")
    val vids = ids.select($"doc_id".as("vec_id"))
    def bm25(dir: String) = TextAnalysis.bm25TopKFromIndex(spark, dir, text(probeDocs), 3)
      .collect().map(_.toString).toSet
    def ivfServe(dir: String) = Similarity.ivfTopKFromIndex(spark, dir, centroids,
      vecQueries.drop("label"), nprobe = 2, k = 3).collect().map(_.toString).toSet
    def labServe(dir: String) = Similarity.filteredTopKFromIndex(spark, dir, vecQueries, k = 3)
      .collect().map(_.toString).toSet

    // a sync that removes every live doc publishes an empty generation
    TextAnalysis.writeBm25Index(text(docs), bm)
    TextAnalysis.syncBm25Index(text(docs.limit(0)), ids, bm)
    assert(IndexStore.currentGen(bm) === Some(1L))
    assert(bm25(bm).isEmpty)
    // a write over an empty corpus serves an empty answer
    TextAnalysis.writeBm25Index(text(docs.limit(0)), bm0)
    assert(bm25(bm0).isEmpty)
    Similarity.writeIvfIndex(asVec(docs), centroids, ivf)
    Similarity.syncIvfIndex(asVec(docs.limit(0)), vids, centroids, ivf)
    assert(IndexStore.currentGen(ivf) === Some(1L))
    assert(ivfServe(ivf).isEmpty)
    Similarity.writeLabeledIvfIndex(labeled(docs), centroids, lab)
    Similarity.syncLabeledIvfIndex(labeled(docs.limit(0)), vids, centroids, lab)
    assert(IndexStore.currentGen(lab) === Some(1L))
    assert(labServe(lab).isEmpty)

    // each emptied artifact takes docs again, as a rebuild would serve them
    val Seq(bmRb, ivfRb, labRb) = Seq("bm25", "ivf", "labeled").map(n => tmp(s"rebuilt-$n"))
    TextAnalysis.syncBm25Index(text(docs), ids.limit(0), bm)
    TextAnalysis.writeBm25Index(text(docs), bmRb)
    assert(bm25(bm).nonEmpty)
    assert(bm25(bm) === bm25(bmRb))
    Similarity.syncIvfIndex(asVec(docs), vids.limit(0), centroids, ivf)
    Similarity.writeIvfIndex(asVec(docs), centroids, ivfRb)
    assert(ivfServe(ivf) === ivfServe(ivfRb))
    Similarity.syncLabeledIvfIndex(labeled(docs), vids.limit(0), centroids, lab)
    Similarity.writeLabeledIvfIndex(labeled(docs), centroids, labRb)
    assert(labServe(lab) === labServe(labRb))
    Scratch.drain()
  }

  override def afterAll(): Unit = {
    dirs.asScala.foreach(BenchUtil.rmTree)
    super.afterAll()
  }
}
