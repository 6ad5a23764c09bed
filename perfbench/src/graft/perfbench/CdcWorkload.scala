package graft.perfbench

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, IndexStore, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingCorpusSync
import graft.streaming.StreamingCorpusSync.{IvfTarget, SyncTargets}

/** A closed loop of CDC micro-batches through
  * `StreamingCorpusSync.syncBatch` into four standing artifacts (LSH,
  * BM25, IVF, payload), each batch followed by one serve round that
  * probes all four with a fixed query set.
  *
  * Each batch inserts held-out docs, revises live docs (the
  * `U01RevisionSuffix` edit) and deletes live docs. The corpus is
  * `Inputs.Corpus`: `Copies` token-suffixed copies of `Bases` base docs,
  * so the standing lanes are about 200 times the size of a diff. The
  * query docs' sources are never revised or deleted, so every probe must
  * find its own source doc, and no answer may name a doc that is not
  * live. After the last batch each artifact must answer exactly as one
  * freshly written from the final corpus. */
final class CdcWorkload(ctx: Ctx) extends Workload {
  import CdcWorkload._
  import ctx.spark.implicits._
  private val spark = ctx.spark

  private val corpus = new Inputs.Corpus(ctx.seed, Bases + HeldOut, Copies)
  private val lanes = Seq("lsh", "bm25", "ivf", "payload")
  private var standing: String = _
  private var centroids: DataFrame = _
  private var lastFeed: Feed = _
  private var lastRoot: String = _
  // per-batch layer figures of the last pass
  private val passBatches = mutable.ArrayBuffer.empty[(Double, Double)] // span of each syncBatch
  private val rewrite = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val serveMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private val eventSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("op", StringType),
    StructField("text", StringType), StructField("v", ArrayType(DoubleType, containsNull = false)),
    StructField("payload", BinaryType)))

  /** The live corpus and the CDC feed that changes it. `seed` picks the
    * feed; the same seed on a fresh Feed gives the same batches. */
  private final class Feed(seed: Long) {
    private val rng = new java.util.Random(seed)
    val revisions = mutable.LinkedHashMap.empty[Long, Int]
    /** Every doc the feed inserted, revised or deleted, with the
      * revision it last had. */
    val touched = mutable.LinkedHashMap.empty[Long, Int]
    private val live = mutable.ArrayBuffer.empty[Long]
    private val slot = mutable.HashMap.empty[Long, Int]
    private val pool = {
      val ids = for (b <- Bases until Bases + HeldOut; c <- 0 until Copies) yield corpus.id(b, c)
      mutable.Queue(new scala.util.Random(seed).shuffle(ids): _*)
    }
    for (b <- 0 until Bases; c <- 0 until Copies) add(corpus.id(b, c), 0)

    private def add(id: Long, rev: Int): Unit = {
      revisions(id) = rev
      if (!isProtected(id)) { slot(id) = live.size; live += id }
    }
    private def remove(id: Long): Unit = {
      revisions.remove(id)
      val i = slot.remove(id).get
      val last = live.remove(live.size - 1)
      if (last != id) { live(i) = last; slot(last) = i }
    }
    def isLive(id: Long): Boolean = revisions.contains(id)

    /** The next batch's events; the feed state moves past them. */
    def next(): Seq[Row] = {
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < Revisions + Deletes) picked += live(rng.nextInt(live.size))
      val (rev, del) = picked.toSeq.splitAt(Revisions)
      val ins = (1 to Inserts).map(_ => pool.dequeue())
      def upsert(id: Long, r: Int): Row = {
        val text = corpus.text(id, r)
        Row(id, "upsert", text, corpus.vector(id).toSeq, text.getBytes(UTF_8))
      }
      val rows = ins.map(upsert(_, 0)) ++ rev.map(id => upsert(id, revisions(id) + 1)) ++
        del.map(id => Row(id, "delete", null, null, null))
      ins.foreach(add(_, 0))
      rev.foreach(id => revisions(id) += 1)
      (ins ++ rev ++ del).foreach(id => touched(id) = revisions(id))
      del.foreach(remove)
      rows
    }

    /** The live corpus as doc_id, text, v, payload. */
    def frame(): DataFrame = {
      val rows = revisions.toSeq.map { case (id, r) =>
        val text = corpus.text(id, r)
        Row(id, text, corpus.vector(id).toSeq, text.getBytes(UTF_8))
      }
      val path = ctx.dir("corpus")
      spark.createDataFrame(rows.asJava, StructType(eventSchema.filter(_.name != "op")))
        .write.parquet(path)
      spark.read.parquet(path)
    }
  }

  private def isProtected(id: Long): Boolean = id % Inputs.Corpus.IdStride < Queries

  /** Probe inputs for each lane, one query per (query id, doc, revision):
    * the doc's text, payload and vector under an id outside the corpus. */
  private final class Queries(qs: Seq[(Long, Long, Int)]) {
    private val rows = qs.map { case (q, id, r) =>
      val text = corpus.text(id, r)
      Row(q, text, corpus.vector(id).toSeq, text.getBytes(UTF_8))
    }
    private val all = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
      StructField("v", ArrayType(DoubleType, containsNull = false)),
      StructField("payload", BinaryType))))
    val text: DataFrame = all.select($"doc_id", $"text")
    val payload: DataFrame = all.select($"doc_id", $"payload")
    val vec: DataFrame = all.select($"doc_id".as("q_id"), $"v".as("qv"), Similarity.norm($"v").as("qn"))
  }

  /** Serve query j is copy 0 of base doc j. */
  private val queryIds = (0 until Queries).map(j => QueryIdBase + j)
  private def sourceOf(q: Long): Long = corpus.id((q - QueryIdBase).toInt, 0)
  private lazy val serveQueries = new Queries(queryIds.map(q => (q, sourceOf(q), 0)))

  private def lane(root: String, l: String): String = s"$root/$l"

  private def build(corpusFrame: DataFrame, root: String): Unit = {
    val text = corpusFrame.select($"doc_id", $"text")
    Dedup.writeLshIndex(text, lane(root, "lsh"))
    TextAnalysis.writeBm25Index(text, lane(root, "bm25"))
    Similarity.writeIvfIndex(corpusFrame.select($"doc_id".as("vec_id"), $"v"), centroids,
      lane(root, "ivf"))
    Multimodal.writePayloadIndex(corpusFrame.select($"doc_id", $"payload"), lane(root, "payload"))
  }

  def setup(): Seq[Double] = {
    val initial = new Feed(0L).frame()
    // the IVF model is frozen: the vectors of `Centroids` base docs spread
    // over the corpus (training one is set-up work this workload skips)
    val cv = (0 until Centroids).map(i =>
      Row(i, corpus.vector(corpus.id(i * Bases / Centroids, 0)).toSeq))
    centroids = spark.createDataFrame(cv.asJava, StructType(Seq(
      StructField("cluster_id", IntegerType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false)))))
      .withColumn("cn", Similarity.norm($"cv"))
    standing = ctx.dir("standing")
    val (_, s) = ctx.timeS(build(initial, standing))
    Seq(s)
  }

  private def targets(root: String) = SyncTargets(
    lshDir = Some(lane(root, "lsh")), bm25Dir = Some(lane(root, "bm25")),
    payloadDir = Some(lane(root, "payload")),
    ivf = Some(IvfTarget(lane(root, "ivf"), centroids)))

  /** One probe per lane, answers collected. */
  private def probes(root: String, q: Queries): Seq[(String, () => Array[Row])] = Seq(
    "lsh" -> (() => Dedup.probeLshIndex(spark, lane(root, "lsh"), q.text, 0.8).collect()),
    "bm25" -> (() => TextAnalysis.bm25TopKFromIndex(spark, lane(root, "bm25"), q.text, 10).collect()),
    "ivf" -> (() => Similarity.ivfTopKFromIndex(spark, lane(root, "ivf"), centroids, q.vec,
      nprobe = 2, k = 10).collect()),
    "payload" -> (() => Multimodal.probePayloadIndex(spark, lane(root, "payload"), q.payload, 3)
      .collect()))

  /** One serve round; returns the ms of each probe. A probe whose answer
    * is wrong is a failed op. */
  private def serve(root: String, feed: Feed, tr: Tracer): Seq[(String, Double)] = {
    val times = probes(root, serveQueries).map { case (l, run) =>
      val (tried, s) = ctx.timeS(scala.util.Try(tr.span(s"serve.$l", "operators")(run())))
      tried.failed.foreach(e => ctx.fail(1, s"$l probe threw: $e"))
      val ans = tried.getOrElse(Array.empty[Row])
      // every answer row leads with two doc ids: a pair, or query and hit
      val pairs = ans.map(r => (r.getLong(0), r.getLong(1)))
      val named = pairs.flatMap(p => Seq(p._1, p._2)).filter(_ < QueryIdBase)
      val dead = named.filterNot(feed.isLive)
      // LSH, IVF and payload must find each query's own source doc
      val missing = if (l == "bm25") Nil
        else queryIds.filterNot(q => pairs.exists(p => Set(p._1, p._2) == Set(q, sourceOf(q))))
      if (tried.isSuccess && (dead.nonEmpty || missing.nonEmpty)) {
        ctx.fail(1, s"$l probe: answers name dead docs ${dead.distinct.take(5)} " +
          s"or miss the sources of queries ${missing.take(5)}")
      }
      l -> s * 1000
    }
    graft.Scratch.drain()
    times
  }

  def warmup(): Unit = {
    val root = copyArtifacts()
    val feed = new Feed(ctx.seed ^ 0x7777L)
    StreamingCorpusSync.syncBatch(events(feed), targets(root))
    serve(root, feed, new Tracer(false))
    ctx.rmTree(root)
  }

  private def events(feed: Feed): DataFrame = spark.createDataFrame(feed.next().asJava, eventSchema)

  private def copyArtifacts(): String = {
    val to = Paths.get(ctx.dir("run"))
    val from = Paths.get(standing)
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
    to.toString
  }

  /** Data files of a lane's published generation: file key (the inode,
    * so a copied or rewritten file is new) to bytes. */
  private def laneFiles(dir: String): Map[Any, Long] = {
    val root = Paths.get(IndexStore.currentPath(dir))
    val w = Files.walk(root)
    try w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        Option(a.fileKey()).getOrElse(p.toString) -> a.size()
      }.toMap
    finally w.close()
  }

  def measure(tr: Tracer, units: Option[Int]): Int = {
    if (lastRoot != null) ctx.rmTree(lastRoot)
    val root = copyArtifacts()
    val feed = new Feed(ctx.seed)
    passBatches.clear(); rewrite.clear(); serveMs.clear()
    val syncS = mutable.ArrayBuffer.empty[Double]
    val serveS = mutable.ArrayBuffer.empty[Double]
    var spent = 0.0
    var n = 0
    var broken = false
    while (!broken && units.fold(spent < ctx.seconds || n < MinBatches)(n < _)) {
      val ev = events(feed)
      val before: Map[String, Map[Any, Long]] =
        if (tr.on) lanes.map(l => l -> laneFiles(lane(root, l))).toMap else Map.empty
      val t0 = Clock.nowMs
      val (tried, s) = ctx.timeS(scala.util.Try(
        tr.span("StreamingCorpusSync.syncBatch", "streaming")(
          StreamingCorpusSync.syncBatch(ev, targets(root)))))
      tried.failed.foreach { e => ctx.fail(1, s"syncBatch threw: $e"); broken = true }
      passBatches += ((t0, Clock.nowMs))
      ctx.attempted += 1
      n += 1
      if (!broken) {
        if (tr.on) lanes.foreach { l =>
          val after = laneFiles(lane(root, l))
          val written = after.collect { case (k, b) if !before(l).contains(k) => b }.sum
          rewrite.getOrElseUpdate(l, mutable.ArrayBuffer.empty) +=
            written.toDouble / math.max(1L, after.values.sum)
        }
        val times = serve(root, feed, tr)
        ctx.attempted += times.size
        times.foreach { case (l, ms) => serveMs.getOrElseUpdate(l, mutable.ArrayBuffer.empty) += ms }
        syncS += s
        serveS += times.map(_._2).sum / 1000
        spent += s + times.map(_._2).sum / 1000
      }
    }
    if (!tr.on && syncS.nonEmpty) {
      val r = ctx.report
      r.add("docs_per_s", "docs/s", syncS.size * (Inserts + Revisions + Deletes) / syncS.sum)
      val loop = syncS.zip(serveS).map { case (a, b) => (a + b) * 1000 }.toSeq
      r.addAll("batch_ms", "ms", loop)
      r.add("batch_p50_ms", "ms", Report.median(loop))
      r.add("batch_p90_ms", "ms", Report.percentile(loop, 90))
      r.addAll("sync_p50_ms", "ms", syncS.map(_ * 1000))
      r.addAll("serve_p50_ms", "ms", serveS.map(_ * 1000))
    }
    lastFeed = feed
    lastRoot = root
    n
  }

  def layerMetrics(jobs: Seq[JobRec]): Unit = {
    val r = ctx.report
    val perBatch = passBatches.toSeq.map { case (a, b) => jobs.filter(j => j.start >= a && j.start <= b) }
    r.addAll("streaming.jobs_per_batch", "count", perBatch.map(_.size.toDouble))
    r.addAll("streaming.tasks_per_batch", "count", perBatch.map(_.map(_.tasks).sum.toDouble))
    Seq("lsh" -> "Dedup.scala", "bm25" -> "TextAnalysis.scala", "ivf" -> "Similarity.scala",
        "payload" -> "Multimodal.scala", "index_store" -> "IndexStore.scala").foreach { case (l, f) =>
      r.addAll(s"operators.$l.sync_job_ms", "ms", perBatch.map(_.filter(_.file == f).map(_.ms).sum))
    }
    r.addAll("operators.shuffle_bytes", "bytes", perBatch.map(_.map(_.shuffleBytes).sum.toDouble))
    r.addAll("operators.spill_bytes", "bytes", perBatch.map(_.map(_.spillBytes).sum.toDouble))
    lanes.foreach { l =>
      r.addAll(s"operators.$l.rewrite_share", "ratio", rewrite.getOrElse(l, Nil))
      r.addAll(s"operators.$l.serve_ms", "ms", serveMs.getOrElse(l, Nil))
      r.add(s"operators.$l.live_files", "count", laneFiles(lane(lastRoot, l)).size.toDouble)
    }
  }

  /** Each synced artifact must answer exactly as one freshly written
    * from the final corpus, with the same frozen IVF model. The probes
    * cover the serve queries and `CheckQueries` docs spread over those
    * the feed inserted, revised or deleted, at their last revision, so a
    * change that a lane failed to fold shows. */
  def check(): Seq[Double] = {
    val fresh = ctx.dir("rebuilt")
    val (_, s) = ctx.timeS(build(lastFeed.frame(), fresh))
    val all = lastFeed.touched.toSeq
    val step = math.max(1, all.size / CheckQueries)
    val touched = all.indices.by(step).take(CheckQueries).map { i =>
      (QueryIdBase + Queries + i, all(i)._1, all(i)._2)
    }
    val q = new Queries(queryIds.map(q => (q, sourceOf(q), 0)) ++ touched)
    // the eight probes are independent reads: run them side by side
    val calls = probes(lastRoot, q) ++ probes(fresh, q)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(calls.size)
    val answers =
      try calls.map { case (_, run) =>
        pool.submit(new java.util.concurrent.Callable[Set[String]] {
          def call(): Set[String] = {
            val rows = run().map(_.toString).toSet
            graft.Scratch.drain() // this thread's probe scratch
            rows
          }
        })
      }.map(_.get())
      finally {
        pool.shutdown()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
      }
    answers.take(lanes.size).zip(answers.drop(lanes.size)).zip(lanes).foreach {
      case ((a, b), l) =>
        ctx.attempted += 1
        if (a != b) ctx.fail(1, s"$l: synced artifact answers ${(a -- b).take(3)} / " +
          s"rebuilt answers ${(b -- a).take(3)} (${a.size} vs ${b.size} rows)")
    }
    Seq(fresh, lastRoot, standing).foreach(ctx.rmTree)
    Seq(s)
  }
}

object CdcWorkload {
  val Bases = 2000
  val HeldOut = 500
  val Copies = 4
  val Inserts = 16
  val Revisions = 16
  val Deletes = 8
  val Queries = 8
  val CheckQueries = 16
  val Centroids = 16
  val MinBatches = 2
  val QueryIdBase = 900000000L
}
