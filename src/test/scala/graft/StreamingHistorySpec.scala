package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{StreamingCuration, StreamingHistory,
  StreamingPayloadCuration, StreamingVectorCuration}

/** History folding for the streaming-admission family: compaction must
  * change file layout ONLY — same admitted sets, same per-batch stats,
  * bounded file counts, replay idempotence intact — across all four
  * legs (text, pipeline, vector, payload). */
class StreamingHistorySpec extends SparkSpec {

  private def corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(): String =
      Seq.fill(20 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def mutate(t: String): String = {
      val w = t.split(' ')
      w.updated(rnd.nextInt(w.length), vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val base = Seq.fill(14)(doc())
    val copies = base.take(7).map(mutate)
    (base ++ copies).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  private def keepFirst(docs: Seq[(Long, String)], tau: Double): Set[Long] = {
    import spark.implicits._
    val rejected = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"), tau)
      .select($"d2").as[Long].collect().toSet
    docs.map(_._1).toSet -- rejected
  }

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("text leg: compaction mid-stream preserves admitted set, stats, and bounds files") {
    import spark.implicits._
    val docs = corpus
    val expected = keepFirst(docs, 0.8)
    assert(expected.size < docs.size)
    val dir = tmp("hist-compact")
    val batches = docs.grouped(4).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingCuration.admitBatch(b.toDF("doc_id", "text"), dir, 0.8, i.toLong)
      // fold every 2 batches, exactly as the compactEvery knob would
      if (i > 0 && i % 2 == 0)
        StreamingCuration.compactHistory(spark, dir, uptoExclusive = i.toLong)
    }
    val filesBefore = StreamingHistory.dataFileCount(dir)
    val statsBefore = StreamingCuration.admissionStats(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    // final fold: everything except the (hypothetical) in-flight batch
    StreamingCuration.compactHistory(spark, dir, uptoExclusive = batches.size.toLong)
    val admitted = StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted === expected, "compaction changed the admitted set")
    // batch ids survive folding (they ride as a data column)
    val statsAfter = StreamingCuration.admissionStats(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(statsAfter === statsBefore, "folding changed admissionStats")
    // the fold bounded the layout: all but the last batch live in ONE
    // generation now, so the live file count must not have grown
    val filesAfter = StreamingHistory.dataFileCount(dir)
    assert(filesAfter <= filesBefore,
      s"fold grew live files: $filesBefore -> $filesAfter")
    assert(StreamingHistory.hotBatchIds(dir).isEmpty,
      "all batches below uptoExclusive must leave the hot tree")
    // history continues after a fold — and its probe sees folded lanes
    val extra = Seq((100L, docs.head._2), // exact copy of doc 0 -> rejected
                    (101L, "totally novel words qqq www eee rrr ttt yyy"))
    StreamingCuration.admitBatch(extra.toDF("doc_id", "text"), dir, 0.8,
      batches.size.toLong)
    val admitted2 = StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted2 === expected + 101L,
      "post-fold batch must probe the folded standing corpus")
  }

  test("text leg: replay of the in-flight batch after a fold is idempotent") {
    import spark.implicits._
    val docs = corpus
    val dir = tmp("hist-replay")
    val batches = docs.grouped(6).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingCuration.admitBatch(b.toDF("doc_id", "text"), dir, 0.8, i.toLong)
    }
    val last = batches.size - 1
    // the admission loop folds ids < in-flight; the last batch stays hot
    StreamingCuration.compactHistory(spark, dir, uptoExclusive = last.toLong)
    val before = StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    // failure recovery: Structured Streaming re-runs the in-flight batch
    StreamingCuration.admitBatch(batches(last).toDF("doc_id", "text"), dir,
      0.8, last.toLong)
    val after = StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(after === before, "replayed batch changed the admitted set")
    assert(StreamingHistory.readRows(spark, dir,
      org.apache.spark.sql.types.StructType(Seq()), None, keepBatch = true)
      .count() === docs.size.toLong,
      "history must hold each doc exactly once after the replay")
  }

  test("text leg: a round-14 flat history (no lanes) reads and probes unchanged") {
    import spark.implicits._
    val docs = corpus
    val expected = keepFirst(docs, 0.8)
    val dir = tmp("hist-legacy")
    // write the seed the way round-14 code did: rows only, no _lanes
    docs.take(14).toDF("doc_id", "text")
      .select($"doc_id", $"text",
        array_sort(Dedup.shingleHashes($"text")).as("sh"),
        lit(true).as("admitted"))
      .write.parquet(s"$dir/batch=-1")
    // a new-code batch probes the laneless seed via the in-plan fallback
    StreamingCuration.admitBatch(docs.drop(14).toDF("doc_id", "text"),
      dir, 0.8, 0L)
    val admitted = StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted === expected)
    // and the laneless batch folds (lanes derived in-plan at fold time)
    StreamingCuration.compactHistory(spark, dir, uptoExclusive = 1L)
    assert(StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet === expected)
  }

  test("two fold cycles: generations retire under the sweep grace, answers stable") {
    import spark.implicits._
    val docs = corpus
    val expected = keepFirst(docs, 0.8)
    val dir = tmp("hist-gens")
    val batches = docs.grouped(3).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingCuration.admitBatch(b.toDF("doc_id", "text"), dir, 0.8, i.toLong)
      if (i == 2 || i == 5)
        StreamingCuration.compactHistory(spark, dir, uptoExclusive = i.toLong)
    }
    StreamingCuration.compactHistory(spark, dir, batches.size.toLong)
    assert(StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet === expected)
    // sweep keeps at most current + grace predecessor
    val gens = {
      val st = java.nio.file.Files.list(
        java.nio.file.Paths.get(StreamingHistory.foldedDir(dir)))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .count(_.startsWith("gen="))
      } finally st.close()
    }
    assert(gens <= 2, s"sweep must bound retired generations, found $gens")
  }

  test("pipeline leg: mid-stream state folds preserve ≡ c01 across slicings") {
    import spark.implicits._
    import graft.operators.Curation
    val all = Tables.documents(spark, sf0001).select($"doc_id", $"text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val bench = all.filter(_._1 < 20).toDF("doc_id", "text")
    val stream = all.filter(_._1 >= 20)
    val expected = Curation.c01CurationPipeline(spark, sf0001)
      .as[(Long, Double)].collect().toSet
    val dir = tmp("pipe-compact")
    val size = math.max(1, (stream.size + 6) / 7)
    stream.grouped(size).zipWithIndex.foreach { case (b, i) =>
      StreamingCuration.admitPipelineBatch(
        b.toDF("doc_id", "text"), bench, dir, i.toLong)
      if (i > 0 && i % 3 == 0)
        StreamingCuration.compactPipelineState(spark, dir, uptoExclusive = i.toLong)
    }
    val curated = StreamingCuration.curatedDocs(spark, dir)
      .as[(Long, Double)].collect().toSet
    assert(curated === expected, "folded pipeline state diverges from c01")
  }

  test("vector leg: compaction preserves the admitted set and bounds files") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val base = Seq.fill(10)(vec())
    val near = base.take(5).map(v => v.updated(0, v.head + 0.01))
    val vecs = (base ++ near).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val dir = tmp("vec-compact")
    vecs.grouped(4).zipWithIndex.foreach { case (b, i) =>
      StreamingVectorCuration.admitBatch(b.toDF("vec_id", "v"), dir, 0.99, i.toLong)
      if (i > 0 && i % 2 == 0)
        StreamingVectorCuration.compactHistory(spark, dir, uptoExclusive = i.toLong)
    }
    val before = StreamingVectorCuration.admittedVecs(spark, dir)
      .select($"vec_id").as[Long].collect().toSet
    StreamingVectorCuration.compactHistory(spark, dir, 100L)
    val after = StreamingVectorCuration.admittedVecs(spark, dir)
      .select($"vec_id").as[Long].collect().toSet
    assert(after === before && StreamingHistory.hotBatchIds(dir).isEmpty)
  }

  test("payload leg: compaction preserves the admitted set; storm batch has no window skew path") {
    import spark.implicits._
    val payloads = (0L until 30L).map { i =>
      (i, (if (i % 3 == 0) "same bytes" else s"payload $i").getBytes("UTF-8"))
    }
    val dir = tmp("pay-compact")
    payloads.grouped(10).zipWithIndex.foreach { case (b, i) =>
      StreamingPayloadCuration.admitBatch(b.toDF("doc_id", "payload"), dir, i.toLong)
      if (i == 1)
        StreamingPayloadCuration.compactHistory(spark, dir, uptoExclusive = i.toLong)
    }
    val admitted = StreamingPayloadCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    // keep-first: doc 0 owns the "same bytes" clique; every other
    // multiple of 3 rejects; all non-multiples admit
    val expected = (0L until 30L).filter(i => i % 3 != 0).toSet + 0L
    assert(admitted === expected)
    StreamingPayloadCuration.compactHistory(spark, dir, 100L)
    assert(StreamingPayloadCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet === expected)
  }

  test("fold debris (crash between publish and delete) is invisible and swept") {
    import spark.implicits._
    val docs = corpus.take(12)
    val dir = tmp("hist-debris")
    docs.grouped(4).zipWithIndex.foreach { case (b, i) =>
      StreamingCuration.admitBatch(b.toDF("doc_id", "text"), dir, 0.8, i.toLong)
    }
    val expected = StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    StreamingCuration.compactHistory(spark, dir, uptoExclusive = 3L)
    // simulate the crash: a folded batch's hot dir reappears (replay of
    // an already-folded id, or delete-after-publish interrupted)
    docs.take(4).toDF("doc_id", "text")
      .select($"doc_id", $"text",
        array_sort(Dedup.shingleHashes($"text")).as("sh"),
        lit(true).as("admitted"))
      .write.mode("overwrite").parquet(s"$dir/batch=0")
    assert(StreamingHistory.hotBatchIds(dir).isEmpty,
      "a hot dir at or below the watermark must be invisible")
    assert(StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet === expected,
      "debris must not double-count")
    // the next fold sweeps it
    StreamingCuration.compactHistory(spark, dir, uptoExclusive = 3L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/batch=0")),
      "debris must be swept by the next compact")
  }

  test("auto-compaction through the streaming query: compactEvery folds while the stream runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.operators.Curation
    /** Feed `batches` one micro-batch each through `q`, then stop it. */
    def drive[T](input: MemoryStream[T], q: StreamingQuery, batches: Seq[Seq[T]]): Unit =
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    // one row per leg: (leg, run its starter at compactEvery = 2 over a
    // MemoryStream into (history dir, checkpoint dir), the admitted ids
    // of a history dir, the one-shot keep-first ids)
    val docs = corpus.take(15)
    val all = Tables.documents(spark, sf0001).select($"doc_id", $"text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val bench = all.filter(_._1 < 20).toDF("doc_id", "text")
    val stream = all.filter(_._1 >= 20)
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(8)(Seq.fill(8)(rnd.nextGaussian()))
    val vecs = (base ++ base.take(4).map(v => v.updated(0, v.head + 0.01)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    val payloads = (0L until 15L).map(i =>
      (i, (if (i % 3 == 0) "same bytes" else s"payload $i").getBytes("UTF-8")))
    val legs: Seq[(String, (String, String) => Unit, String => Set[Long], Set[Long])] = Seq(
      ("text", { (h, c) =>
        val in = MemoryStream[(Long, String)]
        drive(in, StreamingCuration.nearDupAdmission(in.toDF().toDF("doc_id", "text"),
          h, 0.8, c, compactEvery = 2), docs.grouped(3).toSeq)
      }, h => StreamingCuration.admittedDocs(spark, h).select($"doc_id").as[Long]
        .collect().toSet, keepFirst(docs, 0.8)),
      ("pipeline", { (h, c) =>
        val in = MemoryStream[(Long, String)]
        drive(in, StreamingCuration.pipelineAdmission(in.toDF().toDF("doc_id", "text"),
          bench, h, c, compactEvery = 2), stream.grouped((stream.size + 4) / 5).toSeq)
      }, h => StreamingCuration.curatedDocs(spark, h).select($"doc_id").as[Long]
        .collect().toSet,
        Curation.c01CurationPipeline(spark, sf0001).select($"doc_id").as[Long]
          .collect().toSet),
      ("vector", { (h, c) =>
        val in = MemoryStream[(Long, Seq[Double])]
        drive(in, StreamingVectorCuration.nearDupAdmission(in.toDF().toDF("vec_id", "v"),
          h, 0.99, c, compactEvery = 2), vecs.grouped(3).toSeq)
      }, h => StreamingVectorCuration.admittedVecs(spark, h).select($"vec_id").as[Long]
        .collect().toSet,
        vecs.map(_._1).toSet -- (for { (i, u) <- vecs; (j, w) <- vecs
          if i < j && cos(u, w) >= 0.99 } yield j)),
      ("payload", { (h, c) =>
        val in = MemoryStream[(Long, Array[Byte])]
        drive(in, StreamingPayloadCuration.exactDedupAdmission(
          in.toDF().toDF("doc_id", "payload"), h, c, compactEvery = 2),
          payloads.grouped(3).toSeq)
      }, h => StreamingPayloadCuration.admittedDocs(spark, h).select($"doc_id").as[Long]
        .collect().toSet, payloads.map(_._1).filter(i => i % 3 != 0).toSet + 0L))
    legs.foreach { case (leg, run, admitted, expected) =>
      val histDir = tmp(s"auto-$leg")
      run(histDir, tmp(s"auto-$leg-ckpt"))
      assert(expected.nonEmpty, s"$leg: empty keep-first fixture")
      assert(admitted(histDir) === expected, s"$leg: admitted set ≠ keep-first")
      // the stream itself compacted: a generation exists and only the
      // batches above the watermark are still hot
      assert(StreamingHistory.foldedThrough(histDir).exists(_ >= 0L),
        s"$leg: compactEvery must have folded at least one generation")
      assert(StreamingHistory.hotBatchIds(histDir).size <= 3,
        s"$leg: hot dirs unbounded: ${StreamingHistory.hotBatchIds(histDir)}")
    }
  }

  test("vector and payload admissionStats reconcile with their admitted outputs") {
    import spark.implicits._
    val vdir = tmp("vec-stats")
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 9L).map(i =>
      (i, if (i % 3 == 0) Seq(1.0, 0.0, 0.0, 0.0) else Seq.fill(4)(rnd.nextGaussian())))
    vecs.grouped(3).zipWithIndex.foreach { case (b, i) =>
      StreamingVectorCuration.admitBatch(b.toDF("vec_id", "v"), vdir, 0.999, i.toLong)
    }
    val vstats = StreamingVectorCuration.admissionStats(spark, vdir)
      .as[(Long, Long, Long, Long)].collect()
    assert(vstats.map(_._2).sum === 9L)
    assert(vstats.map(_._3).sum ===
      StreamingVectorCuration.admittedVecs(spark, vdir).count())
    vstats.foreach { case (b, n, a, r) => assert(n === a + r, s"batch $b") }

    val pdir = tmp("pay-stats")
    val payloads = (0L until 9L).map(i =>
      (i, (if (i % 3 == 0) "same" else s"p$i").getBytes("UTF-8")))
    payloads.grouped(3).zipWithIndex.foreach { case (b, i) =>
      StreamingPayloadCuration.admitBatch(b.toDF("doc_id", "payload"), pdir, i.toLong)
    }
    val pstats = StreamingPayloadCuration.admissionStats(spark, pdir)
      .as[(Long, Long, Long, Long)].collect()
    assert(pstats.map(_._2).sum === 9L)
    assert(pstats.map(_._3).sum ===
      StreamingPayloadCuration.admittedDocs(spark, pdir).count())
    pstats.foreach { case (b, n, a, r) => assert(n === a + r, s"batch $b") }
  }


  test("property: random slicings, fold points, and replays never change the admitted set") {
    import spark.implicits._
    (40 to 42).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("ax", "bx", "cx", "dx", "ex", "fx", "gx", "hx", "ix", "jx")
      def doc(): String =
        Seq.fill(18 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      def mutate(t: String): String = {
        val w = t.split(' ')
        w.updated(rnd.nextInt(w.length), vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val base = Seq.fill(10)(doc())
      val docs = (base ++ base.take(5).map(mutate)).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      // random slicing into 1..5-doc batches
      val batches = {
        var rest = docs
        val b = scala.collection.mutable.ArrayBuffer[Seq[(Long, String)]]()
        while (rest.nonEmpty) {
          val (h, t) = rest.splitAt(1 + rnd.nextInt(5))
          b += h; rest = t
        }
        b.toSeq
      }
      val plain = tmp(s"prop-plain$seed")
      val folded = tmp(s"prop-fold$seed")
      batches.zipWithIndex.foreach { case (b, i) =>
        val df = b.toDF("doc_id", "text")
        StreamingCuration.admitBatch(df, plain, 0.8, i.toLong)
        StreamingCuration.admitBatch(df, folded, 0.8, i.toLong)
        // random replay of the in-flight batch (failure recovery)
        if (rnd.nextInt(3) == 0)
          StreamingCuration.admitBatch(df, folded, 0.8, i.toLong)
        // random fold point (always < in-flight, as the knob does)
        if (i > 0 && rnd.nextInt(3) == 0)
          StreamingCuration.compactHistory(spark, folded, uptoExclusive = i.toLong)
      }
      val a = StreamingCuration.admittedDocs(spark, plain)
        .select($"doc_id").as[Long].collect().toSet
      val f = StreamingCuration.admittedDocs(spark, folded)
        .select($"doc_id").as[Long].collect().toSet
      assert(f === a, s"seed=$seed: folded/replayed run diverged")
    }
  }


  test("empty / all-rejected / shingle-less batches leave readable history (file-less dirs)") {
    import spark.implicits._
    // text leg: an EMPTY batch and an all-shingle-less batch both write
    // dirs with zero part files (Spark skips row-less tasks) — every
    // later read must see them as empty frames, not schema-inference
    // failures
    val dir = tmp("hist-empty")
    StreamingCuration.admitBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), dir, 0.8, 0L)
    StreamingCuration.admitBatch(
      Seq((5L, "ab")).toDF("doc_id", "text"), dir, 0.8, 1L) // < 3 words: no shingles
    val t = "alpha beta gamma delta eps zeta eta theta iota kappa " * 2
    StreamingCuration.admitBatch(
      Seq((10L, t), (11L, t + "x")).toDF("doc_id", "text"), dir, 0.8, 2L)
    assert(StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet === Set(5L, 10L),
      "near-copy 11 must reject; empty/shingle-less batches must not break reads")
    // folding across the file-less dirs works too
    StreamingCuration.compactHistory(spark, dir, uptoExclusive = 3L)
    assert(StreamingCuration.admittedDocs(spark, dir)
      .select($"doc_id").as[Long].collect().toSet === Set(5L, 10L))
    assert(StreamingCuration.admissionStats(spark, dir)
      .as[(Long, Long, Long, Long)].collect().map(_._2).sum === 3L)

    // pipeline leg: a batch rejected ENTIRELY at the language/quality
    // stage writes a file-less state dir; the read-back for its lanes
    // and the next batch's admission must both survive
    val pdir = tmp("pipe-empty")
    val bench = Seq((1L, "bench doc words alpha beta gamma")).toDF("doc_id", "text")
    StreamingCuration.admitPipelineBatch(
      Seq((20L, "zzz")).toDF("doc_id", "text"), bench, pdir, 0L) // fails quality
    StreamingCuration.admitPipelineBatch(
      Seq((30L, "the quick brown fox jumps over the lazy dog and keeps running onward")).toDF("doc_id", "text"),
      bench, pdir, 1L)
    assert(StreamingCuration.curatedDocs(spark, pdir).count() >= 0L)
    StreamingCuration.compactPipelineState(spark, pdir, uptoExclusive = 2L)
    assert(StreamingCuration.curatedDocs(spark, pdir).count() >= 0L)
  }

}
