package graft

import org.apache.spark.sql.functions._

import graft.streaming.{StreamingCuration, StreamingHistory}

/** Measures the round-15 streaming-curation claim: per-batch admission
  * wall time stays ~FLAT as the standing corpus grows, and the history
  * file count stays BOUNDED under the compaction cadence — the two
  * curves that were wrong in round 14 (admission re-derived the
  * standing prefix-token index every micro-batch → per-batch cost ∝
  * standing corpus; one `batch=` dir per micro-batch forever).
  *
  * Protocol: N batches of B synthetic docs each (10% of every batch
  * near-duplicates an earlier doc, so the probe exercises real
  * rejections against the STANDING corpus, not just within-batch),
  * admitted through [[StreamingCuration.admitBatch]] with
  * [[StreamingCuration.compactHistory]] every K batches — exactly what
  * `nearDupAdmission(compactEvery = K)` runs. Reports wall time per
  * decile of batches plus the early/late mean ratio (batches 10–29 vs
  * the last 20), and the live data-file count vs the unbounded
  * hot-layout count (N × files/batch). Flat = late/early ratio ~1;
  * the round-14 shape read ~N/20 here by construction.
  *
  *   sbt "Test/runMain graft.AdmissionProbe"            (120 batches)
  *   sbt "Test/runMain graft.AdmissionProbe 200 300 10" (N, B, K)
  */
object AdmissionProbe {
  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(120)
    val batchSize = args.lift(1).map(_.toInt).getOrElse(200)
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val vocab = Vector.tabulate(400)(i => s"w$i")
    val rnd = new scala.util.Random(15)
    def doc(): String =
      Seq.fill(40 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // the full stream up front so generation cost never rides a batch:
    // 90% fresh docs, 10% near-copies of a random EARLIER doc
    val texts = new scala.collection.mutable.ArrayBuffer[String]()
    val stream = (0 until nBatches * batchSize).map { i =>
      val t =
        if (texts.nonEmpty && rnd.nextInt(10) == 0) {
          val base = texts(rnd.nextInt(texts.size)).split(' ')
          base.updated(rnd.nextInt(base.length), vocab(rnd.nextInt(vocab.size)))
            .mkString(" ")
        } else doc()
      texts += t
      (i.toLong, t)
    }

    val dir = java.nio.file.Files.createTempDirectory("admission-probe").toString
    val wall = new Array[Double](nBatches)
    (0 until nBatches).foreach { b =>
      val batch = stream.slice(b * batchSize, (b + 1) * batchSize)
        .toDF("doc_id", "text")
      val t0 = System.nanoTime()
      StreamingCuration.admitBatch(batch, dir, 0.8, b.toLong)
      if (compactEvery > 0 && b > 0 && b % compactEvery == 0)
        StreamingCuration.compactHistory(spark, dir, uptoExclusive = b.toLong)
      wall(b) = (System.nanoTime() - t0) / 1e9
    }

    val admitted = StreamingCuration.admittedDocs(spark, dir).count()
    val files = StreamingHistory.dataFileCount(dir)
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val deciles = wall.grouped(math.max(1, nBatches / 10)).map(g => mean(g.toSeq)).toSeq
    val early = mean(wall.slice(10, 30).toSeq)
    val late = mean(wall.takeRight(20).toSeq)
    def r2(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    println(s"ADMISSION PROBE batches=$nBatches x $batchSize docs, " +
      s"compactEvery=$compactEvery, admitted=$admitted/${nBatches * batchSize}")
    println(s"per-batch wall by decile (s): ${deciles.map(r2).mkString(", ")}")
    println(s"early mean (batches 10-29) = ${r2(early)} s; " +
      s"late mean (last 20) = ${r2(late)} s; late/early = ${r2(late / early)}")
    println(s"live data files = $files (unbounded hot layout would be " +
      s"~${nBatches} dirs x files/batch)")
    graft.BenchUtil.rmTree(dir)
    spark.stop()
  }
}
