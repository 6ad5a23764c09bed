package graft

import graft.operators.Similarity

/** Approximate-ANN guarantees that the SQL oracle can't check. */
class SimilaritySpec extends SparkSpec {

  private def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select("q_id", "n_id", "rank").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }

  test("IVF top-k: 3 exact-ranked rows per query, deterministic, recall above floor") {
    val exact = topk(Similarity.s01CosineTopK(spark, sf001))
    val ivf = topk(Similarity.s03IvfTopK(spark, sf001))
    assert(exact.size === 20)
    assert(ivf.size === 20)
    ivf.values.foreach(ns => assert(ns.size === 3))
    // determinism
    val again = topk(Similarity.s03IvfTopK(spark, sf001))
    assert(ivf === again)
    // fixture embeddings are unclustered (see s03 scaladoc): recall ≈
    // probed corpus fraction (2 of 5 equal buckets → ~0.4); assert a
    // floor that catches mechanism regressions, not a clustered-data SLA
    val recalls = exact.map { case (q, en) =>
      val found = ivf.getOrElse(q, Nil).toSet
      en.count(found.contains).toDouble / en.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.15, s"mean recall@3 = $mean")
  }

  test("s17 persisted IVF index ≡ s03 in-plan path; probe scan is partition-pruned") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the persisted-index serve path must reproduce s03 bit-identically
    // (same centroids via the memo store, same probe/tie rules; doubles
    // round-trip parquet exactly) — the writeSignedCorpus/c12-state
    // production-seam discipline applied to the ANN family
    val viaPlan = Similarity.s03IvfTopK(spark, sf001)
      .as[(Long, Long, Int, Double)].collect().toSet
    val viaIndex = Similarity.s17IvfPersistedTopK(spark, sf001)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(viaIndex === viaPlan,
      "persisted-index serve diverges from the in-plan IVF path")
    // and the scale mechanism is REAL: serving reads only the probed
    // lists' partitions (BucketingSpec proved the concept on a synthetic
    // layout; this pins it on the actual operator's layout + filter)
    val c = Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val centroids = Similarity.trainedCentroids(spark, sf001, k = 5, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("s17-spec-index").toString
    try {
      Similarity.writeIvfIndex(c, centroids, dir)
      // ONE query probes nprobe=2 of the k=5 lists — the per-query
      // serving economics the layout exists for (a broad 20-query batch
      // legitimately unions to all lists; the nprobe/k fraction is a
      // per-query property)
      val q1 = c.withColumn("nrm", Similarity.norm($"v")).filter($"vec_id" === 0)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
      val served = Similarity.ivfTopKFromIndex(spark, dir, centroids, q1,
        nprobe = 2, k = 3)
      // unwrap the AQE root: its children are hidden from collectLeaves
      val root = served.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case o => o
      }
      val scan = root.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
      }.get
      // keep only the STATIC probe filter (the literal isin) — Spark
      // also attaches a DPP subquery from the broadcast join, which
      // cannot be evaluated before execution; the static filter alone
      // is what the s17 claim is about
      val staticFilters = scan.partitionFilters.filterNot(e =>
        e.find(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]).isDefined)
      assert(staticFilters.nonEmpty, "static probe filter missing from the scan")
      val partsRead =
        scan.relation.location.listFiles(staticFilters, Nil).size
      val totalParts = scan.relation.location.listFiles(Nil, Nil).size
      assert(totalParts === 5, s"expected one directory per list, got $totalParts")
      assert(partsRead === 2,
        s"single-query probe must scan exactly nprobe=2 lists, scanned $partsRead")
      // and the served rows really come from the probed lists only
      assert(served.count() === 3)
    } finally graft.BenchUtil.rmTree(dir)
  }

  test("s18 incremental index append ≡ full rebuild at every boundary; standing files untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val c = Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val centroids = Similarity.trainedCentroids(spark, sf001, k = 5, iters = 2)
    val q = c.withColumn("nrm", Similarity.norm($"v")).filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    def serve(dir: String) =
      Similarity.ivfTopKFromIndex(spark, dir, centroids, q, nprobe = 2, k = 3)
        .as[(Long, Long, Int, Double)].collect().toSet
    val rebuilt = {
      val dir = java.nio.file.Files.createTempDirectory("s18-rebuild").toString
      try { Similarity.writeIvfIndex(c, centroids, dir); serve(dir) }
      finally graft.BenchUtil.rmTree(dir)
    }
    val maxId = c.agg(max($"vec_id")).head().getLong(0)
    // several split boundaries incl. a tiny delta and a tiny standing —
    // the append contract is boundary-independence
    for (frac <- Seq(0.2, 0.5, 0.95)) {
      val boundary = (maxId * frac).toLong
      val dir = java.nio.file.Files.createTempDirectory("s18-append").toString
      try {
        Similarity.writeIvfIndex(c.filter($"vec_id" <= boundary), centroids, dir)
        def dataFiles = {
          val b = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
          val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          try st.forEach(p => if (p.toString.endsWith(".parquet")) b += p)
          finally st.close()
          b.map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
            .toMap
        }
        val before = dataFiles
        Similarity.appendToIvfIndex(c.filter($"vec_id" > boundary), centroids, dir)
        val after = dataFiles
        // append-only: every standing file survives byte-untouched and
        // the delta landed as NEW files inside the list directories
        assert(before.keySet.subsetOf(after.keySet),
          "append rewrote or removed standing list files")
        before.foreach { case (f, t) =>
          assert(after(f) == t, s"standing file $f was modified by append")
        }
        assert(after.size > before.size, "append wrote no new files")
        assert(serve(dir) === rebuilt,
          s"appended index diverges from rebuild at boundary fraction $frac")
      } finally graft.BenchUtil.rmTree(dir)
    }
  }

  test("s18 online: micro-batched foreachBatch appends keep the index ≡ rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the live form of s18: a vector stream (new embeddings from the
    // ingest pipeline) drains through foreachBatch → appendToIvfIndex,
    // and at every point the served index equals a from-scratch rebuild
    // — index maintenance as a standing streaming job, the
    // StreamingCuration discipline applied to serving
    val c = Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val centroids = Similarity.trainedCentroids(spark, sf001, k = 5, iters = 2)
    val q = c.withColumn("nrm", Similarity.norm($"v")).filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    def serve(dir: String) =
      Similarity.ivfTopKFromIndex(spark, dir, centroids, q, nprobe = 2, k = 3)
        .as[(Long, Long, Int, Double)].collect().toSet
    val rebuilt = {
      val dir = java.nio.file.Files.createTempDirectory("s18-rb").toString
      try { Similarity.writeIvfIndex(c, centroids, dir); serve(dir) }
      finally graft.BenchUtil.rmTree(dir)
    }
    val all = c.as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val (standing, live) = all.splitAt(all.size * 2 / 5)
    val dir = java.nio.file.Files.createTempDirectory("s18-live").toString
    val ckpt = java.nio.file.Files.createTempDirectory("s18-ckpt").toString
    try {
      Similarity.writeIvfIndex(standing.toDF("vec_id", "v"), centroids, dir)
      val input = MemoryStream[(Long, Seq[Double])]
      val sq = input.toDF().toDF("vec_id", "v").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          Similarity.appendToIvfIndex(b, centroids, dir); ()
        }.start()
      try {
        live.grouped(math.max(1, live.size / 3)).foreach { batch =>
          input.addData(batch: _*)
          sq.processAllAvailable()
        }
      } finally sq.stop()
      assert(serve(dir) === rebuilt,
        "streamed index maintenance diverged from a full rebuild")
    } finally { graft.BenchUtil.rmTree(dir); graft.BenchUtil.rmTree(ckpt) }
  }

  test("s08 IVF near-dup: perfect precision, recall floor, k-means quantizer parity") {
    import spark.implicits._
    val truth = Similarity.s02EmbeddingNearDup(spark, sf001)
      .as[(Long, Long, Double)].collect().toSet
    val got = Similarity.s08IvfNearDup(spark, sf001)
      .as[(Long, Long, Double)].collect().toSet
    // precision 1 by construction: every emitted pair is exact-verified,
    // with the same rounded cosine the brute-force path computes
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth).take(3)}")
    // recall on the unclustered gaussian fixture measured 12/14 with the
    // seed quantizer (see scaladoc) — floor set beneath it to catch
    // mechanism regressions, not as a clustered-data SLA
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.7, s"recall = $recall (${got.size}/${truth.size})")
    // the production path takes the k-means quantizer: same contract
    // (subset of truth, exact cosines), independent of quantizer choice
    val e = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val viaKmeans = Similarity.ivfNearDupPairs(
        e, Similarity.trainedCentroids(spark, sf001, k = 5, iters = 2), 0.45)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaKmeans.subsetOf(truth))
    assert(viaKmeans.size.toDouble / truth.size >= 0.7)
  }

  test("s08 recall is monotone in nprobe: wider probes strictly grow the candidate set") {
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cen = Similarity.seedCentroids(e, 8)
    val byProbe = Seq(1, 2, 4).map { np =>
      Similarity.ivfNearDupPairs(e, cen, 0.45, nprobe = np)
        .as[(Long, Long, Double)].collect().toSet
    }
    // each pair set must contain the previous: more probed clusters can
    // only add shared-cluster candidates, never remove them, and the
    // exact verification is probe-independent
    byProbe.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo.subsetOf(hi), s"lost pairs widening nprobe: ${lo.diff(hi).take(3)}")
    }
    assert(byProbe.head.size < byProbe.last.size,
      "fixture should show recall growth from nprobe 1 to 4")
  }

  test("s08 maxBucket guard: a mass-duplicated vector cannot make one bucket quadratic") {
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // 300 copies of vector 0 under fresh ids: they all land in the same
    // probe buckets and would alone contribute C(300,2) ≈ 45k pairs
    val dup = e.filter($"vec_id" === 0)
    val flood = (1 to 300).map(i => dup.select(($"vec_id" + 100000 + i).as("vec_id"), $"v"))
      .reduce(_ unionByName _)
    val skewed = e.unionByName(flood)
    val cen = Similarity.seedCentroids(e, 8)
    val uncapped = Similarity.ivfNearDupPairs(skewed, cen, 0.45).count()
    assert(uncapped > 40000L, s"flood should dominate uncapped output, got $uncapped")
    // capped: the flooded buckets drop out entirely; the surviving pair
    // set is bounded by smaller-bucket work, never the quadratic clique
    val capped = Similarity.ivfNearDupPairs(skewed, cen, 0.45, maxBucket = 250L).count()
    assert(capped < 1000L, s"guard failed to cap candidate generation: $capped")
  }

  test("s07 knn graph ≡ s01 brute-force top-k on the shared query set") {
    // s01 is the naive global-window form over vec_id < 20; the blocked
    // two-stage s07 must produce identical neighbors and ranks there
    val brute = topk(Similarity.s01CosineTopK(spark, sf001))
    val graph = topk(Similarity.s07KnnGraph(spark, sf001)
      .filter(org.apache.spark.sql.functions.col("q_id") < 20))
    assert(brute === graph)
    // and the graph covers EVERY vector with exactly k rows
    val all = topk(Similarity.s07KnnGraph(spark, sf001))
    assert(all.size === 500)
    all.values.foreach(ns => assert(ns.size === 3))
  }

  test("s06 delta near-dup ≡ full s02 pair set restricted to delta-touching pairs") {
    import spark.implicits._
    val expected = Similarity.s02EmbeddingNearDup(spark, sf001)
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(expected.nonEmpty, "fixture must produce at least one delta pair")
    // block count must not affect the result: B=1 (single task), B=3
    // (delta spans blocks unevenly), B=8 (the default)
    val e = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    Seq(1, 3, 8).foreach { b =>
      val got = Similarity.deltaEmbeddingNearDup(
          e.filter($"vec_id" % 10 =!= 0), e.filter($"vec_id" % 10 === 0),
          0.45, blocks = b)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === expected, s"blocks=$b")
    }
  }

  test("s05 quantization stats honor the mathematical bounds") {
    val rows = operators.Similarity.s05QuantStats(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scale, qmin, qmax, err) =
        (r.getDouble(1), r.getInt(2), r.getInt(3), r.getDouble(4))
      // symmetric int8: quantized values live in [-127, 127]
      assert(qmin >= -127 && qmax <= 127, r.toString)
      // floor(x/s + 0.5) is within 0.5 of x/s → reconstruction error ≤ s/2
      assert(err <= scale / 2 * (1 + 1e-12), r.toString)
    }
  }

  test("durable centroids: a fresh driver reloads the quantizer with zero re-trainings") {
    val dir = java.nio.file.Files.createTempDirectory("centroids").toString
    spark.conf.set("spark.graft.centroids.dir", dir)
    try {
      Similarity.clearCentroidCache()
      val before = Similarity.trainings.get()
      def fetch() = Similarity.trainedCentroids(spark, sf0001, 4, 2)
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      val first = fetch()
      assert(Similarity.trainings.get() === before + 1)
      assert(first.size === 4)
      // fresh driver: in-memory cache gone, parquet store remains
      Similarity.clearCentroidCache()
      val second = fetch()
      assert(Similarity.trainings.get() === before + 1,
        "reload must come from the parquet store, not re-run Lloyd's iterations")
      assert(second === first)
    } finally {
      spark.conf.unset("spark.graft.centroids.dir")
      Similarity.clearCentroidCache()
    }
  }

  test("s10 IVF knn graph: neighbors are true candidates with exact cosines, recall floor vs s07") {
    import spark.implicits._
    val exact = Similarity.s07KnnGraph(spark, sf001)
      .select($"q_id", $"n_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approxRows = Similarity.s10IvfKnn(spark, sf001)
      .select($"q_id", $"n_id", $"rank", $"cosine_r").collect()
    val approx = approxRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // one-sided error: every emitted edge carries the exact cosine the
    // brute-force path would compute for the same pair
    val brute = Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    approxRows.foreach { r =>
      val (q, n, cos) = (r.getLong(0), r.getLong(1), r.getDouble(3))
      val (a, b) = (brute(q), brute(n))
      val exp = a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      assert(math.abs(cos - exp) < 1e-6, s"edge ($q,$n) cosine drift")
    }
    // recall floor on the unclustered gaussian fixture (same caveat as
    // s03/s08: probed fraction ≈ nprobe/k of an unclustered corpus —
    // this pins mechanism regressions, not a clustered-data SLA)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall = $recall (${(exact & approx).size}/${exact.size})")
    // determinism
    val again = Similarity.s10IvfKnn(spark, sf001)
      .select($"q_id", $"n_id", $"rank", $"cosine_r").collect()
      .map(_.toSeq).toSet
    assert(again === approxRows.map(_.toSeq).toSet)
  }

  test("s09 label cohesion: linear-pass identity equals the brute-force pair average") {
    import spark.implicits._
    // ground truth: O(n²) mean pairwise cosine per label, computed on
    // the driver from the same 6-decimal-quantized normalized vectors
    val vecs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](2).toArray
        val nrm = math.sqrt(v.map(x => x * x).sum)
        val u = v.map(x => BigDecimal(x / nrm)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        (r.getInt(1), u)
      }
    val truth = vecs.groupBy(_._1).map { case (label, members) =>
      val us = members.map(_._2)
      val dots = for {
        i <- us.indices; j <- us.indices if i != j
      } yield us(i).zip(us(j)).map { case (a, b) => a * b }.sum
      label -> dots.sum / dots.size
    }
    val rows = Similarity.s09LabelCohesion(spark, sf0001)
      .select($"label", $"intra_cos_r", $"vs_rest_cos_r").collect()
    val got = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.keySet === truth.keySet)
    truth.foreach { case (label, exp) =>
      // the operator sums quantized values exactly; the driver-side
      // double accumulation here is the approximate one — tolerance
      // covers its rounding, not the operator's
      assert(math.abs(got(label) - exp) < 1e-6,
        s"label $label: got ${got(label)} expected $exp")
    }
    // separation: cos(Σu_label, Σu_rest) recomputed from the raw sums
    val dim = vecs.head._2.length
    val sums = vecs.groupBy(_._1).view.mapValues(ms =>
      (0 until dim).map(i => ms.map(_._2(i)).sum).toArray).toMap
    val gotSep = rows.map(r => r.getInt(0) -> r.getDouble(2)).toMap
    sums.foreach { case (label, sl) =>
      val rest = (0 until dim).map(i =>
        sums.values.map(_(i)).sum - sl(i)).toArray
      val dotSR = sl.zip(rest).map { case (a, b) => a * b }.sum
      val exp = dotSR / (math.sqrt(sl.map(x => x * x).sum) *
        math.sqrt(rest.map(x => x * x).sum))
      assert(math.abs(gotSep(label) - exp) < 1e-5,
        s"label $label separation: got ${gotSep(label)} expected $exp")
    }
  }

  test("s10 recall on a CLUSTERED corpus: the regime IVF is built for") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The fixture embeddings are unclustered gaussians, where any IVF's
    // recall is bounded by the probed fraction (the 0.2 floor above).
    // Real embedding corpora are clustered — build one: 8 well-separated
    // centroid directions in 16-dim, 25 members each, deterministic
    // small perturbations. vec_id g (g < 8) IS group g's first member,
    // so seedCentroids picks one quantizer seed per true cluster.
    val dim = 16
    val groups = 8
    val perGroup = 25
    val rows = for {
      g <- 0 until groups; i <- 0 until perGroup
    } yield {
      val v = Array.tabulate(dim) { j =>
        val base = if (j == 2 * g || j == 2 * g + 1) 1.0 else 0.0
        // deterministic perturbation in [-0.09, 0.09]: small enough that
        // nearest neighbors stay within the group, nonzero so ranks vary
        base + (((i * 31 + j * 17) % 7) - 3) * 0.03
      }
      (g.toLong + groups.toLong * i, v)
    }
    // id layout: member i of group g gets id g + 8i → ids 0..7 are one
    // member per group, exactly what seedCentroids(_, 8) will take
    val vecs = rows.toDF("vec_id", "v")
    val exact = topk(Similarity.knnGraph(vecs, 3))
    val approx = topk(Similarity.ivfKnnGraph(
      vecs, Similarity.seedCentroids(vecs, groups), 3, nprobe = 2))
    val exactEdges = exact.flatMap { case (q, ns) => ns.map(q -> _) }.toSet
    val approxEdges = approx.flatMap { case (q, ns) => ns.map(q -> _) }.toSet
    val recall = (exactEdges & approxEdges).size.toDouble / exactEdges.size
    // clustered-regime floor: co-cluster members share probed buckets,
    // so the true top-k is (almost) always in the candidate set
    assert(recall >= 0.9, s"clustered recall = $recall")
  }

  test("dot_product rejects dimension-mismatched inputs in both execution paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // codegen path: through a real plan
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val thrown = intercept[Throwable] {
      df.select(graft.functions.VectorOps.dotProduct(df("a"), df("b"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causes(thrown).exists(_.getMessage != null) &&
      causes(thrown).exists(c =>
        Option(c.getMessage).exists(_.contains("dimension mismatch"))),
      s"unexpected failure: $thrown")
    // interpreted path: direct eval of the expression
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val a = Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType))
    val b = Literal.create(Seq(1.0, 2.0, 3.0), ArrayType(DoubleType))
    val ex = intercept[IllegalArgumentException] {
      graft.functions.DotProduct(a, b).eval(null)
    }
    assert(ex.getMessage.contains("dimension mismatch"))
    // equal dims still work through both paths
    val ok = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(graft.functions.VectorOps.dotProduct(col("a"), col("b")))
      .head.getDouble(0)
    assert(ok === 11.0)
  }

  test("vector kernels read array<float> as its values: dot_product, l2_norm and admission ≡ array<double>") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.expressions.Cast
    import graft.functions.VectorOps.{dotProduct, l2Norm}
    import graft.streaming.StreamingVectorCuration
    // values exact in float, so float → double changes nothing
    val fl = Seq((0L, Seq(1.5f, -2.0f, 0.25f, 3.0f), Seq(0.5f, 4.0f, -8.0f, 1.0f)),
                 (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f), Seq(2.0f, 2.0f, 2.0f, 2.0f)))
    val db = fl.map { case (i, a, b) => (i, a.map(_.toDouble), b.map(_.toDouble)) }
    def parquet(df: org.apache.spark.sql.DataFrame) = {
      val p = java.nio.file.Files.createTempDirectory("vec-float").toString + "/t"
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    val fDf = parquet(fl.toDF("id", "a", "b"))
    val dDf = parquet(db.toDF("id", "a", "b"))
    def answers(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), dotProduct(col("a"), col("b")), l2Norm(col("a")))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val want = Seq((0L, 0.75 - 8.0 - 2.0 + 3.0, math.sqrt(2.25 + 4.0 + 0.0625 + 9.0)),
                   (1L, 2.0, 1.0))
    assert(answers(dDf) === want)
    assert(answers(fDf) === want, "array<float> must read as its values")
    // the interpreted path (a local relation's projection folds at planning)
    assert(answers(fl.toDF("id", "a", "b")) === want)
    assert(answers(Seq((0L, Seq(3, 0), Seq(1, 2))).toDF("id", "a", "b")) ===
      Seq((0L, 3.0, 3.0)), "any numeric array reads as doubles")
    assert(answers(Seq((0L, Seq(BigDecimal(3), BigDecimal(0)), Seq(BigDecimal(1), BigDecimal(2))))
      .toDF("id", "a", "b")) === Seq((0L, 3.0, 3.0)), "decimal arrays read as doubles")
    // array<double> input gets no Cast node; array<float> gets one
    def casts(df: org.apache.spark.sql.DataFrame) =
      df.select(dotProduct(col("a"), col("b")), l2Norm(col("a"))).queryExecution
        .executedPlan.collect { case n => n.expressions }.flatten
        .flatMap(_.collect { case c: Cast => c })
    assert(casts(dDf).isEmpty, s"array<double> input grew casts: ${casts(dDf)}")
    assert(casts(fDf).nonEmpty)
    // any other type fails at analysis, naming it
    val bad = intercept[org.apache.spark.sql.AnalysisException](
      Seq(Seq("x")).toDF("s").select(l2Norm(col("s"))))
    assert(bad.getMessage.contains("array<string>"), bad.getMessage)
    // one vector admission: float input admits what double input does
    val vs = Seq((0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.0f)),
                 (2L, Seq(1.0f, 0.001f, 0.0f)), (3L, Seq(0.0f, 0.0f, 2.0f)),
                 (4L, Seq(0.0f, 0.0f, 4.0f)))
    def admit(df: org.apache.spark.sql.DataFrame) = {
      val h = java.nio.file.Files.createTempDirectory("vec-float-hist").toString
      StreamingVectorCuration.admitBatch(df.filter($"vec_id" < 2), h, 0.99, 0L)
      StreamingVectorCuration.admitBatch(df.filter($"vec_id" >= 2), h, 0.99, 1L)
      StreamingVectorCuration.admittedVecs(spark, h).orderBy("vec_id")
        .as[(Long, Seq[Double])].collect().toSeq
    }
    val fromDouble = admit(vs.map { case (i, v) => (i, v.map(_.toDouble)) }.toDF("vec_id", "v"))
    assert(fromDouble.map(_._1) === Seq(0L, 1L, 3L))
    assert(admit(vs.toDF("vec_id", "v")) === fromDouble)
  }

  test("cosine is symmetric and self-similarity is 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf0001).limit(10)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val pairs = e.as("a").crossJoin(e.as("b"))
      .select(
        Similarity.cosine($"a.v", $"b.v").as("ab"),
        Similarity.cosine($"b.v", $"a.v").as("ba"),
        ($"a.vec_id" === $"b.vec_id").as("same"))
      .collect()
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      if (r.getBoolean(2)) assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    }
  }

  test("s11 SemDeDup survivors: one per duplicate component, the most atypical member kept") {
    import spark.implicits._
    val out = Similarity.s11SemanticSurvivors(spark, sf001)
      .select($"vec_id", $"comp", $"c_cos_r", $"kept")
      .as[(Long, Long, Double, Boolean)].collect()
    val n = Tables.embeddings(spark, sf001).count()
    // total: every corpus vector classified exactly once
    assert(out.length.toLong === n)
    assert(out.map(_._1).distinct.length.toLong === n)
    // the duplicate relation the decision is based on — the ORACLED s08
    // pair set: endpoints of every pair must land in one component
    val pairs = Similarity.s08IvfNearDup(spark, sf001)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val compOf = out.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) =>
      assert(compOf(a) === compOf(b), s"near-dup pair ($a,$b) split across components")
    }
    // exactly one survivor per component; a vector in no pair is its
    // own singleton component and trivially survives
    val byComp = out.groupBy(_._2)
    byComp.foreach { case (c, members) =>
      assert(members.count(_._4) === 1, s"component $c kept ${members.count(_._4)} members")
    }
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    out.filterNot(r => inPairs(r._1)).foreach { r =>
      assert(r._2 === r._1 && r._4, s"singleton ${r._1} not kept as its own component")
    }
    // the SemDeDup keep rule: the survivor is the member LEAST similar
    // to its quantizer centroid (min c_cos, ties to min vec_id)
    byComp.filter(_._2.length > 1).foreach { case (c, members) =>
      val want = members.minBy(r => (r._3, r._1))._1
      val got = members.find(_._4).get._1
      assert(got === want, s"component $c kept $got, SemDeDup rule wants $want")
    }
    // and the dedup is real on this fixture: some component has > 1 member
    assert(byComp.exists(_._2.length > 1))
    assert(out.count(_._4) < n)
  }

  test("s12 PQ top-k: shape, compression contract, retrain determinism") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = Similarity.s12PqTopK(spark, sf0001)
      .select($"q_id", $"n_id", $"rank", $"adc_r").collect()
    // 20 queries × dense ranks 1..3, no self-pairs
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size === 20)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq === Seq(1, 2, 3))
      rows.foreach(r => assert(r.getLong(1) !== q))
    }
    // the compression contract: every corpus vector encodes to exactly
    // M=16 codes, each a valid centroid id in [0, K=16)
    val c = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val books = Similarity.pqCodebooks(Similarity.pqSubvectors(c, 4), 16, 3)
    val codes = Similarity.pqCodes(Similarity.pqSubvectors(c, 4), books)
      .as[(Long, Seq[Int])].collect()
    assert(codes.length.toLong === c.count())
    codes.foreach { case (_, cs) =>
      assert(cs.length === 16)
      cs.foreach(code => assert(code >= 0 && code < 16))
    }
    // training from scratch (cache cleared) reproduces the identical
    // result — the golden snapshot's soundness rests on this
    Similarity.clearPqCache()
    val again = Similarity.s12PqTopK(spark, sf0001)
      .select($"q_id", $"n_id", $"rank", $"adc_r").collect()
    assert(out.map(_.toSeq).toSet === again.map(_.toSeq).toSet)
  }

  test("s12 recall floor vs exact s01 and ADC ranking signal") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val exact = topk(Similarity.s01CosineTopK(spark, sf0001))
    val pq = topk(Similarity.s12PqTopK(spark, sf0001))
    // recall on the unclustered gaussian fixture measured 0.32 with the
    // shipped (dsub=4, K=16, iters=3) config (PqProbe) — floor beneath
    // it to catch mechanism regressions, not a clustered-data SLA (the
    // clustered test below is the regime PQ is built for)
    val recalls = exact.map { case (q, en) =>
      val found = pq.getOrElse(q, Nil).toSet
      en.count(found.contains).toDouble / en.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"mean recall@3 = $mean")
    // ranking signal: PQ's picks must be genuinely near in EXACT
    // distance — mean true d² of picked pairs well under the corpus
    // mean (≈2 for unit vectors with E[cos]≈0). A broken quantizer
    // that still produced well-formed top-3 rows would fail here.
    val vn = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.VectorOps.l2Norm($"v"))
      .select($"vec_id", transform($"v", x => x / $"nrm").as("vn"))
    val pickDf = pq.toSeq.flatMap { case (q, ns) => ns.map(q -> _) }
      .toDF("q_id", "n_id")
    val meanPicked = pickDf
      .join(vn.select($"vec_id".as("q_id"), $"vn".as("qv")), "q_id")
      .join(vn.select($"vec_id".as("n_id"), $"vn".as("nv")), "n_id")
      .select((lit(2.0) - lit(2.0) * Similarity.dot($"qv", $"nv")).as("d2"))
      .agg(avg($"d2")).head.getDouble(0)
    assert(meanPicked < 1.7, s"mean exact d2 of PQ picks = $meanPicked (corpus mean ≈ 2)")
  }

  test("s16 binary top-k: signature correctness, recall floor, rerank monotonicity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // packed sign signature == per-coordinate reference, every vector
    val sig = expr("aggregate(sequence(0, 63), 0L, " +
      "(acc, i) -> acc | CASE WHEN element_at(v, i + 1) >= 0D " +
      "THEN shiftleft(1L, i) ELSE 0L END)")
    val rows = Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id", $"v", sig.as("sig")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val expect = v.zipWithIndex.foldLeft(0L) { case (acc, (x, i)) =>
        if (x >= 0) acc | (1L << i) else acc }
      assert(r.getLong(2) === expect, s"sig mismatch for vec ${r.getLong(0)}")
    }
    // recall@3 vs exact s01 at the registered rerank (R = 150; 64-bit
    // signatures are coarse — measured 0.75@R=50, 0.97@R=150)
    val exact = topk(Similarity.s01CosineTopK(spark, sf001))
    val got = topk(Similarity.s16BinaryTopK(spark, sf001))
    got.values.foreach(ns => assert(ns.size === 3))
    val recalls = exact.map { case (q, en) =>
      val found = got.getOrElse(q, Nil).toSet
      en.count(found.contains).toDouble / en.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@3 = $mean")
    // a full-corpus rerank degenerates to exact: recall exactly 1
    import graft.operators.Similarity.binaryHammingTopK
    val c = Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val all = topk(binaryHammingTopK(c, $"vec_id" < 20, 1000000, 3))
    assert(all === exact, "rerank=∞ must reproduce the exact ranking")
  }

  test("s16 pre-rank over a persisted signature column prunes the float vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // materialize the production corpus shape: floats AND signature in
    // one parquet — pre-rank must scan only (vec_id, sig)
    val dir = java.nio.file.Files.createTempDirectory("s16-sidecar").toString
    Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("sig", Similarity.signatureCol)
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val qsigs = corpus.filter($"vec_id" < 5).select($"vec_id".as("q_id"), $"sig".as("qsig"))
    val pre = Similarity.hammingPreRank(corpus.select($"vec_id", $"sig"), qsigs, 10)
    val plan = pre.queryExecution.executedPlan.toString
    val reads = "ReadSchema: ([^\\n]*)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads.nonEmpty)
    reads.foreach(rs => assert(!rs.contains("v:"),
      s"pre-rank scan reads the float column: $rs"))
    assert(pre.groupBy($"q_id").count().collect().forall(_.getLong(1) === 10))
  }

  test("s14 int8_quantize round-trips against quant_stats; quantized top-k tracks exact s01") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // codes vs planning stats, element for element: same scale
    // convention, same floor(x+0.5) rounding — the ADVICE-flagged
    // agreement, now pinned (both execution paths route through the one
    // static kernel, so this also covers codegen==interpreted)
    val rows = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id", $"v",
        graft.functions.VectorOps.int8Quantize($"v").as("qv"),
        graft.functions.VectorOps.quantStats($"v").as("st"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](1); val qv = r.getSeq[Double](2)
      val st = r.getStruct(3)
      val (scale, qmin, qmax, maxerr) =
        (st.getDouble(0), st.getInt(1), st.getInt(2), st.getDouble(3))
      assert(qv.size === v.size)
      assert(qv.forall(q => q >= -127 && q <= 127 && q == math.floor(q)))
      assert(qv.min.toInt === qmin && qv.max.toInt === qmax)
      // reconstruction error: identical arithmetic order ⇒ exact match
      assert(v.zip(qv).map { case (x, q) => math.abs(x - q * scale) }.max === maxerr)
      // DataFrame (codegen) result == direct interpreted kernel call
      val direct = graft.functions.Int8Quantize.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray))
      assert(qv === direct.toDoubleArray().toSeq)
    }
    // retrieval accuracy: int8 codes quantize each coordinate to ~1/254
    // of the vector's range, so the quantized ranking should nearly
    // reproduce the exact one — far tighter than the PQ floors
    val exact = topk(Similarity.s01CosineTopK(spark, sf0001))
    val got = topk(Similarity.s14Int8TopK(spark, sf0001))
    val recalls = exact.map { case (q, en) =>
      val found = got.getOrElse(q, Nil).toSet
      en.count(found.contains).toDouble / en.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@3 of int8 ranking = $mean")
  }

  test("s12 PQ on a CLUSTERED corpus: the regime PQ is built for") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // same fixture as the s10 clustered test: 8 well-separated centroid
    // directions in 16-dim, 25 members each. With dsub=4 → M=4
    // subspaces of 4 dims, each containing at most two of the eight
    // active coordinate pairs — measured recall@3 = 0.98 (PqProbe)
    val dim = 16; val groups = 8; val perGroup = 25
    val rows = for { g <- 0 until groups; i <- 0 until perGroup } yield {
      val v = Array.tabulate(dim) { j =>
        val base = if (j == 2 * g || j == 2 * g + 1) 1.0 else 0.0
        base + (((i * 31 + j * 17) % 7) - 3) * 0.03
      }
      (g.toLong + groups.toLong * i, v)
    }
    val vecs = rows.toDF("vec_id", "v")
    val vn = vecs.withColumn("nrm", graft.functions.VectorOps.l2Norm($"v"))
      .select($"vec_id", transform($"v", x => x / $"nrm").as("vn"))
    val w = Window.partitionBy($"q_id").orderBy($"d2".asc, $"n_id".asc)
    val exact = vn.crossJoin(vn.select($"vec_id".as("q_id"), $"vn".as("qv")))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (lit(2.0) - lit(2.0) * Similarity.dot($"vn", $"qv")).as("d2"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"q_id", $"n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val sv = Similarity.pqSubvectors(vecs, 4)
    val books = Similarity.pqCodebooks(sv, 16, 3)
    val dtab = sv.select($"vec_id".as("q_id"), $"sub", $"sv".as("qsv"))
      .join(broadcast(books), Seq("sub"))
      .select($"q_id", $"sub", $"cid",
        round(Similarity.dot($"qsv", $"qsv") - lit(2.0) * Similarity.dot($"qsv", $"cv") +
          Similarity.dot($"cv", $"cv"), 6).as("d2q"))
    val wa = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
    val got = Similarity.pqCodes(sv, books)
      .select($"vec_id".as("n_id"), posexplode($"codes")).toDF("n_id", "sub", "cid")
      .join(dtab, Seq("sub", "cid"))
      .filter($"n_id" =!= $"q_id")
      .groupBy($"q_id", $"n_id").agg(graft.Det.dsum($"d2q").as("adc"))
      .withColumn("rk", row_number().over(wa)).filter($"rk" <= 3)
      .select($"q_id", $"n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val recalls = exact.keys.toSeq
      .map(q => (exact(q) & got.getOrElse(q, Set.empty)).size / 3.0)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"clustered recall@3 = $mean")
  }

  test("s13 IVFADC: shape, probed-bucket containment, retrain determinism") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val out = Similarity.s13IvfAdcTopK(spark, sf0001)
      .select($"q_id", $"n_id", $"rank", $"adc_r").collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size === 20)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq === Seq(1, 2, 3))
      rows.foreach(r => assert(r.getLong(1) !== q))
    }
    // the IVF half of the contract: every returned neighbor must live
    // in one of its query's nprobe=2 probed coarse buckets — s13 never
    // scores (never even reads) a vector outside them
    val c = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val vq64 = Similarity.pqSubvectors(c, 64)
    val coarse = Similarity.trainedPqCodebooks(spark, sf0001, 64, 5, 2)
    val clusterOf = Similarity.coarseResiduals(vq64, coarse)
      .select($"vec_id", $"cluster_id").as[(Long, Int)].collect().toMap
    val wp = Window.partitionBy($"q_id").orderBy($"d2".asc, $"cid".asc)
    val probesOf = vq64.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"sub", $"sv".as("qsv"))
      .join(broadcast(coarse), Seq("sub"))
      .select($"q_id", $"cid", Similarity.d2($"qsv", $"cv").as("d2"))
      .withColumn("c_rank", row_number().over(wp)).filter($"c_rank" <= 2)
      .select($"q_id", $"cid").as[(Long, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    out.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(1))
      assert(probesOf(q).contains(clusterOf(n)),
        s"neighbor $n of query $q is outside the probed buckets")
    }
    // both model caches cleared → full retrain reproduces bit-identical
    // results (what the golden snapshot rests on)
    Similarity.clearPqCache()
    Similarity.clearIvfAdcCache()
    val again = Similarity.s13IvfAdcTopK(spark, sf0001)
      .select($"q_id", $"n_id", $"rank", $"adc_r").collect()
    assert(out.map(_.toSeq).toSet === again.map(_.toSeq).toSet)
  }

  test("s13 IVFADC on a CLUSTERED corpus: coarse buckets + residual PQ recover exact ranking") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // the s10/s12 clustered fixture: 8 separated groups in 16-dim.
    // Coarse K=8 (M=1 over the full vector) should rediscover the
    // groups; residual PQ (dsub=4 → M=4, K=16) then ranks WITHIN them.
    val dim = 16; val groups = 8; val perGroup = 25
    val rows = for { g <- 0 until groups; i <- 0 until perGroup } yield {
      val v = Array.tabulate(dim) { j =>
        val base = if (j == 2 * g || j == 2 * g + 1) 1.0 else 0.0
        base + (((i * 31 + j * 17) % 7) - 3) * 0.03
      }
      (g.toLong + groups.toLong * i, v)
    }
    val vecs = rows.toDF("vec_id", "v")
    val vn = vecs.withColumn("nrm", graft.functions.VectorOps.l2Norm($"v"))
      .select($"vec_id", transform($"v", x => x / $"nrm").as("vn"))
    val w = Window.partitionBy($"q_id").orderBy($"d2".asc, $"n_id".asc)
    val exact = vn.crossJoin(vn.select($"vec_id".as("q_id"), $"vn".as("qv")))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (lit(2.0) - lit(2.0) * Similarity.dot($"vn", $"qv")).as("d2"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"q_id", $"n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val vq16 = Similarity.pqSubvectors(vecs, 16)
    val coarse = Similarity.pqCodebooks(vq16, 8, 3)
    val assigned = Similarity.coarseResiduals(vq16, coarse)
    val rsv = assigned.select($"vec_id", posexplode(Similarity.subSplit($"r", 4)))
      .toDF("vec_id", "sub", "sv")
    val books = Similarity.pqCodebooks(rsv, 16, 3)
    val codes = Similarity.pqCodes(rsv, books)
      .join(assigned.select($"vec_id", $"cluster_id"), "vec_id")
    val wp = Window.partitionBy($"q_id").orderBy($"d2".asc, $"cid".asc)
    val probes = vq16.select($"vec_id".as("q_id"), $"sub", $"sv".as("qsv"))
      .join(broadcast(coarse), Seq("sub"))
      .select($"q_id", $"cid", $"qsv", $"cv", Similarity.d2($"qsv", $"cv").as("d2"))
      .withColumn("c_rank", row_number().over(wp)).filter($"c_rank" <= 2)
      .select($"q_id", $"cid".as("cluster_id"),
        zip_with($"qsv", $"cv", (x, c) => round(x - c, 6)).as("qr"))
    val dtab = probes
      .select($"q_id", $"cluster_id", posexplode(Similarity.subSplit($"qr", 4)))
      .toDF("q_id", "cluster_id", "sub", "qsv")
      .join(broadcast(books), Seq("sub"))
      .select($"q_id", $"cluster_id", $"sub", $"cid",
        round(Similarity.d2($"qsv", $"cv"), 6).as("d2q"))
    val wa = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
    val got = codes
      .select($"vec_id".as("n_id"), $"cluster_id", posexplode($"codes"))
      .toDF("n_id", "cluster_id", "sub", "cid")
      .join(broadcast(dtab), Seq("cluster_id", "sub", "cid"))
      .filter($"n_id" =!= $"q_id")
      .groupBy($"q_id", $"n_id").agg(graft.Det.dsum($"d2q").as("adc"))
      .withColumn("rk", row_number().over(wa)).filter($"rk" <= 3)
      .select($"q_id", $"n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val recalls = exact.keys.toSeq
      .map(q => (exact(q) & got.getOrElse(q, Set.empty)).size / 3.0)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"clustered IVFADC recall@3 = $mean")
  }

  test("s15 MMR: 5 distinct picks per query from the top-20 pool, rank-1 = argmax rel, scores non-increasing") {
    import spark.implicits._
    val got = Similarity.s15MmrTopK(spark, sf001)
      .as[(Long, Int, Long, Double)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.size === 20)
    val exact = topk(Similarity.s01CosineTopK(spark, sf001))
    byQ.foreach { case (q, rows) =>
      val ordered = rows.sortBy(_._2)
      assert(ordered.map(_._2).toSeq === (1 to 5), s"q=$q ranks")
      assert(ordered.map(_._3).distinct.length === 5, s"q=$q repeated pick")
      // the first MMR pick has no redundancy penalty: it must be the
      // plain most-relevant neighbor (s01's rank 1)
      assert(ordered.head._3 === exact(q).head, s"q=$q rank-1")
      // greedy max over a shrinking pool with growing penalties: from
      // rank 2 on, the achieved score can never increase (each
      // candidate's max-sim only grows, the pool only shrinks). Rank
      // 1→2 is exempt: rank 1 has no redundancy term, and an
      // ANTI-similar rank-2 candidate's negative max-sim is a bonus
      // that can top it (observed on the fixture: q=6).
      ordered.drop(1).sliding(2).foreach { case Array(a, b) =>
        assert(b._4 <= a._4 + 1e-9, s"q=$q score rose ${a._4} -> ${b._4}")
      }
    }
    // determinism
    val again = Similarity.s15MmrTopK(spark, sf001)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.toSet === again.toSet)
  }

  test("s15 MMR: redundancy penalty demotes a near-duplicate that plain relevance would keep") {
    import spark.implicits._
    // planted pool: a and a' are identical vectors (sim 1) with the two
    // best rels; b is slightly less relevant but orthogonal-ish. Plain
    // top-2 by relevance = {a, a'}; MMR must pick b second because a'
    // pays the full 0.3·sim(a,a') = 0.3 penalty.
    val va = Seq(0.95, 0.31225, 0.0)
    val vb = Seq(0.9, 0.0, 0.43589)
    val cands = Seq(
      (1L, 10L, 0.95, va, 1.0),   // a
      (1L, 11L, 0.9499, va, 1.0), // a' (same vector as a)
      (1L, 12L, 0.9, vb, 1.0)     // b: sim(a,b) = 0.855
    ).toDF("q_id", "n_id", "rel", "v", "nrm")
    val picks = Similarity.mmrRerank(cands, 3, 0.7, 0.3)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(picks.map(_._3).toSeq === Seq(10L, 12L, 11L),
      s"expected a, b, a' — got ${picks.toSeq}")
    // and the scores are the hand arithmetic: 0.7·0.95; 0.7·0.9 − 0.3·0.855
    assert(math.abs(picks(0)._4 - 0.665) < 1e-6)
    assert(math.abs(picks(1)._4 - (0.63 - 0.3 * 0.855)) < 1e-6)
    assert(math.abs(picks(2)._4 - (0.7 * 0.9499 - 0.3)) < 1e-6)
  }

  test("s20 matryoshka audit: full-dim row is exact, truncation loses (never gains) fidelity") {
    import spark.implicits._
    val rows = Similarity.s20MatryoshkaAudit(spark, sf001)
      .as[(Long, Int, Long, Long)].collect()
    assert(rows.length === 80, "20 queries x 4 truncations")
    // m = 64 IS the full ranking: overlap must be exactly k for every
    // query, and its top1 must equal s01's rank-1 neighbor
    val at64 = rows.filter(_._2 == 64)
    assert(at64.forall(_._4 === 3L), "full-dim overlap must be 3")
    val s01Top1 = Similarity.s01CosineTopK(spark, sf001)
      .filter($"rank" === 1).select($"q_id", $"n_id")
      .as[(Long, Long)].collect().toMap
    at64.foreach { case (q, _, t1, _) => assert(t1 === s01Top1(q)) }
    // fidelity is measured, not assumed: on these non-MRL fixture
    // embeddings the mean overlap at m=8 must sit strictly below full —
    // the audit exists to catch exactly this before a layout commits
    val mean8 = rows.filter(_._2 == 8).map(_._4).sum / 20.0
    assert(mean8 < 3.0, s"m=8 mean overlap $mean8 should lose fidelity here")
    assert(rows.forall(r => r._4 >= 0L && r._4 <= 3L))
  }

  test("s19 bench decontamination: planted paraphrase flagged, argmax + tie-break exact") {
    import spark.implicits._
    // planted bench: two orthogonal unit vectors. Corpus: c100 is a
    // scaled copy of bench 0 (cosine 1 — the "paraphrase" that n-gram
    // decontamination misses but embedding space catches), c101 sits at
    // 45° to BOTH bench vectors (exact tie → smallest bench id must
    // win), c102 is near-orthogonal to both (clean).
    val bench = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0))).toDF("vec_id", "v")
    val r = math.sqrt(0.5)
    val corpus = Seq(
      (100L, Seq(2.5, 0.0, 0.0)),      // scaled copy of bench 0
      (101L, Seq(r, r, 0.0)),          // equidistant: cos = r to both
      (102L, Seq(0.01, 0.0, 1.0))      // clean
    ).toDF("vec_id", "v")
    val got = Similarity.benchDecontaminationAudit(corpus, bench, tau = 0.45)
      .as[(Long, Long, Double, Boolean)].collect().map(x => x._1 -> x).toMap
    assert(got(100L) === ((100L, 0L, 1.0, true)), s"got ${got(100L)}")
    // exact cosine tie at √0.5 — the kernel's strict-> scan order must
    // resolve to bench 0, matching ORDER BY cosine DESC, bench_id ASC
    assert(got(101L)._2 === 0L && got(101L)._4 === true)
    assert(math.abs(got(101L)._3 - r) < 1e-6)
    assert(got(102L)._4 === false)
    // dimension mismatch fails loudly (the DotProduct contract)
    val bad = Seq((200L, Seq(1.0, 0.0))).toDF("vec_id", "v")
    intercept[IllegalArgumentException] {
      Similarity.benchDecontaminationAudit(bad, bench, tau = 0.45).collect()
    }
    // zero-norm vectors have no cosine and the engines would silently
    // diverge on them (JVM NaN vs DuckDB NULL) — both sides fail loudly
    val zero = Seq((300L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "v")
    intercept[IllegalArgumentException] {
      Similarity.benchDecontaminationAudit(zero, bench, tau = 0.45).collect()
    }
    intercept[IllegalArgumentException] {
      Similarity.benchDecontaminationAudit(corpus, zero, tau = 0.45).collect()
    }
  }

  test("s22 ivf recall audit: monotone in nprobe, exhaustive row exactly reproduces s01") {
    import spark.implicits._
    val rows = Similarity.s22IvfRecallAudit(spark, sf001)
      .as[(Long, Int, Long, Double)].collect()
    assert(rows.length === 80, "20 queries x 4 probe depths")
    assert(rows.forall(r => r._3 >= 0L && r._3 <= 3L))
    // recall is monotone in nprobe per query: the candidate set only
    // grows, and under the shared total order (cosine DESC, id ASC) a
    // global-top-3 member can never be displaced by a non-member
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byNp = rs.sortBy(_._2).map(_._3)
      assert(byNp.zip(byNp.tail).forall { case (a, b) => a <= b },
        s"recall not monotone for query $q: ${byNp.toSeq}")
    }
    // nprobe = k = 5 probes every bucket — the audit's calibration
    // anchor: the exhaustive row must reproduce the exact ranking
    assert(rows.filter(_._2 == 5).forall(_._3 === 3L),
      "exhaustive probe must have recall 1")
    // and the audit is load-bearing on this corpus: unclustered
    // gaussians pay for shallow probes (mean recall strictly below 1
    // at nprobe=1 — the table measuring which corpus you have)
    val mean1 = rows.filter(_._2 == 1).map(_._3).sum / 20.0
    assert(mean1 < 3.0, s"nprobe=1 mean hits $mean1 should lose recall here")
  }

  test("s21 probed decontamination: one-sided vs s19 — flag subset, exact witnesses, recall floor") {
    import spark.implicits._
    val exact = Similarity.s19BenchDecontamination(spark, sf001)
      .as[(Long, Option[Long], Option[Double], Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val probed = Similarity.s21ProbedDecontamination(spark, sf001)
      .as[(Long, Option[Long], Option[Double], Boolean)].collect()
    // one audit row per corpus vector — the left join drops nothing
    assert(probed.length === exact.size,
      s"${probed.length} probed rows vs ${exact.size} exact")
    probed.foreach { case (id, _, cos, flag) =>
      val e = exact(id)
      if (flag) {
        // precision 1: a probed flag always carries a true witness —
        // the cosine is exact, only the candidate SET is approximate,
        // so the exact audit must flag too (one-sided error)
        assert(e._4, s"s21 flagged $id but the exact audit did not")
        assert(cos.get >= 0.45 - 1e-6)
        // and the probed witness can never beat the global argmax
        // (round(x,6) is monotone, so ≤ survives the 6dp quantization)
        assert(cos.get <= e._3.get + 1e-9,
          s"probed witness ${cos.get} > exact max ${e._3.get} for $id")
      }
    }
    // recall floor on the fixture: contamination is only MISSED when
    // every ≥ τ witness lives outside the probed buckets
    val exactFlags = exact.values.count(_._4)
    val probedFlags = probed.count(_._4)
    assert(exactFlags > 0, "fixture must contain ≥ τ mass for the floor to bind")
    val recall = probedFlags.toDouble / exactFlags
    assert(recall >= 0.9, s"fixture recall $recall ($probedFlags/$exactFlags) below floor")
  }

  test("s23 semdedup: within-cluster component collapses to min rep, singletons keep") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("s23-emb").toString
    // seeds 0..7 = orthogonal unit basis vectors (they are the seed
    // centroids AND corpus members); 8 and 9 lean on basis 0 hard
    // enough that cluster-0 cosines clear tau = 0.45 -> component
    // {0, 8, 9} keeps only 0; every other vector is a singleton
    val rows = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f), 0)
    } ++ Seq(
      (8L, Array.tabulate(8)(j => if (j == 0) 0.9f else if (j == 1) 0.1f else 0.0f), 0),
      (9L, Array.tabulate(8)(j => if (j == 0) 0.8f else if (j == 1) 0.2f else 0.0f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val got = operators.Similarity.s23SemDedup(spark, dir)
        .select($"vec_id", $"rep_id", $"keep")
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      assert(got.length === 10)
      assert(got(8) === ((8L, 0L, false)) && got(9) === ((9L, 0L, false)))
      assert(got(0) === ((0L, 0L, true)))
      (1 to 7).foreach(i => assert(got(i) === ((i.toLong, i.toLong, true))))
    } finally graft.BenchUtil.rmTree(dir)
  }

  test("s24 range search: returns exactly the pairs over the radius, both directions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("s24-emb").toString
    Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val got = operators.Similarity.s24RangeSearch(spark, dir)
        .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
      // cos(0,1) = 0.9937 >= 0.3; cos(0,2) = 0; cos(1,2) = 0.11 < 0.3;
      // every id here is < 20, so both directions of (0,1) appear
      assert(got === Set((0L, 1L), (1L, 0L)))
    } finally graft.BenchUtil.rmTree(dir)
  }

  test("s25 filtered top-k: neighbors come only from the query's label class") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("s25-emb").toString
    // queries are vec_id < 20: {0 (label 0), 1 (label 1)}. Query 0's
    // unfiltered nearest is 25 (cosine ~1) but it is label-1 — the
    // filtered top-k must never return it.
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (30L, Array(0.8f, 0.6f, 0.0f), 0),
      (31L, Array(0.0f, 0.0f, 1.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f), 1),
      (25L, Array(0.99f, 0.1f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val got = operators.Similarity.s25FilteredTopK(spark, dir)
        .select($"q_id", $"n_id", $"rank").as[(Long, Long, Int)]
        .collect().toSet
      // q0 (label 0): 30 then 31; q1 (label 1): only 25
      assert(got === Set((0L, 30L, 1), (0L, 31L, 2), (1L, 25L, 1)), got.toString)
    } finally graft.BenchUtil.rmTree(dir)
  }

  test("s27 persisted IVFADC: serve ≡ in-plan s13; append ≡ rebuild at any boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (kc, dsub, kpq, iters, nprobe) = (5, 4, 16, 2, 2)
    val vq64 = Similarity.pqSubvectors(
      Tables.embeddings(spark, sf001)
        .select($"vec_id", $"embedding".cast("array<double>").as("v")), 64)
      .cache()
    try {
      val coarse = Similarity.trainedPqCodebooks(spark, sf001, 64, kc, iters)
      val rsv = Similarity.coarseResidualsForSpec(vq64, coarse)
        .select($"vec_id", posexplode(Similarity.subSplit($"r", dsub)))
        .toDF("vec_id", "sub", "sv")
      val books = Similarity.pqCodebooks(rsv, kpq, iters).cache()
      def serve(dir: String) =
        Similarity.ivfAdcTopKFromIndex(spark, dir,
            vq64.filter($"vec_id" < 20), dsub, nprobe, k = 3)
          .as[(Long, Long, Int, Double)].collect().toSet
      // registered entry (the s13-golden-checked path) vs a direct build
      val viaEntry = Similarity.s27IvfAdcPersisted(spark, sf001)
        .as[(Long, Long, Int, Double)].collect().toSet
      val inPlan = Similarity.s13IvfAdcTopK(spark, sf001)
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(viaEntry === inPlan, "persisted serve diverges from in-plan s13")
      // append ≡ rebuild: split the ENCODING set (quantizers frozen —
      // per-vector independent assignment + total-ordered windows make
      // arrival order invisible)
      val maxId = vq64.agg(max($"vec_id")).head().getLong(0)
      val full = java.nio.file.Files.createTempDirectory("s27-full").toString
      val appended = java.nio.file.Files.createTempDirectory("s27-app").toString
      try {
        Similarity.writeIvfAdcIndex(vq64, coarse, books, dsub, full)
        val boundary = maxId / 2
        Similarity.writeIvfAdcIndex(
          vq64.filter($"vec_id" <= boundary), coarse, books, dsub, appended)
        Similarity.appendToIvfAdcIndex(
          vq64.filter($"vec_id" > boundary), dsub, appended)
        assert(serve(appended) === serve(full),
          "appended IVFADC index diverges from rebuild")
        assert(serve(full) === inPlan)
      } finally { graft.BenchUtil.rmTree(full); graft.BenchUtil.rmTree(appended) }
    } finally { vq64.unpersist(); () }
  }

  test("s28: ADC audit is calibrated — full-recall rows capture full mass, all readings bounded") {
    import spark.implicits._
    val rows = Similarity.s28AdcRecallAudit(spark, sf0001)
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty && rows.length === 20)
    rows.foreach { case (q, h, r, cm) =>
      assert(h >= 0 && h <= 3, s"q=$q hits=$h")
      assert(r >= 0.0 && r <= 1.0 && math.abs(r - h / 3.0) < 1e-6)
      assert(cm >= 0.0 && cm <= 1.000001, s"q=$q captured=$cm")
      // same pick SET implies identical exact-cosine mass
      if (h == 3) assert(cm === 1.0, s"q=$q full recall must capture full mass")
    }
    // the audit must measure a real trade: compression loses SOMETHING
    // somewhere, and keeps most of the mass overall
    assert(rows.exists(_._2 < 3), "fixture shows no quantization loss at all?")
    assert(rows.map(_._4).sum / rows.length > 0.5, "ADC lost most cosine mass")
  }


  test("s30: exact re-rank dominates the compressed ranking on exact-cosine mass") {
    import spark.implicits._
    val refined = Similarity.s30RefinedTopK(spark, sf0001)
      .as[(Long, Long, Int, Double)].collect()
    val adc = Similarity.s13IvfAdcTopK(spark, sf0001)
      .as[(Long, Long, Int, Double)].collect()
    val byQ = refined.groupBy(_._1)
    assert(byQ.nonEmpty && byQ.values.forall(_.map(_._3).sorted.sameElements(Seq(1, 2, 3))),
      "each query serves exactly ranks 1..3")
    // exact ground-truth cosines for arbitrary pairs (fixture-sized)
    val vecs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      val d = x.indices.map(i => x(i) * y(i)).sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    refined.foreach { case (q, n, _, cr) =>
      assert(math.abs(cr - cos(q, n)) < 1e-5,
        s"s30 cosine for ($q,$n) is not the exact score")
    }
    // s13's 3 picks are a subset of s30's depth-10 shortlist (same stack,
    // deeper k), and s30 keeps the exact-top-3 of that shortlist — so per
    // query the refined exact mass must dominate the compressed picks'
    val adcByQ = adc.groupBy(_._1)
    byQ.foreach { case (q, rs) =>
      val refinedMass = rs.map { case (_, n, _, _) => cos(q, n) }.sum
      val adcMass = adcByQ(q).map { case (_, n, _, _) => cos(q, n) }.sum
      assert(refinedMass >= adcMass - 1e-9,
        s"q=$q refine lost exact mass: $refinedMass < $adcMass")
    }
    // and the fixture must show the refine actually changing something
    // (s28 already proves quantization loses picks on this corpus)
    val changed = byQ.exists { case (q, rs) =>
      rs.sortBy(_._3).map(_._2).toSeq !=
        adcByQ(q).sortBy(_._3).map(_._2).toSeq
    }
    assert(changed, "refine never changed any query's picks or order")
  }

  test("s29: persisted filtered serve ≡ in-plan s25 exactly") {
    import spark.implicits._
    val a = Similarity.s29LabeledIndexServe(spark, sf0001)
      .as[(Long, Long, Int, Double)].collect().toSet
    val b = Similarity.s25FilteredTopK(spark, sf0001)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(a === b && a.nonEmpty,
      "labeled-index serve must reproduce s25 bit-identically")
  }

}
