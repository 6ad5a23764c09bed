package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}

import graft.Tables._

/** Tier C4 vector similarity search over ArrayType(FloatType)
  * embeddings: brute-force cosine top-k (the exactness baseline) and an
  * IVF (inverted-file) coarse-quantized variant (the scale path).
  *
  * Scale design (100 TB):
  *  - all vector math is pure Catalyst higher-order functions
  *    (zip_with + aggregate) — codegen'd, no UDF, no driver collect;
  *  - brute force is O(|Q|·|N|): the small query side is broadcast, the
  *    corpus streams, so the cross join never shuffles the corpus;
  *    per-query top-k is a window over rank — fine while |Q| is small;
  *  - IVF: corpus is bucketed by nearest centroid (one pass), queries
  *    probe the nprobe closest centroid buckets only — candidate set
  *    shrinks by ~|centroids|/nprobe; the centroid table is tiny and
  *    broadcast. Recall is data-dependent (verified in ScalaTest, not
  *    SQL-oracled).
  */
object Similarity {

  /** Sequential-order dot product of two double arrays (matches the
    * evaluation order of DuckDB's list aggregates). Native expression —
    * the zip_with/aggregate formulation is CodegenFallback and paid one
    * interpreted lambda call per element (34 s → ~1 s for the sf0.1
    * near-dup join). Same summation order, so results are bit-identical. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dotProduct(a, b)

  def norm(a: Column): Column = graft.functions.VectorOps.l2Norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def corpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    embeddings(s, d).select($"vec_id", $"embedding".cast("array<double>").as("v"), $"label")
  }

  /** [[corpus]] with the opt-in scan fan-out (Tables.fanned scaladoc) —
    * for entries whose probe-assignment kernel (centroid cross-join +
    * per-vector dots) is codegen-fused into a ONE-task scan stage
    * (r19 batch 5: s10 A/B 2.27→1.94 median-of-5 at sf0.1; s07
    * measured FLAT — its kernel runs post-exchange — and stays plain).
    * Artifact-building entries keep the plain scan: their lane writes
    * inherit the fan-out's partition count as a per-lane small-files
    * storm (measured, Tables.fanned scaladoc). */
  private def corpusFanned(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.Tables.fanned(s, d, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"), $"label")
  }

  /** Brute-force cosine top-3 for a fixed query set (vec_id < 20).
    * Norms are precomputed per side; the query side is broadcast. */
  def s01CosineTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    c.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (dot($"v", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  val s01Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), sims AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    list_dot_product(q.v, c.v) /
      |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.v, c.v) /
      |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
      |        c.vec_id ASC) AS rank
      |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 20
      |)
      |SELECT q_id, n_id, rank, ROUND(cosine, 6) AS cosine_r
      |FROM sims WHERE rank <= 3""".stripMargin

  /** All embedding pairs with cosine ≥ 0.45 (embedding-space near-dup
    * detection). Brute force at test scale; the IVF bucketing below is
    * the scale path for the same predicate. */
  def s02EmbeddingNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val a = c.select($"vec_id".as("a_id"), $"v".as("av"), $"nrm".as("an"))
    val b = c.select($"vec_id".as("b_id"), $"v".as("bv"), $"nrm".as("bn"))
    a.join(b, $"a_id" < $"b_id")
      .select($"a_id", $"b_id", (dot($"av", $"bv") / ($"an" * $"bn")).as("cosine"))
      .filter($"cosine" >= 0.45)
      .select($"a_id", $"b_id", round($"cosine", 6).as("cosine_r"))
  }

  val s02Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  ROUND(list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_r
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) /
      |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45""".stripMargin

  /** Exact-threshold near-dup at scale: the blocked (triangle) self-join
    * form of s02's predicate — identical output, scalable plan.
    *
    * Why not LSH here: the threshold is LOW (τ = 0.45 → angle 63°; a
    * random hyperplane separates such a pair with p ≈ 0.35), so any
    * random-hyperplane banding with near-1 recall costs MORE than the
    * n²/2 exact comparisons — LSH only pays above ~0.8 similarity (the
    * s03 IVF / d04 MinHash territory). An exact low-τ join is
    * inherently all-pairs compute; the scale problem to solve is the
    * PLAN: s02's `a_id < b_id` non-equi join is a broadcast nested
    * loop — one side fully broadcast, skew-prone, O(n) per-executor
    * memory. This variant:
    *
    *  - hashes each vector into one of B blocks (uniform by xxhash64);
    *  - materializes the B(B+1)/2 unordered block pairs as a tiny dim
    *    table; each vector is replicated to its ≤ B+1 block-pair tasks
    *    via two broadcast joins (replication factor B+1 ≈ 2·√tasks,
    *    the triangle-join optimum — vs n-fold for the broadcast loop);
    *  - equi-joins the two sides on the block-pair id — a shuffled
    *    hash join with B(B+1)/2 evenly-loaded keys, (n/B)² comparisons
    *    per task, no nested loop, no full-corpus broadcast;
    *  - compares exactly within each task (same dot/norm/round as s02,
    *    so the result hash-matches s02's oracle bit-for-bit).
    *
    * B scales with the cluster: B(B+1)/2 tasks should be ≳ total
    * cores; compute per task is (n/B)²·d multiplies regardless of
    * cluster size — the inherent exact cost, now evenly spread. */
  def s04BlockedNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = 8
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
      .withColumn("g", pmod(xxhash64($"vec_id"), lit(B)).cast("int"))
    val blockPairs = (0 until B).flatMap(i => (i until B).map(j => (i, j, i * B + j)))
      .toDF("gi", "gj", "pair")
    val left = c.join(broadcast(blockPairs), $"g" === $"gi")
      .select($"pair", $"gi", $"gj", $"vec_id".as("a_id"), $"v".as("av"), $"nrm".as("an"))
    val right = c.join(broadcast(blockPairs.select($"gj".as("rgj"), $"pair")), $"g" === $"rgj")
      .select($"pair", $"vec_id".as("b_id"), $"v".as("bv"), $"nrm".as("bn"))
    left.join(right, Seq("pair"))
      // same-block tasks deduplicate by id order; cross-block pairs are
      // already unique (each unordered block pair is one task)
      .filter($"gi" < $"gj" && $"a_id" =!= $"b_id" || $"a_id" < $"b_id")
      .select(least($"a_id", $"b_id").as("a_id"), greatest($"a_id", $"b_id").as("b_id"),
        (dot($"av", $"bv") / ($"an" * $"bn")).as("cosine"))
      .filter($"cosine" >= 0.45)
      .select($"a_id", $"b_id", round($"cosine", 6).as("cosine_r"))
  }

  /** s05: int8 quantization planning stats per embedding — symmetric
    * scale (max|x|/127), quantized range, and max reconstruction error,
    * in one native pass per row ([[graft.functions.QuantStats]]). The
    * numbers that decide whether an embedding column can ship as int8
    * (4× smaller, SIMD-friendlier) instead of float32. Shuffle-free. */
  def s05QuantStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    corpus(s, d)
      .select($"vec_id", graft.functions.VectorOps.quantStats($"v").as("qs"))
      .select($"vec_id", $"qs.scale".as("scale"), $"qs.qmin".as("qmin"),
        $"qs.qmax".as("qmax"), $"qs.max_abs_err".as("max_abs_err"))
  }

  /** Mirrors the Spark expression's scale==0 special case (all-zero
    * vector quantizes to all-zeros) — an unguarded x/scale would
    * diverge to NaN there while the engine reports 0. */
  val s05Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), sc AS (
      |  SELECT vec_id, v,
      |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |  FROM e
      |)
      |SELECT vec_id, scale,
      |  CAST(list_min(list_transform(v,
      |    x -> CASE WHEN scale = 0 THEN 0 ELSE floor(x / scale + 0.5) END)) AS INTEGER) AS qmin,
      |  CAST(list_max(list_transform(v,
      |    x -> CASE WHEN scale = 0 THEN 0 ELSE floor(x / scale + 0.5) END)) AS INTEGER) AS qmax,
      |  list_max(list_transform(v,
      |    x -> abs(x - CASE WHEN scale = 0 THEN 0 ELSE floor(x / scale + 0.5) END * scale))) AS max_abs_err
      |FROM sc""".stripMargin

  /** Element-wise mean of vectors per group key: explode to (key, pos,
    * x), average per slot, reassemble ordered by slot. */
  private def meanVectors(df: DataFrame, key: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(key), posexplode($"v"))
      .toDF(key, "pos", "x")
      .groupBy(col(key), $"pos").agg(avg($"x").as("m"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select(col(key), transform($"pm", p => p.getField("m")).as("cv"))
  }

  /** Learned coarse quantizer: Lloyd's k-means on DataFrames —
    * deterministic hash-seeded init, `iters` assign/update rounds, all
    * shuffle-side (no driver collect). Returns (cluster_id, cv, cn). */
  def kmeansCentroids(c: DataFrame, k: Int, iters: Int): DataFrame = {
    import c.sparkSession.implicits._
    val wq = Window.partitionBy($"vec_id").orderBy($"dist".asc, $"cluster_id".asc)
    // init: k deterministic seeds spread by vec_id hash. orderBy+limit
    // compiles to TakeOrderedAndProject — a parallel per-partition top-k
    // then a k-row merge — unlike row_number over a global Window, which
    // funnels the whole corpus through one partition. Cluster ids come
    // from the ordinal position in the sorted k-row seed list.
    var centroids = c
      .withColumn("r", pmod(xxhash64($"vec_id"), lit(997)))
      .orderBy($"r".asc, $"vec_id".asc)
      .limit(k)
      .agg(array_sort(collect_list(struct($"r", $"vec_id", $"v"))).as("seeds"))
      .select(posexplode($"seeds"))
      .toDF("cluster_id", "seed")
      .select($"cluster_id", $"seed.v".as("cv"))
    for (_ <- 1 to iters) {
      val assigned = c.crossJoin(broadcast(centroids))
        .select($"vec_id", $"v", $"cluster_id",
          (-dot($"v", $"cv") / (norm($"v") * norm($"cv"))).as("dist"))
        .withColumn("rn", row_number().over(wq))
        .filter($"rn" === 1)
        .select($"cluster_id".as("assigned"), $"vec_id", $"v")
      centroids = meanVectors(assigned.withColumnRenamed("assigned", "cluster_id"), "cluster_id")
        .withColumnRenamed("cv", "cv")
    }
    centroids.withColumn("cn", norm($"cv"))
  }

  /** Pre-trained coarse quantizer store: k-means runs once per
    * (corpus, k, iters) and the resulting k centroid vectors — a model
    * artifact of k·dim doubles, NOT data — are cached on the driver and
    * rebuilt as a tiny broadcastable table on demand. This is the
    * production IVF lifecycle (train the quantizer once, serve many
    * queries against it); the learn-inline path stays available as
    * [[kmeansCentroids]]. Training itself remains all shuffle-side;
    * only the finished k rows are collected.
    *
    * Durability: when `spark.graft.centroids.dir` is set, trained
    * centroids are ALSO written to a tiny parquet keyed by
    * (corpus, k, iters), and a fresh driver reloads them from there —
    * "train once, serve many" then survives driver restarts, not just
    * one JVM lifetime. The in-memory TrieMap is a read-through cache
    * in front of the store. */
  private val centroidStore =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Seq[(Int, Seq[Double], Double)]]

  /** Test-visible count of actual k-means trainings (cache+store misses). */
  private[graft] val trainings = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def clearCentroidCache(): Unit = centroidStore.clear()

  /** Store path for one quantizer artifact: corpus dir is key-hashed
    * (paths contain separators), k/iters stay readable. */
  private def storePath(dir: String, d: String, k: Int, iters: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    s"$dir/centroids-$md-k$k-i$iters"
  }

  def trainedCentroids(s: SparkSession, d: String, k: Int, iters: Int): DataFrame = {
    import s.implicits._
    val durableDir = s.conf.getOption("spark.graft.centroids.dir")
    val rows = centroidStore.getOrElseUpdate((d, k, iters), {
      val persisted: Option[Seq[(Int, Seq[Double], Double)]] = durableDir.flatMap { dir =>
        val p = storePath(dir, d, k, iters)
        try {
          if (new java.io.File(p).isDirectory)
            Some(s.read.parquet(p).select($"cluster_id", $"cv", $"cn")
              .collect().toSeq
              .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2))))
          else None
        } catch { case _: Exception => None }
      }
      persisted.getOrElse {
        trainings.incrementAndGet()
        val trained = kmeansCentroids(corpus(s, d).select($"vec_id", $"v"), k, iters)
          .select($"cluster_id", $"cv", $"cn").collect().toSeq
          .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
        durableDir.foreach { dir =>
          trained.toDF("cluster_id", "cv", "cn")
            .coalesce(1) // k rows — one tiny file
            .write.mode("overwrite").parquet(storePath(dir, d, k, iters))
        }
        trained
      }
    })
    rows.toDF("cluster_id", "cv", "cn")
  }

  /** IVF top-k (approximate, the 100 TB path): a k-means-learned coarse
    * quantizer buckets the corpus; each query probes the nprobe=2
    * nearest centroid buckets and ranks exactly within them. The
    * quantizer comes from [[trainedCentroids]] — first use trains it,
    * steady state reuses it, so the per-query cost is the probe search
    * alone. Approximate RECALL, deterministic mechanism (fixed-seed
    * init, exact-arithmetic determinism probed across parallelisms) →
    * golden-snapshot hard check; recall floor asserted in ScalaTest.
    *
    * Recall is data-dependent: on clustered production embeddings IVF
    * recall is high; the synthetic fixture is unclustered gaussian
    * noise (measured intra-label mean cosine 0.0016 vs inter 0.0003),
    * so recall here ≈ the probed corpus fraction — the test asserts the
    * mechanism (exact ranking within probed buckets, determinism) and a
    * floor consistent with that bound. */
  def s03IvfTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // cache: the corpus feeds centroid learning (iterative), bucketing,
    // and the probe search — standard Lloyd's practice, and the table
    // is the embedding corpus, small relative to cluster memory
    val c = corpus(s, d).withColumn("nrm", norm($"v")).cache()
    val centroids = trainedCentroids(s, d, k = 5, iters = 2)
    // bucket the corpus by nearest centroid
    val wc = Window.partitionBy($"vec_id").orderBy($"c_cos".desc, $"cluster_id".asc)
    val bucketed = c.crossJoin(broadcast(centroids))
      .select($"vec_id", $"v", $"nrm", $"cluster_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("c_cos"))
      .withColumn("rn", row_number().over(wc))
      .filter($"rn" === 1)
      .select($"vec_id", $"v", $"nrm", $"cluster_id")
    // assign each query to its nprobe=2 best centroids
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val wq = Window.partitionBy($"q_id").orderBy($"c_cos".desc, $"cluster_id".asc)
    val probes = q.crossJoin(broadcast(centroids))
      .select($"q_id", $"qv", $"qn", $"cluster_id",
        (dot($"qv", $"cv") / ($"qn" * $"cn")).as("c_cos"))
      .withColumn("c_rank", row_number().over(wq))
      .filter($"c_rank" <= 2)
      .select($"q_id", $"qv", $"qn", $"cluster_id".as("probe_cluster"))
    // search only the probed buckets
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    bucketed.join(broadcast(probes),
        $"cluster_id" === $"probe_cluster" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (dot($"v", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  /** s06: incremental embedding near-dup — the vector twin of d11. A
    * pipeline that embeds each new document batch needs the cosine ≥ τ
    * pairs TOUCHING the delta, not corpus×corpus again. Asymmetric
    * blocked join: the corpus is hash-bucketed into B blocks exactly
    * as in s04; each DELTA vector is replicated to all B blocks (the
    * delta is the small side — B-fold replication of |delta| rows vs
    * s04's (B+1)-fold replication of the whole corpus), then one
    * shuffled equi-join on the block id compares (n/B)·|delta| pairs
    * per task. Cost ∝ |delta|·n, evenly spread, no nested loop, no
    * full-corpus broadcast; new-new pairs arise in both directions and
    * collapse in the normalized distinct (dot(a,b) and dot(b,a) sum
    * identical products in identical index order — bit-equal doubles).
    * Exact by construction, so the driver hash-checks it against the
    * full s02 pair set restricted to delta-touching pairs. */
  def deltaEmbeddingNearDup(oldVecs: DataFrame, newVecs: DataFrame,
                            threshold: Double, blocks: Int = 8): DataFrame = {
    val s = oldVecs.sparkSession
    import s.implicits._
    val all = oldVecs.unionByName(newVecs)
      .withColumn("bn", norm($"v"))
      .withColumn("g", pmod(xxhash64($"vec_id"), lit(blocks)).cast("int"))
      .select($"g", $"vec_id".as("b_id"), $"v".as("bv"), $"bn")
    val newRep = newVecs.withColumn("an", norm($"v"))
      .select($"vec_id".as("a_id"), $"v".as("av"), $"an",
        explode(sequence(lit(0), lit(blocks - 1))).as("blk"))
    newRep.join(all, $"blk" === $"g" && $"a_id" =!= $"b_id")
      .select($"a_id", $"b_id", (dot($"av", $"bv") / ($"an" * $"bn")).as("cosine"))
      .filter($"cosine" >= threshold)
      .select(least($"a_id", $"b_id").as("a_id"),
              greatest($"a_id", $"b_id").as("b_id"),
              round($"cosine", 6).as("cosine_r"))
      .distinct()
  }

  /** Driver-checked split: vec_id ≡ 0 (mod 10) plays the new batch. */
  def s06DeltaNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d)
    deltaEmbeddingNearDup(c.filter($"vec_id" % 10 =!= 0),
                          c.filter($"vec_id" % 10 === 0), 0.45)
  }

  val s06Sql: String =
    s"""SELECT * FROM (${s02Sql.replace("\n", "\n  ")})
       |WHERE a_id % 10 = 0 OR b_id % 10 = 0""".stripMargin

  /** s07: exact k-NN graph — the top-k cosine neighbors of EVERY
    * vector, not just a query set. The training-pipeline primitive
    * behind embedding-space dedup clustering, diversity sampling, and
    * graph-based curation; exact, so the driver hash-checks it against
    * the brute-force window oracle.
    *
    * Scale plan — s01's naive form broadcasts the query set and ranks
    * all n−1 candidates per query; done for every vector it would
    * broadcast the whole corpus. This variant reuses s04's blocked
    * triangle self-join (each unordered block pair is one equi-join
    * key; no nested loop, no full-corpus broadcast, (B+1)-fold
    * replication ≈ the 2·√tasks optimum); both orientations of each
    * pair are emitted inside the join task (explode of the two (q,n)
    * structs — narrow, no second join). The rank-≤-k filter then
    * compiles to Spark's two-phase WindowGroupLimit: the PARTIAL pass
    * keeps only k rows per query per map partition BEFORE the shuffle,
    * so the exchange ahead of the final ranking carries ≤ tasks·k rows
    * per query instead of n−1 — map-side combine for top-k, pinned by
    * [[graft.PlanSpec]].
    *
    * Ties break by (cosine DESC, n_id ASC) in both engines on the
    * bit-identical unrounded double. */
  def knnGraph(c: DataFrame, k: Int, blocks: Int = 8): DataFrame = {
    val s = c.sparkSession
    import s.implicits._
    val B = blocks
    val cc = c.withColumn("nrm", norm($"v"))
      .withColumn("g", pmod(xxhash64($"vec_id"), lit(B)).cast("int"))
    val blockPairs = (0 until B).flatMap(i => (i until B).map(j => (i, j, i * B + j)))
      .toDF("gi", "gj", "pair")
    val left = cc.join(broadcast(blockPairs), $"g" === $"gi")
      .select($"pair", $"gi", $"gj", $"vec_id".as("a_id"), $"v".as("av"), $"nrm".as("an"))
    val right = cc.join(broadcast(blockPairs.select($"gj".as("rgj"), $"pair")), $"g" === $"rgj")
      .select($"pair", $"vec_id".as("b_id"), $"v".as("bv"), $"nrm".as("bn"))
    val cands = left.join(right, Seq("pair"))
      // same-block tasks deduplicate by id order; cross-block pairs are
      // already unique (each unordered block pair is one task)
      .filter($"gi" < $"gj" && $"a_id" =!= $"b_id" || $"a_id" < $"b_id")
      .select($"a_id", $"b_id", (dot($"av", $"bv") / ($"an" * $"bn")).as("cosine"))
      .select(explode(array(
        struct($"a_id".as("q_id"), $"b_id".as("n_id"), $"cosine"),
        struct($"b_id".as("q_id"), $"a_id".as("n_id"), $"cosine"))).as("e"))
      .select($"e.q_id", $"e.n_id", $"e.cosine")
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    cands
      .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  def s07KnnGraph(s: SparkSession, d: String): DataFrame =
    // corpus fan-out measured FLAT here (A/B 2.37 vs 2.34 at sf0.1):
    // the dot kernel runs after the block-pair exchange, already
    // parallel — left plain
    knnGraph(corpus(s, d).select(col("vec_id"), col("v")), 3)

  val s07Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), sims AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    list_dot_product(q.v, c.v) /
      |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.v, c.v) /
      |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
      |        c.vec_id ASC) AS rank
      |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
      |)
      |SELECT q_id, n_id, rank, ROUND(cosine, 6) AS cosine_r
      |FROM sims WHERE rank <= 3""".stripMargin

  /** s08: IVF-bucketed near-dup pairs — the ANN (SemDeDup-style)
    * alternative to s04's exact blocked join for EMBEDDING-space
    * deduplication. Every vector is assigned to its `nprobe` nearest
    * coarse-quantizer centroids; candidate pairs are those sharing at
    * least one assigned cluster (an EQUI-join on cluster_id — shuffled
    * hash join, no nested loop, no corpus broadcast); candidates are
    * verified with the exact cosine, so precision is 1 by construction
    * and the approximation is recall-only (a true pair whose endpoints
    * share no probed cluster is missed).
    *
    * Scale: at 100 TB the quadratic term is confined to within-bucket
    * comparisons — k is chosen so n/k vectors fit a task's compare
    * budget (k ∝ corpus size / target bucket), and the multi-probe
    * replication is nprobe-fold, not B-fold as in s04. This beats the
    * exact triangle join exactly when the corpus is CLUSTERED so that
    * near-dup pairs co-locate (real embedding corpora; SemDeDup runs
    * k-means with large k for this reason). On the synthetic gaussian
    * fixture clustering is absent by construction (see [[s03IvfTopK]]'s
    * recall note), measured here as recall 12/14 at sf0.01 and 106/144
    * at sf0.1 with a 2.2× candidate cut — the SPEC pins those floors.
    *
    * Pass [[trainedCentroids]] for the production k-means quantizer.
    * The s08 query entry instead uses [[seedCentroids]] — the first k
    * corpus vectors — because that quantizer is deterministic AND
    * SQL-expressible, so the ENTIRE approximate operator (probe
    * ranking, candidate join, verification) hash-matches a DuckDB
    * oracle replicating it: the correctness gate then checks the real
    * mechanism, not a rows-only count, which no k-means-seeded ANN
    * variant could offer. */
  def ivfNearDupPairs(vecs: DataFrame, centroids: DataFrame,
                      threshold: Double, nprobe: Int = 2,
                      maxBucket: Long = 0L): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val probes = probeAssignments(vecs, centroids, nprobe, maxBucket)
    // a pair sharing BOTH probed clusters arrives twice with bit-equal
    // cosines (same dot, same index order) — distinct collapses them
    probes.as("a").join(probes.as("b"),
        $"a.cluster_id" === $"b.cluster_id" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("a_id"), $"b.vec_id".as("b_id"),
        (dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm")).as("cosine"))
      .filter($"cosine" >= threshold)
      .select($"a_id", $"b_id", round($"cosine", 6).as("cosine_r"))
      .distinct()
  }

  /** The shared candidate-generation front end of the IVF family (s08
    * pairs, s10 graph): each vector's `nprobe` nearest-centroid
    * assignments — (vec_id, v, nrm, cluster_id), one row per probed
    * cluster, ties broken by cluster_id for determinism — with the
    * optional hot-bucket cap.
    *
    * The cap is d04's lesson applied to vectors: a degenerate bucket
    * (mass-duplicated embeddings, a centroid that swallowed a dense
    * region) makes the within-bucket join quadratic in ONE key.
    * maxBucket > 0 drops oversized buckets from candidate generation —
    * byte-exact duplicates belong to an m05-style hash pre-pass, and a
    * persistent hot bucket means k is too small for the corpus.
    * 0 = uncapped (the oracle-matched s08/s10 entries, where the
    * corpus is bounded). */
  private def probeAssignments(vecs: DataFrame, centroids: DataFrame,
                               nprobe: Int, maxBucket: Long): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val c = vecs.withColumn("nrm", norm($"v"))
    val wp = Window.partitionBy($"vec_id").orderBy($"c_cos".desc, $"cluster_id".asc)
    val assigned = c.crossJoin(broadcast(centroids))
      .select($"vec_id", $"v", $"nrm", $"cluster_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("c_cos"))
      .withColumn("rn", row_number().over(wp))
      .filter($"rn" <= nprobe)
      .select($"vec_id", $"v", $"nrm", $"cluster_id")
    if (maxBucket <= 0L) assigned
    else assigned
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy($"cluster_id")))
      .filter($"bucket_n" <= maxBucket)
      .drop("bucket_n")
  }

  /** The deterministic seed quantizer (first k corpus vectors as
    * centroids) — the SQL-replicable stand-in for k-means that lets
    * the s08 gate hash-match; see [[ivfNearDupPairs]]. */
  def seedCentroids(vecs: DataFrame, k: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.filter($"vec_id" < k)
      .select($"vec_id".as("cluster_id"), $"v".as("cv"), norm($"v").as("cn"))
  }

  def s08IvfNearDup(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    ivfNearDupPairs(c, seedCentroids(c, 8), 0.45, nprobe = 2)
  }

  val s08Sql: String =
    """WITH en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |), cen AS (
      |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM en WHERE vec_id < 8
      |), probes AS (
      |  SELECT vec_id, v, nrm, cid FROM (
      |    SELECT en.vec_id, en.v, en.nrm, cen.cid,
      |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
      |        ORDER BY list_dot_product(en.v, cen.cv) / (en.nrm * cen.cn) DESC,
      |                 cen.cid ASC) AS rn
      |    FROM en CROSS JOIN cen
      |  ) WHERE rn <= 2
      |)
      |SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
      |  ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_r
      |FROM probes a JOIN probes b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45""".stripMargin

  /** s10: IVF-approximate k-NN graph — s07's exact graph at near-linear
    * cost: each vector ranks only its CO-BUCKET candidates (nprobe
    * nearest coarse-quantizer clusters, same assignment as [[
    * ivfNearDupPairs]]) instead of the whole corpus. Approximation is
    * recall-only and one-sided: every emitted neighbor is a true
    * candidate with its exact cosine, ranks are exact within the
    * candidate set, but a true top-k neighbor sharing no probed
    * cluster is missed (and a vector whose probed buckets are
    * otherwise empty emits no rows).
    *
    * Scale: the candidate join is the same equi-join on cluster_id as
    * s08 — within-bucket quadratic bounded by k ∝ n/target-bucket and
    * `maxBucket` — and the per-query top-k is a window that Spark
    * executes with WindowGroupLimit partial pruning. s07's exact
    * triangle join does n²/2 comparisons regardless of data; at 10×
    * rows that is 100× compares vs ~10× here (see SCALE.md's measured
    * scale-up for the same contrast on s04 vs s08).
    *
    * Same oracle trick as s08: the shipped entry uses the
    * deterministic, SQL-expressible seed quantizer, so the WHOLE
    * mechanism (probe ranking, candidate join, exact ranking)
    * hash-matches DuckDB; the production k-means quantizer swaps in
    * via [[trainedCentroids]]. */
  def s10IvfKnn(s: SparkSession, d: String): DataFrame = {
    val c = corpusFanned(s, d)
    ivfKnnGraph(c, seedCentroids(c, 8), 3, nprobe = 2)
  }

  /** The bucketed k-NN graph over any (vec_id, v) frame — see
    * [[s10IvfKnn]]. */
  def ivfKnnGraph(vecs: DataFrame, centroids: DataFrame, k: Int,
                  nprobe: Int = 2, maxBucket: Long = 0L): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val probes = probeAssignments(vecs, centroids, nprobe, maxBucket)
    // each unordered candidate pair is scored ONCE (vec_id <) and then
    // mirrored: the index-ordered dot product is bitwise symmetric, so
    // this halves the join volume and the kernel work vs scoring both
    // directions. Multi-probe duplicates (a pair sharing both probed
    // clusters) carry bit-equal cosines — distinct collapses them
    // before the mirror.
    val half = probes.as("a").join(probes.as("b"),
        $"a.cluster_id" === $"b.cluster_id" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("q_id"), $"b.vec_id".as("n_id"),
        (dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm")).as("cosine"))
      .distinct()
    // mirror by self-union: the two branches share the distinct's
    // exchange (ReuseExchange — the candidate join runs once), and each
    // branch gets its own partial WindowGroupLimit before the ranking
    // shuffle. The single-pass alternative (explode over a 2-struct
    // array) avoids the reuse dependency but measured ~50% SLOWER here
    // (3.7 s vs 2.5 s median at sf0.1): per-row array+struct allocation
    // in Generate costs more than re-reading a reused shuffle.
    val cands = half.unionByName(
      half.select($"n_id".as("q_id"), $"q_id".as("n_id"), $"cosine"))
    val wr = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    cands.withColumn("rank", row_number().over(wr))
      .filter($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  val s10Sql: String =
    """WITH en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |), cen AS (
      |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM en WHERE vec_id < 8
      |), probes AS (
      |  SELECT vec_id, v, nrm, cid FROM (
      |    SELECT en.vec_id, en.v, en.nrm, cen.cid,
      |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
      |        ORDER BY list_dot_product(en.v, cen.cv) / (en.nrm * cen.cn) DESC,
      |                 cen.cid ASC) AS rn
      |    FROM en CROSS JOIN cen
      |  ) WHERE rn <= 2
      |), cands AS (
      |  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id,
      |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
      |  FROM probes a JOIN probes b ON a.cid = b.cid AND a.vec_id <> b.vec_id
      |)
      |SELECT q_id, n_id, rank, ROUND(cosine, 6) AS cosine_r
      |FROM (
      |  SELECT q_id, n_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY cosine DESC, n_id ASC) AS rank
      |  FROM cands
      |) WHERE rank <= 3""".stripMargin

  /** s09: per-label embedding cohesion AND separation — the
    * clustering/labeling diagnostic a curation pass reads before
    * trusting labels or cluster assignments: for each label, the MEAN
    * PAIRWISE COSINE of its (normalized) members (cohesion), the
    * centroid norm (1 = all members identical, → 0 = isotropic
    * spread), and the cosine between the label's centroid and the
    * centroid of EVERYTHING ELSE (separation — near 0 ⇒ the label
    * occupies its own direction, near 1 ⇒ indistinguishable from the
    * rest).
    *
    * The point is the algebra: Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖u‖², and the
    * rest-centroid is just (Σ_all u − Σ_label u) — so statistics that
    * are quadratic in pairs are computed in ONE linear pass: two
    * narrow aggregates (label×dim, then label), no pair join, no
    * corpus² term anywhere. At 100 TB this is the difference between
    * a diagnostic you run per ingest batch and one you can't run at
    * all; s02/s04's pair joins answer per-PAIR questions, this
    * answers the per-GROUP ones at aggregate cost.
    *
    * Determinism contract: members are normalized in double (IEEE
    * division), QUANTIZED to DECIMAL(9,6), and every sum/square after
    * that is exact decimal arithmetic — the result is bit-identical at
    * any parallelism and any aggregation order, and the oracle
    * replicates it digit for digit. (A double Σu is partition-order-
    * dependent; the quantization is what makes a float statistic
    * hash-checkable — same move as [[graft.Det]].) */
  def s09LabelCohesion(s: SparkSession, d: String): DataFrame =
    labelCohesion(corpus(s, d))

  /** Frame-taking form of s09: `vecs` must carry (vec_id, label,
    * v: array&lt;double&gt;). The table-reading entry above delegates here;
    * tests that vary input partitioning feed a repartitioned frame
    * directly so the parallelism they set is what the operator sees. */
  def labelCohesion(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val en = vecs.withColumn("nrm", norm($"v"))
    // posexplode + arithmetic on the exploded value: codegen'd, no
    // interpreted per-element lambda
    val ex = en
      .select($"vec_id", $"label", $"nrm", posexplode($"v"))
      // a zero vector (nrm = 0) would make col/nrm NaN, which Spark's
      // decimal cast nulls while DuckDB's errors — define it as the
      // zero direction instead: it counts as a member, contributes
      // nothing to any sum, identically in both engines
      .select($"vec_id", $"label", $"pos",
        when($"nrm" > 0, $"col" / $"nrm").otherwise(lit(0.0))
          .cast("decimal(9,6)").as("u"))
    val spos = ex.groupBy($"label", $"pos")
      .agg(sum($"u").cast("decimal(18,6)").as("s"))
    val gpos = spos.groupBy($"pos").agg(sum($"s").cast("decimal(18,6)").as("g"))
    val rest = spos.join(gpos, "pos")
      .select($"label", $"s", ($"g" - $"s").cast("decimal(18,6)").as("o"))
    val contrast = rest.groupBy($"label").agg(
      sum($"s" * $"s").as("ssq"),
      sum($"s" * $"o").as("sdoto"),
      sum($"o" * $"o").as("osq"))
    val qn = ex.groupBy($"label")
      .agg(countDistinct($"vec_id").as("n_vecs"), sum($"u" * $"u").as("usq"))
    contrast.join(qn, "label")
      .select($"label", $"n_vecs",
        // a single-member label has no pairs: NULL by explicit guard on
        // BOTH sides (unguarded, Spark's x/0 yields NULL but DuckDB
        // yields NaN/inf — a silent oracle divergence)
        when($"n_vecs" > 1,
          round(($"ssq" - $"usq").cast("double") /
            ($"n_vecs" * ($"n_vecs" - lit(1L))), 6)).as("intra_cos_r"),
        round(sqrt($"ssq".cast("double")) / $"n_vecs", 6).as("centroid_norm_r"),
        // same divergence guard for the separation: a single-label
        // corpus (osq = 0) or an all-zero label sum (ssq = 0) has no
        // defined direction — NULL on both sides
        when($"ssq" > 0 && $"osq" > 0,
          round($"sdoto".cast("double") /
            (sqrt($"ssq".cast("double")) * sqrt($"osq".cast("double"))), 6))
          .as("vs_rest_cos_r"))
  }

  val s09Sql: String =
    """WITH en AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |), ex AS (
      |  SELECT vec_id, label,
      |    unnest(range(1, len(v) + 1)) AS pos,
      |    unnest([CAST(CASE WHEN nrm > 0 THEN v[i] / nrm ELSE 0.0 END AS DECIMAL(9,6))
      |            for i in range(1, len(v) + 1)]) AS u
      |  FROM en
      |), spos AS (
      |  SELECT label, pos, CAST(SUM(u) AS DECIMAL(18,6)) AS s
      |  FROM ex GROUP BY 1, 2
      |), gpos AS (
      |  SELECT pos, CAST(SUM(s) AS DECIMAL(18,6)) AS g FROM spos GROUP BY 1
      |), contrast AS (
      |  SELECT label, SUM(s * s) AS ssq, SUM(s * o) AS sdoto, SUM(o * o) AS osq
      |  FROM (SELECT label, s, CAST(g - s AS DECIMAL(18,6)) AS o
      |        FROM spos JOIN gpos USING (pos))
      |  GROUP BY 1
      |), qn AS (
      |  SELECT label, COUNT(DISTINCT vec_id) AS n_vecs, SUM(u * u) AS usq
      |  FROM ex GROUP BY 1
      |)
      |SELECT c.label, n_vecs,
      |  CASE WHEN n_vecs > 1 THEN
      |    ROUND(CAST(ssq - usq AS DOUBLE) / (n_vecs * (n_vecs - 1)), 6)
      |  END AS intra_cos_r,
      |  ROUND(sqrt(CAST(ssq AS DOUBLE)) / n_vecs, 6) AS centroid_norm_r,
      |  CASE WHEN ssq > 0 AND osq > 0 THEN
      |    ROUND(CAST(sdoto AS DOUBLE) /
      |      (sqrt(CAST(ssq AS DOUBLE)) * sqrt(CAST(osq AS DOUBLE))), 6)
      |  END AS vs_rest_cos_r
      |FROM contrast c JOIN qn USING (label)""".stripMargin

  // ---- s11: SemDeDup survivor selection (semantic dedup end to end) ----

  /** s11: which vectors SURVIVE semantic deduplication — the decision
    * s08's pair list feeds but does not make. SemDeDup (Abbas et al.
    * 2023, arXiv:2303.09540) prescribes exactly this composition:
    * cluster with a coarse quantizer, find within-cluster near-dup
    * pairs above a cosine threshold, group them, and keep ONE member
    * per duplicate group — the member LEAST similar to its quantizer
    * centroid (the most atypical example carries the most marginal
    * training signal; §3 of the paper).
    *
    * Mechanism: [[ivfNearDupPairs]] (the oracled s08 join) → connected
    * components over the pair graph (Dedup.clusterPairs — min-label
    * propagation on the sparse pair graph only) → per-component
    * keep-min over the top-1 centroid cosine. Output is the full audit
    * frame: every vector with its duplicate-component id, its centroid
    * typicality, and the kept/dropped verdict — c-series pipelines
    * filter `kept` and drop the rest.
    *
    * Scale: the pair join is s08's bucketed equi-join (quadratic only
    * within capped buckets); CC iterates on the PAIR graph, not the
    * corpus (pairs are sparse at any useful threshold); the keep rule
    * is one window over components whose fan-in is bounded by component
    * size. Nothing here touches corpus × corpus.
    *
    * Oracled end to end: with the deterministic seed quantizer the
    * whole decision — probe ranking, candidate join, recursive-CTE
    * components, atypicality ranking — is replicated in SQL, so the
    * gate hash-checks the survivor SET itself, not a count. */
  def semanticSurvivors(vecs: DataFrame, centroids: DataFrame,
                        threshold: Double, nprobe: Int = 2,
                        maxBucket: Long = 0L): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val pairs = ivfNearDupPairs(vecs, centroids, threshold, nprobe, maxBucket)
      .select($"a_id".as("d1"), $"b_id".as("d2"))
    val comps = Dedup.clusterPairs(pairs)
      .select($"doc_id".as("mid"), $"cluster_rep".as("comp0"))
    // top-1 centroid cosine per vector — same ranking arithmetic and
    // tie-break as probeAssignments, keeping the cosine it ranks by
    val vn = vecs.withColumn("nrm", norm($"v"))
    val wp = Window.partitionBy($"vec_id").orderBy($"c_cos".desc, $"cluster_id".asc)
    val typ = vn.crossJoin(broadcast(centroids))
      .select($"vec_id", $"cluster_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("c_cos"))
      .withColumn("rn", row_number().over(wp))
      .filter($"rn" === 1)
      .select($"vec_id", $"c_cos")
    val wk = Window.partitionBy($"comp").orderBy($"c_cos".asc, $"vec_id".asc)
    vecs.select($"vec_id")
      .join(comps, $"vec_id" === $"mid", "left")
      // a vector in no pair is its own singleton component — trivially kept
      .select($"vec_id", coalesce($"comp0", $"vec_id").as("comp"))
      .join(typ, "vec_id")
      .withColumn("kept", row_number().over(wk) === 1)
      .select($"vec_id", $"comp", round($"c_cos", 6).as("c_cos_r"), $"kept")
  }

  def s11SemanticSurvivors(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    semanticSurvivors(c, seedCentroids(c, 8), 0.45, nprobe = 2)
  }

  val s11Sql: String =
    """WITH RECURSIVE en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |), cen AS (
      |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM en WHERE vec_id < 8
      |), ranked AS (
      |  SELECT en.vec_id, en.v, en.nrm, cen.cid,
      |    list_dot_product(en.v, cen.cv) / (en.nrm * cen.cn) AS c_cos,
      |    ROW_NUMBER() OVER (PARTITION BY en.vec_id
      |      ORDER BY list_dot_product(en.v, cen.cv) / (en.nrm * cen.cn) DESC,
      |               cen.cid ASC) AS rn
      |  FROM en CROSS JOIN cen
      |), probes AS (
      |  SELECT vec_id, v, nrm FROM ranked WHERE rn <= 2
      |), pairs AS (
      |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      |  FROM (SELECT r.vec_id, r.v, r.nrm, r.cid FROM ranked r WHERE r.rn <= 2) a
      |  JOIN (SELECT r.vec_id, r.v, r.nrm, r.cid FROM ranked r WHERE r.rn <= 2) b
      |    ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
      |), edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION ALL SELECT d2, d1 FROM pairs
      |), reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
      |), comp AS (
      |  SELECT id, MIN(r) AS comp FROM reach GROUP BY id
      |), typ AS (
      |  SELECT vec_id, c_cos FROM ranked WHERE rn = 1
      |)
      |SELECT m.vec_id, m.comp, ROUND(t.c_cos, 6) AS c_cos_r,
      |  (ROW_NUMBER() OVER (PARTITION BY m.comp
      |     ORDER BY t.c_cos ASC, m.vec_id ASC) = 1) AS kept
      |FROM (SELECT en.vec_id, COALESCE(comp.comp, en.vec_id) AS comp
      |      FROM en LEFT JOIN comp ON en.vec_id = comp.id) m
      |JOIN typ t ON m.vec_id = t.vec_id""".stripMargin

  // ---- s12: product quantization (ADC top-k) ----

  /** L2-normalized, 1e-6-quantized subvector frame (vec_id, sub, sv):
    * each vector split into M contiguous dsub-dim blocks. Normalizing
    * first makes PQ's L2 ranking equal cosine ranking (‖a−b‖² = 2−2cosθ
    * on the unit sphere — the same order s01 ranks by); quantizing the
    * components AFTER normalization makes every downstream centroid
    * mean expressible as an exact decimal sum ([[graft.Det.dsum]]) —
    * the trick that keeps iterative float training partition-invariant
    * (the s09/t21 discipline applied to Lloyd's updates). */
  private[graft] def pqSubvectors(c: DataFrame, dsub: Int): DataFrame = {
    val s = c.sparkSession
    import s.implicits._
    c.withColumn("nrm", norm($"v"))
      .select($"vec_id", transform($"v", x => round(x / $"nrm", 6)).as("vq"))
      .select($"vec_id", posexplode(subSplit($"vq", dsub)))
      .toDF("vec_id", "sub", "sv")
  }

  /** Contiguous dsub-dim blocks of an (already quantized) vector —
    * row-local transform+slice, no explode/group round-trip, so the
    * split costs zero shuffles. Shared by the normalized path above and
    * s13's residual split. */
  private[graft] def subSplit(vq: Column, dsub: Int): Column =
    transform(sequence(lit(0), (size(vq) / dsub).cast("int") - 1),
      m => slice(vq, m * dsub + 1, lit(dsub)))

  /** Squared L2 via three sequential-order dots — row-local, so the
    * value is independent of partitioning by construction. */
  private[graft] def d2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Per-subspace PQ codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — (sub, cid, cv), K
    * centroids per subspace via Lloyd's k-means. All M subspace
    * k-means run as ONE DataFrame program per iteration (grouped by
    * `sub`), not M sequential jobs: each iteration is a broadcast join
    * against the M·K-row codebook + two aggregates. Seeds are K
    * hash-spread subvectors per subspace (WindowGroupLimit prunes the
    * per-sub rank to K rows per partition before any sort
    * materializes); centroid updates are exact decimal means of the
    * quantized components, re-quantized to 1e-6 — bit-stable at any
    * parallelism. Empty clusters keep their previous centroid. */
  def pqCodebooks(sv: DataFrame, K: Int, iters: Int): DataFrame = {
    val s = sv.sparkSession
    import s.implicits._
    val ws = Window.partitionBy($"sub")
      .orderBy(pmod(xxhash64($"vec_id"), lit(997)).asc, $"vec_id".asc)
    var books = sv.withColumn("rn", row_number().over(ws))
      .filter($"rn" <= K)
      .select($"sub", ($"rn" - 1).as("cid"), $"sv".as("cv"))
    for (_ <- 1 to iters) {
      val assigned = sv.join(broadcast(books), Seq("sub"))
        .select($"vec_id", $"sub", $"sv", $"cid", d2($"sv", $"cv").as("d2"))
        .groupBy($"vec_id", $"sub")
        .agg(min_by(struct($"cid", $"sv"), struct($"d2", $"cid")).as("a"))
        .select($"sub", $"a.cid".as("cid"), $"a.sv".as("sv"))
      val upd = assigned
        .select($"sub", $"cid", posexplode($"sv"))
        .toDF("sub", "cid", "pos", "xq")
        .groupBy($"sub", $"cid", $"pos")
        .agg(round(graft.Det.dsum($"xq") / count(lit(1)), 6).as("m"))
        .groupBy($"sub", $"cid")
        .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
        .select($"sub", $"cid", transform($"pm", p => p.getField("m")).as("ncv"))
      books = books.join(upd, Seq("sub", "cid"), "left")
        .select($"sub", $"cid", coalesce($"ncv", $"cv").as("cv"))
    }
    books
  }

  /** PQ encoding: (vec_id, codes) — each vector compressed to M
    * centroid ids, log₂K bits each (M=16, K=16 → 8 BYTES per vector vs
    * 256 for 64 float32s, a 32× compression). At 100 TB this is what
    * makes corpus-wide ANN memory-resident: the codes table fits where
    * the raw embeddings never will, and candidate scoring reads codes
    * + a per-query 2 KB distance table instead of touching vectors. */
  def pqCodes(sv: DataFrame, books: DataFrame): DataFrame = {
    val s = sv.sparkSession
    import s.implicits._
    sv.join(broadcast(books), Seq("sub"))
      .select($"vec_id", $"sub", $"cid", d2($"sv", $"cv").as("d2"))
      .groupBy($"vec_id", $"sub")
      .agg(min_by($"cid", struct($"d2", $"cid")).as("code"))
      .groupBy($"vec_id")
      .agg(array_sort(collect_list(struct($"sub", $"code"))).as("sc"))
      .select($"vec_id", transform($"sc", p => p.getField("code")).as("codes"))
  }

  /** Trained-codebook store, mirroring [[trainedCentroids]]'s "train
    * once, serve many" lifecycle: the M·K×dsub model artifact is cached
    * on the driver per (corpus, K, iters) and rebuilt as a tiny
    * broadcastable table on demand. Training stays all shuffle-side. */
  private val pqStore =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int, Int), Seq[(Int, Int, Seq[Double])]]

  private[graft] def clearPqCache(): Unit = pqStore.clear()

  def trainedPqCodebooks(s: SparkSession, d: String, dsub: Int, K: Int, iters: Int): DataFrame = {
    import s.implicits._
    val rows = pqStore.getOrElseUpdate((d, dsub, K, iters), {
      pqCodebooks(pqSubvectors(corpus(s, d).select($"vec_id", $"v"), dsub), K, iters)
        .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    })
    rows.toDF("sub", "cid", "cv")
  }

  /** s12: PQ + ADC top-k — the memory-bound complement of the IVF
    * family. s03/s10 cut CANDIDATES (probe fewer buckets); PQ cuts
    * BYTES PER CANDIDATE (4-byte codes, asymmetric-distance scoring
    * against a per-query M×K lookup table). Production systems compose
    * them (IVFADC); here PQ scores the whole corpus so the spec can
    * measure pure quantization loss against the exact s01 ranking.
    *
    * Plan: one broadcast join builds the 20·M·K-row distance table;
    * exploded codes equi-join it on (sub, cid) — fan-out exactly |Q|
    * per code row, linear in corpus — then one partial+final aggregate
    * sums the M table entries per (q, candidate). No pair term, no
    * corpus shuffle beyond the (q_id, n_id) reduction.
    *
    * Determinism: table entries are row-local doubles rounded to 6 dp;
    * the per-candidate sum of M entries — the only order-varying
    * reduction — goes through [[graft.Det.dsum]] (exact decimal), and
    * ranking ties break on n_id. Approximate ACCURACY, deterministic
    * mechanism → golden-snapshot oracle (the s03 discipline); recall
    * floor + quantization-error bound pinned in SimilaritySpec. */
  def s12PqTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // dsub=4 on the 64-dim fixture → M=16 subspaces, K=16 → 8-byte
    // codes (32×). Chosen over dsub=8/4-byte (64×) because measured
    // recall@3 vs s01 on the unclustered gaussian fixture is 0.32 vs
    // 0.10 — the extra 4 bytes buy 3× the accuracy; on the clustered
    // corpus real embeddings resemble, the same config measures 0.98
    // (SimilaritySpec). iters=3: recall plateaus there (PqProbe).
    val (dsub, k, iters) = (4, 16, 3)
    // r19 batch 5 corpus fan-out: A/B 1.24 → 0.75 s (the subvector
    // split + k-means iterations run over the cached fanned frame)
    val sv = pqSubvectors(corpusFanned(s, d).select($"vec_id", $"v"), dsub).cache()
    try {
      val books = trainedPqCodebooks(s, d, dsub, k, iters)
      val dtab = sv.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"sub", $"sv".as("qsv"))
        .join(broadcast(books), Seq("sub"))
        .select($"q_id", $"sub", $"cid", round(d2($"qsv", $"cv"), 6).as("d2q"))
      val wq = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
      pqCodes(sv, books)
        .select($"vec_id".as("n_id"), posexplode($"codes"))
        .toDF("n_id", "sub", "cid")
        .join(broadcast(dtab), Seq("sub", "cid"))
        .filter($"n_id" =!= $"q_id")
        .groupBy($"q_id", $"n_id")
        .agg(graft.Det.dsum($"d2q").as("adc"))
        .withColumn("rank", row_number().over(wq))
        .filter($"rank" <= 3)
        .select($"q_id", $"n_id", $"rank", round($"adc", 6).as("adc_r"))
    } finally { sv.unpersist(); () }
  }

  // ---- s13: IVFADC (IVF coarse quantizer + PQ residual codes) ----

  /** Residual-PQ codebook store for s13, the [[pqStore]] lifecycle for
    * the second-stage model: keyed by (corpus, kc, dsub, kpq, iters)
    * because residuals — and therefore their codebooks — depend on the
    * coarse quantizer they are taken against. */
  private val ivfadcStore =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int, Int, Int), Seq[(Int, Int, Seq[Double])]]

  private[graft] def clearIvfAdcCache(): Unit = ivfadcStore.clear()

  /** Nearest coarse centroid + 6dp-quantized residual for every vector
    * of a full-vector (sub=0) frame. The residual subtraction is the
    * IVFADC trick: PQ then quantizes the DISPLACEMENT from the coarse
    * centroid, whose spread is far smaller than the corpus's, so the
    * same code budget buys much finer resolution. Re-rounding to 1e-6
    * keeps every downstream mean/sum exactly representable in decimal. */
  private[graft] def coarseResiduals(vq64: DataFrame, coarse: DataFrame): DataFrame = {
    val s = vq64.sparkSession
    import s.implicits._
    vq64.join(broadcast(coarse), Seq("sub"))
      .select($"vec_id", $"cid", $"sv", $"cv", d2($"sv", $"cv").as("d2"))
      .groupBy($"vec_id")
      .agg(min_by(struct($"cid", $"sv", $"cv"), struct($"d2", $"cid")).as("a"))
      .select($"vec_id", $"a.cid".as("cluster_id"),
        zip_with($"a.sv", $"a.cv", (x, c) => round(x - c, 6)).as("r"))
  }

  /** s13: IVFADC top-k (Jégou et al. 2011 §IV) — the composition the
    * s12 scaladoc promises: s03's IVF idea cuts CANDIDATES (only
    * nprobe=2 of kc coarse buckets are scored per query) and s12's PQ
    * cuts BYTES PER CANDIDATE (candidates are scored from 16 4-bit
    * residual codes against a per-(query, probed-bucket) distance
    * table, never from raw vectors). This is the production ANN stack:
    * at 100 TB the corpus ships as (cluster_id, codes) — ~3 TB,
    * partitioned by cluster_id so probes are partition-pruned scans —
    * while training and the two model artifacts (kc×dim coarse, M·K×dsub
    * residual codebook) stay tiny and broadcast.
    *
    * Both training stages reuse the SAME decimal-exact Lloyd's machinery
    * ([[pqCodebooks]]): the coarse quantizer is simply PQ with one
    * subspace spanning the whole vector (M=1, K=kc), so every quantity
    * in train→assign→residual→encode→score is 6dp-quantized with exact
    * decimal reductions — bit-identical at any parallelism, hence
    * golden-snapshot oracled like s03/s12. Residuals are scored with
    * L2 ADC; on unit vectors that ranking equals cosine ranking.
    *
    * Plan shape: three broadcast joins (coarse assign, probe tables,
    * code scoring) + two aggregates; the only corpus-sized shuffles are
    * the per-vector argmin groupBys and the final (q_id, n_id) sum —
    * no pair term, nothing quadratic. The distance-table join's
    * equi-keys include the probed cluster_id, so a candidate row fans
    * out only to queries actually probing its bucket. */
  def s13IvfAdcTopK(s: SparkSession, d: String): DataFrame =
    ivfAdcStack(s, d, k = 3)

  /** The whole s13 train→encode→serve program with the shortlist depth
    * exposed — s13 serves it at k=3 directly; s30 serves a deeper
    * shortlist and re-ranks it exactly. */
  private def ivfAdcStack(s: SparkSession, d: String, k: Int): DataFrame = {
    import s.implicits._
    // kc=5 matches s03's coarse granularity on the 500-vector fixture
    // (~100/bucket); dsub=4, kpq=16 are s12's measured accuracy point;
    // iters=2: both quantizers plateau there on this corpus (PqProbe).
    val (kc, dsub, kpq, iters, nprobe) = (5, 4, 16, 2, 2)
    // M=1 "subvectors" = whole normalized quantized vectors
    // (r19 batch 5 corpus fan-out: s13 A/B flat 1.17/1.17, s30 — the
    // deeper-shortlist consumer — 1.50 → 1.35 s)
    val vq64 = pqSubvectors(corpusFanned(s, d).select($"vec_id", $"v"), 64).cache()
    try {
      val coarse = trainedPqCodebooks(s, d, 64, kc, iters)
      val books = {
        val rows = ivfadcStore.getOrElseUpdate((d, kc, dsub, kpq, iters), {
          val rsv = coarseResiduals(vq64, coarse)
            .select($"vec_id", posexplode(subSplit($"r", dsub)))
            .toDF("vec_id", "sub", "sv")
          pqCodebooks(rsv, kpq, iters)
            .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        })
        rows.toDF("sub", "cid", "cv")
      }
      // corpus as the IVFADC serving layout: (cluster_id, vec_id, codes)
      val codes = encodeIvfAdc(vq64, coarse, books, dsub)
      ivfAdcServe(codes, coarse, books,
        vq64.filter($"vec_id" < 20), dsub, nprobe, k = k)
    } finally { vq64.unpersist(); () }
  }

  /** s30: refine re-rank (Jégou et al. 2011 §V's "IVFADC+R") — the
    * two-stage serving shape production ANN actually runs: the
    * compressed stack (s13) retrieves a DEEPER shortlist (kexp = 10)
    * from codes alone, then only those |Q|·kexp candidates have their
    * raw vectors fetched and re-scored with EXACT cosine, and the final
    * k = 3 comes from the exact scores. Quantization error decides only
    * who makes the shortlist, never the final order — ADC ties and
    * near-ties are broken by true distance, at the cost of one
    * query-proportional (never corpus-proportional) raw-vector lookup.
    *
    * Plan shape: everything s13 does, plus one broadcast join of the
    * tiny shortlist INTO the raw-vector scan (the corpus never
    * shuffles for the refine; the |Q|·kexp candidate set does), one
    * per-row exact cosine, one |Q|·kexp-row top-k window. At 100 TB the
    * refine reads kexp rows per query from the raw store — point
    * lookups against the s17-style vec_id layout, not a scan. */
  def s30RefinedTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kexp = 10
    val shortlist = ivfAdcStack(s, d, kexp).select($"q_id", $"n_id")
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val qv = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    c.select($"vec_id".as("n_id"), $"v", $"nrm")
      .join(broadcast(shortlist), "n_id")
      .join(broadcast(qv), "q_id")
      .select($"q_id", $"n_id",
        (dot($"v", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  /** Spec-facing alias of [[coarseResiduals]] (PlanSpec/SimilaritySpec
    * build s27 artifacts with in-spec quantizers). */
  private[graft] def coarseResidualsForSpec(vq64: DataFrame,
                                            coarse: DataFrame): DataFrame =
    coarseResiduals(vq64, coarse)

  /** Assign + encode a full-vector (sub=0) frame against FROZEN
    * quantizers — the one body both the in-plan s13 entry and the
    * persisted-index build/append run (the [[ivfAssigned]] discipline:
    * the append path can never silently diverge from the rebuild). */
  private def encodeIvfAdc(vq64: DataFrame, coarse: DataFrame,
                           books: DataFrame, dsub: Int): DataFrame = {
    val s = vq64.sparkSession
    import s.implicits._
    // materialized (r19, guide §2.4): referenced twice — the residual
    // subvector explode and the cluster-id join back — and each
    // reference re-ran the corpus × coarse-centroid assignment
    // (broadcast probe + per-vector window). One corpus-sized frame,
    // released at the consumer's next Scratch.drain().
    val assigned = graft.Scratch.track(
      coarseResiduals(vq64, coarse).localCheckpoint())
    val rsv = assigned.select($"vec_id", posexplode(subSplit($"r", dsub)))
      .toDF("vec_id", "sub", "sv")
    pqCodes(rsv, books)
      .join(assigned.select($"vec_id", $"cluster_id"), "vec_id")
  }

  /** The IVFADC serve stage — probes, per-(query, bucket) ADC distance
    * tables, code scoring, top-k — shared by s13 (in-plan frames) and
    * s27 (artifact frames). Every join is broadcast-model or equi-keyed
    * on (cluster_id, sub, cid); the only corpus-sized shuffle is the
    * final (q_id, n_id) exact-decimal sum. */
  private def ivfAdcServe(codes: DataFrame, coarse: DataFrame,
      books: DataFrame, qVq64: DataFrame, dsub: Int, nprobe: Int,
      k: Int): DataFrame = {
    val s = codes.sparkSession
    import s.implicits._
    // query side: nprobe nearest coarse buckets, one residual — and
    // therefore one ADC distance table — PER PROBED BUCKET
    val wp = Window.partitionBy($"q_id").orderBy($"d2".asc, $"cid".asc)
    val probes = qVq64
      .select($"vec_id".as("q_id"), $"sv".as("qsv"), $"sub")
      .join(broadcast(coarse), Seq("sub"))
      .select($"q_id", $"cid", $"qsv", $"cv", d2($"qsv", $"cv").as("d2"))
      .withColumn("c_rank", row_number().over(wp))
      .filter($"c_rank" <= nprobe)
      .select($"q_id", $"cid".as("cluster_id"),
        zip_with($"qsv", $"cv", (x, c) => round(x - c, 6)).as("qr"))
    val dtab = probes
      .select($"q_id", $"cluster_id", posexplode(subSplit($"qr", dsub)))
      .toDF("q_id", "cluster_id", "sub", "qsv")
      .join(broadcast(books), Seq("sub"))
      .select($"q_id", $"cluster_id", $"sub", $"cid",
        round(d2($"qsv", $"cv"), 6).as("d2q"))
    val wq = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id".asc)
    codes
      .select($"vec_id".as("n_id"), $"cluster_id", posexplode($"codes"))
      .toDF("n_id", "cluster_id", "sub", "cid")
      .join(broadcast(dtab), Seq("cluster_id", "sub", "cid"))
      .filter($"n_id" =!= $"q_id")
      .groupBy($"q_id", $"n_id")
      .agg(graft.Det.dsum($"d2q").as("adc"))
      .withColumn("rank", row_number().over(wq))
      .filter($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", round($"adc", 6).as("adc_r"))
  }

  // ---- s27: persisted IVFADC index (the production serving artifact) ----

  /** Write the IVFADC serving artifact: two model lanes (coarse
    * quantizer, residual codebooks — tiny, broadcast at serve time)
    * plus the encoded corpus partitioned by cluster_id, so probe-time
    * list selection IS partition pruning — s17's layout carrying s13's
    * 32×-compressed codes instead of raw vectors. At 100 TB this is
    * ~3 TB of codes + two sub-MB models: the artifact a production ANN
    * service actually loads. */
  def writeIvfAdcIndex(vq64: DataFrame, coarse: DataFrame, books: DataFrame,
                       dsub: Int, dir: String): Unit =
    IndexStore.write(IvfAdc, vq64, dsub, dir, Seq(coarse, books))

  /** The IVFADC model lanes: per subspace `sub`, centroid `cid` at `cv`. */
  private def adcModel(name: String) = IndexStore.Lane(name, IndexStore.Coalesced,
    IndexStore.columns("sub" -> IntegerType, "cid" -> IntegerType, "cv" -> ArrayType(DoubleType)))
  private val AdcCoarse = adcModel("coarse")
  private val AdcBooks = adcModel("books")
  private val AdcCodes = IndexStore.Lane("codes",
    IndexStore.Clustered(Seq("cluster_id"), Seq("vec_id")),
    IndexStore.columns("vec_id" -> LongType, "codes" -> ArrayType(IntegerType),
      "cluster_id" -> IntegerType))

  /** The IVFADC artifact for [[IndexStore]]'s lifecycle verbs: codes
    * clustered by cluster_id, encoded (subvector width `dsub`) with the
    * FROZEN quantizers read from the generation's own model lanes,
    * which every fold carries forward unchanged — so append, update and
    * sync ≡ a rebuild with the same quantizers. Upserts are checked,
    * not deduplicated: in the subvector layout two revisions' rows for
    * one (vec_id, sub) are indistinguishable, so any per-row pick could
    * stitch a vector from MIXED revisions (a vector that never
    * existed). Feeds carrying possible duplicates use the raw-vector
    * sync overload, which resolves revisions before the split; the
    * check is one diff-sized aggregate over the checkpointed upserts. */
  private[graft] val IvfAdc = IndexStore.Family[Int]("vec_id",
    Seq(AdcCodes),
    derive = (vq64, dsub, root) => {
      val s = vq64.sparkSession
      Seq(encodeIvfAdc(vq64, IndexStore.read(s, root, AdcCoarse),
        IndexStore.read(s, root, AdcBooks), dsub))
    },
    carried = Seq(AdcCoarse, AdcBooks),
    check = Some(ups => require(ups.groupBy(col("vec_id"), col("sub")).count()
        .filter(col("count") > 1).isEmpty,
      "syncIvfAdcIndex: same-id duplicate upserts in one batch — the " +
      "subvector layout cannot pick one revision consistently across " +
      "subspaces; resolve revisions on the raw vectors (e.g. " +
      "IndexStore.latestRevision) before pqSubvectors")))

  def appendToIvfAdcIndex(deltaVq64: DataFrame, dsub: Int, dir: String,
                          compactEvery: Int = 0): Unit =
    IndexStore.append(IvfAdc, deltaVq64, dsub, dir, compactEvery)

  def compactIvfAdcIndex(s: SparkSession, dir: String): Unit =
    IndexStore.compact(IvfAdc, s, dir)

  def deleteFromIvfAdcIndex(removedIds: DataFrame, dir: String,
                            compactEvery: Int = 0): Unit =
    IndexStore.delete(IvfAdc, removedIds, dir, compactEvery)

  def updateInIvfAdcIndex(changedVq64: DataFrame, dsub: Int,
                          dir: String): Unit =
    IndexStore.update(IvfAdc, changedVq64, dsub, dir)

  /** RAW-VECTOR form of the IVFADC sync verb (r19): same-id duplicate
    * upserts fold to ONE deterministic revision
    * ([[IndexStore.latestRevision]] on the raw (vec_id, v) rows)
    * BEFORE the subspace split, so the pick is consistent across
    * subspaces BY CONSTRUCTION. Callers who already split with
    * [[pqSubvectors]] use the 4-arg form, whose duplicate check stays
    * a loud reject ([[IvfAdc]]). */
  def syncIvfAdcIndex(upsertsRaw: DataFrame, removed: DataFrame,
                      dsub: Int, coarseWidth: Int, dir: String): Unit = {
    val s = upsertsRaw.sparkSession
    import s.implicits._
    syncIvfAdcIndex(
      pqSubvectors(IndexStore.latestRevision(
        upsertsRaw.select($"vec_id", $"v"), "vec_id"), coarseWidth),
      removed, dsub, dir)
  }

  /** Apply a diff in the subvector layout ([[pqSubvectors]]);
    * duplicate upserts of one id fail loudly ([[IvfAdc]]). */
  def syncIvfAdcIndex(upsertsVq64: DataFrame, removed: DataFrame,
                      dsub: Int, dir: String): Unit =
    IndexStore.sync(IvfAdc, upsertsVq64, removed, dsub, dir)

  /** Serve ADC top-k from a persisted [[writeIvfAdcIndex]] layout with
    * probe-time partition pruning (the s17 literal-isin discipline:
    * probed cluster ids are a ≤ nprobe·|Q| model-artifact-sized
    * collect). Bit-identical to the in-plan s13 for the same
    * quantizers: codes are integers, residual/table arithmetic is
    * 6dp-decimal-exact, and doubles round-trip parquet exactly. */
  def ivfAdcTopKFromIndex(s: SparkSession, dir: String, qVq64: DataFrame,
                          dsub: Int, nprobe: Int, k: Int): DataFrame = {
    import s.implicits._
    val root = IndexStore.currentPath(dir)
    val coarse = IndexStore.read(s, root, AdcCoarse)
    val books = IndexStore.read(s, root, AdcBooks)
    val wp = Window.partitionBy($"q_id").orderBy($"d2".asc, $"cid".asc)
    val probedIds = qVq64
      .select($"vec_id".as("q_id"), $"sv".as("qsv"), $"sub")
      .join(broadcast(coarse), Seq("sub"))
      .select($"q_id", $"cid", d2($"qsv", $"cv").as("d2"))
      .withColumn("c_rank", row_number().over(wp))
      .filter($"c_rank" <= nprobe)
      .select($"cid").distinct().as[Int].collect().sorted
    val codes = IndexStore.maskTombstonesAt(
      IndexStore.read(s, root, AdcCodes)
        .filter($"cluster_id".isin(probedIds.map(Int.box): _*)),
      root, "vec_id") // tombstone masking ([[deleteFromIvfAdcIndex]]); identity when none
    ivfAdcServe(codes, coarse, books, qVq64, dsub, nprobe, k)
  }

  /** Registered: train both quantizers, build the artifact in a temp
    * dir in-plan (the s17/c12 oracle-self-containment discipline) and
    * serve s13's exact query through it — ≡ s13 bit-identically, so
    * the driver hash-checks the whole persisted round-trip against
    * s13's OWN golden (the s17≡s03 precedent on the compressed
    * layout). Production writes once and serves per run. */
  def s27IvfAdcPersisted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (kc, dsub, kpq, iters, nprobe) = (5, 4, 16, 2, 2)
    val vq64 = pqSubvectors(corpus(s, d).select($"vec_id", $"v"), 64).cache()
    try {
      val coarse = trainedPqCodebooks(s, d, 64, kc, iters)
      val books = {
        val rows = ivfadcStore.getOrElseUpdate((d, kc, dsub, kpq, iters), {
          val rsv = coarseResiduals(vq64, coarse)
            .select($"vec_id", posexplode(subSplit($"r", dsub)))
            .toDF("vec_id", "sub", "sv")
          pqCodebooks(rsv, kpq, iters)
            .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        })
        rows.toDF("sub", "cid", "cv")
      }
      val dir =
        java.nio.file.Files.createTempDirectory("graft-s27-index").toString
      writeIvfAdcIndex(vq64, coarse, books, dsub, dir)
      val served = graft.Scratch.track(ivfAdcTopKFromIndex(s, dir,
        vq64.filter($"vec_id" < 20), dsub, nprobe, k = 3)
        .localCheckpoint())
      s17IndexDirs.admit(dir)
      served
    } finally { vq64.unpersist(); () }
  }

  /** s27's artifact build alone — the STANDING fixture for the r19
    * bench bracket (LifecycleBench): same recipe, same cached
    * codebook stores, written once untimed into `dir`. */
  private[graft] def s27BenchBuild(s: SparkSession, d: String,
                                   dir: String): Unit = {
    import s.implicits._
    val (kc, dsub, kpq, iters) = (5, 4, 16, 2)
    val vq64 = pqSubvectors(corpus(s, d).select($"vec_id", $"v"), 64).cache()
    try {
      val coarse = trainedPqCodebooks(s, d, 64, kc, iters)
      val books = {
        val rows = ivfadcStore.getOrElseUpdate((d, kc, dsub, kpq, iters), {
          val rsv = coarseResiduals(vq64, coarse)
            .select($"vec_id", posexplode(subSplit($"r", dsub)))
            .toDF("vec_id", "sub", "sv")
          pqCodebooks(rsv, kpq, iters)
            .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        })
        rows.toDF("sub", "cid", "cv")
      }
      writeIvfAdcIndex(vq64, coarse, books, dsub, dir)
    } finally { vq64.unpersist(); () }
  }

  /** s27's serve alone — the OPERATING span of the bracket: the ADC
    * top-k against the standing artifact (partition-pruned probe). */
  private[graft] def s27BenchServe(s: SparkSession, d: String,
                                   dir: String): DataFrame = {
    import s.implicits._
    val qVq = pqSubvectors(
      corpus(s, d).select($"vec_id", $"v").filter($"vec_id" < 20), 64)
    ivfAdcTopKFromIndex(s, dir, qVq, dsub = 4, nprobe = 2, k = 3)
  }

  // ---- s14: int8-quantized cosine top-k ----

  /** s14: cosine top-3 over int8-QUANTIZED embeddings — the 4×-smaller
    * storage path ([[graft.functions.Int8Quantize]]) exercised end to
    * end as a retrieval operator, with the accuracy cost made visible
    * against s01's exact ranking (recall floor pinned in
    * SimilaritySpec). Per-vector symmetric quantization means cosine
    * needs NO dequantization at all: cos(q_a·s_a, q_b·s_b) — the
    * scalar scales cancel — so candidates are scored directly on the
    * integer-valued codes. Code dots are exact integer arithmetic in
    * doubles (|q| ≤ 127, dim 64 ≪ 2^39), norms are IEEE sqrt of exact
    * integers: every engine computes bit-identical cosines, which is
    * what makes a full SQL oracle possible for a quantized ANN ranking.
    *
    * Scale shape = s01's (broadcast query side, corpus scan, per-query
    * top-k): the point at 100 TB is the operand — codes are int8, so
    * the scan reads 4× less and the same plan holds 4× more corpus per
    * executor; swap the scan into s03/s13's IVF pruning for the
    * composed production stack. */
  def s14Int8TopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qz = corpus(s, d)
      .select($"vec_id", graft.functions.VectorOps.int8Quantize($"v").as("qv"))
      .withColumn("qn", norm($"qv"))
    val q = qz.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"qv".as("qqv"), $"qn".as("qqn"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    qz.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (dot($"qv", $"qqv") / ($"qn" * $"qqn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  /** Oracle: the identical quantize→cosine→rank pipeline in SQL; the
    * lambda reproduces Int8Quantize's scale = max|x|/127 and
    * floor(x/scale + 0.5) convention exactly (floor(x+0.5), not
    * round(), because round's tie-breaking differs across engines). */
  val s14Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), sc AS (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
      |  FROM e
      |), q AS (
      |  SELECT vec_id, CASE WHEN scale = 0
      |    THEN list_transform(v, x -> CAST(0 AS DOUBLE))
      |    ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS qv
      |  FROM sc
      |), sims AS (
      |  SELECT a.vec_id AS q_id, c.vec_id AS n_id,
      |    list_dot_product(a.qv, c.qv) /
      |      (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(c.qv, c.qv))) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_dot_product(a.qv, c.qv) /
      |        (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(c.qv, c.qv))) DESC,
      |        c.vec_id ASC) AS rank
      |  FROM q a JOIN q c ON c.vec_id <> a.vec_id
      |  WHERE a.vec_id < 20
      |)
      |SELECT q_id, n_id, rank, ROUND(cosine, 6) AS cosine_r
      |FROM sims WHERE rank <= 3""".stripMargin

  // ---- s15: MMR diversity re-rank ----

  /** s15: maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998) — retrieval that trades relevance against redundancy. A
    * plain top-k over a corpus with near-duplicates returns k copies of
    * the same thing (exactly the corpora the d/s-series exist for); MMR
    * picks greedily by `λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s)`, so each
    * pick is penalized by its similarity to what was ALREADY picked.
    * The training-data use is diverse few-shot / hard-negative
    * selection: k exemplars per anchor that are relevant but not
    * mutually redundant.
    *
    * Scale shape: the heavy, corpus-sized stage is CANDIDATE
    * GENERATION, and it is s01's broadcast-query scan here (swap in
    * s03/s13/s14's IVF/ADC/int8 scan at 100 TB — any (q_id, n_id, rel)
    * frame works). The greedy selection is inherently sequential PER
    * QUERY but touches only the m retained candidates: grouped local
    * compute over m rows per query — one narrow shuffle of Q·m rows,
    * O(k·m) arithmetic per query, no corpus term, embarrassingly
    * parallel across queries. MMR over the corpus would be quadratic;
    * MMR over a bounded candidate pool is the textbook deployment.
    *
    * Oracled end to end: rel and pairwise sims come from the same
    * sequential-order dot kernel DuckDB's list_dot_product uses, so
    * scores are bit-identical and the greedy argmax (ties → lower
    * vec_id) unrolls into exact SQL — the selection SET is
    * hash-checked, not just counted. */
  def mmrRerank(cands: DataFrame, k: Int, lambda: Double, mu: Double): DataFrame = {
    val s = cands.sparkSession
    import s.implicits._
    // deterministic local arithmetic, same order as the column kernels
    def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    cands.select($"q_id", $"n_id", $"rel", $"v", $"nrm")
      .as[(Long, Long, Double, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Seq[Double], Double)]) =>
        val cs = it.toArray.sortBy(_._2) // n_id order → tie-break = first strict max
        val n = cs.length
        val used = new Array[Boolean](n)
        // max sim to selected so far — the TRUE max, which can be
        // negative (an anti-similar candidate earns a diversity bonus,
        // the textbook formula); a 0.0 init would clamp it. Step 1
        // never reads it and step ≥ 2 has updated every entry.
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        val out = Seq.newBuilder[(Long, Int, Long, Double)]
        var step = 1
        val kk = math.min(k, n)
        while (step <= kk) {
          var best = -1; var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!used(i)) {
              // step 1 has an empty selected set: no redundancy term
              val sc = if (step == 1) lambda * cs(i)._3
                       else lambda * cs(i)._3 - mu * maxSim(i)
              if (best < 0 || sc > bestScore) { best = i; bestScore = sc }
            }
            i += 1
          }
          used(best) = true
          out += ((qid, step, cs(best)._2, bestScore))
          var j = 0
          while (j < n) {
            if (!used(j)) {
              val sim = dotSeq(cs(j)._4, cs(best)._4) / (cs(j)._5 * cs(best)._5)
              if (sim > maxSim(j)) maxSim(j) = sim
            }
            j += 1
          }
          step += 1
        }
        out.result().iterator
      }
      .toDF("q_id", "rank", "n_id", "mmr")
      .select($"q_id", $"rank", $"n_id", round($"mmr", 6).as("mmr_r"))
  }

  /** The shipped entry: s01's exact scan keeps the top-20 pool per
    * query (vec_id < 20), MMR keeps 5 at λ = 0.7. The diversity weight
    * is passed as the LITERAL 0.3, not computed as `1.0 − λ`: those
    * differ by one ulp in doubles (1.0−0.7 = 0.30000000000000004) while
    * the SQL oracle's `0.3` converts to the 0.3 literal's double — the
    * explicit weight keeps both engines' scores bit-identical, which is
    * what lets the greedy argmax be hash-checked at all. */
  def s15MmrTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val wc = Window.partitionBy($"q_id").orderBy($"rel".desc, $"n_id".asc)
    val cands = c.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (dot($"v", $"qv") / ($"nrm" * $"qn")).as("rel"), $"v", $"nrm")
      .withColumn("rn", row_number().over(wc))
      .filter($"rn" <= 20)
      .select($"q_id", $"n_id", $"rel", $"v", $"nrm")
    mmrRerank(cands, 5, 0.7, 0.3)
  }

  /** Oracle: candidate pool + pairwise sims once, then the greedy
    * selection unrolled into 5 pick CTEs — each step's score is
    * `0.7·rel − 0.3·MAX(sim to picked)` over the not-yet-picked pool,
    * argmax by (score DESC, n_id ASC), exactly the Scala loop. */
  val s15Sql: String = {
    // step t ≥ 2: score the unpicked pool against picks 1..t-1
    def step(t: Int): String =
      s"""st$t AS (
         |  SELECT c.q_id, c.n_id,
         |    0.7 * MAX(c.rel) - 0.3 * MAX(s.sim) AS score
         |  FROM cand c
         |  JOIN pk${t - 1} p ON p.q_id = c.q_id
         |  JOIN sims s ON s.q_id = c.q_id AND s.i = c.n_id AND s.j = p.n_id
         |  WHERE NOT EXISTS (SELECT 1 FROM pk${t - 1} x
         |                    WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
         |  GROUP BY c.q_id, c.n_id
         |), p$t AS (
         |  SELECT q_id, n_id, score FROM (
         |    SELECT q_id, n_id, score, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, n_id ASC) AS rn FROM st$t) WHERE rn = 1
         |), pk$t AS (
         |  SELECT q_id, n_id FROM pk${t - 1}
         |  UNION ALL SELECT q_id, n_id FROM p$t
         |)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), nv AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
       |), cand AS (
       |  SELECT q_id, n_id, rel FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS rel,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
       |                 c.vec_id ASC) AS rn
       |    FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 20
       |  ) WHERE rn <= 20
       |), sims AS (
       |  SELECT a.q_id, a.n_id AS i, b.n_id AS j,
       |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS sim
       |  FROM cand a
       |  JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id
       |  JOIN nv x ON x.vec_id = a.n_id
       |  JOIN nv y ON y.vec_id = b.n_id
       |), p1 AS (
       |  SELECT q_id, n_id, 0.7 * rel AS score FROM (
       |    SELECT q_id, n_id, rel, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, n_id ASC) AS rn FROM cand) WHERE rn = 1
       |), pk1 AS (
       |  SELECT q_id, n_id FROM p1
       |), ${(2 to 5).map(step).mkString(", ")}
       |SELECT q_id, 1 AS rank, n_id, ROUND(score, 6) AS mmr_r FROM p1
       |${(2 to 5).map(t =>
           s"UNION ALL SELECT q_id, $t AS rank, n_id, ROUND(score, 6) AS mmr_r FROM p$t")
           .mkString("\n")}""".stripMargin
  }

  // ---- s16: binary sign quantization + Hamming pre-rank ----

  /** s16: 1-bit (sign) quantization ANN — the most aggressive
    * compression rung of the stack (s14 int8 = 4×, s12/s13 PQ = 32× of
    * dims; s16 = 1 bit/dim, here ONE 64-bit word per vector = 32× vs
    * float and SIMD-free integer distance). The classic two-stage
    * shape (Charikar hyperplane sketches; the modern binary-quantize +
    * re-rank recipe Elasticsearch/Lucene BBQ productized):
    *
    *  1. PRE-RANK on the sign signature only: Hamming distance =
    *     `bit_count(sig XOR qsig)` — a two-instruction codegen'd
    *     kernel over an 8-byte column. At 100 TB of 1 KB float
    *     vectors the signature sidecar is ~0.8 TB: the stage that
    *     touches every row reads 128× fewer bytes, the float corpus
    *     is touched only for survivors. The registered entry derives
    *     `sig` in-plan (entries are self-contained), so ITS scan still
    *     reads `v`; with the signature PERSISTED as a column — the
    *     production shape — the pre-rank scan prunes to
    *     (vec_id, sig), pinned in `SimilaritySpec` over a real parquet
    *     corpus carrying both columns.
    *     Sign agreement bounds angular distance in expectation
    *     (P[sign mismatch per hyperplane] = θ/π), so small-Hamming ⊇
    *     most of the true top-k at rerank ratios ≪ 1.
    *  2. RE-RANK the R = 150 Hamming survivors with exact cosine and
    *     keep k = 3. R is 30% here because the signature has only
    *     dim = 64 bits — measured recall@3 on this corpus: 0.75 at
    *     R = 50, 0.97 at R = 150 (the registered point). At production
    *     dims (768–4096) the signature carries dim bits and rerank
    *     ratios of a few × k reach the same recall; the I/O argument
    *     below is unchanged because the sidecar scales with dim/8
    *     bytes vs 4·dim for float.
    *
    * Both stages are total-ordered ((ham, n_id) / (cosine, n_id)), and
    * every quantity is either integer or the same IEEE dot/sqrt both
    * engines compute, so the whole approximate pipeline has a FULL SQL
    * oracle — DuckDB recomputes the Hamming stage structurally
    * differently (per-coordinate sign-disagreement count, no bit
    * packing), which independently checks the packing/bit_count
    * kernel. Recall vs s01's exact top-k is spec-pinned ≥ 0.9 (the
    * corpus is label-clustered, the favorable-and-realistic case). */
  /** bit i of sig = [v(i) >= 0] — packed with one codegen'd fold over
    * the `v` column. In production this is computed once at ingest and
    * PERSISTED as a long column; pre-rank scans then never touch `v`
    * (column pruning — pinned in `SimilaritySpec`). */
  private[graft] val signatureCol: Column = expr(
    "aggregate(sequence(0, 63), 0L, " +
    "(acc, i) -> acc | CASE WHEN element_at(v, i + 1) >= 0D " +
    "THEN shiftleft(1L, i) ELSE 0L END)")

  /** The WRITE path that produces the persisted signature lane — the
    * piece of the s16 production shape that was previously only
    * hand-assembled in specs. One pass over the float vectors computes
    * `sig` in-plan (the same codegen'd fold as the registered entry)
    * and writes (vec_id, v, sig) id-range-clustered: parquet stores
    * columns in separate chunks, so a pre-rank scan selecting
    * (vec_id, sig) reads ~8 B/vector while the float column's
    * 4·dim B/vector stays on disk — the 100 TB economics are the
    * column pruning, measured in `LayoutSpec` (bytes actually read,
    * signature lane vs float lane), not just plan-asserted. The
    * id-clustering additionally gives the RE-RANK's survivor fetch
    * narrow per-file vec_id envelopes (the Z-order discipline on one
    * dimension): a min/max-pruning reader touches only files whose id
    * range intersects the survivor set. */
  def writeSignedCorpus(vecs: DataFrame, outDir: String, numFiles: Int): Unit = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs.select($"vec_id", $"v").withColumn("sig", signatureCol)
      .repartitionByRange(numFiles, $"vec_id")
      .sortWithinPartitions($"vec_id")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Stage 1 alone, over any (vec_id, sig) frame — the lane that runs
    * against the persisted signature column at scale. */
  private[graft] def hammingPreRank(sigs: DataFrame, qsigs: DataFrame,
                                    rerank: Int): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val wHam = Window.partitionBy($"q_id").orderBy($"ham".asc, $"n_id".asc)
    sigs.crossJoin(broadcast(qsigs))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        bit_count($"sig".bitwiseXOR($"qsig")).as("ham"))
      .withColumn("prerank", row_number().over(wHam))
      .filter($"prerank" <= rerank)
  }

  def binaryHammingTopK(vecs: DataFrame, queryPred: Column,
                        rerank: Int, k: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val full = vecs.withColumn("nrm", norm($"v")).withColumn("sig", signatureCol)
    val qs = full.filter(queryPred)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"), $"sig".as("qsig"))
    val pre = hammingPreRank(full.select($"vec_id", $"sig"),
      qs.select($"q_id", $"qsig"), rerank)
    val wCos = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    pre
      .join(full.select($"vec_id".as("n_id"), $"v", $"nrm"), "n_id")
      .join(broadcast(qs.select($"q_id", $"qv", $"qn")), "q_id")
      .select($"q_id", $"n_id", (dot($"v", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(wCos))
      .filter($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  def s16BinaryTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    binaryHammingTopK(corpus(s, d), $"vec_id" < 20, 150, 3)
  }

  val s16Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), ham AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CASE WHEN (q.v[i] >= 0) <> (c.v[i] >= 0) THEN 1 ELSE 0 END)) AS h
      |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 20
      |), pre AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY h ASC, n_id ASC) AS prerank FROM ham)
      |  WHERE prerank <= 150
      |), scored AS (
      |  SELECT p.q_id, p.n_id,
      |    list_dot_product(q.v, c.v) /
      |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
      |  FROM pre p JOIN e q ON q.vec_id = p.q_id JOIN e c ON c.vec_id = p.n_id
      |)
      |SELECT q_id, n_id, rank, ROUND(cosine, 6) AS cosine_r FROM (
      |  SELECT q_id, n_id, cosine, ROW_NUMBER() OVER (PARTITION BY q_id
      |    ORDER BY cosine DESC, n_id ASC) AS rank FROM scored)
      |WHERE rank <= 3""".stripMargin

  // ---- s17: persisted IVF index (the inverted file as a parquet layout) ----

  /** Write the IVF INVERTED FILE as a parquet layout: corpus assigned
    * to its nearest centroid (the exact s03 assignment rule — cosine
    * desc, cluster_id tie-break) and written `partitionBy(cluster_id)`,
    * one directory per posting list. This is IVF re-expressed in
    * Spark's storage model: no bespoke in-memory index — probe-time
    * list selection is PARTITION PRUNING, resolved against directory
    * names at planning time, so a probe scan opens only the probed
    * lists' files and the unprobed mass (the overwhelming majority at
    * scale: nprobe/k of the lists) is never read. Norms are computed
    * once here and persisted beside the vectors, so serving never
    * recomputes them. At 100 TB: k grows ~√n, each list directory
    * holds corpus/k vectors across multiple files; the index is
    * written once at ingest (beside [[writeSignedCorpus]]'s signature
    * lane) and every query run is metadata-pruned — completing the
    * train-once(:centroids)/index-once(:this)/serve-many seam the
    * `spark.graft.centroids.dir` store started. */
  def writeIvfIndex(vecs: DataFrame, centroids: DataFrame, outDir: String): Unit =
    IndexStore.write(Ivf, vecs, centroids, outDir)

  private val IvfLists = IndexStore.Lane("",
    IndexStore.Clustered(Seq("cluster_id"), Seq("vec_id")),
    IndexStore.columns("vec_id" -> LongType, "v" -> ArrayType(DoubleType),
      "nrm" -> DoubleType, "cluster_id" -> IntegerType))

  /** The IVF artifact for [[IndexStore]]'s lifecycle verbs: the lists
    * ARE the generation root, clustered by cluster_id, and fresh rows
    * are assigned to the caller's FROZEN centroids by the one shared
    * pipeline ([[ivfAssigned]]) — the quantizer is an artifact, not
    * re-trained per batch; re-training is a deliberate offline event
    * that rebuilds. Cost of a fold: one pass over the LISTS (ids +
    * vectors), never the source corpus, plus delta-sized assignment. */
  private[graft] val Ivf = IndexStore.Family[DataFrame]("vec_id", Seq(IvfLists),
    derive = (vecs, centroids, _) => Seq(ivfAssigned(vecs, centroids)))

  def compactIvfIndex(s: SparkSession, indexDir: String): Unit =
    IndexStore.compact(Ivf, s, indexDir)

  /** Tombstone vec ids; [[ivfTopKFromIndex]] masks them, so delete →
    * serve ≡ serve of an index rebuilt without them — hash-checked by
    * the registered s31 entry. */
  def deleteFromIvfIndex(removedIds: DataFrame, indexDir: String,
                         compactEvery: Int = 0): Unit =
    IndexStore.delete(Ivf, removedIds, indexDir, compactEvery)

  /** A re-crawled doc re-embeds: its old vector stops serving the
    * moment the new one starts ([[IndexStore.update]]). */
  def updateInIvfIndex(changed: DataFrame, centroids: DataFrame,
                       indexDir: String): Unit =
    IndexStore.update(Ivf, changed, centroids, indexDir)

  def syncIvfIndex(upserts0: DataFrame, removed: DataFrame,
                   centroids: DataFrame, indexDir: String): Unit =
    IndexStore.sync(Ivf, upserts0, removed, centroids, indexDir)

  /** The one assignment pipeline every lifecycle verb runs — a single
    * body so no path can silently diverge from the rebuild path (their
    * bit-equality is the s18 contract): nearest-centroid rows
    * (vec_id, v, nrm, cluster_id). */
  private def ivfAssigned(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val wc = Window.partitionBy($"vec_id").orderBy($"c_cos".desc, $"cluster_id".asc)
    vecs.withColumn("nrm", norm($"v"))
      .crossJoin(broadcast(centroids))
      .select($"vec_id", $"v", $"nrm", $"cluster_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("c_cos"))
      .withColumn("rn", row_number().over(wc))
      .filter($"rn" === 1)
      .select($"vec_id", $"v", $"nrm", $"cluster_id")
  }

  /** Serve top-k from a persisted [[writeIvfIndex]] layout. The probed
    * list ids are collected to a LITERAL `isin` partition filter
    * (≤ nprobe·|queries| ints — a model-artifact-sized fetch, the
    * centroid-collect precedent), so pruning is static and visible in
    * the plan (`PartitionFilters`/`PartitionCount`, spec-pinned); the
    * search itself is s03's exact-cosine window over the probed lists.
    * (Spark additionally attaches dynamic partition pruning from the
    * broadcast probe join on the partition column — observed in the
    * spec's plan — so a query batch too large to collect could drop
    * the literal filter and still get runtime list pruning via DPP;
    * the static form is kept because it prunes at PLANNING time and
    * makes the pruned file set assertable.)
    * Bit-identical to the in-plan [[s03IvfTopK]] for the same
    * centroids/parameters: doubles round-trip parquet exactly and the
    * dot is index-ordered — s17 hash-checks against s03's own golden. */
  def ivfTopKFromIndex(s: SparkSession, indexDir: String, centroids: DataFrame,
                       queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    import s.implicits._
    // generation resolved ONCE; lists + tombstones read through it
    val root = IndexStore.currentPath(indexDir)
    val wq = Window.partitionBy($"q_id").orderBy($"c_cos".desc, $"cluster_id".asc)
    val probes = queries.crossJoin(broadcast(centroids))
      .select($"q_id", $"qv", $"qn", $"cluster_id",
        (dot($"qv", $"cv") / ($"qn" * $"cn")).as("c_cos"))
      .withColumn("c_rank", row_number().over(wq))
      .filter($"c_rank" <= nprobe)
      .select($"q_id", $"qv", $"qn", $"cluster_id".as("probe_cluster"))
    val probedIds = probes.select($"probe_cluster").distinct()
      .as[Int].collect().sorted
    val index = IndexStore.maskTombstonesAt(
      IndexStore.read(s, root, IvfLists)
        .filter($"cluster_id".isin(probedIds.map(Int.box): _*)),
      root, "vec_id") // plan-identical to pre-deletion when no tombstones
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    index.join(broadcast(probes),
        $"cluster_id" === $"probe_cluster" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (dot($"v", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  /** Registered: build the index in a temp dir in-plan (the oracle
    * contract — every entry a pure function of its input dir; the c12
    * state-build precedent) and serve s03's exact query through it.
    * Production writes the index once and calls [[ivfTopKFromIndex]]
    * per query run; the bench's steady-state probe measures that path. */
  def s17IvfPersistedTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val centroids = trainedCentroids(s, d, k = 5, iters = 2)
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-s17-index").toString
    writeIvfIndex(c.select($"vec_id", $"v"), centroids, indexDir)
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val served = graft.Scratch.track(
      ivfTopKFromIndex(s, indexDir, centroids, q, nprobe = 2, k = 3)
        .localCheckpoint())
    s17IndexDirs.admit(indexDir)
    served
  }

  /** Temp index dirs from the s17/s18 REGISTERED entries, FIFO-capped
    * at 8 (the c12 state-dir precedent). Safe against lazy callers:
    * each entry localCheckpoints (eager) its served result BEFORE its
    * dir is admitted to the queue, so by the time an eviction deletes
    * a dir no returned plan can re-read it — the result rows live in
    * the block manager. Production callers own their index dir via
    * `writeIvfIndex`/`ivfTopKFromIndex` directly and are not subject
    * to this queue. */
  private val s17IndexDirs = new graft.Scratch.DirFifo(8)

  /** Registered: s17's persisted round-trip with the DELETION verb —
    * build the artifact, tombstone vec_id ≡ 0 (mod 7)
    * ([[deleteFromIvfIndex]]), serve s03's exact query through the
    * masked index. Deterministic like s17 (decimal-exact cosines,
    * total-ordered windows; deletion only restricts the neighbor set),
    * so the driver hash-checks it against its own golden; the contract
    * itself — delete → serve ≡ serve of an index REBUILT without the
    * removed vectors, tombstone idempotence, compaction reclaim — is
    * spec-pinned in IndexDeletionSpec (the s18 append≡rebuild
    * precedent). Queries keep their full id range: a removed vector
    * may still QUERY (an external probe), it just can never be
    * returned as a neighbor. */
  def s31IvfDeleteServe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val centroids = trainedCentroids(s, d, k = 5, iters = 2)
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-s31-index").toString
    writeIvfIndex(c.select($"vec_id", $"v"), centroids, indexDir)
    deleteFromIvfIndex(c.filter($"vec_id" % 7 === 0).select($"vec_id"), indexDir)
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val served = graft.Scratch.track(
      ivfTopKFromIndex(s, indexDir, centroids, q, nprobe = 2, k = 3)
        .localCheckpoint())
    s17IndexDirs.admit(indexDir)
    served
  }

  // ---- s18: incremental IVF index maintenance (append the delta) ----

  /** Append a DELTA of vectors to a persisted [[writeIvfIndex]] layout
    * WITHOUT touching standing data: the delta is assigned to the same
    * frozen centroids (the quantizer is an artifact, not re-trained per
    * batch — standard IVF practice; re-train is a deliberate offline
    * event that rebuilds) and appended into the matching list
    * directories (dynamic-partition append — new files land inside
    * existing `cluster_id=` dirs, standing files are never rewritten).
    * Cost ∝ |delta|: one assignment pass over the delta plus one write
    * of delta-sized files — the incremental-family economics
    * (d11/s06/m08/c12/t28) extended to the ANN index, closing the CDC
    * loop for serving: c07 diffs the corpus, s06 delta-joins the new
    * vectors, s18 keeps the INDEX current without a rebuild.
    *
    * Serving the appended index is BIT-IDENTICAL to a full rebuild over
    * standing ∪ delta with the same centroids: assignment is per-vector
    * independent, and [[ivfTopKFromIndex]]'s windows are total-ordered,
    * so file/row arrival order cannot leak into results (spec-pinned,
    * and the registered entry hash-checks against s03's golden — the
    * third same-answer check on this path after rebuild ≡ in-plan). */
  def appendToIvfIndex(delta: DataFrame, centroids: DataFrame,
                       indexDir: String, compactEvery: Int = 0): Unit =
    IndexStore.append(Ivf, delta, centroids, indexDir, compactEvery)

  /** Registered: standing index (first ~80% of the id range) + delta
    * append (last ~20%), then s03's exact query served through the
    * grown index — ≡ s03's golden for ANY split boundary, which is the
    * operator's whole contract (the c12 registration discipline). */
  def s18IvfAppendServe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val centroids = trainedCentroids(s, d, k = 5, iters = 2)
    val maxId = c.agg(max($"vec_id")).head().getLong(0)
    val boundary = maxId - (maxId + 1) / 5
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-s18-index").toString
    writeIvfIndex(c.filter($"vec_id" <= boundary).select($"vec_id", $"v"),
      centroids, indexDir)
    appendToIvfIndex(c.filter($"vec_id" > boundary).select($"vec_id", $"v"),
      centroids, indexDir)
    val served = graft.Scratch.track(ivfTopKFromIndex(s, indexDir, centroids,
      c.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn")),
      nprobe = 2, k = 3)
      .localCheckpoint())
    s17IndexDirs.admit(indexDir)
    served
  }

  // ---- s19: embedding-space benchmark decontamination ----

  /** s19: the vector-space leg of benchmark decontamination — the
    * semantic twin of d07/d16's n-gram overlap rule. Paraphrased or
    * translated eval contamination shares almost no shingles with its
    * source (n-gram decontamination is blind to it) but lands close in
    * embedding space; scoring every training vector's MAX cosine
    * against the benchmark suite and cutting at τ is the published
    * remedy. The output is the full per-vector audit artifact (nearest
    * benchmark id, score, decision) rather than only the flagged tail —
    * the datasheet a release review reads, and the form whose oracle
    * checks every row's argmax rather than a 4-row slice.
    *
    * Scale (100 TB): benchmark suites are SMALL by construction — the
    * same premise d16's Bloom filter rests on. The bench matrix
    * (ids, vectors, precomputed norms) is collected once on the driver
    * and rides to executors inside the task binary via
    * [[graft.functions.MaxCosineAgainst]]; the corpus then STREAMS
    * through one fused map stage — no join, no row multiplication, no
    * shuffle anywhere in the plan (pinned in PlanSpec), scan pruned to
    * (vec_id, embedding). Cost is pure FLOPs: |corpus|·|bench|·dim
    * multiply-adds, embarrassingly parallel. If a bench suite ever
    * outgrows broadcast size, the IVF-probed join (s03/s08 machinery)
    * is the same-predicate fallback — probe only the benchmark's
    * nearest buckets instead of scanning all of it. */
  def s19BenchDecontamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).select($"vec_id", $"v")
    benchDecontaminationAudit(c.filter($"vec_id" >= 50),
      c.filter($"vec_id" < 50), tau = 0.45)
  }

  /** Frame-taking core of s19: corpus and benchmark as (vec_id, v)
    * frames. Bench rows are collected ASCENDING so the kernel's
    * scan-order tie-break equals `ORDER BY cosine DESC, bench_id ASC`. */
  private[graft] def benchDecontaminationAudit(corpus: DataFrame, bench: DataFrame,
                                               tau: Double): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val b = bench.select($"vec_id", $"v").orderBy($"vec_id")
      .as[(Long, Array[Double])].collect()
    val norms = b.map { case (_, v) =>
      var s0 = 0.0; var i = 0
      while (i < v.length) { s0 += v(i) * v(i); i += 1 }
      math.sqrt(s0)
    }
    corpus
      .withColumn("mc", graft.functions.MaxCosineAgainst(
        $"v", b.map(_._1), b.map(_._2), norms))
      .select($"vec_id", $"mc.bench_id".as("bench_id"),
        round($"mc.cosine", 6).as("cosine_r"),
        ($"mc.cosine" >= tau).as("contaminated"))
  }

  val s19Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), b AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e WHERE vec_id < 50
      |), c AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e WHERE vec_id >= 50
      |), sims AS (
      |  SELECT c.vec_id, b.vec_id AS bench_id,
      |    list_dot_product(c.v, b.v) / (c.nrm * b.nrm) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      |      ORDER BY list_dot_product(c.v, b.v) / (c.nrm * b.nrm) DESC,
      |               b.vec_id ASC) AS rn
      |  FROM c CROSS JOIN b
      |)
      |SELECT vec_id, bench_id, ROUND(cosine, 6) AS cosine_r,
      |       cosine >= 0.45 AS contaminated
      |FROM sims WHERE rn = 1""".stripMargin

  // ---- s20: Matryoshka truncation audit ----

  /** s20: the dimension-commit diagnostic — before choosing how many
    * leading dimensions of an embedding column to index (Matryoshka
    * representation learning, Kusupati et al. 2022: MRL-trained
    * embeddings keep most ranking signal in a prefix), measure what
    * each truncation actually costs: per (query, prefix length m),
    * the top-k under first-m-dims cosine and its OVERLAP with the
    * full-dimension top-k. This is the third face of the storage
    * ladder's measurement discipline — s05 prices int8, s16/LayoutSpec
    * price the 1-bit lane, s20 prices dropping dimensions outright
    * (a 64→16 truncation is 4× less scan I/O with zero decode cost,
    * better than int8 IF the overlap holds; these fixture embeddings
    * are not MRL-trained, so low-m overlap is expectedly weak — the
    * audit exists to catch exactly that before a layout commits).
    *
    * Scale: one s01-shaped pass per probed m — query side broadcast,
    * corpus streams, per-query top-k windows over the candidate frame;
    * the audit runs over a bounded query SAMPLE by construction (its
    * output is a decision table, not a serving path). Everything is
    * integer ranks + the same sequential-order dot kernel → full SQL
    * oracle (slices preserve element order in both engines). */
  def s20MatryoshkaAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).select($"vec_id", $"v")
    def topk(m: Int): DataFrame = {
      val cm = c.select($"vec_id", slice($"v", 1, m).as("vm"))
        .withColumn("nrm", norm($"vm"))
      val q = cm.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"vm".as("qv"), $"nrm".as("qn"))
      val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
      cm.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("n_id"),
          (dot($"vm", $"qv") / ($"nrm" * $"qn")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"q_id", $"n_id", $"rank")
    }
    // each ranking is materialized ONCE (r19, guide §2.4): the m = 64
    // frame is both the overlap reference of all four branches and its
    // own output row, and every branch references its own ranking twice
    // (semi-join + top-1) — unmaterialized, Catalyst re-ran the
    // corpus×queries probe per reference (~11 probe evaluations; now
    // exactly 4). The checkpointed frames are |Q|·3 rows; released at
    // the consumer's next Scratch.drain().
    def ranked(m: Int): DataFrame =
      graft.Scratch.track(topk(m).localCheckpoint())
    val t64 = ranked(64)
    val full = t64.select($"q_id", $"n_id")
    (Seq(8, 16, 32).map(m => (m, ranked(m))) :+ (64, t64)).map { case (m, t) =>
      val top1 = t.filter($"rank" === 1).select($"q_id", $"n_id".as("top1_id"))
      t.join(full, Seq("q_id", "n_id"), "left_semi")
        .groupBy($"q_id").agg(count(lit(1)).as("overlap3"))
        // a prefix ranking can be fully disjoint from the full top-k —
        // keep those queries at overlap 0 instead of dropping the row
        .join(top1, Seq("q_id"), "right")
        .select($"q_id", lit(m).as("m"), $"top1_id",
          coalesce($"overlap3", lit(0L)).as("overlap3"))
    }.reduce(_ unionByName _)
  }

  val s20Sql: String = {
    def topkSql(m: Int): String =
      s"""SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.vm, c.vm) /
         |        (sqrt(list_dot_product(q.vm, q.vm)) * sqrt(list_dot_product(c.vm, c.vm))) DESC,
         |        c.vec_id ASC) AS rank
         |  FROM (SELECT vec_id, vm FROM e$m WHERE vec_id < 20) q
         |  JOIN e$m c ON c.vec_id <> q.vec_id
         |  QUALIFY rank <= 3""".stripMargin
    val es = Seq(8, 16, 32, 64).map(m =>
      s"""e$m AS (
         |  SELECT vec_id, list_transform(embedding[1:$m], x -> CAST(x AS DOUBLE)) AS vm
         |  FROM embeddings
         |), t$m AS (
         |  ${topkSql(m).replace("\n", "\n  ")}
         |)""".stripMargin).mkString(", ")
    val unions = Seq(8, 16, 32, 64).map(m =>
      s"""SELECT p.q_id, $m AS m,
         |  MAX(CASE WHEN p.rank = 1 THEN p.n_id END) AS top1_id,
         |  COUNT(f.n_id) AS overlap3
         |FROM t$m p LEFT JOIN t64 f ON f.q_id = p.q_id AND f.n_id = p.n_id
         |GROUP BY 1""".stripMargin).mkString("\nUNION ALL\n")
    s"WITH $es\n$unions"
  }

  // ---- s21: IVF-probed decontamination (the big-bench fallback) ----

  /** s21: s19 when the benchmark suite outgrows broadcast — the probed
    * form s19's scaladoc promises, now concrete. The BENCH side is
    * multi-probe INDEXED (each bench vector replicated into its 2
    * nearest buckets — replicating the small side is the cheap half
    * of the asymmetric trade, and it is what buys the recall floor);
    * each CORPUS vector probes its nprobe nearest centroids and takes
    * the argmax cosine over only the bench vectors in those buckets.
    * A pair meeting in two shared buckets yields byte-identical
    * candidate rows, so the argmax window is unaffected. Candidate
    * volume per corpus vector is the probed buckets' replicated bench
    * mass (~nprobe·r/k of the suite), never the suite — the s03/s08
    * economics pointed at an asymmetric join.
    *
    * Error model is one-sided, like the rest of the IVF family: a
    * FLAG always carries a true witness (precision 1 — the cosine is
    * exact, only the candidate set is approximate), a flag is MISSED
    * only if every ≥ τ witness lives outside the probed buckets; the
    * subset/precision properties and a fixture recall floor are
    * spec-pinned against s19's exact audit. Deterministic seed
    * quantizer → full SQL oracle (the s08 discipline; production
    * swaps in trained centroids config-only, same plan). */
  def s21ProbedDecontamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = corpus(s, d).select($"vec_id", $"v")
    val bench = all.filter($"vec_id" < 50)
    val corp = all.filter($"vec_id" >= 50)
    val cen = seedCentroids(bench, 5)
    val benchHome = probeAssignments(bench, cen, nprobe = 2, maxBucket = 0L)
      .select($"vec_id".as("bench_id"), $"v".as("bv"), $"nrm".as("bn"), $"cluster_id")
    val wb = Window.partitionBy($"vec_id").orderBy($"cosine".desc, $"bench_id".asc)
    val best = probeAssignments(corp, cen, nprobe = 2, maxBucket = 0L)
      .join(benchHome, Seq("cluster_id"))
      .select($"vec_id", $"bench_id",
        (dot($"v", $"bv") / ($"nrm" * $"bn")).as("cosine"))
      .withColumn("rn", row_number().over(wb)).filter($"rn" === 1)
    corp.select($"vec_id")
      .join(best, Seq("vec_id"), "left")
      .select($"vec_id", $"bench_id", round($"cosine", 6).as("cosine_r"),
        coalesce($"cosine" >= 0.45, lit(false)).as("contaminated"))
  }

  val s21Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), en AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
      |), b AS (
      |  SELECT * FROM en WHERE vec_id < 50
      |), c AS (
      |  SELECT * FROM en WHERE vec_id >= 50
      |), cen AS (
      |  SELECT vec_id AS cluster_id, v AS cv, nrm AS cn FROM b WHERE vec_id < 5
      |), ba AS (
      |  SELECT vec_id AS bench_id, v AS bv, nrm AS bn, cluster_id FROM (
      |    SELECT b.vec_id, b.v, b.nrm, cen.cluster_id,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
      |        ORDER BY list_dot_product(b.v, cen.cv) / (b.nrm * cen.cn) DESC,
      |                 cen.cluster_id ASC) AS rn
      |    FROM b CROSS JOIN cen) WHERE rn <= 2
      |), cp AS (
      |  SELECT vec_id, v, nrm, cluster_id FROM (
      |    SELECT c.vec_id, c.v, c.nrm, cen.cluster_id,
      |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_dot_product(c.v, cen.cv) / (c.nrm * cen.cn) DESC,
      |                 cen.cluster_id ASC) AS rn
      |    FROM c CROSS JOIN cen) WHERE rn <= 2
      |), best AS (
      |  SELECT vec_id, bench_id, cosine FROM (
      |    SELECT cp.vec_id, ba.bench_id,
      |      list_dot_product(cp.v, ba.bv) / (cp.nrm * ba.bn) AS cosine,
      |      ROW_NUMBER() OVER (PARTITION BY cp.vec_id
      |        ORDER BY list_dot_product(cp.v, ba.bv) / (cp.nrm * ba.bn) DESC,
      |                 ba.bench_id ASC) AS rn
      |    FROM cp JOIN ba USING (cluster_id)) WHERE rn = 1
      |)
      |SELECT c.vec_id, best.bench_id, ROUND(best.cosine, 6) AS cosine_r,
      |  COALESCE(best.cosine >= 0.45, FALSE) AS contaminated
      |FROM c LEFT JOIN best USING (vec_id)""".stripMargin

  // ---- s22: IVF recall audit (recall@k per probe depth) ----

  /** s22: the index-tuning table — measured recall@k of the IVF probe
    * against the exact s01 ranking, per (query, nprobe). The audit
    * discipline's retrieval face: s05 prices int8, s16 prices the
    * 1-bit lane, s20 prices dimension drop, s22 prices PROBE DEPTH —
    * the one dial every IVF deployment tunes blind without exactly
    * this table (recall is data-dependent: clustered corpora saturate
    * at small nprobe, this fixture's unclustered gaussians pay ~1/k
    * per probe — the audit exists to measure which corpus you have).
    * nprobe spans {1, 2, 3, 5}; 5 = k is the exhaustive row, which
    * must reproduce the exact ranking (recall 1) — the audit carries
    * its own calibration anchor.
    *
    * Scale: one probed candidate join per audit (the nprobe axis
    * rides as a tiny broadcast dimension table multiplying only the
    * QUERY side — the corpus is scanned once, candidates ∝ probed
    * bucket mass per (query, nprobe)); the exact side is one
    * s01-shaped broadcast pass over the bounded query sample. A
    * decision table, not a serving path (the s20 rule). Integer hit
    * counts + total-ordered windows → full SQL oracle. */
  def s22IvfRecallAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val cen = seedCentroids(c, 5)
    val wc = Window.partitionBy($"vec_id").orderBy($"c_cos".desc, $"cluster_id".asc)
    val home = c.crossJoin(broadcast(cen))
      .select($"vec_id", $"v", $"nrm", $"cluster_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("c_cos"))
      .withColumn("rn", row_number().over(wc)).filter($"rn" === 1)
      .select($"vec_id", $"v", $"nrm", $"cluster_id")
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val wq = Window.partitionBy($"q_id").orderBy($"c_cos".desc, $"cluster_id".asc)
    val qp = q.crossJoin(broadcast(cen))
      .select($"q_id", $"qv", $"qn", $"cluster_id",
        (dot($"qv", $"cv") / ($"qn" * $"cn")).as("c_cos"))
      .withColumn("c_rank", row_number().over(wq)).filter($"c_rank" <= 5)
    val nps = Seq(1, 2, 3, 5).toDF("nprobe")
    val probes = qp.join(broadcast(nps), $"c_rank" <= $"nprobe")
      .select($"q_id", $"qv", $"qn", $"cluster_id".as("probe_cluster"), $"nprobe")
    val wi = Window.partitionBy($"q_id", $"nprobe").orderBy($"cosine".desc, $"n_id".asc)
    val ivf = home.join(broadcast(probes),
        $"cluster_id" === $"probe_cluster" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"nprobe", $"vec_id".as("n_id"),
        (dot($"v", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rn", row_number().over(wi)).filter($"rn" <= 3)
      .select($"q_id", $"nprobe", $"n_id")
    val we = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    val exact = c.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (dot($"v", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(we)).filter($"rank" <= 3)
      .select($"q_id", $"n_id")
    val hits = ivf.join(exact, Seq("q_id", "n_id"))
      .groupBy($"q_id", $"nprobe").agg(count(lit(1)).as("h"))
    q.select($"q_id").crossJoin(broadcast(nps))
      .join(hits, Seq("q_id", "nprobe"), "left")
      .select($"q_id", $"nprobe",
        coalesce($"h", lit(0L)).cast("long").as("n_hits"),
        round(coalesce($"h", lit(0L)) / lit(3.0), 6).as("recall_r"))
  }

  val s22Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), en AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
      |), cen AS (
      |  SELECT vec_id AS cluster_id, v AS cv, nrm AS cn FROM en WHERE vec_id < 5
      |), home AS (
      |  SELECT vec_id, v, nrm, cluster_id FROM (
      |    SELECT en.vec_id, en.v, en.nrm, cen.cluster_id,
      |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
      |        ORDER BY list_dot_product(en.v, cen.cv) / (en.nrm * cen.cn) DESC,
      |                 cen.cluster_id ASC) AS rn
      |    FROM en CROSS JOIN cen) WHERE rn = 1
      |), q AS (
      |  SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en WHERE vec_id < 20
      |), np AS (
      |  SELECT unnest([1, 2, 3, 5]) AS nprobe
      |), qp AS (
      |  SELECT q_id, qv, qn, cluster_id, c_rank FROM (
      |    SELECT q.q_id, q.qv, q.qn, cen.cluster_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id
      |        ORDER BY list_dot_product(q.qv, cen.cv) / (q.qn * cen.cn) DESC,
      |                 cen.cluster_id ASC) AS c_rank
      |    FROM q CROSS JOIN cen) WHERE c_rank <= 5
      |), ivf AS (
      |  SELECT q_id, nprobe, n_id FROM (
      |    SELECT qp.q_id, np.nprobe, home.vec_id AS n_id,
      |      ROW_NUMBER() OVER (PARTITION BY qp.q_id, np.nprobe
      |        ORDER BY list_dot_product(home.v, qp.qv) / (home.nrm * qp.qn) DESC,
      |                 home.vec_id ASC) AS rn
      |    FROM qp JOIN np ON qp.c_rank <= np.nprobe
      |    JOIN home ON home.cluster_id = qp.cluster_id
      |             AND home.vec_id <> qp.q_id) WHERE rn <= 3
      |), exact AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q.q_id, en.vec_id AS n_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id
      |        ORDER BY list_dot_product(en.v, q.qv) / (en.nrm * q.qn) DESC,
      |                 en.vec_id ASC) AS rank
      |    FROM en CROSS JOIN q WHERE en.vec_id <> q.q_id) WHERE rank <= 3
      |), hits AS (
      |  SELECT q_id, nprobe, COUNT(*) AS h
      |  FROM ivf JOIN exact USING (q_id, n_id)
      |  GROUP BY 1, 2
      |)
      |SELECT q.q_id, np.nprobe,
      |  CAST(COALESCE(hits.h, 0) AS BIGINT) AS n_hits,
      |  ROUND(COALESCE(hits.h, 0) / 3.0, 6) AS recall_r
      |FROM q CROSS JOIN np
      |LEFT JOIN hits ON hits.q_id = q.q_id AND hits.nprobe = np.nprobe""".stripMargin

  // ---- s28: ADC quantization-loss audit (compression's price tag) ----

  /** s28: the audit row the compressed lane was missing — measured
    * recall@3 and retained cosine mass of the IVFADC ranking (s13:
    * coarse probe + 32×-compressed ADC scores) against the EXACT s01
    * ranking, per query. The audit set now prices every dial of the
    * serving ladder the same way: s05 int8, s16 the 1-bit lane, s20
    * dimension drop, s22 probe depth, s28 PRODUCT QUANTIZATION — the
    * dial a deployment turns when the float corpus stops fitting
    * (s12→s13's premise) and otherwise tunes blind. Two readings per
    * query: n_hits/recall (rank agreement) and cos_captured_r = exact
    * cosine mass of the ADC picks over the exact top-3 mass — the
    * second catches the benign miss (picked a near-tie) that recall
    * alone cannot distinguish from a real one.
    *
    * Scale: s13's serving plan (broadcast-model joins; see its
    * scaladoc) + one broadcast lookup of ≤ |Q|·k exact cosines — the
    * corpus is scanned, never shuffled beyond s13's own final sum.
    * Per-query cosine sums go through decimal(18,6) on 6dp-rounded
    * values, so the division is parallelism-proof. Engine-side
    * quantizers (fixed-seed Lloyd's) → golden-snapshot oracle, the
    * s12/s13 discipline; determinism inherited from s13's own
    * PartitionInvariance pin. */
  def s28AdcRecallAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19 batch 5 corpus fan-out: A/B 2.11 → 1.82 s
    val c = corpusFanned(s, d).withColumn("nrm", norm($"v"))
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    // exact 6dp cosine of an arbitrary (q_id, n_id) pick set: corpus
    // streams past the broadcast picks — ≤ |Q|·k rows survive
    def exactCos(picks: DataFrame) = c
      .select($"vec_id".as("n_id"), $"v".as("nv"), $"nrm".as("nn"))
      .join(broadcast(picks), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select($"q_id", $"n_id",
        round(dot($"nv", $"qv") / ($"nn" * $"qn"), 6)
          .cast("decimal(18,6)").as("ec"))
    // both pick sets are materialized (r19, guide §2.4): each is
    // referenced twice (the rank-agreement semi-join and its exactCos
    // broadcast), and each reference re-ran the full s13/s01 subtree —
    // two IVFADC serves and two exact top-k passes per s28 execution.
    // |Q|·k rows each; released at the consumer's next Scratch.drain().
    val adc = graft.Scratch.track(
      s13IvfAdcTopK(s, d).select($"q_id", $"n_id").localCheckpoint())
    val exact = graft.Scratch.track(
      s01CosineTopK(s, d).select($"q_id", $"n_id").localCheckpoint())
    val hits = adc.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy($"q_id").agg(count(lit(1)).as("h"))
    val adcMass = exactCos(adc).groupBy($"q_id").agg(sum($"ec").as("am"))
    val exMass = exactCos(exact).groupBy($"q_id").agg(sum($"ec").as("em"))
    q.select($"q_id")
      .join(hits, Seq("q_id"), "left_outer")
      .join(adcMass, Seq("q_id"), "left_outer")
      .join(exMass, Seq("q_id"), "left_outer")
      .select($"q_id",
        coalesce($"h", lit(0L)).as("n_hits"),
        round(coalesce($"h", lit(0L)) / lit(3.0), 6).as("recall_r"),
        round(coalesce($"am", lit(java.math.BigDecimal.ZERO)).cast("double") /
          $"em".cast("double"), 6).as("cos_captured_r"))
  }

  // ---- s25: attribute-filtered top-k (filtered ANN) ----

  /** s25: top-k nearest neighbors UNDER A METADATA FILTER — each query
    * retrieves only from its own label class, the "filtered search"
    * every production vector store ends up needing (tenant isolation,
    * language-matched retrieval, same-split decontamination sweeps).
    * Post-filtering a plain top-k under-returns (the true k-th
    * same-label neighbor may sit below k unfiltered ranks); the correct
    * form pushes the predicate INTO candidate generation.
    *
    * Spark makes the pushed form the BETTER plan, not a compromise:
    * the filter attribute becomes the join key, so the query side
    * broadcasts and the corpus streams through a *hash* join keyed on
    * label (s01 needs a nested-loop pass of every query against every
    * row; here each corpus row meets only its label's queries). With a
    * persisted index the same predicate becomes partition pruning
    * (s17's layout keyed (label, cluster_id) — the composition is
    * mechanical). Exact answers, full SQL oracle. */
  def s25FilteredTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"label", $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    c.select($"vec_id".as("n_id"), $"label", $"v".as("nv"), $"nrm".as("nn"))
      .join(broadcast(q), Seq("label"))
      .filter($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id",
        (dot($"qv", $"nv") / ($"qn" * $"nn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  val s25Sql: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |), scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
      |               c.vec_id ASC) AS rank
      |  FROM e q JOIN e c ON q.label = c.label AND q.vec_id != c.vec_id
      |  WHERE q.vec_id < 20
      |)
      |SELECT q_id, n_id, rank, ROUND(cosine, 6) AS cosine_r
      |FROM scored WHERE rank <= 3""".stripMargin

  // ---- s29: filtered serving from a label-partitioned persisted index ----

  /** The labeled layout's one assignment pipeline (the [[ivfAssigned]]
    * discipline on the two-level key). */
  private def labeledIvfAssigned(vecs: DataFrame,
                                 centroids: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val wc = Window.partitionBy($"vec_id").orderBy($"c_cos".desc, $"cluster_id".asc)
    vecs.withColumn("nrm", norm($"v"))
      .crossJoin(broadcast(centroids))
      .select($"vec_id", $"label", $"v", $"nrm", $"cluster_id",
        (dot($"v", $"cv") / ($"nrm" * $"cn")).as("c_cos"))
      .withColumn("rn", row_number().over(wc))
      .filter($"rn" === 1)
      .select($"vec_id", $"label", $"v", $"nrm", $"cluster_id")
  }

  /** Write the corpus as a (label, cluster_id)-partitioned exact-vector
    * layout — the persisted form of s25's filtered search, closing the
    * composition s25's scaladoc promises: the filter attribute becomes
    * the OUTER partition key, so a filtered query prunes to its label's
    * directory subtree at planning time, and within a label the s17
    * probe machinery applies unchanged on the inner cluster_id key.
    * Lifecycle through [[IndexStore]]'s verbs ([[LabeledIvf]]). */
  def writeLabeledIvfIndex(vecs: DataFrame, centroids: DataFrame,
                           dir: String): Unit =
    IndexStore.write(LabeledIvf, vecs, centroids, dir)

  private val LabeledLists = IndexStore.Lane("",
    IndexStore.Clustered(Seq("label", "cluster_id"), Seq("vec_id")),
    IndexStore.columns("vec_id" -> LongType, "v" -> ArrayType(DoubleType),
      "nrm" -> DoubleType, "label" -> IntegerType, "cluster_id" -> IntegerType))

  /** The labeled layout for [[IndexStore]]'s lifecycle verbs: [[Ivf]]
    * on the two-level (label, cluster_id) key. A re-crawled doc can
    * change its LABEL as well as its vector; a fold replaces the whole
    * row, so both move together atomically — and the revision pick
    * ([[IndexStore.latestRevision]]) takes whole rows too. */
  private[graft] val LabeledIvf = IndexStore.Family[DataFrame]("vec_id", Seq(LabeledLists),
    derive = (vecs, centroids, _) => Seq(labeledIvfAssigned(vecs, centroids)))

  def updateInLabeledIvfIndex(changed0: DataFrame, centroids: DataFrame,
                              dir: String): Unit =
    IndexStore.update(LabeledIvf, changed0, centroids, dir)

  def syncLabeledIvfIndex(upserts0: DataFrame, removed: DataFrame,
                          centroids: DataFrame, dir: String): Unit =
    IndexStore.sync(LabeledIvf, upserts0, removed, centroids, dir)

  def deleteFromLabeledIvfIndex(removedIds: DataFrame, dir: String,
                                compactEvery: Int = 0): Unit =
    IndexStore.delete(LabeledIvf, removedIds, dir, compactEvery)

  def compactLabeledIvfIndex(s: SparkSession, dir: String): Unit =
    IndexStore.compact(LabeledIvf, s, dir)

  /** Exact filtered top-k served from the labeled layout: the query
    * set's labels collect to a literal `isin` partition filter (≤ the
    * label vocabulary — a model-artifact-sized fetch, the s17
    * literal-isin discipline), so ONLY the queried labels' subtrees
    * are planned or read; within a label the scan is exhaustive, so
    * answers are EXACT ≡ [[s25FilteredTopK]] (probed approximate
    * serving within a label is [[ivfTopKFromIndex]]'s machinery on the
    * inner key — mechanical, deliberately not fused here so the exact
    * form keeps s25's oracle). */
  def filteredTopKFromIndex(s: SparkSession, dir: String,
                            queries: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val qLabels = queries.select($"label").distinct()
      .as[Int].collect().sorted
    // generation resolved ONCE; subtree + tombstones read through it
    val root = IndexStore.currentPath(dir)
    val index = IndexStore.maskTombstonesAt(
      IndexStore.read(s, root, LabeledLists)
        .filter($"label".isin(qLabels.map(Int.box): _*)),
      root, "vec_id") // tombstone masking ([[deleteFromLabeledIvfIndex]]); identity when none
    val w = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    index.join(broadcast(queries), Seq("label"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (dot($"v", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"q_id", $"n_id", $"rank", round($"cosine", 6).as("cosine_r"))
  }

  /** Registered: build the labeled index in-plan (oracle
    * self-containment — the s17/c12 discipline; temp dir under the
    * shared FIFO) and serve s25's exact query through it — the driver
    * hash-checks the persisted filtered layout against s25's OWN
    * oracle, the s17≡s03 precedent on the filtered modality. */
  def s29LabeledIndexServe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val centroids = trainedCentroids(s, d, k = 5, iters = 2)
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-s29-index").toString
    writeLabeledIvfIndex(c.select($"vec_id", $"label", $"v"), centroids, indexDir)
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"label", $"v".as("qv"), $"nrm".as("qn"))
    val served = graft.Scratch.track(
      filteredTopKFromIndex(s, indexDir, q, k = 3).localCheckpoint())
    s17IndexDirs.admit(indexDir)
    served
  }

  // ---- s23: SemDeDup — semantic dedup via cluster-bucketed cosine ----

  /** s23: SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication") — the
    * embedding-space analogue of the d04→d08 chain: paraphrases and
    * re-renderings that share no n-grams land close in embedding
    * space, so dedup there catches what MinHash structurally cannot.
    * The published algorithm: cluster the corpus with k-means, compare
    * pairs ONLY within a cluster, connect pairs above τ, keep one
    * representative per component. The restriction to within-cluster
    * pairs is the algorithm's own stated approximation (its compute
    * bound), not a shortcut — so the oracle replicates it exactly.
    *
    * Output: one row per vector — its cluster, its component
    * representative (min vec_id; itself when unpaired), and the keep
    * flag a downstream filter consumes. The registered entry uses the
    * [[seedCentroids]] quantizer so the WHOLE program — assignment,
    * within-cluster pairs, connected components (recursive CTE) — is
    * replicable in SQL and hash-checked end to end (the s08/d08
    * precedent combined); production swaps in [[trainedCentroids]],
    * which changes only the bucketing quality, not the contract.
    *
    * Scale: assignment is a broadcast-centroid argmax (one narrow
    * pass); the pair join is equi-keyed on cluster_id with
    * within-bucket quadratic bounded by k ∝ n/target-bucket (s08's
    * economics); CC runs on the sparse above-τ graph (the d08
    * machinery — doubling rounds, bounded storage). Nothing
    * corpus-quadratic anywhere — EXCEPT a mass-duplicated vector
    * piling one cluster, which is the production entry's job:
    * [[s26SemDedupCollapsed]] is this same program behind an exact
    * pre-collapse (answer-preserving, hash-checked against this
    * entry's own oracle). Copy-paste users should lift s26. */
  def s23SemDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d)
    semDedupFlags(c.select($"vec_id", $"v"), seedCentroids(c, 8), 0.45)
  }

  /** The SemDeDup program over any (vec_id, v) frame — assignment,
    * within-cluster τ pairs, CC, min-rep keep flags. See
    * [[s23SemDedup]] (oracle form) and [[s26SemDedupCollapsed]] (the
    * production form with the dup-storm guard). */
  private[graft] def semDedupFlags(vecs: DataFrame, cen: DataFrame,
                                   tau: Double): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val assigned =
      probeAssignments(vecs.select($"vec_id", $"v"), cen,
        nprobe = 1, maxBucket = 0L)
    val a = assigned.select($"cluster_id", $"vec_id".as("a_id"),
      $"v".as("av"), $"nrm".as("an"))
    val b = assigned.select($"cluster_id", $"vec_id".as("b_id"),
      $"v".as("bv"), $"nrm".as("bn"))
    val pairs = a.join(b, Seq("cluster_id"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id", (dot($"av", $"bv") / ($"an" * $"bn")).as("cosine"))
      .filter($"cosine" >= tau)
      .select($"a_id".as("d1"), $"b_id".as("d2"))
    val comps = Dedup.clusterPairs(pairs)
      .select($"doc_id".as("vec_id"), $"cluster_rep".as("rep_id"))
    assigned.select($"vec_id", $"cluster_id")
      .join(comps, Seq("vec_id"), "left")
      .select($"vec_id", $"cluster_id",
        coalesce($"rep_id", $"vec_id").as("rep_id"))
      .withColumn("keep", $"rep_id" === $"vec_id")
  }

  // ---- s26: SemDeDup, production form (exact pre-collapse) ----

  /** s26: s23's PRODUCTION twin — the same SemDeDup program behind the
    * dup-storm guard the r13 verdict asked for (the c10/c11 exact+
    * pruned precedent). SemDeDup's pathological input is a
    * mass-duplicated embedding (re-crawled page, default thumbnail,
    * all-zero vector): every copy lands in one cluster and the
    * within-cluster pair join goes quadratic in the copy count. The
    * guard is an EXACT pre-collapse, not a cap: byte-identical vectors
    * group first (one shuffle on the vector value, min-id rep), the
    * whole cluster→pair→CC program runs over DISTINCT vectors only,
    * and members inherit their rep's row at the end.
    *
    * Answer-preserving by construction — identical vectors get the
    * same cluster (same argmax, same tie-break), pair at cosine
    * exactly 1.0 ≥ τ with each other and identically against third
    * vectors, so the uncapped component structure maps 1:1 onto the
    * collapsed one and rep_id = the component's global min vec_id
    * either way. The driver hash-checks s26 against s23's OWN oracle
    * (the d10/c11 same-answer-scalable-plan discipline); the dup-storm
    * equivalence is spec-pinned in SkewStressSpec (1000-copy vector
    * storm: rep-level join sees one row per distinct vector, output
    * identical to the uncapped program's).
    *
    * Scale: the collapse is one groupBy on the vector value (uniform
    * key — identical bytes hash identically, map-side combined) + one
    * membership join; everything downstream is s23's shape at
    * distinct-vector cardinality. Centroids still come from the FULL
    * corpus id range so the assignment function is bit-identical. */
  def s26SemDedupCollapsed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d)
    semDedupCollapsed(c.select($"vec_id", $"v"), seedCentroids(c, 8), 0.45)
  }

  /** Frame-taking core of [[s26SemDedupCollapsed]]. */
  private[graft] def semDedupCollapsed(vecs: DataFrame, cen: DataFrame,
                                       tau: Double): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val groups = vecs.groupBy($"v").agg(min($"vec_id").as("rep"))
    val members = vecs.join(groups, Seq("v")).select($"vec_id", $"rep")
    val reps = vecs.join(groups.select($"rep".as("vec_id")),
      Seq("vec_id"), "left_semi")
    val repOut = semDedupFlags(reps, cen, tau)
      .select($"vec_id".as("rep"), $"cluster_id", $"rep_id")
    members.join(repOut, Seq("rep"))
      .select($"vec_id", $"cluster_id", $"rep_id")
      .withColumn("keep", $"rep_id" === $"vec_id")
  }

  /** The full SemDeDup program in SQL: seed-quantizer argmax
    * assignment (s08's probes CTE at nprobe = 1), within-cluster τ
    * pairs, recursive-CTE connected components (d08's), min-rep keep. */
  val s23Sql: String =
    """WITH RECURSIVE en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |), cen AS (
      |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM en WHERE vec_id < 8
      |), assigned AS (
      |  SELECT vec_id, v, nrm, cid AS cluster_id FROM (
      |    SELECT en.vec_id, en.v, en.nrm, cen.cid,
      |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
      |        ORDER BY list_dot_product(en.v, cen.cv) / (en.nrm * cen.cn) DESC,
      |                 cen.cid ASC) AS rn
      |    FROM en CROSS JOIN cen
      |  ) WHERE rn = 1
      |), pairs AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2
      |  FROM assigned a JOIN assigned b
      |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
      |), edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION ALL SELECT d2, d1 FROM pairs
      |), reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
      |), comps AS (
      |  SELECT id AS vec_id, MIN(r) AS rep_id FROM reach GROUP BY id
      |)
      |SELECT a.vec_id, a.cluster_id,
      |  COALESCE(c.rep_id, a.vec_id) AS rep_id,
      |  COALESCE(c.rep_id, a.vec_id) = a.vec_id AS keep
      |FROM assigned a LEFT JOIN comps c USING (vec_id)""".stripMargin

  // ---- s24: cosine range search (radius retrieval) ----

  /** s24: range search — ALL corpus vectors within cosine ≥ τ of each
    * query, the radius-query sibling of s01's top-k. Retrieval filters
    * ("everything at least this similar", dedup candidate pulls,
    * contamination sweeps at a fixed similarity bar) want a THRESHOLD,
    * not a count: top-k under-returns in dense neighborhoods and pads
    * sparse ones with junk below any meaningful bar.
    *
    * Scale: s01's exact shape — the query side is small by premise and
    * broadcasts; the corpus STREAMS through one fused stage (scan →
    * dot → filter), no shuffle at corpus size, output bounded by the
    * radius's true result mass rather than k·|Q|. A corpus-resident
    * variant at higher τ rides the IVF index instead (probe the
    * query's nprobe cells, range-filter within them — s03/s17
    * machinery unchanged, recall bounded by s22's audit). */
  def s24RangeSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, d).withColumn("nrm", norm($"v"))
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    c.select($"vec_id".as("n_id"), $"v".as("nv"), $"nrm".as("nn"))
      .join(broadcast(q), $"q_id" =!= $"n_id")
      .select($"q_id", $"n_id", (dot($"qv", $"nv") / ($"qn" * $"nn")).as("cosine"))
      .filter($"cosine" >= 0.3)
      .select($"q_id", $"n_id", round($"cosine", 6).as("cosine_r"))
  }

  val s24Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |)
      |SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |  ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine_r
      |FROM e q JOIN e c ON q.vec_id != c.vec_id
      |WHERE q.vec_id < 20
      |  AND list_dot_product(q.v, c.v) / (q.nrm * c.nrm) >= 0.3""".stripMargin

  // ---- u04: the composed CDC sync on the IVF artifact (r19) ----

  /** The u04 diff-set construction over the embeddings corpus (u02's
    * fixture discipline on the vector modality): standing %9≠0; adds
    * %9=0; of standing, revisions %11=0 (element 0 shifted +0.3,
    * 6dp-rounded — a deterministic "re-embedded" vector), removals
    * %7=0 (not also revised). Returns (standing, upserts, removed,
    * net = the post-diff corpus). */
  private def u04Parts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val all = corpus(s, d).select($"vec_id", $"v")
    val standing = all.filter($"vec_id" % 9 =!= 0)
    val added = all.filter($"vec_id" % 9 === 0)
    val changed = standing.filter($"vec_id" % 11 === 0)
      .select($"vec_id", transform($"v",
        (x, i) => when(i === 0, round(x + 0.3, 6)).otherwise(x)).as("v"))
    val removed = standing
      .filter($"vec_id" % 7 === 0 && $"vec_id" % 11 =!= 0).select($"vec_id")
    val upserts = changed.unionByName(added)
    val net = standing
      .join(removed, Seq("vec_id"), "left_anti")
      .join(upserts.select($"vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(upserts)
    (standing, upserts, removed, net)
  }

  /** The query batch both sides of the u04 contract serve: the
    * original corpus' first 20 ids — external probes, untouched by
    * the diff. The model is frozen on the PRE-diff standing corpus
    * (the s18 contract: a sync never retrains). */
  private def u04Queries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    corpus(s, d).withColumn("nrm", norm($"v")).filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
  }

  /** u04: the composed CDC sync driver-hash-checked on the VECTOR
    * lane (r19 — u02's contract on the IVF artifact): a sliced feed
    * of upserts (re-embedded revisions + new vectors) and deletes
    * through [[graft.streaming.StreamingCorpusSync.syncBatch]], one
    * atomic generation per batch on a standing [[writeIvfIndex]]
    * artifact with frozen centroids, then s03's exact serve through
    * the synced index. The committed golden is generated from the
    * OTHER side of the equivalence ([[u04GoldenRebuild]] — the same
    * serve through an index REBUILT over the post-diff corpus with
    * the same frozen model), so the driver's independent hash check
    * IS the sync ≡ rebuild contract, not a self-snapshot. */
  def u04IvfSyncServe(s: SparkSession, d: String): DataFrame = {
    val dir =
      java.nio.file.Files.createTempDirectory("graft-u04-ivf").toString
    val cents = u04BenchFixture(s, d, dir)
    val served = graft.Scratch.track(
      u04BenchSyncServe(s, d, dir, cents).localCheckpoint())
    graft.Scratch.releaseNow(cents)
    s17IndexDirs.admit(dir)
    served
  }

  /** The u04 STANDING fixture — the pre-diff artifact + its frozen
    * model, split out (r19, LifecycleBench) so the bench bracket can
    * build it once untimed while the registered entry stays oracle-
    * self-contained. Returns the (localCheckpointed) centroids; the
    * caller releases them. */
  private[graft] def u04BenchFixture(s: SparkSession, d: String,
                                     dir: String): DataFrame = {
    val (standing, _, _, _) = u04Parts(s, d)
    val cents = kmeansCentroids(standing, 5, 2).localCheckpoint()
    writeIvfIndex(standing, cents, dir)
    cents
  }

  /** The u04 OPERATING span — two sliced CDC sync batches through the
    * streaming wrapper + the serve — what production pays per diff. */
  private[graft] def u04BenchSyncServe(s: SparkSession, d: String,
      dir: String, cents: DataFrame): DataFrame = {
    import s.implicits._
    val (_, upserts, removed, _) = u04Parts(s, d)
    val events = upserts.select($"vec_id".as("doc_id"), $"v")
      .withColumn("op", lit("upsert"))
      .unionByName(removed.select($"vec_id".as("doc_id"),
        lit(null).cast("array<double>").as("v"), lit("delete").as("op")))
    Seq(0, 1).foreach { m =>
      graft.streaming.StreamingCorpusSync.syncBatch(
        events.filter($"doc_id" % 2 === m),
        graft.streaming.StreamingCorpusSync.SyncTargets(
          ivf = Some(graft.streaming.StreamingCorpusSync.IvfTarget(dir, cents))))
    }
    ivfTopKFromIndex(s, dir, cents, u04Queries(s, d), nprobe = 2, k = 3)
  }

  /** GoldenGen generator for u04 — the REBUILD side of the contract:
    * the post-diff corpus written fresh with the same frozen
    * centroids, served identically. Never registered; it exists so
    * the committed golden is produced independently of the sync path
    * it checks. */
  def u04GoldenRebuild(s: SparkSession, d: String): DataFrame = {
    val (standing, _, _, net) = u04Parts(s, d)
    val cents = kmeansCentroids(standing, 5, 2)
    val dir =
      java.nio.file.Files.createTempDirectory("graft-u04-golden").toString
    try {
      writeIvfIndex(net, cents, dir)
      ivfTopKFromIndex(s, dir, cents, u04Queries(s, d), nprobe = 2, k = 3)
        .localCheckpoint()
    } finally graft.BenchUtil.rmTree(dir)
  }

  // ---- u06/u07: the composed CDC sync on the compressed and labeled
  // vector artifacts (r19) — with u04/u05 this makes EVERY artifact
  // lane of the streaming sync driver-hash-checked, each against a
  // golden generated from the rebuild side of its contract ----

  /** u06 STANDING fixture: the s27 compressed layout with both
    * quantizer stages frozen on the PRE-diff standing corpus (the
    * IndexDeletionSpec training recipe at the u04 diff split).
    * Determinism of the decimal-exact Lloyd's training is what lets
    * the golden generator re-derive the identical frozen models. */
  private[graft] def u06BenchFixture(s: SparkSession, d: String,
                                     dir: String): Unit = {
    import s.implicits._
    val (standing, _, _, _) = u04Parts(s, d)
    val vq = pqSubvectors(standing, 64).cache()
    try {
      val coarse = pqCodebooks(vq, 5, 2).localCheckpoint()
      val rsv = coarseResiduals(vq, coarse)
        .select($"vec_id", posexplode(subSplit($"r", 4)))
        .toDF("vec_id", "sub", "sv")
      val books = pqCodebooks(rsv, 16, 2).localCheckpoint()
      writeIvfAdcIndex(vq, coarse, books, 4, dir)
      graft.Scratch.releaseNow(coarse); graft.Scratch.releaseNow(books)
    } finally { vq.unpersist(); () }
  }

  private def u06Queries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pqSubvectors(corpus(s, d).select($"vec_id", $"v")
      .filter($"vec_id" < 20), 64)
  }

  /** u06 OPERATING span: two sliced CDC batches through the wrapper's
    * IVFADC lane (the r19 raw-vector fold — duplicates resolve before
    * the subspace split) + the partition-pruned ADC serve. */
  private[graft] def u06BenchSyncServe(s: SparkSession, d: String,
                                       dir: String): DataFrame = {
    import s.implicits._
    val (_, upserts, removed, _) = u04Parts(s, d)
    val events = upserts.select($"vec_id".as("doc_id"), $"v")
      .withColumn("op", lit("upsert"))
      .unionByName(removed.select($"vec_id".as("doc_id"),
        lit(null).cast("array<double>").as("v"), lit("delete").as("op")))
    Seq(0, 1).foreach { m =>
      graft.streaming.StreamingCorpusSync.syncBatch(
        events.filter($"doc_id" % 2 === m),
        graft.streaming.StreamingCorpusSync.SyncTargets(
          ivfAdc = Some(graft.streaming.StreamingCorpusSync
            .IvfAdcTarget(dir, dsub = 4, coarseWidth = 64))))
    }
    ivfAdcTopKFromIndex(s, dir, u06Queries(s, d), 4, nprobe = 2, k = 3)
  }

  /** u06: u04's contract on the COMPRESSED artifact — sliced CDC sync
    * through the wrapper's IVFADC lane, served via the s27 layout;
    * golden = [[u06GoldenRebuild]] (rebuild over the post-diff corpus
    * with the same frozen quantizers). */
  def u06IvfAdcSyncServe(s: SparkSession, d: String): DataFrame = {
    val dir =
      java.nio.file.Files.createTempDirectory("graft-u06-adc").toString
    u06BenchFixture(s, d, dir)
    val served = graft.Scratch.track(
      u06BenchSyncServe(s, d, dir).localCheckpoint())
    s17IndexDirs.admit(dir)
    served
  }

  /** GoldenGen generator for u06 — the rebuild side: identical frozen
    * models re-derived (decimal-exact training on the same standing
    * corpus), post-diff corpus encoded fresh, served identically. */
  def u06GoldenRebuild(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (standing, _, _, net) = u04Parts(s, d)
    val vq = pqSubvectors(standing, 64).cache()
    val dir =
      java.nio.file.Files.createTempDirectory("graft-u06-golden").toString
    try {
      val coarse = pqCodebooks(vq, 5, 2).localCheckpoint()
      val rsv = coarseResiduals(vq, coarse)
        .select($"vec_id", posexplode(subSplit($"r", 4)))
        .toDF("vec_id", "sub", "sv")
      val books = pqCodebooks(rsv, 16, 2).localCheckpoint()
      writeIvfAdcIndex(pqSubvectors(net, 64), coarse, books, 4, dir)
      val out = ivfAdcTopKFromIndex(s, dir, u06Queries(s, d), 4,
        nprobe = 2, k = 3).localCheckpoint()
      graft.Scratch.releaseNow(coarse); graft.Scratch.releaseNow(books)
      out
    } finally { vq.unpersist(); graft.BenchUtil.rmTree(dir) }
  }

  /** u07 shares u04's diff construction with the `label` column kept
    * (revisions keep their label — a re-embedded doc, same class). */
  private def u07Parts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val all = corpus(s, d).select($"vec_id", $"label", $"v")
    val standing = all.filter($"vec_id" % 9 =!= 0)
    val added = all.filter($"vec_id" % 9 === 0)
    val changed = standing.filter($"vec_id" % 11 === 0)
      .select($"vec_id", $"label", transform($"v",
        (x, i) => when(i === 0, round(x + 0.3, 6)).otherwise(x)).as("v"))
    val removed = standing
      .filter($"vec_id" % 7 === 0 && $"vec_id" % 11 =!= 0).select($"vec_id")
    val upserts = changed.unionByName(added)
    val net = standing
      .join(removed, Seq("vec_id"), "left_anti")
      .join(upserts.select($"vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(upserts)
    (standing, upserts, removed, net)
  }

  private def u07Queries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    corpus(s, d).withColumn("nrm", norm($"v")).filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"label", $"v".as("qv"), $"nrm".as("qn"))
  }

  /** u07 STANDING fixture: the s29 label-partitioned layout with
    * centroids frozen on the pre-diff standing corpus; returns the
    * (localCheckpointed) centroids — caller releases. */
  private[graft] def u07BenchFixture(s: SparkSession, d: String,
                                     dir: String): DataFrame = {
    import s.implicits._
    val (standing, _, _, _) = u07Parts(s, d)
    val cents = kmeansCentroids(
      standing.select($"vec_id", $"v"), 5, 2).localCheckpoint()
    writeLabeledIvfIndex(standing.select($"vec_id", $"label", $"v"),
      cents, dir)
    cents
  }

  /** u07 OPERATING span: two sliced CDC batches through the wrapper's
    * labeled-IVF lane + the label-pruned exact serve. */
  private[graft] def u07BenchSyncServe(s: SparkSession, d: String,
      dir: String, cents: DataFrame): DataFrame = {
    import s.implicits._
    val (_, upserts, removed, _) = u07Parts(s, d)
    val events = upserts.select($"vec_id".as("doc_id"), $"label", $"v")
      .withColumn("op", lit("upsert"))
      .unionByName(removed.select($"vec_id".as("doc_id"),
        lit(null).cast("int").as("label"),
        lit(null).cast("array<double>").as("v"), lit("delete").as("op")))
    Seq(0, 1).foreach { m =>
      graft.streaming.StreamingCorpusSync.syncBatch(
        events.filter($"doc_id" % 2 === m),
        graft.streaming.StreamingCorpusSync.SyncTargets(
          labeledIvf = Some(graft.streaming.StreamingCorpusSync
            .LabeledIvfTarget(dir, cents))))
    }
    filteredTopKFromIndex(s, dir, u07Queries(s, d), k = 3)
  }

  /** u07: u04's contract on the LABELED artifact — sliced CDC sync
    * through the wrapper's labeled-IVF lane, served label-pruned;
    * golden = [[u07GoldenRebuild]]. */
  def u07LabeledSyncServe(s: SparkSession, d: String): DataFrame = {
    val dir =
      java.nio.file.Files.createTempDirectory("graft-u07-lab").toString
    val cents = u07BenchFixture(s, d, dir)
    val served = graft.Scratch.track(
      u07BenchSyncServe(s, d, dir, cents).localCheckpoint())
    graft.Scratch.releaseNow(cents)
    s17IndexDirs.admit(dir)
    served
  }

  /** GoldenGen generator for u07 — the rebuild side. */
  def u07GoldenRebuild(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (standing, _, _, net) = u07Parts(s, d)
    val cents = kmeansCentroids(
      standing.select($"vec_id", $"v"), 5, 2).localCheckpoint()
    val dir =
      java.nio.file.Files.createTempDirectory("graft-u07-golden").toString
    try {
      writeLabeledIvfIndex(net.select($"vec_id", $"label", $"v"), cents, dir)
      filteredTopKFromIndex(s, dir, u07Queries(s, d), k = 3)
        .localCheckpoint()
    } finally {
      graft.Scratch.releaseNow(cents); graft.BenchUtil.rmTree(dir)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "u04_ivf_sync_serve"    -> (u04IvfSyncServe _),
    "u06_ivfadc_sync_serve" -> (u06IvfAdcSyncServe _),
    "u07_labeled_sync_serve" -> (u07LabeledSyncServe _),
    "s27_ivfadc_persisted"  -> (s27IvfAdcPersisted _),
    "s26_semdedup_collapsed" -> (s26SemDedupCollapsed _),
    "s23_semdedup"          -> (s23SemDedup _),
    "s25_filtered_topk"     -> (s25FilteredTopK _),
    "s24_range_search"      -> (s24RangeSearch _),
    "s22_ivf_recall_audit"  -> (s22IvfRecallAudit _),
    "s28_adc_recall_audit"  -> (s28AdcRecallAudit _),
    "s29_labeled_index_serve" -> (s29LabeledIndexServe _),
    "s30_refined_topk"      -> (s30RefinedTopK _),
    "s21_probed_decontamination" -> (s21ProbedDecontamination _),
    "s20_matryoshka_audit"  -> (s20MatryoshkaAudit _),
    "s19_bench_decontamination" -> (s19BenchDecontamination _),
    "s17_ivf_persisted"     -> (s17IvfPersistedTopK _),
    "s18_ivf_append_serve"  -> (s18IvfAppendServe _),
    "s31_ivf_delete_serve"  -> (s31IvfDeleteServe _),
    "s16_binary_topk"       -> (s16BinaryTopK _),
    "s15_mmr_topk"          -> (s15MmrTopK _),
    "s14_int8_topk"         -> (s14Int8TopK _),
    "s13_ivfadc_topk"       -> (s13IvfAdcTopK _),
    "s12_pq_topk"           -> (s12PqTopK _),
    "s09_label_cohesion"    -> (s09LabelCohesion _),
    "s10_ivf_knn"           -> (s10IvfKnn _),
    "s01_cosine_topk"       -> (s01CosineTopK _),
    "s02_embedding_neardup" -> (s02EmbeddingNearDup _),
    "s03_ivf_topk"          -> (s03IvfTopK _),
    "s04_blocked_neardup"   -> (s04BlockedNearDup _),
    "s05_quant_stats"       -> (s05QuantStats _),
    "s06_delta_neardup"     -> (s06DeltaNearDup _),
    "s07_knn_graph"         -> (s07KnnGraph _),
    "s08_ivf_neardup"       -> (s08IvfNearDup _),
    "s11_semantic_survivors" -> (s11SemanticSurvivors _),
  )

  // def, not val: the golden-snapshot oracle resolves the sf tag at
  // dump time (GoldenGen.setSfTag), after object initialization
  def oracles: Map[String, String] = Map(
    // u04: the golden is generated from the REBUILD side of the sync ≡
    // rebuild contract (GoldenGen.generators), so the hash check
    // verifies the equivalence itself each round, not a self-snapshot
    "u04_ivf_sync_serve"    -> graft.GoldenGen.oracle("u04_ivf_sync_serve"),
    "u06_ivfadc_sync_serve" -> graft.GoldenGen.oracle("u06_ivfadc_sync_serve"),
    "u07_labeled_sync_serve" -> graft.GoldenGen.oracle("u07_labeled_sync_serve"),
    // s27 ≡ s13 bit-identically (same frozen quantizers; integer codes
    // + 6dp decimal arithmetic; doubles round-trip parquet exactly) →
    // s13's own golden independently hash-checks that the persisted
    // compressed layout preserves the answer (the s17≡s03 precedent)
    "s27_ivfadc_persisted"  -> graft.GoldenGen.oracle("s13_ivfadc_topk"),
    // s31: deterministic like s17 (deletion only restricts the neighbor
    // set) → its own golden; delete ≡ rebuild-without-removed is
    // spec-pinned in IndexDeletionSpec
    "s31_ivf_delete_serve"  -> graft.GoldenGen.oracle("s31_ivf_delete_serve"),
    // s26 ≡ s23 for ANY corpus (exact pre-collapse is answer-
    // preserving: identical vectors share cluster, pairs and component
    // — see the s26 scaladoc) → s23's own SQL oracle hash-checks that
    // the production guard preserves the answer
    "s26_semdedup_collapsed" -> s23Sql,
    "s23_semdedup"          -> s23Sql,
    "s25_filtered_topk"     -> s25Sql,
    "s24_range_search"      -> s24Sql,
    // s22: integer hit counts + total-ordered windows over the seed
    // quantizer — the whole audit is SQL-replicable
    "s22_ivf_recall_audit"  -> s22Sql,
    // s28 composes s13's engine-side quantizers with the exact s01
    // ranking — deterministic like s13 (decimal-exact Lloyd's + exact
    // decimal sums) → golden-snapshot oracle, the s12/s13 discipline
    "s28_adc_recall_audit"  -> graft.GoldenGen.oracle("s28_adc_recall_audit"),
    "s30_refined_topk"      -> graft.GoldenGen.oracle("s30_refined_topk"),
    // s29 ≡ s25 exactly (exhaustive scan within the pruned label
    // partitions; doubles round-trip parquet exactly) → s25's own SQL
    // oracle hash-checks the persisted filtered layout, the s17≡s03
    // precedent
    "s29_labeled_index_serve" -> s25Sql,
    // s21: approximate RECALL, deterministic SQL-replicable mechanism
    // (seed quantizer + probe joins) — the s08 oracle discipline
    "s21_probed_decontamination" -> s21Sql,
    // s20: integer ranks + the same sequential-order dot kernel over
    // prefix slices (order-preserving both engines) → full SQL oracle
    "s20_matryoshka_audit"  -> s20Sql,
    // s19: sequential-order dot kernel both engines → bit-identical
    // cosines, total-ordered argmax → full SQL oracle
    "s19_bench_decontamination" -> s19Sql,
    // s17 ≡ s03 bit-identically (same centroids/probes/ties; doubles
    // round-trip parquet exactly) → s03's own golden, independently
    // hash-checking that the persisted-index path preserves the answer
    "s17_ivf_persisted"     -> graft.GoldenGen.oracle("s03_ivf_topk"),
    // s18 ≡ s03 for ANY standing/delta boundary (per-vector-independent
    // assignment + total-ordered serve windows) → the same golden,
    // hash-checking that incremental append preserves the answer
    "s18_ivf_append_serve"  -> graft.GoldenGen.oracle("s03_ivf_topk"),
    // s16: integer Hamming + total-ordered windows + the same IEEE
    // cosine as s01 → full SQL oracle; DuckDB computes Hamming WITHOUT
    // bit packing (per-coordinate sign disagreement), independently
    // checking the packed bit_count kernel
    "s16_binary_topk"       -> s16Sql,
    // s15: greedy selection over bit-identical scores (sequential-order
    // dot kernel both engines) → the pick set unrolls into exact SQL
    "s15_mmr_topk"          -> s15Sql,
    // s14: quantized cosine is bit-deterministic (integer code dots,
    // IEEE sqrt) → full SQL oracle despite being an approximate ranking
    "s14_int8_topk"         -> s14Sql,
    // s12: approximate ACCURACY, deterministic mechanism (decimal-exact
    // training + ADC sums, total-order ties) → golden-snapshot hard
    // check; recall floor + quantization error pinned in SimilaritySpec
    "s12_pq_topk"           -> graft.GoldenGen.oracle("s12_pq_topk"),
    // s13: same discipline — both quantizer stages are the decimal-exact
    // Lloyd's machinery, so the full IVFADC path is bit-deterministic;
    // probed-bucket containment + clustered recall pinned in spec
    "s13_ivfadc_topk"       -> graft.GoldenGen.oracle("s13_ivfadc_topk"),
    "s09_label_cohesion"    -> s09Sql,
    // same oracle discipline as s08: approximate RECALL, deterministic
    // SQL-replicable mechanism
    "s10_ivf_knn"           -> s10Sql,
    "s01_cosine_topk"       -> s01Sql,
    "s02_embedding_neardup" -> s02Sql,
    // s03 is approximate RECALL but a deterministic mechanism (probed
    // across parallelisms) → golden-snapshot hard check + ScalaTest
    // recall floor; see GoldenGen.
    "s03_ivf_topk"          -> graft.GoldenGen.oracle("s03_ivf_topk"),
    // s04 is the scalable plan for the SAME predicate as s02 — same oracle.
    "s04_blocked_neardup"   -> s02Sql,
    "s05_quant_stats"       -> s05Sql,
    // exact by construction: the full s02 pair set restricted to
    // delta-touching pairs
    "s06_delta_neardup"     -> s06Sql,
    "s07_knn_graph"         -> s07Sql,
    // approximate RECALL, but deterministic mechanism: the oracle
    // replicates the seed quantizer + probe join bit-for-bit
    "s08_ivf_neardup"       -> s08Sql,
    // the survivor DECISION oracled end to end: seed quantizer + probe
    // join + recursive-CTE components + atypicality keep rule in SQL
    "s11_semantic_survivors" -> s11Sql,
  )
}
