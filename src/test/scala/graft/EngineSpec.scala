package graft

/** The SQL facade: tables attached as views + custom functions callable
  * from plain spark.sql. */
class EngineSpec extends SparkSpec {

  test("session factory: a spark.* system property wins over each default") {
    val defaults = Seq(
      "spark.master" -> s"local[${Engine.cpus}]",
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> Engine.cpus.toString,
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.sql.session.timeZone" -> "UTC")
    val submitted = Seq("local[3]", "job", "7", "11", "Asia/Tokyo")
    val saved = defaults.map { case (k, _) => k -> sys.props.get(k) }
    try {
      defaults.foreach { case (k, _) => sys.props -= k }
      val unset = Engine.conf
      defaults.foreach { case (k, v) => assert(unset.get(k) === v, k) }
      defaults.zip(submitted).foreach { case ((k, _), v) => sys.props(k) = v }
      val set = Engine.conf
      defaults.zip(submitted).foreach { case ((k, _), v) => assert(set.get(k) === v, k) }
    } finally saved.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props -= k
    }
  }

  test("attach + sql: full relational surface through spark.sql") {
    Engine.attach(spark, sf0001)
    val n = spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey GROUP BY 1""".stripMargin).count()
    assert(n > 0)
  }

  test("spark.sql parity: SQL-dialect versions of engine queries match the DataFrame API") {
    import org.apache.spark.sql.functions._
    Engine.attach(spark, sf001)
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val df = operators.Relational.q01PricingSummary(spark, sf001)
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"), col("count_order"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(sql === df)
  }

  test("token_set_count rejects non-literal and NULL word lists at analysis time") {
    Engine.registerFunctions(spark)
    Engine.attach(spark, sf0001)
    val nonLit = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT token_set_count(text, text) FROM documents").collect()
    }
    assert(nonLit.getMessage.contains("must be a literal"),
      s"got: ${nonLit.getMessage}")
    val nul = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT token_set_count(text, CAST(NULL AS STRING)) FROM documents").collect()
    }
    assert(nul.getMessage.contains("non-null string"), s"got: ${nul.getMessage}")
  }

  test("wrong arity fails analysis with a usage message, not IndexOutOfBounds") {
    Engine.registerFunctions(spark)
    Engine.attach(spark, sf0001)
    // too few args for a positionally-indexed builder (es(1)/es(2))
    for (q <- Seq("SELECT mod_filter(shingle_hashes(text)) FROM documents",
                  "SELECT topk(doc_id) FROM documents",
                  "SELECT token_set_count(text) FROM documents",
                  "SELECT dot_product(embedding) FROM embeddings",
                  "SELECT shingle_hashes() FROM documents",
                  "SELECT shingle_hashes(text, text) FROM documents")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(q).collect()
      }
      assert(e.getMessage.contains("usage:"), s"query [$q] gave: ${e.getMessage}")
    }
  }

  test("custom native functions usable from SQL") {
    Engine.registerFunctions(spark)
    Engine.attach(spark, sf0001)
    val row = spark.sql(
      """SELECT doc_id,
        |  size(shingle_hashes(text)) AS n_shingles,
        |  size(minhash_sig(shingle_hashes(text))) AS sig_len,
        |  simhash64(text) AS fp
        |FROM documents LIMIT 1""".stripMargin).collect().head
    assert(row.getInt(1) > 0)
    assert(row.getInt(2) === 128)
    // per-group top-k through SQL: literal k, NULL rows skipped (the
    // typed-UDAF form would crash its encoder on the NULL score)
    val topk = spark.sql(
      """SELECT topk(CAST(v AS DOUBLE), CAST(t AS BIGINT), 3) AS tags
        |FROM VALUES (1.0, 10), (5.0, 50), (3.0, 30), (4.0, 40),
        |            (CAST(NULL AS DOUBLE), 99), (9.0, CAST(NULL AS BIGINT)) AS x(v, t)
        |""".stripMargin).collect().head.getSeq[Long](0)
    assert(topk === Seq(50L, 40L, 30L))
    // cross-check the native form against the typed Aggregator on
    // non-null data: identical (-score, tag) ordering
    import spark.implicits._
    val data = Seq((2.0, 1L), (9.0, 2L), (9.0, 1L), (4.0, 7L), (6.0, 3L))
    val viaAggregator = data.toDF("score", "tag")
      .agg(org.apache.spark.sql.functions.udaf(new functions.TopKAggregator(3))
        .apply($"score", $"tag")).collect().head.getSeq[Long](0)
    val viaNative = data.toDF("score", "tag").createOrReplaceTempView("tk")
    val nat = spark.sql("SELECT topk(score, tag, 3) FROM tk").collect().head.getSeq[Long](0)
    assert(nat === viaAggregator)
    val qsum = spark.sql(
      "SELECT exact_qsum(l_quantity) AS s FROM lineitem").collect().head.getDouble(0)
    val ref = spark.sql(
      "SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) FROM lineitem")
      .collect().head.getDouble(0)
    assert(qsum === ref)
    // HALF_UP means away from zero on BOTH sides of zero: -2.5e-6
    // quantizes to -3 millionths (Math.round alone would give -2)
    val negHalf = spark.sql(
      """SELECT exact_qsum(v) AS s FROM VALUES (CAST(-2.5E-6 AS DOUBLE)), (CAST(2.5E-6 AS DOUBLE)),
        |  (CAST(-1.5E-6 AS DOUBLE)) AS t(v)""".stripMargin).collect().head.getDouble(0)
    val negHalfRef = spark.sql(
      """SELECT CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) FROM VALUES
        |  (CAST(-2.5E-6 AS DOUBLE)), (CAST(2.5E-6 AS DOUBLE)),
        |  (CAST(-1.5E-6 AS DOUBLE)) AS t(v)""".stripMargin).collect().head.getDouble(0)
    assert(negHalf === negHalfRef, s"exact_qsum=$negHalf decimal=$negHalfRef")
    val sim = spark.sql(
      """SELECT dot_product(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>)) /
        |       (l2_norm(CAST(embedding AS ARRAY<DOUBLE>)) * l2_norm(CAST(embedding AS ARRAY<DOUBLE>))) AS c
        |FROM embeddings LIMIT 3""".stripMargin).collect()
    sim.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("q73 markov transitions: hand-counted bigrams, same-ts order broken by event_id") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("q73-events").toString
    val T = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def t(m: Int) = new java.sql.Timestamp(T.getTime + m * 60000L)
    // user 1: A B A C -> (A,B) (B,A) (A,C); user 2: A B at the SAME
    // timestamp -> order must come from event_id -> (A,B)
    Seq(
      (1L, t(0), 1L, "A", 0.0, "{}"),
      (2L, t(1), 1L, "B", 0.0, "{}"),
      (3L, t(2), 1L, "A", 0.0, "{}"),
      (4L, t(3), 1L, "C", 0.0, "{}"),
      (10L, t(0), 2L, "A", 0.0, "{}"),
      (11L, t(0), 2L, "B", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    try {
      val got = operators.EventAnalytics.q73MarkovTransitions(spark, dir)
        .as[(String, String, Long, Double)].collect().toSet
      assert(got === Set(
        ("A", "B", 2L, 0.666667),
        ("A", "C", 1L, 0.333333),
        ("B", "A", 1L, 1.0)), got.toString)
    } finally graft.BenchUtil.rmTree(dir)
  }
}
