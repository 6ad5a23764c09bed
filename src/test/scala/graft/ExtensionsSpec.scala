package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** Config-only integration: a session built with
  * spark.sql.extensions=graft.GraftExtensions has the native function
  * surface without any code-level registration. */
class ExtensionsSpec extends AnyFunSuite {

  /** A session built with the extensions configured. getOrCreate would
    * return another suite's session (without the extensions), so the
    * caller clears the defaults (see [[withDefaultsRestored]]) to force a
    * fresh SparkSession; it still shares the JVM's SparkContext, so it
    * must NOT be stop()ped. */
  private def extensionSession(): SparkSession = {
    // spark.sql.extensions is a STATIC conf: Spark resolves it from
    // the SparkContext's conf at session construction, so on a JVM
    // whose context was created by another suite (without the key)
    // the builder option alone never injects. Production sets it in
    // spark-submit conf before the context exists; the test-harness
    // equivalent is pinning it onto the (possibly shared) context.
    val scConf = new org.apache.spark.SparkConf()
      .setMaster("local[2]").setAppName("graft-ext-test")
      .set("spark.sql.extensions", "graft.GraftExtensions")
      .set("spark.ui.enabled", "false")
    val sc = org.apache.spark.SparkContext.getOrCreate(scConf)
    org.apache.spark.GraftTestGlue.setContextConf(
      sc, "spark.sql.extensions", "graft.GraftExtensions")
    def build(): SparkSession = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    // suites run in parallel: another suite's lazy session init can
    // re-set the default between our clear and getOrCreate, handing us
    // its (extension-less) session — probe the registry and retry
    def hasFns(s: SparkSession): Boolean = s.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sig"))
    var s = build()
    var attempts = 0
    while (!hasFns(s) && attempts < 20) {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      Thread.sleep(250)
      s = build()
      attempts += 1
    }
    s
  }

  /** Clears the default and active sessions for `body`, then restores them. */
  private def withDefaultsRestored[T](body: => T): T = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try body
    finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  private def graftFunctionNames(registry: FunctionRegistry): Set[String] =
    registry.listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)

  test("extensions-configured session exposes native functions in SQL") {
    withDefaultsRestored {
      val s = extensionSession()
      val row = s.sql(
        """SELECT size(minhash_sig(shingle_hashes('a b c d e f g'))) AS k,
          |  simhash64('a b c') AS fp,
          |  dot_product(ARRAY(1.0D, 2.0D), ARRAY(3.0D, 4.0D)) AS dp,
          |  size(char_shingle_hashes('abcdefgh')) AS cg,
          |  token_set_count('the cat and the hat', 'the,and') AS tsc,
          |  mod_filter(ARRAY(0L, 3L, 4L, 8L, 9L), 4, 0) AS mf
          |""".stripMargin).collect().head
      assert(row.getInt(0) === 128)
      assert(row.getDouble(2) === 11.0)
      assert(row.getInt(3) === 4) // 8 chars → 4 distinct 5-grams
      assert(row.getInt(4) === 3) // 'the' x2 + 'and'
      assert(row.getSeq[Long](5) === Seq(0L, 4L, 8L))
      // aggregate tier: exact_qsum through the config-only path too
      val qsum = s.sql(
        """SELECT exact_qsum(x) AS sq FROM VALUES (0.1D), (0.2D), (0.3D) t(x)
          |""".stripMargin).collect().head.getDouble(0)
      assert(qsum === 0.6)
      // topk through the config-only path too, with its literal k
      val tk = s.sql(
        """SELECT topk(CAST(v AS DOUBLE), CAST(t AS BIGINT), 2) AS tags
          |FROM VALUES (1.0, 10), (5.0, 50), (3.0, 30) AS x(v, t)
          |""".stripMargin).collect().head.getSeq[Long](0)
      assert(tk === Seq(50L, 30L))
      // NFC through the config-only path: decomposed e+U+0301 composes
      val nfc = s.sql("SELECT nfc_normalize('cafe\u0301') AS n")
        .collect().head.getString(0)
      assert(nfc === "caf\u00e9")
      // z-curve interleave through the config-only path: 5=101b on odd
      // positions (2+32) + 3=11b on even positions (1+4) = 39
      val mi = s.sql("SELECT morton_interleave(5L, 3L) AS z")
        .collect().head.getLong(0)
      assert(mi === 39L)
      // wrong arity → clean AnalysisException with the usage string,
      // not an IndexOutOfBoundsException from es(1)/es(2)
      for (q <- Seq("SELECT mod_filter(ARRAY(1L))",
                    "SELECT topk(1.0D)",
                    "SELECT dot_product(ARRAY(1.0D))")) {
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          s.sql(q).collect()
        }
        assert(e.getMessage.contains("usage:"), s"query [$q] gave: ${e.getMessage}")
      }
    }
  }

  test("Engine.registerFunctions and GraftExtensions expose the same function names") {
    val expected = Set("shingle_hashes", "char_shingle_hashes",
      "minhash_sig", "minhash_band_keys", "simhash64", "dot_product",
      "l2_norm", "exact_qsum", "token_set_count", "mod_filter", "topk",
      "morton_interleave", "nfc_normalize")
    val (viaExtensions, viaEngine) = withDefaultsRestored {
      val s = extensionSession()
      // a fresh session on the same context starts with the injected
      // functions; drop them so only Engine.registerFunctions adds any
      val perSession = s.newSession()
      val registry = perSession.sessionState.functionRegistry
      graftFunctionNames(registry).foreach(n =>
        registry.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
      assert(graftFunctionNames(registry).isEmpty)
      Engine.registerFunctions(perSession)
      (graftFunctionNames(s.sessionState.functionRegistry), graftFunctionNames(registry))
    }
    assert(viaExtensions === expected)
    assert(viaEngine === expected)
  }
}
