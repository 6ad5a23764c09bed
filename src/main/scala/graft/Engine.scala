package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade: one call registers the corpus tables as temp
  * views and the engine's custom functions in the session's function
  * registry, after which the full surface is available through plain
  * `spark.sql` — the "switch from the reference" entry point.
  *
  * {{{
  *   val spark = Engine.session()
  *   Engine.attach(spark, "/data/corpus")
  *   spark.sql("SELECT minhash_band_keys(shingle_hashes(text)) FROM documents")
  * }}}
  */
object Engine {

  /** Local executor threads and shuffle partitions when spark-submit
    * names no master: `SPARK_GRAFT_CPUS`, else the machine's cores. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session conf: every `spark.*` system property (what
    * spark-submit `--conf` and `-Dspark.…` set) wins; each default below
    * fills only a key left unset. The codegen cache is sized to the
    * entry suite's ~3,600 whole-stage units (the default 100 evicted
    * constantly; DRIFT.md, round 19). AQE is Spark 4's default. */
  private[graft] def conf: SparkConf = new SparkConf()
    .setIfMissing("spark.master", s"local[$cpus]")
    .setIfMissing("spark.app.name", "graft")
    .setIfMissing("spark.sql.shuffle.partitions", cpus.toString)
    .setIfMissing("spark.sql.codegen.cache.maxEntries", "5000")
    .setIfMissing("spark.sql.session.timeZone", "UTC")

  /** The one session factory. A session already running in this JVM
    * (the caller's, a test suite's, a bench harness's) is returned
    * untouched: no conf rewritten, no functions registered onto it.
    * Otherwise it builds one from [[conf]], sets the log level to WARN
    * and registers the engine's functions. */
  def session(): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).getOrElse {
      val s = SparkSession.builder().config(conf).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      registerFunctions(s)
      s
    }

  /** Register the test-corpus parquet tables as temp views. */
  def attach(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  /** Register the engine's native expressions for SQL callers: the same
    * table [[GraftExtensions]] injects. Every builder validates argument
    * count first ([[functions.Arity]]): positional indexing on a short
    * argument list would otherwise die with an opaque
    * IndexOutOfBoundsException inside analysis. */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.table.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }

  /** Run SQL against an attached session. */
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)
}
