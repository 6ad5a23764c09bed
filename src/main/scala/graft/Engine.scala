package graft

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

  /** Opinionated local session defaults (AQE on, UTC, sane shuffle
    * parallelism); on a cluster, spark-submit conf wins. */
  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
              shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
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
