package graft.ingest

/** Parsed host endpoint (reference: urls->http-hosts, core.clj:36-46). */
final case class HostPort(host: String, port: Int, scheme: String)

/** Typed engine configuration — the Spark-native face of the reference's
  * flat string map (default-params, core.clj:90-100; ParameterTool at
  * core.clj:106-107).
  *
  * Two reference bugs are deliberately fixed, not replicated:
  *  - core.clj:91 defaults the source URL to port 9092 (the Kafka port;
  *    its own port-defaulting logic at core.clj:42-44 uses 9200) — we
  *    default 9200;
  *  - core.clj:105-106 parses CLI args but never merges them over the
  *    defaults (ParameterTool/fromMap is called on default-params only)
  *    — [[IngestionConfig.fromArgs]] merges args over defaults.
  * (A third latent bug — the duplicate "source.poll-interval" key at
  * core.clj:95,97 — cannot exist in a typed config.)
  */
final case class IngestionConfig(
    sourceUrls: Seq[HostPort],
    sourceUsername: String,
    sourcePassword: String,
    sourceBatchSize: Int,
    sourcePollIntervalMs: Long,
    sourceCheckpointOffset: String,
    sourceTimestampField: String,
    sinkUrls: Seq[HostPort],
    sinkUsername: String,
    sinkPassword: String,
    bulkMaxActions: Int,
    fileMaxActions: Int,
    compactEveryBatches: Int,
    bulkFlushIntervalMs: Long,
    bulkMaxRetries: Int,
    bulkBackoffInitialMs: Long,
    deadLetterDir: String)

object IngestionConfig {

  /** Defaults mirroring core.clj:90-100 (source/sink url/user/pass,
    * batch size, poll interval, checkpoint offset) and the sink builder
    * constants at core.clj:72-78 (64 actions, 5000 ms flush, 10
    * exponential retries from 2000 ms). */
  val defaults: Map[String, String] = Map(
    "source.elasticsearch-url" -> "localhost:9200", // 9200, not the reference's 9092 typo
    "source.username" -> "",
    "source.password" -> "",
    "source.batch-size" -> "1000",
    "source.poll-interval" -> "5000",
    "source.checkpoint-offset" -> "",
    "source.timestamp-field" -> "ts",
    "sink.elasticsearch-urls" -> "localhost:9200",
    "sink.username" -> "",
    "sink.password" -> "",
    "sink.bulk.max-actions" -> "64",
    // the FILE transport's flush size. 64 is the reference's ES
    // BulkProcessor wire policy (core.clj:72) — an HTTP-round-trip
    // knob; for the file-simulated index the per-file publish cost
    // (sidecar + tmp + rename) dominates at 64 docs/file, and
    // graft.SinkBench measured 104k → 549k docs/s going 64 → 1024
    // with full durability retained (deleted after d56e47c; `git show
    // d56e47c:src/main/scala/graft/SinkBench.scala`)
    "sink.file.max-actions" -> "1024",
    // in-place compaction cadence for the file sink dir (0 = off): a
    // long-running ingest otherwise accumulates one file per flush
    // forever, and file count drives both the downstream source's
    // planning cost and read amplification (EsSimCompact.inPlace)
    "sink.compact.every-batches" -> "0",
    "sink.bulk.flush-interval" -> "5000",
    "sink.bulk.max-retries" -> "10",
    "sink.bulk.backoff-initial" -> "2000",
    // where permanently-rejected bulk items land ("" = drop silently,
    // the reference's behavior — its failure handler only logs)
    "sink.dead-letter-dir" -> "",
  )

  /** Parse a comma-separated URL list into host/port/scheme triples,
    * defaulting a missing port to 9200 and a missing scheme to http
    * (reference: core.clj:36-46, port default at 42-44). */
  def parseUrls(urls: String): Seq[HostPort] =
    urls.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { u =>
      val withScheme = if (u.contains("://")) u else s"http://$u"
      val url = new java.net.URI(withScheme)
      HostPort(url.getHost, if (url.getPort == -1) 9200 else url.getPort, url.getScheme)
    }

  /** Build a config from `k=v` CLI args merged OVER the defaults —
    * fixing the reference's A9 bug where args were parsed but dropped
    * (core.clj:105-106). Unknown keys fail fast. */
  def fromArgs(args: Seq[String]): IngestionConfig = {
    val kv = args.map { a =>
      a.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(s"expected key=value, got: $a")
      }
    }.toMap
    val unknown = kv.keySet -- defaults.keySet
    require(unknown.isEmpty, s"unknown config keys: ${unknown.mkString(", ")}")
    val m = defaults ++ kv
    IngestionConfig(
      sourceUrls = parseUrls(m("source.elasticsearch-url")),
      sourceUsername = m("source.username"),
      sourcePassword = m("source.password"),
      sourceBatchSize = m("source.batch-size").toInt,
      sourcePollIntervalMs = m("source.poll-interval").toLong,
      sourceCheckpointOffset = m("source.checkpoint-offset"),
      sourceTimestampField = m("source.timestamp-field"),
      sinkUrls = parseUrls(m("sink.elasticsearch-urls")),
      sinkUsername = m("sink.username"),
      sinkPassword = m("sink.password"),
      bulkMaxActions = m("sink.bulk.max-actions").toInt,
      fileMaxActions = m("sink.file.max-actions").toInt,
      compactEveryBatches = m("sink.compact.every-batches").toInt,
      bulkFlushIntervalMs = m("sink.bulk.flush-interval").toLong,
      bulkMaxRetries = m("sink.bulk.max-retries").toInt,
      bulkBackoffInitialMs = m("sink.bulk.backoff-initial").toLong,
      deadLetterDir = m("sink.dead-letter-dir"))
  }
}
