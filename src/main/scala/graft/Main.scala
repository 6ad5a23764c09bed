package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest._

/** Engine entry point — the reference's `-main` (core.clj:102-112)
  * re-expressed as the five explicit Spark lifecycle stages of SURVEY
  * §3.1, with the arg-merge bug fixed (args actually override
  * defaults, unlike core.clj:105-106).
  *
  * Runs the continuous incremental copy pipeline: ES-sim source
  * (timestamp cursor) → identity/emit transform → ES-sim bulk sink
  * (upsert by doc id).
  *
  * Usage: graft.Main <sourceDir> <sinkDir> <checkpointDir> [--once] [k=v ...]
  * `--once` drains everything available and exits (Trigger.AvailableNow —
  * the batch-copy mode); otherwise polls continuously at
  * source.poll-interval.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.Main <sourceDir> <sinkDir> <checkpointDir> [--once] [k=v ...]")
    val Array(sourceDir, sinkDir, checkpointDir) = args.take(3)
    val once = args.drop(3).contains("--once")

    // stage 1: config — CLI args merged over defaults (A9 fixed, A10)
    val config = IngestionConfig.fromArgs(args.drop(3).filterNot(_ == "--once").toSeq)

    // stage 2: session — spark-submit conf wins; a running one is kept
    val spark = Engine.session()
    // fork-free offset/commit log writes on file: checkpoints (other
    // schemes keep Spark's default); a manager the session names wins.
    // Unset again on exit, so a caller sharing the session keeps its own
    val setManager = spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty
    if (setManager)
      spark.conf.set(LocalCheckpointFileManager.ConfKey,
        classOf[LocalCheckpointFileManager].getName)

    try run(spark, sourceDir, sinkDir, checkpointDir, once, config)
    finally if (setManager) spark.conf.unset(LocalCheckpointFileManager.ConfKey)
  }

  private def run(spark: SparkSession, sourceDir: String, sinkDir: String,
                  checkpointDir: String, once: Boolean,
                  config: IngestionConfig): Unit = {
    // stage 3: logical plan — B1/B2/B3 source, A2 identity projection
    import spark.implicits._
    val records = spark.readStream
      .format("graft.sources.EsSimSourceProvider")
      .option("path", sourceDir)
      .option("tsField", config.sourceTimestampField)
      .option("batchSize", config.sourceBatchSize.toString)
      // the reference's source.checkpoint-offset (core.clj:96): an
      // explicit first-run cursor; an existing checkpoint always wins
      .option("startOffset", config.sourceCheckpointOffset)
      .load()
      .select($"indexId", $"docId", $"source") // B4: 1-for-1 copy lane
      .as[IngestRecord]

    // stage 4: start — foreachBatch bulk sink (A1 policy), poll cadence
    // = B3 source.poll-interval. The transport is chosen by the sink
    // argument alone (the config-only production swap, SURVEY §7.3): an
    // http(s) URL list gets the live _bulk client with the configured
    // Basic auth; anything else is the file-simulated index.
    // flush size is transport-specific: 64 actions is the reference's
    // ES BulkProcessor wire policy (core.clj:72); the file transport
    // pays per-FILE publish costs (sidecar + atomic rename) and runs
    // 5× faster at its own default (sink.file.max-actions, 1024 —
    // graft.SinkBench measured 104k → 549k docs/s; deleted after
    // d56e47c, `git show d56e47c:src/main/scala/graft/SinkBench.scala`)
    val isHttp = sinkDir.startsWith("http://") || sinkDir.startsWith("https://")
    val maxActions = if (isHttp) config.bulkMaxActions else config.fileMaxActions
    val mkClient: () => EsBulkClient =
      if (isHttp) {
        val urls = EsRestAuth.baseUrls(IngestionConfig.parseUrls(sinkDir))
        val headers = EsRestAuth.bulkHeaders(config)
        () => new HttpEsBulkClient(urls, headers)
      } else {
        val dir = sinkDir
        val tsField = config.sourceTimestampField
        () => new FileEsBulkClient(dir, tsField)
      }
    // permanent per-item rejects (mapping conflicts etc.) are preserved,
    // not dropped, when a dead-letter dir is configured; either way a
    // job-level accumulator counts them (executor-side callbacks can't
    // be read from the driver, a LongAccumulator can) and each batch
    // logs its delta — rejects are never silent
    val rejects = spark.sparkContext.longAccumulator("bulk-rejected-items")
    val baseDeadLetter: BulkItemFailure => Unit =
      if (config.deadLetterDir.nonEmpty) new FileDeadLetter(config.deadLetterDir)
      else _ => ()
    val deadLetter: BulkItemFailure => Unit = f => { rejects.add(1); baseDeadLetter(f) }
    var rejectsSeen = 0L
    val query = records.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(if (once) Trigger.AvailableNow()
               else Trigger.ProcessingTime(config.sourcePollIntervalMs))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[IngestRecord], batchId: Long) =>
        EsBulkSink.writeWith(batch, mkClient,
          maxActions, config.bulkFlushIntervalMs,
          config.bulkMaxRetries, config.bulkBackoffInitialMs,
          deadLetter = deadLetter)
        val total = rejects.value
        if (total > rejectsSeen) {
          System.err.println(s"[graft] batch $batchId: ${total - rejectsSeen} bulk item(s) " +
            s"permanently rejected ($total total)" +
            (if (config.deadLetterDir.nonEmpty) s" -> ${config.deadLetterDir}" else " — DROPPED (no sink.dead-letter-dir)"))
          rejectsSeen = total
        }
        // opt-in maintenance: periodically fold the file sink's upsert
        // history into large files (sink.compact.every-batches; the
        // protocol is live-reader-safe, see EsSimCompact.inPlace)
        if (!isHttp && config.compactEveryBatches > 0 &&
            batchId > 0 && batchId % config.compactEveryBatches == 0)
          EsSimCompact.inPlace(spark, sinkDir, tsField = config.sourceTimestampField)
      }
      .start()

    // stage 5: await
    query.awaitTermination()
  }
}
