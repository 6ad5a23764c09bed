package graft.ingest

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Buffering bulk writer with the reference sink's exact physical
  * policy (core.clj:68-79): flush at `maxActions` buffered actions (64,
  * core.clj:72) or `flushIntervalMs` elapsed (5000 ms, core.clj:73);
  * on failure retry up to `maxRetries` times (10, core.clj:75) with
  * exponential backoff from `backoffInitialMs` (2000 ms, core.clj:76-78).
  *
  * One buffer lives per executor task (the per-partition analogue of
  * the reference's per-subtask ElasticsearchSinkFunction). `sleeper` is
  * injectable so tests assert the backoff schedule without waiting ~34
  * minutes of wall clock.
  */
final class BulkBuffer(
    client: EsBulkClient,
    maxActions: Int = 64,
    flushIntervalMs: Long = 5000,
    maxRetries: Int = 10,
    backoffInitialMs: Long = 2000,
    sleeper: Long => Unit = Thread.sleep,
    clock: () => Long = System.currentTimeMillis,
    deadLetter: BulkItemFailure => Unit = _ => ()) extends Serializable {

  private val buf = scala.collection.mutable.ArrayBuffer.empty[BulkAction]
  private var lastFlush = clock()
  /** Backoff delays actually slept — exposed for tests. */
  val backoffsSeen = scala.collection.mutable.ArrayBuffer.empty[Long]

  /** Null-safe add (reference core.clj:59-60: `some->` skips records
    * with a nil body — we skip null/absent sources the same way). */
  def add(a: BulkAction): Unit = {
    if (a.source != null && a.docId != null) {
      // `_bulk` is newline-delimited: a raw line break would split the
      // source across lines and shift every later action of the request
      if (a.source.indexOf('\n') >= 0)
        reject(Seq(BulkItemFailure(a, 400, "source contains a raw line break; " +
          "serialize the source on one line (escape newlines as \\n)")))
      else {
        buf += a
        if (buf.size >= maxActions || clock() - lastFlush >= flushIntervalMs) flush()
      }
    }
  }

  private def reject(rejected: Seq[BulkItemFailure]): Unit = {
    BulkBuffer.rejectedTotal.addAndGet(rejected.size)
    BulkBuffer.log.warning(
      s"${rejected.size} bulk item(s) permanently rejected " +
      s"(first: status ${rejected.head.status} ${rejected.head.reason.take(120)})")
    rejected.foreach(deadLetter)
  }

  /** Per-item retry (reference BulkProcessor semantics, core.clj:74-78):
    * an envelope failure retries the whole batch; item-level failures
    * shrink the retry set to just the transient (429/5xx) items, while
    * permanent rejects (mapping conflict, malformed doc) go to the
    * dead-letter callback immediately — one poison document no longer
    * burns the retry budget of its 63 good neighbors.
    *
    * Every reject also bumps [[BulkBuffer.rejectedTotal]] and logs one
    * warning per flush, INDEPENDENT of the callback: with the default
    * no-op dead-letter a mapping-conflict drop must still be visible
    * to ops, not silent.
    *
    * Dead-letter delivery is AT-LEAST-ONCE: rejects are handed to the
    * callback as soon as the server reports them, so if this flush
    * later exhausts its retry budget and throws, Spark's task retry
    * re-sends the batch and the same rejects are delivered again.
    * Consumers must dedup by (indexId, docId) — see
    * [[FileDeadLetter.read]]. (Buffering rejects until the flush
    * succeeds would instead LOSE them whenever the job dies mid-flush
    * — for a queue whose whole job is preserving failures, duplicates
    * are the right side of that trade.) */
  def flush(): Unit = {
    if (buf.nonEmpty) {
      var pending: Seq[BulkAction] = buf.toSeq
      var attempt = 0
      while (pending.nonEmpty) {
        val outcome =
          try Right(client.bulkOutcome(pending))
          catch { case e: Exception => Left(e) }
        outcome match {
          case Right(o) =>
            if (o.rejected.nonEmpty) reject(o.rejected)
            if (o.retryable.isEmpty) pending = Nil
            else {
              if (attempt >= maxRetries)
                throw new java.io.IOException(
                  s"${o.retryable.size} bulk items still failing after $maxRetries retries " +
                  s"(first: status ${o.retryable.head.status} ${o.retryable.head.reason.take(120)})")
              backoff(attempt); attempt += 1
              pending = o.retryable.map(_.action)
            }
          case Left(e) =>
            if (attempt >= maxRetries) throw e
            backoff(attempt); attempt += 1
        }
      }
      buf.clear()
    }
    lastFlush = clock()
  }

  private def backoff(attempt: Int): Unit = {
    val delay = backoffInitialMs << attempt // exponential: 2s, 4s, 8s…
    backoffsSeen += delay
    sleeper(delay)
  }
}

object BulkBuffer {
  /** Per-JVM count of permanently-rejected bulk items — bumped on every
    * reject even when no dead-letter sink is configured, so the
    * silent-drop default is at least observable (per-executor on a
    * cluster; see Main's accumulator for the job-level count). */
  val rejectedTotal = new AtomicLong()
  private[ingest] val log = java.util.logging.Logger.getLogger("graft.ingest.BulkBuffer")
}

/** Durable dead-letter sink: each rejected action appended as one
  * ndjson line (action metadata + source + status + reason) to a
  * per-instance file — the offline analogue of a dead-letter queue.
  * One instance per partition task (like the bulk clients), so no
  * cross-task write contention. */
final class FileDeadLetter(dir: String) extends (BulkItemFailure => Unit) with Serializable {
  @transient private lazy val path = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    p.resolve(s"dead-${java.util.UUID.randomUUID().toString.take(8)}.ndjson")
  }
  override def apply(f: BulkItemFailure): Unit = {
    val line = s"""{"indexId":${JsonStr.quote(f.action.indexId)},"docId":${JsonStr.quote(f.action.docId)},""" +
      s""""status":${f.status},"reason":${JsonStr.quote(f.reason)},"source":${JsonStr.quote(f.action.source)}}""" + "\n"
    java.nio.file.Files.write(path, line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

object FileDeadLetter {
  import org.apache.spark.sql.types._

  /** The ndjson schema [[FileDeadLetter]] writes. */
  val schema: StructType = StructType(Seq(
    StructField("indexId", StringType), StructField("docId", StringType),
    StructField("status", IntegerType), StructField("reason", StringType),
    StructField("source", StringType)))

  /** Read a dead-letter directory back as a DataFrame — the queue is
    * useless if rejects can only be inspected by grepping ndjson.
    *
    * Delivery is AT-LEAST-ONCE (see [[BulkBuffer.flush]]): a batch that
    * exhausts its retry budget after dead-lettering is retried by Spark
    * and re-appends the same rejects. `dedup = true` (default) keeps
    * one row per (indexId, docId) — the logical reject set; pass false
    * for the raw delivery log (e.g. to count retry storms). */
  def read(spark: SparkSession, dir: String, dedup: Boolean = true): DataFrame = {
    // a healthy queue is an EMPTY queue: a configured dir with no
    // rejects yet must read as zero rows, not throw PATH_NOT_FOUND
    // on the unmatched glob
    val p = java.nio.file.Paths.get(dir)
    val files =
      if (!java.nio.file.Files.isDirectory(p)) Seq.empty[String]
      else {
        val l = java.nio.file.Files.list(p)
        try l.iterator().asScala
          .filter { f => val n = f.getFileName.toString
            n.startsWith("dead-") && n.endsWith(".ndjson") }
          .map(_.toString).toSeq
        finally l.close()
      }
    val raw =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).json(files: _*)
    if (dedup) raw.dropDuplicates("indexId", "docId") else raw
  }
}

/** The ES-sim sink: dataset of [[IngestRecord]] → bulk files, batch or
  * streaming (foreachBatch), with the BulkBuffer policy per partition. */
object EsBulkSink {

  /** Write a batch of records through per-partition bulk buffers into
    * the file-simulated index at `dir`. `tsField` must name the cursor
    * field of the index — it flows into the stats sidecars the source's
    * planning index reads back, and a mismatch would silently degrade
    * cold start to a full body parse.
    *
    * `maxActions` defaults to 1024 here, NOT the reference's 64: the
    * 64-action flush is an ES `_bulk` WIRE policy (request sizing for
    * an HTTP round trip, core.clj:72) while this transport pays its
    * costs per FILE — sidecar write + tmp write + atomic rename — and
    * graft.SinkBench measured 104k → 549k docs/s going 64 → 1024 with
    * durability unchanged (the main was deleted after d56e47c; `git
    * show d56e47c:src/main/scala/graft/SinkBench.scala`). The HTTP path (Main, BulkBuffer default)
    * keeps the reference's 64. */
  def write(records: Dataset[IngestRecord], dir: String,
            maxActions: Int = 1024, flushIntervalMs: Long = 5000,
            maxRetries: Int = 10, backoffInitialMs: Long = 2000,
            tsField: String = "ts"): Unit =
    writeWith(records, () => new FileEsBulkClient(dir, tsField), maxActions,
      flushIntervalMs, maxRetries, backoffInitialMs)

  /** Transport-agnostic form: `mkClient` runs ON THE EXECUTOR once per
    * partition (so only its captured config strings are serialized) —
    * pass `() => HttpEsBulkClient(...)` for a live cluster,
    * `() => FileEsBulkClient(dir)` for the offline sim. `deadLetter`
    * also runs on the executor (e.g. [[FileDeadLetter]]) and receives
    * every permanently-rejected item. */
  def writeWith(records: Dataset[IngestRecord], mkClient: () => EsBulkClient,
            maxActions: Int = 64, flushIntervalMs: Long = 5000,
            maxRetries: Int = 10, backoffInitialMs: Long = 2000,
            deadLetter: BulkItemFailure => Unit = _ => ()): Unit = {
    records.foreachPartition { (it: Iterator[IngestRecord]) =>
      val buffer = new BulkBuffer(mkClient(), maxActions,
        flushIntervalMs, maxRetries, backoffInitialMs, deadLetter = deadLetter)
      it.foreach(r => buffer.add(BulkAction(r.indexId, r.docId, r.source)))
      buffer.flush()
    }
  }

  /** Streaming writer: attach to `ds.writeStream.foreachBatch(streamBatch(dir))`. */
  def streamBatch(dir: String, tsField: String = "ts")(
      batch: Dataset[IngestRecord], batchId: Long): Unit =
    write(batch, dir, tsField = tsField)
}

/** Bulk-file compaction: rewrite an ES-sim index directory as its
  * current upsert-resolved state in large bulk files. The write path
  * flushes every `maxActions` buffered docs (1024 by default for the
  * file transport; 64 on the ES wire), so a
  * long-running ingest accumulates thousands of small files — and file
  * count is exactly what drives the source's planning cost (per-file
  * stats) and read amplification (per-file opens). Compaction folds the
  * upsert history (last write per doc id wins) and emits with a big
  * flush size — the ES `_forcemerge` analogue.
  *
  * Runs fully distributed: EsSimStore.read is the windowed last-write
  * replay, the sink writes per partition. */
object EsSimCompact {
  def run(spark: SparkSession, srcDir: String, dstDir: String,
          maxActions: Int = 5000, tsField: String = "ts"): Unit = {
    import spark.implicits._
    val current = EsSimStore.read(spark, srcDir).as[IngestRecord]
    EsBulkSink.write(current, dstDir, maxActions = maxActions, tsField = tsField)
  }

  /** In-place maintenance compaction of a LIVE directory — safe to run
    * between micro-batches while a sink appends and readers stream.
    * Main runs it every `sink.compact.every-batches` batches.
    *
    * Protocol (each step crash-safe, readers never lose a row):
    *  1. sweep: delete `*.gone` tombstones older than `graceMs`;
    *  2. snapshot the current bulk files; resolve THEIR upsert state
    *     (an explicit file list — files the sink writes concurrently
    *     are untouched);
    *  3. publish the resolved state as large bulk files whose names
    *     reuse the newest input's micros with a 'z'-leading client id,
    *     so in replay order they sort after every input they fold and
    *     before anything written after the snapshot (the sink's
    *     monotonic wall clock guarantees later files get later micros;
    *     cross-writer clock skew is the store's pre-existing caveat),
    *     then publish the fold MANIFEST ([[graft.sources.EsSimManifest]])
    *     that atomically flips planner visibility from the inputs to
    *     the compacted outputs — a planner never sees both sides of the
    *     fold, so a live reader cannot double-deliver the overlap;
    *  4. retire inputs by ATOMIC_MOVE to `<file>.gone` — immediately
    *     invisible to new plans, but a reader that planned the old name
    *     falls back to the tombstone ([[EsSimSource.parseBulkFile]]),
    *     so the list→open race cannot drop the rows of an in-flight
    *     micro-batch. Tombstones die at the next sweep, after grace.
    *
    * Cursor safety: streaming offsets are (tsMicros, docId) — file
    * layout is not part of the cursor, so checkpoints stay valid; the
    * compacted file's stats span the folded range and its rows at or
    * below a reader's cursor are re-filtered per row, exactly like any
    * straddling file. `graceMs` must exceed the longest micro-batch a
    * reader runs (default 60 s). A Trigger.AvailableNow query racing
    * the compactor may under-drain (its start-time file snapshot can
    * vanish) — it re-admits from the compacted file on the next run;
    * rows are never lost, only deferred. */
  /** Move one file to its `.gone` tombstone, restamping mtime so grace
    * counts from retirement (rename preserves the original mtime). A
    * missing source is benign — a CONCURRENT compactor already retired
    * it, and both folded the same snapshot to identical resolved
    * content pinned to the same replay slot, so whichever compacted
    * file replay prefers, the state is the same; never fail the batch
    * job over losing that race. */
  private[graft] def retireFile(p: java.nio.file.Path,
      retiredAt: java.nio.file.attribute.FileTime): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tomb = p.resolveSibling(p.getFileName.toString + ".gone")
    try {
      Files.move(p, tomb, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(tomb, retiredAt)
    } catch {
      case _: java.nio.file.NoSuchFileException => ()
    }
  }

  def inPlace(spark: SparkSession, dir: String, maxActions: Int = 5000,
              tsField: String = "ts", graceMs: Long = 60000): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    // The manifest's outputs come from an accumulator that collects the
    // file names SUCCESSFUL task attempts published. Speculative
    // execution breaks that contract: two attempts of one partition can
    // BOTH commit, each having published the same rows under a fresh
    // client UUID — both names reach the manifest, both files become
    // visible, and planners deliver the partition's rows twice. Refuse
    // up front rather than corrupt the store (default is off; a 100 TB
    // deployment that wants speculation must exclude the compactor job).
    // read from the SparkContext conf — the scheduler's authoritative
    // source — not the session RuntimeConfig, which only reflects
    // entries copied at session creation and misses a flag enabled
    // afterwards (round-10 advice)
    require(
      !spark.sparkContext.getConf.getBoolean("spark.speculation", false) &&
        !spark.conf.get("spark.speculation", "false").toBoolean,
      "compaction requires spark.speculation=false: speculative duplicate " +
        "attempts would double-publish outputs into the fold manifest")
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return
    // 1. sweep expired tombstones (previous run's inputs, past grace)
    val now = System.currentTimeMillis()
    def pastGrace(p: java.nio.file.Path): Boolean =
      try now - Files.getLastModifiedTime(p).toMillis > graceMs
      catch { case _: Exception => false }
    val listing = Files.list(root)
    try listing.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".gone") ||
          // orphaned publish debris, age-gated because both exist for
          // milliseconds during a healthy publish: a sidecar whose bulk
          // body never landed, and a .tmp body whose ATOMIC_MOVE never
          // ran (writer crashed mid-publish) — without this, crashed
          // tasks accumulate debris forever in exactly the directory
          // whose file count this maintenance exists to bound
          n.endsWith(".ndjson.tmp") || n.endsWith(".manifest.json.tmp") ||
          (n.endsWith(".stats.json") &&
            !Files.exists(p.resolveSibling(n.stripSuffix(".stats.json"))))
      }
      .filter(pastGrace)
      .foreach(p => Files.deleteIfExists(p))
    finally listing.close()
    // 1b. sweep inert fold manifests: a manifest matters only while one
    // of the names it mentions is still a live bulk file — while folds
    // live it hides them (crash-before-retire protection), while
    // outputs live it proves them published (unmanifested 'z' files are
    // invisible to planners). Once a LATER generation folded its
    // outputs and everything it names is retired, it is inert debris.
    val liveNow = graft.sources.EsSimStats.list(dir)
      .map(_.getFileName.toString).toSet
    graft.sources.EsSimManifest.list(dir).foreach { m =>
      if (pastGrace(m.file) &&
          !m.outputs.exists(liveNow.contains) && !m.folds.exists(liveNow.contains))
        Files.deleteIfExists(m.file)
    }
    // 2. snapshot + resolve
    val inputs = graft.sources.EsSimStats.list(dir)
    if (inputs.size <= 1) return // nothing to fold
    val maxName = inputs.map(_.getFileName.toString).max
    // names are bulk-<micros %020d>-<client>-<counter>.ndjson
    val micros = maxName.stripPrefix("bulk-").take(20).toLong
    val resolved = EsSimStore.readOf(spark, inputs.map(_.toString)).as[IngestRecord]
    // 3. publish compacted files pinned to the snapshot's replay slot.
    // The published names come back via an accumulator (only SUCCESSFUL
    // task attempts contribute — foreachPartition is an action, so a
    // failed attempt's partial publishes stay orphaned AND, because the
    // manifest's outputs won't name them, invisible to planners until
    // the next compaction folds them as ordinary inputs). Re-listing
    // the directory here instead (the old listCompactedAt) could pick
    // up a concurrent same-slot compactor's files or, after a
    // crash-before-retire refold at the same micros, the previous
    // generation's z-files — outputs must be exactly what THIS run
    // published.
    val outputsAcc = spark.sparkContext.collectionAccumulator[String]("graft.compact.outputs")
    EsBulkSink.writeWith(resolved,
      () => new FileEsBulkClient(dir, tsField, fixedMicros = Some(micros),
        onPublish = n => outputsAcc.add(n)),
      maxActions = maxActions)
    // 3b. publish the fold manifest (atomic): readers gate visibility on
    // it — a compacted ('z') file with no manifest is IGNORED by
    // planners, and once the manifest lands the folded inputs are
    // dropped from planning even while still on disk. Without this
    // gate, a live reader planning a micro-batch between this publish
    // and step 4's retire sees BOTH the compacted file and its inputs —
    // both cover the same (ts, docId) range — and delivers every row in
    // the batch's range twice (the within-batch duplication the
    // exactly-once soak caught ~1-in-20 runs). Crash windows are safe
    // on both sides: manifest-before-retire means folds are only ever
    // hidden when their replacement is fully published; crash before
    // the manifest leaves the z-files inert (next run folds them as
    // ordinary inputs, replay-resolving their duplicate content).
    val outputs = outputsAcc.value.asScala.toSeq.distinct.sorted
    val foldNames = inputs.map(_.getFileName.toString)
    // publish-time invariant: a name in both buckets would make the
    // manifest self-contradictory (fold precedence would hide a file
    // the same manifest claims as coverage). Client UUIDs make overlap
    // impossible by construction; fail loudly if that ever breaks.
    require(!outputs.exists(foldNames.toSet.contains),
      s"compaction outputs overlap folds at micros=$micros")
    // ≥2 inputs each holding ≥1 action means the resolved state is
    // never empty — an empty outputs list here signals a broken publish
    // path, and retiring the inputs on its say-so would lose every row
    require(outputs.nonEmpty, s"compaction published no outputs at micros=$micros")
    graft.sources.EsSimManifest.write(root, micros, outputs, foldNames)
    // 4. retire the inputs (bulk file first, then its sidecar: stats
    // must never outlive a body that new plans can still admit)
    // rename preserves mtime, so a tombstone of an OLD file would be
    // born already past grace and swept by the very next run while a
    // reader is still inside its contract window — restamp the clock:
    // grace counts from RETIREMENT, not from original write
    val retiredAt = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
    inputs.foreach { f =>
      retireFile(f, retiredAt)
      val sc = BulkStats.sidecar(f)
      if (Files.exists(sc)) retireFile(sc, retiredAt)
    }
  }
}

/** Read-back of the simulated ES index: replay bulk files in arrival
  * order, apply upsert-by-id (last write per (index, docId) wins — ES
  * document semantics, which is what makes re-running a copy idempotent
  * rather than duplicating, SURVEY B4).
  *
  * Each bulk file is parsed once, on an executor, by the source's own
  * parser ([[graft.sources.EsSimSource.parseBulkFile]]); the driver only
  * lists the directory. Every executor must therefore see the store's
  * directory, as the streaming source's readers already do.
  *
  * Concurrency note: a read lists the directory once, and a listed file
  * that [[EsSimCompact.inPlace]] retires before a task opens it is read
  * from its `.gone` tombstone. A read racing a compaction therefore
  * sees each folded input either as itself or through its fold — the
  * same resolved state — provided it finishes within the compactor's
  * grace period; past it the tombstone is swept and the read fails. */
object EsSimStore {

  /** All actions, with their arrival sequence: `file` is the bulk file's
    * path and `slot` the action's ordinal inside it. A missing `dir`
    * fails naming it; an existing empty one reads as zero rows. */
  def actions(spark: SparkSession, dir: String): DataFrame = {
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
      throw new java.io.FileNotFoundException(s"ES-sim store does not exist: $dir")
    actionsOf(spark, graft.sources.EsSimStats.list(dir).map(_.toString))
  }

  /** Same, over an explicit file list — in-place compaction must read
    * exactly the snapshot of files it will retire, not whatever the
    * directory holds by the time the job runs (a live sink keeps
    * appending new files, which must NOT be folded-then-retired by a
    * compaction pass that started before they existed). Files are
    * split into at most 2 × core-count tasks, as the batch source does. */
  def actionsOf(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    val slices = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(paths, slices).flatMap { f =>
      graft.sources.EsSimSource.parseBulkFile(java.nio.file.Paths.get(f), "ts", parseBody = false)
        .iterator.zipWithIndex.map { case (d, slot) => (f, slot, d.indexId, d.docId, d.source) }
    }.toDF("file", "slot", "indexId", "docId", "source")
  }

  /** Current index contents after upsert-by-id replay. */
  def read(spark: SparkSession, dir: String): DataFrame =
    resolve(actions(spark, dir))

  /** Upsert-resolved state of an explicit file snapshot. */
  def readOf(spark: SparkSession, paths: Seq[String]): DataFrame =
    resolve(actionsOf(spark, paths))

  private def resolve(acts: DataFrame): DataFrame = {
    val spark = acts.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"indexId", $"docId")
      .orderBy($"file".desc, $"slot".desc)
    acts
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"indexId", $"docId", $"source")
  }
}
