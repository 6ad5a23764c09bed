package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.IndexStore

/** The one history lifecycle of the streaming-admission family: text
  * near-dup and full pipeline ([[StreamingCuration]]), vectors
  * ([[StreamingVectorCuration]]) and payloads
  * ([[StreamingPayloadCuration]]). Each leg is one private [[Leg]]
  * value — its row schema, admitted flag, output columns, stats count
  * name and optional side lanes — and [[start]], [[write]],
  * [[verdict]], [[seed]], [[compact]], [[admitted]] and
  * [[admissionStats]] are written once against it (the
  * [[IndexStore.Family]] pattern). The legs keep only their probes.
  *
  * The lifecycle is Structured Streaming's idempotent `foreachBatch`
  * sink: one `batch=<id>` directory per micro-batch, which a replay of
  * that batch overwrites; every read for batch N excludes `batch=N`, so
  * a replay sees exactly the history the original run saw and never
  * races its own overwrite. Every `compactEvery` batches the retired
  * batch dirs fold into an [[IndexStore]] generation, so the file count
  * stays bounded at production cadence instead of growing one small-file
  * directory per micro-batch forever.
  *
  * Layout under a history dir:
  * {{{
  *   batch=<id>/          hot rows, one dir per not-yet-folded batch;
  *                        a replay of batch N overwrites batch=N
  *   _lanes/<lane>/batch=<id>/
  *                        optional per-batch side lanes (the text and
  *                        pipeline legs persist LSH banded rows + bucket
  *                        counts so the per-batch probe never re-derives
  *                        them from the standing corpus) — written and
  *                        replay-overwritten together with the rows
  *   _folded/             an [[IndexStore]] generation tree:
  *     _current
  *     gen=N/rows/        all folded batches' rows, few large files,
  *                        `batch` materialized as a data column
  *     gen=N/<lane>/      the folded side lanes
  *     gen=N/_folded_through
  *                        max batch id folded into this generation
  * }}}
  * The `_`-prefixed names are invisible to Spark's file listing, so a
  * plain `spark.read.parquet(historyDir)` over a never-compacted
  * history keeps reading exactly the hot `batch=` tree (the layout
  * all round-14 histories had). Every read uses the leg's declared
  * schema: an empty micro-batch writes a dir with no part files, where
  * schema inference throws and an explicit schema reads empty.
  *
  * Crash-safety: folding writes generation N+1 completely (including
  * the `_folded_through` watermark), atomically flips `_current`, and
  * only then deletes the folded hot dirs. Readers treat any hot dir
  * with id ≤ the published watermark as debris (excluded), so a crash
  * between flip and delete double-stores but never double-COUNTS; the
  * next [[compact]] sweeps the leftovers. A batch id is only ever
  * folded once it is strictly below the in-flight id, so the one batch
  * Structured Streaming can replay after a failure is never inside a
  * generation's rows... and even if a caller folds more eagerly, the
  * watermark keeps the replayed hot dir invisible rather than
  * double-counted.
  *
  * Concurrency contract: single maintainer — the admission loop itself
  * runs [[compact]] between batches (foreachBatch is sequential).
  * Concurrent EXTERNAL readers of the rows get [[IndexStore]]'s
  * two-generation grace on the folded side; the hot-dir deletion is
  * raw, so monitoring readers should pass `tolerant = true` (the
  * admissionStats discipline) or quiesce the loop first.
  */
object StreamingHistory {

  private val FoldedName = "_folded"
  private val LanesName = "_lanes"
  private val ThroughFile = "_folded_through"

  /** Per-batch side lanes: `write(rows, dir, batchId)` writes batch
    * `batchId`'s lane dirs from its rows as written; `fold(spark, dir,
    * dst, foldIds)` writes the next generation's lanes under `dst` from
    * the published generation's and the folded batches'. */
  private[streaming] final case class SideLanes(
      write: (DataFrame, String, Long) => Unit,
      fold: (SparkSession, String, String, Seq[Long]) => Unit)

  /** One admission leg as data. `schema` is the history row shape, key
    * column first; `flag` the boolean column marking admitted rows;
    * `output` the columns [[admitted]] returns; `countName` the column
    * [[admissionStats]] counts a batch's rows under. */
  private[streaming] final case class Leg(schema: StructType,
      output: Seq[String], countName: String, flag: String = "admitted",
      lanes: Option[SideLanes] = None) {
    def key: String = schema.head.name
  }

  def foldedDir(dir: String): String = s"$dir/$FoldedName"

  /** The hot dirs of side lane `lane`: one `batch=<id>` per batch. */
  private[streaming] def laneDir(dir: String, lane: String): String =
    s"$dir/$LanesName/$lane"

  def lanePath(dir: String, lane: String, batchId: Long): String =
    s"${laneDir(dir, lane)}/batch=$batchId"

  private def withBatch(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("batch", LongType))

  /** Highest batch id folded into the published generation, if any. */
  def foldedThrough(dir: String): Option[Long] =
    IndexStore.currentGen(foldedDir(dir)).flatMap { g =>
      val f = Paths.get(IndexStore.genPath(foldedDir(dir), g), ThroughFile)
      if (Files.exists(f))
        Some(new String(Files.readAllBytes(f), "UTF-8").trim.toLong)
      else None
    }

  /** Ids of every top-level `batch=` dir, hot or debris. */
  private def batchDirIds(dir: String): Seq[Long] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return Nil
    val st = Files.list(p)
    try {
      val b = scala.collection.mutable.ArrayBuffer[Long]()
      st.forEach { q =>
        val n = q.getFileName.toString
        if (n.startsWith("batch="))
          scala.util.Try(n.stripPrefix("batch=").toLong).toOption.foreach(b += _)
      }
      b.toSeq
    } finally st.close()
  }

  /** Hot (not-yet-folded) batch ids: top-level `batch=` dirs above the
    * folded watermark. Dirs at or below the watermark are fold debris
    * (crash between publish and delete, or a replay of an already-
    * folded batch) — invisible to reads, swept by the next compact. */
  def hotBatchIds(dir: String): Seq[Long] = {
    val ft = foldedThrough(dir)
    batchDirIds(dir).filter(id => ft.forall(id > _)).sorted
  }

  /** The published generation's rows lane, if a fold has happened:
    * `schema`'s data columns + the long `batch` column the fold
    * materialized. */
  def foldedRows(spark: SparkSession, dir: String,
                 schema: StructType): Option[DataFrame] =
    foldedLane(spark, dir, "rows", withBatch(schema))

  /** A lane of the published generation, if present. */
  def foldedLane(spark: SparkSession, dir: String, lane: String,
                 schema: StructType): Option[DataFrame] =
    IndexStore.currentGen(foldedDir(dir)).flatMap { g =>
      val p = s"${IndexStore.genPath(foldedDir(dir), g)}/$lane"
      if (Files.isDirectory(Paths.get(p))) Some(spark.read.schema(schema).parquet(p))
      else None
    }

  /** Read selected `batch=` dirs under `dir` as one frame of `schema`'s
    * data columns plus a long `batch` column (basePath keeps partition
    * discovery scoped to the given dirs, so the `_`-prefixed siblings
    * never confuse it). */
  def readHotBatches(spark: SparkSession, dir: String, ids: Seq[Long],
                     schema: StructType,
                     tolerant: Boolean = false): Option[DataFrame] =
    if (ids.isEmpty) None
    else {
      val reader =
        if (tolerant) spark.read.option("ignoreMissingFiles", "true") else spark.read
      Some(reader.schema(withBatch(schema)).option("basePath", dir)
        .parquet(ids.map(id => s"$dir/batch=$id"): _*)
        .withColumn("batch", col("batch").cast(LongType)))
    }

  /** `parts` unioned by name, or an empty frame of `schema`. */
  private[streaming] def union(spark: SparkSession, schema: StructType,
                               parts: Seq[DataFrame]): DataFrame =
    parts.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** The full history rows as one frame — folded generation ∪ hot
    * dirs, `excludeBatch` removed from BOTH sides (the in-flight-batch
    * exclusion that makes replays race-free: a replayed batch must see
    * exactly the history the original run saw, even if an eager fold
    * already captured its rows). Empty dirs yield an empty frame with
    * the given schema, not an error. */
  def readRows(spark: SparkSession, dir: String, emptySchema: StructType,
               excludeBatch: Option[Long], keepBatch: Boolean = false,
               tolerant: Boolean = false): DataFrame = {
    val hotIds = hotBatchIds(dir).filterNot(id => excludeBatch.contains(id))
    val hot = readHotBatches(spark, dir, hotIds, emptySchema, tolerant)
    val folded = foldedRows(spark, dir, emptySchema)
      .map(df => excludeBatch.fold(df)(b => df.filter(col("batch") =!= b)))
    val cols = (emptySchema.fieldNames :+ "batch").map(col)
    val rows = union(spark, withBatch(emptySchema),
      (hot.toSeq ++ folded.toSeq).map(_.select(cols: _*)))
    if (keepBatch) rows else rows.drop("batch")
  }

  // ---- the lifecycle verbs, once for every admission leg ----

  /** Start a leg's admission query: `admit(batch, batchId)` per
    * micro-batch, then, every `compactEvery` batches (> 0; 0 keeps the
    * flat layout), a [[compact]] of the batches before the in-flight
    * one. */
  private[streaming] def start(leg: Leg, stream: DataFrame, dir: String,
      checkpointDir: String, compactEvery: Int)(
      admit: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admit(batch, batchId)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          compact(leg, batch.sparkSession, dir, uptoExclusive = batchId)
        ()
      }
      .start()

  /** Write batch `batchId`'s rows, projected onto the leg's schema,
    * under `batch=<id>` (a replay overwrites its earlier copy), then the
    * leg's side lanes from the rows as written. */
  private[streaming] def write(leg: Leg, rows: DataFrame, dir: String,
                               batchId: Long): Unit = {
    val path = s"$dir/batch=$batchId"
    rows.select(leg.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
      .write.mode("overwrite").parquet(path)
    leg.lanes.foreach(_.write(
      rows.sparkSession.read.schema(leg.schema).parquet(path), dir, batchId))
  }

  /** Pre-load a standing corpus as batch −1; `rows` carry the flag. */
  private[streaming] def seed(leg: Leg, rows: DataFrame, dir: String): Unit =
    write(leg, rows, dir, -1L)

  /** Write a pair-probed batch: a row is rejected iff it is the `later`
    * end of some pair in `pairs`. Monotonic ids put every later end in
    * the batch; the semi-join keeps the flag honest if a caller
    * violates that, and the orphan count makes the violation VISIBLE —
    * an out-of-order id stream silently loses batch-invariance
    * otherwise. */
  private[streaming] def verdict(leg: Leg, batch: DataFrame, pairs: DataFrame,
      later: String, dir: String, batchId: Long): Unit = {
    val k = leg.key
    val rejected = pairs.select(col(later).as(k)).distinct()
      .join(batch.select(k), Seq(k), "left_semi")
    val orphans = pairs
      .join(batch.select(col(k).as(later)), Seq(later), "left_anti").count()
    if (orphans > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"admitBatch(batch=$batchId): $orphans near-dup pair(s) point at an " +
        s"already-written history row — ${k}s are not monotonic across " +
        "batches, so the admitted set is batch-slicing-dependent")
    write(leg, batch.join(rejected.withColumn("rej", lit(true)), Seq(k), "left_outer")
      .withColumn(leg.flag, coalesce(!col("rej"), lit(true))), dir, batchId)
  }

  /** The curated output: the leg's `output` columns of its admitted
    * rows across seed + stream. A fresh (or still-empty) history dir
    * yields an empty frame. */
  private[streaming] def admitted(leg: Leg, spark: SparkSession,
                                  dir: String): DataFrame =
    readRows(spark, dir, leg.schema, excludeBatch = None)
      .filter(col(leg.flag)).select(leg.output.map(col): _*)

  /** Per-batch admission funnel: rows seen (`countName`) / admitted /
    * rejected per micro-batch (batch −1 = the seed). One narrow
    * aggregate over the history the loop already writes, readable while
    * the stream runs: the read tolerates files deleted mid-scan (a
    * replayed batch's overwrite, or a concurrent [[compact]] retiring
    * hot dirs), so a concurrent maintainer yields a transiently partial
    * count for THAT batch rather than a failed job; idempotent replay /
    * the folded generation converges it on the next read. Batch ids
    * survive folding — the folded rows carry `batch` as a data column. */
  private[streaming] def admissionStats(leg: Leg, spark: SparkSession,
                                        dir: String): DataFrame = {
    val n = count(lit(1))
    val a = sum(col(leg.flag).cast("long"))
    readRows(spark, dir, leg.schema, excludeBatch = None, keepBatch = true,
        tolerant = true)
      .groupBy(col("batch"))
      .agg(n.as(leg.countName), a.as("n_admitted"), (n - a).as("n_rejected"))
      .orderBy(col("batch"))
  }

  /** Fold every hot batch dir with id < `uptoExclusive` (pass the
    * in-flight batch id so the one replayable batch stays hot), together
    * with the previous generation, into a new [[IndexStore]]
    * generation: rows coalesced to few large files with `batch` as a
    * data column, the leg's side lanes folded beside them, the
    * watermark advanced, `_current` flipped atomically, retired
    * generations and the folded hot dirs (plus any of their `_lanes`
    * entries) removed. Answers are unchanged by construction. No-op
    * when nothing is foldable. */
  private[streaming] def compact(leg: Leg, spark: SparkSession, dir: String,
                                 uptoExclusive: Long): Unit = {
    val fd = foldedDir(dir)
    val foldIds = hotBatchIds(dir).filter(_ < uptoExclusive)
    if (foldIds.isEmpty) { sweepDebris(dir); return }
    val g = IndexStore.nextGen(fd)
    val dst = IndexStore.genPath(fd, g)
    val frames = foldedRows(spark, dir, leg.schema).toSeq ++
      readHotBatches(spark, dir, foldIds, leg.schema)
    frames.reduce(_.unionByName(_))
      .coalesce(math.max(1, frames.map(_.inputFiles.length).sum / 16))
      .write.mode("overwrite").parquet(s"$dst/rows")
    leg.lanes.foreach(_.fold(spark, dir, dst, foldIds))
    val through = (foldedThrough(dir).toSeq ++ foldIds).max
    Files.write(Paths.get(dst, ThroughFile), through.toString.getBytes("UTF-8"))
    IndexStore.publish(fd, g)
    IndexStore.sweep(fd)
    sweepDebris(dir)
  }

  /** Delete hot `batch=` dirs (and their lane dirs) at or below the
    * published watermark — folded content whose hot copy is already
    * invisible to every reader. */
  private def sweepDebris(dir: String): Unit =
    foldedThrough(dir).foreach { ft =>
      batchDirIds(dir).filter(_ <= ft).foreach { id =>
        graft.BenchUtil.rmTree(s"$dir/batch=$id")
        val lanes = Paths.get(dir, LanesName)
        if (Files.isDirectory(lanes)) {
          val st = Files.list(lanes)
          try st.forEach { lane =>
            graft.BenchUtil.rmTree(lane.resolve(s"batch=$id").toString)
          } finally st.close()
        }
      }
    }

  /** Total parquet data files under the history dir (hot + lanes +
    * published generation) — the boundedness telemetry the compaction
    * specs and AdmissionProbe assert on. */
  def dataFileCount(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return 0L
    val cur = IndexStore.currentGen(foldedDir(dir))
    var n = 0L
    val st = Files.walk(root)
    try st.forEach { p =>
      val s = p.toString
      val inFolded = s.contains(s"/$FoldedName/")
      val inCurrentGen = cur.exists(g => s.contains(s"/$FoldedName/gen=$g/"))
      if (Files.isRegularFile(p) && s.endsWith(".parquet") &&
          (!inFolded || inCurrentGen))
        n += 1
    } finally st.close()
    n
  }
}
