package graft.operators

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftGlue, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Generation-based layout + live-reader-safe compaction plumbing for
  * the persisted index artifacts (d21's LSH lanes, m10's payload
  * bands, s17/s18's IVF lists).
  *
  * Why: every delta append lands NEW parquet files beside the standing
  * ones (the append-only discipline that keeps standing bytes
  * untouched). At production batch cadence the FILE COUNT, not the
  * byte mass, becomes the probe bottleneck — thousands of small
  * footers to open per scan (the same lesson the ES-sim store learned,
  * [[graft.ingest.EsSimCompact]]). Plain parquet directories cannot be
  * compacted in place safely: a reader that planned the old file list
  * fails when those names vanish, and a reader listing mid-swap could
  * see both sides of the fold.
  *
  * Layout: `<dir>/_current` (the published generation number) +
  * `<dir>/gen=<N>/<lanes…>`. Writers bootstrap gen 0; appends land
  * inside the CURRENT generation (append-only, standing files
  * untouched); compaction writes the folded lanes as generation N+1
  * and atomically flips `_current` (tmp file + ATOMIC_MOVE — readers
  * see the old or the new generation, never neither, never both).
  *
  * Live-reader grace: [[sweep]] deletes only generations older than
  * current−1, so a reader that resolved gen G keeps every file it
  * planned until TWO further generations publish — one full
  * compaction cycle of grace, and the probe APIs materialize their
  * results per call anyway (the s17 localCheckpoint discipline).
  * Crash-safety: a crash before publish leaves a dangling unpublished
  * gen directory that the next sweep removes; `_current` itself only
  * ever changes by atomic rename.
  *
  * Legacy flat directories (no `_current`) read as themselves, so
  * externally-built index dirs stay valid.
  *
  * Lifecycle: every artifact family (LSH, BM25, payload bands, IVF,
  * IVFADC, labeled IVF, cluster map) runs the same verbs, implemented
  * once at the end of this object and driven by one private [[Family]]
  * value per family. [[write]] builds a generation; [[append]] adds files to the
  * current one; [[delete]] tombstones ids; [[sync]] folds a whole diff
  * into one new generation ([[update]] is a sync that removes nothing);
  * [[compact]] is the fold with an empty diff. Every fold has one
  * skeleton: one revision per id ([[latestRevision]]) minus removed ids
  * → dead = tombstones ∪ removed ∪ upserts → standing lanes minus dead
  * plus the lanes derived from the upserts → [[publish]] → [[sweep]] →
  * release of the checkpointed scratch. The cluster map (connected
  * components over pairs) is the seventh family: its fold re-labels the
  * clusters dead ids touch instead of anti-joining them
  * ([[Family.regroup]]), so its sync, too, publishes once.
  *
  * Reads: every lane ([[Lane]]: keyed, derived, carried, tombstones)
  * declares its schema, partition columns included, and every lane read
  * goes through [[readLane]], which lists the lane directory on the
  * driver (the same driver-visible directories `_current`, [[sweep]]
  * and [[hasTombstonesAt]] assume) and plans the scan from that listing
  * and the declared schema. A lane read therefore runs no Spark job:
  * no footer job to infer a schema, no listing job for a lane of more
  * than 32 partition directories, and an empty lane reads as empty.
  * [[put]] checks each lane's rows against the declaration before it
  * writes.
  */
object IndexStore {

  private def currentFile(dir: String): Path = Paths.get(dir, "_current")

  def currentGen(dir: String): Option[Long] = {
    val f = currentFile(dir)
    if (Files.exists(f))
      Some(new String(Files.readAllBytes(f), "UTF-8").trim.toLong)
    else None
  }

  def genPath(dir: String, g: Long): String = s"$dir/gen=$g"

  /** The root READERS resolve: the published generation (a legacy flat
    * dir without `_current` reads as itself). */
  def currentPath(dir: String): String =
    currentGen(dir).map(genPath(dir, _)).getOrElse(dir)

  /** The generation the next full write / compaction should build. */
  def nextGen(dir: String): Long = currentGen(dir).map(_ + 1).getOrElse(0L)

  /** Atomically flip readers to generation `g`. */
  def publish(dir: String, g: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Files.createTempFile(Paths.get(dir), "._current.", ".tmp")
    Files.write(tmp, g.toString.getBytes("UTF-8"))
    Files.move(tmp, currentFile(dir), StandardCopyOption.ATOMIC_MOVE)
  }

  /** How stale a dangling unpublished generation (gen > current) must
    * be before [[sweep]] treats it as crash debris. A generation NEWER
    * than `_current` is either a crashed compaction's leftovers or a
    * compaction MID-BUILD: deleting it unconditionally would let a
    * sweep (or an accidental second maintainer) destroy a build in
    * progress — the documented single-writer contract made that
    * "acceptable", but an mtime grace makes the failure mode impossible
    * to hit by accident at the cost of debris lingering one window. */
  val DanglingGraceMs: Long = 15L * 60 * 1000

  /** Delete retired generations older than current−1 (the live-reader
    * grace window) plus any dangling unpublished generation NEWER than
    * current (a crashed compaction's debris) whose tree has been
    * untouched for [[DanglingGraceMs]] — a gen still being written has
    * recent file mtimes and survives. */
  def sweep(dir: String, danglingGraceMs: Long = DanglingGraceMs): Unit =
    currentGen(dir).foreach { cur =>
      val d = Paths.get(dir)
      if (Files.isDirectory(d)) {
        val doomed = {
          val st = Files.list(d)
          try {
            val b = scala.collection.mutable.ArrayBuffer[Path]()
            st.forEach { p =>
              val n = p.getFileName.toString
              if (n.startsWith("gen="))
                scala.util.Try(n.stripPrefix("gen=").toLong).toOption
                  .filter(g => g < cur - 1 ||
                    (g > cur && ageMs(p) > danglingGraceMs))
                  .foreach(_ => b += p)
            }
            b.toSeq
          } finally st.close()
        }
        doomed.foreach(p => graft.BenchUtil.rmTree(p.toString))
      }
    }

  /** Milliseconds since the newest mtime anywhere under `p` — the
    * "is anyone still writing here" signal for the dangling-gen grace. */
  private def ageMs(p: Path): Long = {
    var newest = 0L
    val st = Files.walk(p)
    try st.forEach { q =>
      val t = Files.getLastModifiedTime(q).toMillis
      if (t > newest) newest = t
    } finally st.close()
    System.currentTimeMillis() - newest
  }

  /** Bump the artifact's append counter and return the new total — the
    * cadence source for the every-K-appends auto-compaction knob each
    * append API takes. A plain text file under the dir root (invisible
    * to Spark's listing), read-modify-write under the artifact's
    * existing single-writer contract; it survives compactions (it
    * lives beside `_current`, not inside a generation). */
  def bumpAppends(dir: String): Long = {
    val f = Paths.get(dir, "_appends")
    Files.createDirectories(Paths.get(dir))
    // tolerant parse + atomic publish (the _current discipline): a crash
    // mid-write must not leave a truncated counter that turns every
    // later append into a NumberFormatException — a corrupt counter
    // resets the compaction cadence, it never wedges appends
    val n = (if (Files.exists(f))
               scala.util.Try(
                 new String(Files.readAllBytes(f), "UTF-8").trim.toLong
               ).getOrElse(0L)
             else 0L) + 1
    val tmp = Files.createTempFile(Paths.get(dir), "._appends.", ".tmp")
    Files.write(tmp, n.toString.getBytes("UTF-8"))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE)
    n
  }

  // ---- tombstones: the deletion path of the artifact family ----

  /** The tombstone lane of a generation root. `_`-prefixed so Spark's
    * file listing never sees it — lanes laid out as bare parquet
    * datasets at the generation root (the IVF lists) are unaffected
    * by its presence. */
  def tombstoneLane(root: String): String = s"$root/_tombstones"

  /** The tombstone lane of a family keyed by `key`: the key, as longs. */
  private[graft] def tombstones(key: String): Lane =
    Lane("_tombstones", Coalesced, columns(key -> LongType))

  /** Record deletions: append the ids' single key column as tombstone
    * rows under the CURRENT generation's `_tombstones` lane. Living
    * INSIDE the generation gives deletes exactly the crash/reader
    * semantics appends already have: a reader that resolved gen G sees
    * G's lanes masked by G's tombstones (old or new generation, never
    * a torn mix), and the compaction that builds gen G+1 folds the
    * tombstones in — dead rows physically dropped, no tombstone lane
    * carried forward — so reclaim IS the atomic generation flip.
    * Append-only like every lane (standing files byte-untouched);
    * double-deleting an id just appends another row, which every
    * consumer tolerates (reads are distinct-ed, masks are semi/anti
    * joins). Ids are assumed never reused (the corpus family's
    * monotonic-id contract): a tombstoned id stays dead to APPENDS and
    * probes; the sanctioned revival path is the r17 update/sync verb
    * family (`updateIn*` / `sync*Index`), whose one-generation fold
    * explicitly re-inserts a tombstoned id's new revision and reclaims
    * the lane (IndexUpdateSpec pins revival). Normalizes legacy flat
    * dirs first ([[adoptLegacy]]) so the lane always lives inside a
    * generation. */
  def appendTombstones(ids: DataFrame, dir: String, idCol: String): Unit = {
    adoptLegacy(dir)
    if (currentGen(dir).isEmpty) publish(dir, 0L) // empty artifact: still record
    put(tombstones(idCol), ids.select(col(idCol).cast(LongType).as(idCol)).distinct(),
      currentPath(dir), "append")
  }

  /** The current generation's tombstoned ids, distinct, as a one-long-
    * column frame (empty when no deletion ever happened — a missing
    * lane is not an error; a file-less lane dir, which an all-duplicate
    * delete batch can leave, reads as empty through its declaration).
    * Removals are delta-sized by premise, so callers broadcast this
    * frame into anti-joins against standing lanes — the standing side
    * streams, preserving every probe's delta-cost contract. */
  def readTombstones(s: SparkSession, dir: String, idCol: String): DataFrame =
    readTombstonesAt(s, currentPath(dir), idCol)

  /** [[readTombstones]] against an ALREADY-RESOLVED generation root —
    * for serve paths that resolved [[currentPath]] once and must read
    * that same generation's lanes AND tombstones (resolving the
    * generation independently per lane opens a window where a
    * concurrent maintainer flip pairs gen G's lanes with gen G+1's
    * folded-away tombstone state, serving deleted rows unmasked). */
  def readTombstonesAt(s: SparkSession, root: String, idCol: String): DataFrame = {
    val lane = tombstones(idCol)
    if (hasTombstonesAt(root)) read(s, root, lane).distinct()
    else s.createDataFrame(s.sparkContext.emptyRDD[Row], lane.schema)
  }

  /** Whether any deletion was ever recorded against the artifact — one
    * filesystem stat, no Spark job. The mask fast path: an artifact
    * that never saw a delete must serve through the exact same plan it
    * served before deletes existed (r16 regression: every probe/serve
    * path paid a broadcast-empty-frame anti-join — an extra job, an
    * exchange, and a codegen stage — on indexes with no tombstone lane
    * at all). */
  def hasTombstones(dir: String): Boolean = hasTombstonesAt(currentPath(dir))

  /** [[hasTombstones]] against an already-resolved generation root
    * (the [[readTombstonesAt]] single-resolution discipline). */
  def hasTombstonesAt(root: String): Boolean =
    Files.isDirectory(Paths.get(tombstoneLane(root)))

  /** Mask `df` by the artifact's tombstones on `idCol` — the standard
    * serve-time guard: broadcast anti-join when deletions exist
    * (removals are delta-sized by premise; the standing side streams),
    * and the IDENTITY — plan-identical to the pre-deletion path, no
    * anti-join stage, no `_tombstones` scan — when none were ever
    * recorded ([[hasTombstones]]). Prefer [[maskTombstonesAt]] in
    * serve paths that already resolved the generation root. */
  def maskTombstones(df: DataFrame, dir: String, idCol: String): DataFrame =
    maskTombstonesAt(df, currentPath(dir), idCol)

  /** [[maskTombstones]] against an already-resolved generation root:
    * one probe reads ONE generation's lanes and tombstones even under
    * a concurrent maintainer flip. */
  def maskTombstonesAt(df: DataFrame, root: String, idCol: String): DataFrame =
    if (hasTombstonesAt(root))
      df.join(org.apache.spark.sql.functions.broadcast(
          readTombstonesAt(df.sparkSession, root, idCol)),
        Seq(idCol), "left_anti")
    else df

  /** Resolve SAME-ID upserts within one diff batch to exactly one row
    * per id — the precondition every `sync*Index` generation fold
    * needs: two revisions of one id landing in the lanes would both
    * probe/serve, silently diverging from the sync ≡
    * rebuild-with-one-revision contract (r17 advice). CDC feeds
    * routinely carry multiple updates per key per micro-batch; a
    * DataFrame carries no arrival order, so feeds that know their
    * ordering should pre-resolve (the streaming wrapper's `seq`
    * column does). For feeds that don't, this keeps a DETERMINISTIC
    * representative — the row ranking first over all non-id columns
    * descending — so replays and re-runs of the same batch fold the
    * same revision (an arbitrary `dropDuplicates` pick would not).
    * In the common case (true duplicate rows — replay) this is the
    * identity choice. Cost: one window over the DIFF-sized batch. */
  def latestRevision(df: DataFrame, idCol: String): DataFrame = {
    val content = df.columns.filter(_ != idCol)
    // contract check, not AnalysisException roulette (r18 advice): the
    // window orders by every content column, so a non-orderable event
    // column (map, udt) must fail with the fix spelled out — project
    // it out or pre-resolve duplicates upstream
    val unorderable = content.filterNot(c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(df.schema(c).dataType))
    require(unorderable.isEmpty,
      "latestRevision: cannot pick a deterministic revision over " +
      s"non-orderable column(s) ${unorderable.mkString("[", ", ", "]")} " +
      s"(types ${unorderable.map(c => df.schema(c).dataType.simpleString)
        .mkString("[", ", ", "]")}) — project them out of the event " +
      "frame or resolve same-id duplicates upstream")
    if (content.isEmpty) df.distinct()
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol))
        .orderBy(content.map(c => col(c).desc_nulls_last): _*)
      df.withColumn("__rev_rn",
          org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("__rev_rn") === 1).drop("__rev_rn")
    }
  }

  /** One-time migration of a legacy FLAT index dir (written before the
    * generation layout existed: lanes at top level, no `_current`)
    * into the generation layout: MOVE every top-level entry into
    * `gen=0` and publish it. Without this, the first compaction of a
    * legacy dir would write `gen=1` BESIDE the flat files — the flat
    * lanes would never be swept (sweep only removes `gen=*`), and any
    * external reader of the flat path would hit Spark
    * partition-discovery conflicts on the mixed layout (round-14
    * advice). Renames are same-filesystem moves (no data copy);
    * single-maintainer, like the compactions that call it — external
    * readers of the dir should resolve through [[currentPath]] from
    * then on, as every probe API here does. No-op when `_current`
    * exists or the dir is empty/missing. */
  def adoptLegacy(dir: String): Unit = {
    val d = Paths.get(dir)
    if (currentGen(dir).isEmpty && Files.isDirectory(d)) {
      val entries = {
        val st = Files.list(d)
        try {
          val b = scala.collection.mutable.ArrayBuffer[Path]()
          st.forEach { p =>
            val n = p.getFileName.toString
            // `_`/`.`-prefixed root entries stay put: they are layout
            // metadata (_appends, a stale _SUCCESS marker), invisible
            // to Spark's listing either way
            if (!n.startsWith("gen=") && !n.startsWith("_") &&
                !n.startsWith(".")) b += p
          }
          b.toSeq
        } finally st.close()
      }
      if (entries.nonEmpty) {
        val g0 = Paths.get(genPath(dir, 0L))
        Files.createDirectories(g0)
        entries.foreach(p => Files.move(p, g0.resolve(p.getFileName)))
        publish(dir, 0L)
      }
    }
  }

  // ---- the lifecycle verbs, once for every artifact family ----

  /** How a lane's rows are laid out on disk. */
  sealed trait Layout
  /** Files as the rows arrive; a fold coalesces the standing side to a
    * 16th of its input files before the fresh rows union in. */
  case object Coalesced extends Layout
  /** `repartition` + `sortWithinPartitions` + `partitionBy(by)`: each
    * partition directory is written whole by one task, so a probe that
    * prunes on `by` opens few files. */
  final case class Clustered(by: Seq[String], sort: Seq[String]) extends Layout

  /** A lane: `name` under the generation root, or the root itself when
    * empty (the IVF lists). `schema` is its rows' columns as a read sees
    * them: the files' columns in order, then the `Clustered` partition
    * columns, nested fields nullable. */
  final case class Lane(name: String, layout: Layout, schema: StructType)

  /** A lane schema of nullable columns. */
  def columns(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  /** A lane computed from the others rather than keyed by id, so a fold
    * cannot anti-join it: LSH's bucket counts, BM25's stats partials.
    * `partial(docs, fresh)` is what a write or append of `docs` adds;
    * `fold(s, src, dst, dead, fresh)` is the next generation's lane (after
    * the keyed lanes are written to `dst`; `dead` is None on a compaction
    * with no tombstones, `fresh` empty on a compaction); `deleted(root,
    * newlyDead)`, when set, is the correction a delete appends after its
    * tombstones. */
  final case class Derived(lane: Lane,
      partial: (DataFrame, Seq[DataFrame]) => DataFrame,
      fold: (SparkSession, String, String, Option[DataFrame], Seq[DataFrame]) => DataFrame,
      deleted: Option[(String, DataFrame) => DataFrame] = None)

  /** The fold of a family whose dead ids change rows keyed by other ids
    * (the cluster map: removing a bridge doc splits its cluster).
    * `regroup(s, src, dead, fresh, model, keep)` returns the next
    * generation's rows of each lane, fresh rows included, in place of
    * the per-lane anti-join and union. `model` is the sync's (None on a
    * compaction); `keep` hands a checkpoint to the fold's release. A
    * lane it returns no rows for is left out of the generation. */
  type Regroup[M] = (SparkSession, String, Option[DataFrame], Seq[DataFrame],
                     Option[M], DataFrame => DataFrame) => Seq[DataFrame]

  /** One persisted artifact family as data — all [[write]], [[append]],
    * [[delete]], [[sync]], [[update]] and [[compact]] need to know.
    * `derive(rows, model, root)` gives the fresh rows of each of `lanes`,
    * in order, for rows keyed by `key`; `root` is the generation whose
    * `carried` lanes (models written once and copied forward unchanged)
    * it may read, and `model` is what the caller supplies per call (IVF
    * centroids, the IVFADC subvector width, the cluster map's pair
    * source). A sync folds one revision per key ([[latestRevision]])
    * unless `check` is set: then the checkpointed upserts are checked as
    * they are instead. */
  final case class Family[M](key: String, lanes: Seq[Lane],
      derive: (DataFrame, M, String) => Seq[DataFrame],
      carried: Seq[Lane] = Nil,
      derived: Option[Derived] = None,
      check: Option[DataFrame => Unit] = None,
      regroup: Option[Regroup[M]] = None)

  /** A full build: generation N+1 holds the `carried` frames (one per
    * [[Family.carried]] lane) and the lanes derived from `docs`. */
  def write[M](f: Family[M], docs: DataFrame, model: M, dir: String,
               carried: Seq[DataFrame] = Nil): Unit = {
    val g = nextGen(dir)
    val root = genPath(dir, g)
    f.carried.zip(carried).foreach { case (l, df) => put(l, df, root, "overwrite") }
    emit(f, docs, model, root, "overwrite")
    publish(dir, g)
    sweep(dir)
  }

  /** Admit a delta into the CURRENT generation: new files beside the
    * standing ones, which stay byte-untouched, so the cost follows the
    * delta. `compactEvery` > 0 compacts every that-many appends and
    * deletes (the `_appends` counter); 0 leaves compaction manual. */
  def append[M](f: Family[M], delta: DataFrame, model: M, dir: String,
                compactEvery: Int): Unit = {
    emit(f, delta, model, currentPath(dir), "append")
    cadence(f, delta.sparkSession, dir, compactEvery)
  }

  /** Record deletions as tombstones under the current generation
    * ([[appendTombstones]]): standing lanes byte-untouched, readers mask
    * the ids, and the next fold drops them. A family whose derived lane
    * takes a delete-time correction first drops ids already tombstoned,
    * so a double delete never corrects twice. */
  def delete(f: Family[_], removedIds: DataFrame, dir: String,
             compactEvery: Int): Unit = {
    val s = removedIds.sparkSession
    f.derived.flatMap(d => d.deleted.map(d.lane -> _)) match {
      case None => appendTombstones(removedIds, dir, f.key)
      case Some((lane, correction)) =>
        val newDead = checkpoint(removedIds.select(col(f.key)).distinct()
          .join(broadcast(readTombstones(s, dir, f.key)), Seq(f.key), "left_anti"))
        try {
          appendTombstones(newDead, dir, f.key)
          val root = currentPath(dir)
          put(lane, correction(root, newDead), root, "append")
        } finally graft.Scratch.releaseNow(newDead)
    }
    cadence(f, s, dir, compactEvery)
  }

  /** Apply a diff in ONE generation: gen N+1 = the standing lanes minus
    * dead = tombstones ∪ removed ∪ upsert keys, plus the lanes derived
    * from the upserts, published by one atomic `_current` flip — a
    * reader sees the pre-diff or the post-diff artifact, never a mix.
    * An absent key inserts; a tombstoned key revives; a key in both
    * sets resolves delete-wins; same-key duplicate upserts fold one
    * deterministic revision ([[latestRevision]]) unless the family
    * checks them instead. The checkpointed scratch (upserts, dead, the
    * fresh lanes) is released whether or not the fold completes. */
  def sync[M](f: Family[M], upserts0: DataFrame, removed: DataFrame,
              model: M, dir: String): Unit = {
    val s = upserts0.sparkSession
    adoptLegacy(dir)
    val src = currentPath(dir)
    val gone = removed.select(col(f.key))
    fold(f, s, dir, src, Some(model)) { keep =>
      // diff-sized and read by the dead mask and the derivation: once
      val upserts = keep(checkpoint(
        (if (f.check.isEmpty) latestRevision(upserts0, f.key) else upserts0)
          .join(broadcast(gone), Seq(f.key), "left_anti")))
      f.check.foreach(_(upserts))
      val dead = keep(checkpoint(readTombstones(s, dir, f.key)
        .unionByName(gone).unionByName(upserts.select(col(f.key))).distinct()))
      (Some(dead), f.derive(upserts, model, src).map(keep))
    }
  }

  /** [[sync]] with nothing removed. */
  def update[M](f: Family[M], changed: DataFrame, model: M, dir: String): Unit =
    sync(f, changed, changed.sparkSession.range(0).select(col("id").as(f.key)),
      model, dir)

  /** The fold with an empty diff: each lane's append files fold into
    * few large ones, tombstoned rows drop out and the tombstone lane is
    * reclaimed by the generation flip. With no tombstones the lanes are
    * copied without an anti-join. Served answers do not change. */
  def compact[M](f: Family[M], s: SparkSession, dir: String): Unit = {
    adoptLegacy(dir)
    val src = currentPath(dir)
    fold(f, s, dir, src, None)(_ =>
      (if (hasTombstonesAt(src)) Some(readTombstonesAt(s, src, f.key)) else None, Nil))
  }

  private[graft] def at(root: String, lane: Lane): String =
    if (lane.name.isEmpty) root else s"$root/${lane.name}"

  /** Whether the generation root `root` holds `lane`: one stat. */
  def exists(root: String, lane: Lane): Boolean = Files.isDirectory(Paths.get(at(root, lane)))

  /** The lane `lane` of the generation root `root` ([[readLane]]). */
  def read(s: SparkSession, root: String, lane: Lane): DataFrame =
    readLane(s, at(root, lane), lane.schema)

  /** A lane directory's rows under its declared `schema`, planned with
    * no Spark job. The directory is listed here, on the driver, skipping
    * what Spark's own listing skips (`_`- and `.`-prefixed names, so
    * `_tombstones`, `_SUCCESS` and the `.crc` sidecars), and the scan is
    * an [[InMemoryFileIndex]] over exactly that listing: partition
    * values are parsed from the directory names, typed by `schema`, and
    * nothing infers a schema from a footer. Each call lists afresh;
    * nothing is cached across calls. */
  def readLane(s: SparkSession, path: String, schema: StructType): DataFrame = {
    val dir = Paths.get(path)
    val root = FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      .makeQualified(new HPath(dir.toAbsolutePath.toString))
    val files = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    Files.walkFileTree(dir, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult =
        if (d != dir && GraftGlue.hiddenName(d.getFileName.toString))
          FileVisitResult.SKIP_SUBTREE
        else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        // block size: the local file system's default, as its own listing reports
        if (a.isRegularFile && !GraftGlue.hiddenName(f.getFileName.toString))
          files += new FileStatus(a.size, false, 1, 32L << 20, a.lastModifiedTime.toMillis,
            new HPath(root, dir.relativize(f).toString))
        FileVisitResult.CONTINUE
      }
    })
    val listed = new FileStatusCache {
      override def getLeafFiles(p: HPath): Option[Array[FileStatus]] =
        Option.when(p == root)(files.toArray)
      override def putLeafFiles(p: HPath, leaves: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(s, Seq(root), Map.empty, Some(schema), listed)
    val parts = index.partitionSchema
    s.baseRelationToDataFrame(HadoopFsRelation(index, parts,
      StructType(schema.filterNot(f => parts.fieldNames.contains(f.name))),
      None, new ParquetFileFormat, Map.empty)(s))
  }

  /** Write `rows` as `lane` of `root`, after checking them against the
    * lane's declared columns (names and types, nullability aside), so a
    * lane never holds files its reads would misread. */
  private def put(lane: Lane, rows: DataFrame, root: String, mode: String): Unit = {
    def cols(t: StructType) = t.fields.map(f => f.name -> f.dataType.catalogString).toSet
    require(cols(rows.schema) == cols(lane.schema),
      s"lane ${at(root, lane)}: rows ${rows.schema.catalogString} " +
      s"do not match its declared ${lane.schema.catalogString}")
    (lane.layout match {
      case Coalesced => rows.write
      case Clustered(by, sort) =>
        rows.repartition(by.map(col): _*).sortWithinPartitions(sort.map(col): _*)
          .write.partitionBy(by: _*)
    }).mode(mode).parquet(at(root, lane))
  }

  private def emit[M](f: Family[M], docs: DataFrame, model: M, root: String,
                      mode: String): Unit = {
    val fresh = f.derive(docs, model, root)
    try {
      f.lanes.zip(fresh).foreach { case (l, rows) => put(l, rows, root, mode) }
      f.derived.foreach(d => put(d.lane, d.partial(docs, fresh), root, mode))
    } finally fresh.foreach(graft.Scratch.releaseNow)
  }

  private def cadence(f: Family[_], s: SparkSession, dir: String,
                      compactEvery: Int): Unit =
    if (compactEvery > 0 && bumpAppends(dir) % compactEvery == 0) compact(f, s, dir)

  /** Build generation N+1 from generation `src` minus the dead ids plus
    * the fresh rows that `diff` gives, then publish it and sweep. Every
    * checkpoint `diff` or the family's regroup hands to `keep` is
    * released whether or not the fold completes. */
  private def fold[M](f: Family[M], s: SparkSession, dir: String, src: String,
      model: Option[M])(
      diff: (DataFrame => DataFrame) => (Option[DataFrame], Seq[DataFrame])): Unit = {
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { scratch += df; df }
    try {
      val (dead, fresh) = diff(keep)
      val g = nextGen(dir)
      val dst = genPath(dir, g)
      f.carried.foreach(l => put(l, read(s, src, l), dst, "overwrite"))
      val rows = f.regroup match {
        case Some(regroup) => regroup(s, src, dead, fresh, model, keep)
        case None => f.lanes.zipWithIndex.map { case (lane, i) =>
          val in = read(s, src, lane)
          val live = dead.fold(in)(d => in.join(broadcast(d), Seq(f.key), "left_anti"))
          val kept = if (lane.layout == Coalesced)
            live.coalesce(math.max(1, in.inputFiles.length / 16)) else live
          fresh.lift(i).fold(kept)(kept.unionByName(_))
        }
      }
      f.lanes.zip(rows).foreach { case (lane, r) => put(lane, r, dst, "overwrite") }
      f.derived.foreach(d => put(d.lane, d.fold(s, src, dst, dead, fresh), dst, "overwrite"))
      publish(dir, g)
      sweep(dir)
    } finally scratch.foreach(graft.Scratch.releaseNow)
  }

  /** `df.localCheckpoint()` that leaves no persisted RDD behind when its
    * materializing job fails (the eager form registers the RDD first and
    * drops the reference on the throw, pinning it until GC). The same
    * one job: stages before the last run inside `localCheckpoint`, the
    * last one in the `count`. */
  private[graft] def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = false)
    try {
      ck.queryExecution.logical match { case l: LogicalRDD => l.rdd.count() }
      ck
    } catch { case e: Throwable => graft.Scratch.releaseNow(ck); throw e }
  }
}
