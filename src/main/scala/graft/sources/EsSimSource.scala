package graft.sources

import java.util
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 micro-batch source over a simulated Elasticsearch
  * index (the ndjson bulk-file format written by
  * [[graft.ingest.FileEsBulkClient]]) — the implemented form of the
  * reference's declared-but-unbuilt source side (SURVEY Tier B):
  *
  *  - B1 "query source ES via scrolling api" (core.clj:131-132, unused
  *    client at core.clj:48-53) → full scan, bulk files bin-packed into
  *    core-count splits (the analogue of ES scroll slices);
  *  - B2 "check for timestamp field / provide range in query / store
  *    timestamp of last doc" (core.clj:133-137, core.clj:96,126) →
  *    a composite (timestamp, docId) streaming Offset, checkpointed by
  *    Structured Streaming via checkpointLocation. The composite cursor
  *    fixes the reference design's tie wedge (SURVEY §7.3: >batch-size
  *    docs sharing one ts would stall a pure ts cursor);
  *  - B3 "batch size / poll interval" (core.clj:94-97) → admission is
  *    file-granular: whole pending bulk files are admitted until the
  *    next file would exceed `batchSize` docs (a soft ReadLimit, like
  *    Spark's own file source); poll cadence is Trigger.ProcessingTime.
  *
  * Pushdown (the offline analogue of the ES connector's query-DSL
  * pushdown, core.clj:131-132): the batch ScanBuilder accepts ts-range
  * and indexId filters and prunes whole bulk files against a per-file
  * (minTs, maxTs, indexIds) stats index; column pruning skips the JSON
  * body parse entirely when neither `ts` nor a ts predicate is needed.
  * All accepted filters are also left in the residual, so correctness
  * never depends on the prune.
  *
  * Semantics: the stream replays index *actions* in (ts, docId) order —
  * like an ES scroll sorted on the cursor — and the downstream
  * upsert-by-id sink makes re-delivery idempotent (at-least-once →
  * effectively-once, SURVEY §7.3 risk 1). Docs that arrive later with
  * timestamps at or below the committed cursor are skipped by design —
  * the reference's documented incremental-copy contract; mitigate by
  * running a periodic full copy, or an overlap window at the query.
  *
  * Scale notes: driver state is O(bulk files) — one
  * (minTs, minId, maxTs, maxId, count) record per file, read from the
  * sink-written `.stats.json` sidecar (or parsed once for legacy files)
  * and cached JVM-wide ([[EsSimStats]], the stand-in for the
  * ES coordinator's index metadata). Data never flows through the
  * driver: readers parse their own file slice on executors and filter
  * rows to the cursor range. A file whose range straddles a batch
  * boundary is re-opened by the next batch's readers — the deliberate
  * trade for O(files) driver memory; in production the range query runs
  * inside ES and this cost disappears.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.EsSimSourceProvider")
  *     .option("path", dir).option("batchSize", "1000")
  *     .load()   // schema: indexId, docId, source, ts
  * }}}
  */
class EsSimSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = EsSimSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EsSimTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object EsSimSource {
  val Schema: StructType = StructType(Seq(
    StructField("indexId", StringType, nullable = false),
    StructField("docId", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = true)))

  /** Test-visible count of bulk files actually opened by partition
    * readers (local mode shares the JVM) — lets specs assert that
    * file pruning really skipped non-matching files. */
  val filesOpened = new AtomicLong(0)

  /** One indexed document action parsed from a bulk file. */
  final case class Doc(indexId: String, docId: String, source: String, tsMicros: java.lang.Long)

  /** Shared parser — ObjectMapper is thread-safe for reads; one
    * instance per JVM instead of one per file keeps the per-trigger
    * parse cost flat as file counts grow. */
  private val mapper = new ObjectMapper()

  /** Parse a bulk ndjson file (meta line + source line pairs).
    * `parseBody=false` skips the JSON body parse (ts comes back null) —
    * the column-pruned fast path when neither `ts` nor a ts predicate
    * is in play.
    *
    * Lines split on `\n` only, the `_bulk` delimiter: a raw `\r` is
    * JSON whitespace and stays inside its source line. An action line
    * that is not `{"index":{…}}`, or has no source line after it, means
    * the pairing is broken (e.g. a source with a raw line break) — fail
    * naming the file and line rather than emit shifted rows.
    *
    * A file that vanished between planning and read was retired by
    * [[graft.ingest.EsSimCompact.inPlace]], which first moves it to
    * `<file>.gone` and only deletes the tombstone after a grace period
    * — so the fallback read finds identical content and an in-flight
    * micro-batch loses nothing. Both missing means the grace period
    * (which must exceed the longest micro-batch) was violated: fail
    * loudly, never emit a silently-short batch. */
  def parseBulkFile(p: Path, tsField: String, parseBody: Boolean = true): Seq[Doc] = {
    val bytes =
      try Files.readAllBytes(p)
      catch {
        case e: java.nio.file.NoSuchFileException =>
          val tomb = p.resolveSibling(p.getFileName.toString + ".gone")
          try Files.readAllBytes(tomb)
          catch { case _: java.nio.file.NoSuchFileException => throw e }
      }
    val lines = if (bytes.isEmpty) Array.empty[String] else new String(bytes, UTF_8).split('\n')
    def broken(at: Int, why: String, cause: Throwable = null) =
      new java.io.IOException(s"$p:${at + 1}: $why: ${lines(at).take(120)}", cause)
    def json(at: Int, why: String) =
      try mapper.readTree(lines(at))
      catch { case e: com.fasterxml.jackson.core.JacksonException => throw broken(at, why, e) }
    Seq.tabulate((lines.length + 1) / 2) { k =>
      val at = 2 * k
      val m = json(at, "not a bulk index action").get("index")
      if (m == null || !m.isObject) throw broken(at, "not a bulk index action")
      if (at + 1 == lines.length) throw broken(at, "bulk action has no source line")
      // the sink's sidecar writer parses ts with the same function, so
      // the stats a sidecar records and the ts a reader emits agree
      val ts =
        if (!parseBody) null
        else graft.ingest.BulkStats.parseTsMicros(json(at + 1, "source is not JSON").get(tsField))
      Doc(m.path("_index").asText(), m.path("_id").asText(), lines(at + 1), ts)
    }
  }
}

/** Per-file index statistics — the driver-side stand-in for the ES
  * coordinator's shard metadata. One record per immutable bulk file,
  * cached JVM-wide, so repeated scans/triggers over the same directory
  * pay O(new files), and driver memory is O(files) regardless of corpus
  * row count.
  *
  * Stats come from the sink-written `.stats.json` sidecars
  * ([[graft.ingest.BulkStats]]) — an O(1) metadata read per file, so a
  * cold start over an existing 100 TB index costs the driver a
  * directory listing plus tiny sidecar reads, never a data parse. Only
  * legacy files with no sidecar fall back to parsing the bulk body, and
  * those parse concurrently on the common pool instead of serially
  * under a lock. */
/** Fold manifests — the visibility gate that makes in-place compaction
  * duplicate-free for CONCURRENT planners. [[graft.ingest.EsSimCompact]]
  * publishes its compacted ('z'-client) files, then atomically writes
  * `compact-<micros>.manifest.json` naming the outputs and the folded
  * inputs, then retires the inputs. Planners apply two rules off the
  * manifest set:
  *
  *  1. a file named in any manifest's `folds` is dropped from planning
  *     (its resolved content is fully covered by that manifest's
  *     published outputs — even while the input is still on disk);
  *  2. a compacted ('z') file whose micros has NO manifest is dropped
  *     (a crashed publish: its inputs are still live and cover it; the
  *     next compaction run folds it as an ordinary input).
  *
  * Together they guarantee every (ts, docId) row has exactly ONE
  * visible covering file at every instant of the publish→retire
  * sequence — without the gate, a micro-batch planned in that window
  * read both the compacted file and its inputs and delivered the
  * batch's whole range twice. Manifests are swept by compaction's
  * step 1 only once none of their outputs or folds is a live bulk file
  * (i.e. a later generation folded the outputs and grace passed).
  * Concurrent same-slot compactors remain the store's pre-existing
  * caveat (identical content, last manifest wins). */
object EsSimManifest {
  import java.nio.file.StandardCopyOption
  private val mapper = new ObjectMapper()

  def name(micros: Long): String = f"compact-$micros%020d.manifest.json"

  def isManifest(n: String): Boolean =
    n.startsWith("compact-") && n.endsWith(".manifest.json")

  /** Compacted publishes lead the client id with 'z' (EsBulkClient);
    * real client ids are hex UUID prefixes, so the marker is unambiguous.
    * Name layout: bulk-<micros %020d>-<client>-<counter>.ndjson. */
  def isCompacted(n: String): Boolean =
    n.length > 26 && n.startsWith("bulk-") && n.charAt(26) == 'z'

  def microsOf(n: String): Long = n.stripPrefix("bulk-").take(20).toLong

  def write(dir: Path, micros: Long, outputs: Seq[String], folds: Seq[String]): Unit = {
    val node = mapper.createObjectNode()
    val oa = node.putArray("outputs"); outputs.foreach(oa.add)
    val fa = node.putArray("folds"); folds.foreach(fa.add)
    val p = dir.resolve(name(micros))
    val tmp = dir.resolve(name(micros) + ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(node))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  final case class Manifest(file: Path, micros: Long, outputs: Seq[String], folds: Seq[String])

  /** Parsed-manifest cache keyed by (mtime, size): manifests are
    * immutable once published except the rare same-micros overwrite
    * (which changes mtime/size — new content, new UUID-named outputs),
    * so a matching key means the cached parse is current. Without this,
    * [[hiddenNames]] re-read and JSON-parsed every manifest body on
    * every planning call — at least twice per trigger via stats() — on
    * a path the store otherwise keeps as pure cached metadata
    * ([[EsSimStats]] sidecar cache). Entries for swept manifests are
    * dropped on the next [[list]], bounding the map at the live set. */
  private val parseCache = new java.util.concurrent.ConcurrentHashMap[
    String, (java.nio.file.attribute.FileTime, Long, Option[Manifest])]()

  /** All readable manifests in `path`. Tolerant: a vanished or torn
    * manifest (they are published atomically, so torn means external
    * interference) reads as absent rather than failing the trigger. */
  def list(path: String): Seq[Manifest] = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    val files = try s.iterator().asScala
      .filter(p => isManifest(p.getFileName.toString)).toSeq
      finally s.close()
    val liveKeys = files.map(_.toString).toSet
    parseCache.keySet.removeIf(k => !liveKeys.contains(k))
    files.flatMap { p =>
      try {
        val key = p.toString
        val (mtime, size) = (Files.getLastModifiedTime(p), Files.size(p))
        val cached = parseCache.get(key)
        if (cached != null && cached._1 == mtime && cached._2 == size) cached._3
        else {
          val n = mapper.readTree(Files.readAllBytes(p))
          val m = Some(Manifest(p,
            p.getFileName.toString.stripPrefix("compact-").take(20).toLong,
            n.path("outputs").elements().asScala.map(_.asText()).toSeq,
            n.path("folds").elements().asScala.map(_.asText()).toSeq))
          parseCache.put(key, (mtime, size, m))
          m
        }
      } catch { case _: Exception => None }
    }
  }

  /** The planner filter: file names hidden by rules 1 and 2 above,
    * computed against one directory listing.
    *
    * A manifest is EFFECTIVE only when every output it names is present
    * in `bulkNames` — the very listing being filtered. The bulk listing
    * is taken BEFORE the manifest listing, so a compactor that
    * publishes its outputs and manifest between the two would otherwise
    * hide the folded inputs (rule 1) while its outputs are absent from
    * the earlier snapshot: zero covering files for an already-committed
    * offset range, i.e. silent row loss as the cursor advances past
    * them. Gating on effectiveness keeps the inputs visible until the
    * outputs are provably listable, closing the two-listing TOCTOU
    * while preserving both crash-window guarantees.
    *
    * Rule 2 is name-level, not micros-level: a 'z' file is visible only
    * when an effective manifest names it as an output. This also hides
    * (a) orphan z-files from a task attempt that published some files
    * then failed (the retry re-published under a fresh client UUID and
    * only the successful attempt's names reach the manifest), and (b)
    * the loser of a concurrent same-slot refold (same micros, last
    * manifest wins) — previously BOTH compactors' outputs were visible
    * at once and a streaming planner delivered the range twice. Hidden
    * orphans are folded as ordinary inputs by the next compaction. */
  def hiddenNames(path: String, bulkNames: Seq[String]): Set[String] = {
    val bulkSet = bulkNames.toSet
    val manifests = list(path)
    val effective = manifests.filter(m =>
      m.outputs.nonEmpty && m.outputs.forall(bulkSet.contains))
    val folded = effective.iterator.flatMap(_.folds).toSet
    val outputNames = effective.iterator.flatMap(_.outputs).toSet
    bulkNames.iterator.filter { n =>
      folded.contains(n) || (isCompacted(n) && !outputNames.contains(n))
    }.toSet
  }
}

object EsSimStats {
  /** min/max are over the composite (tsMicros, docId) cursor ordering,
    * with null ts mapped to [[graft.ingest.BulkStats.NullTs]]. */
  final case class FileStat(file: String, minTs: Long, minId: String,
      maxTs: Long, maxId: String, count: Long, indexIds: Option[Set[String]])

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Map[String, FileStat]]()

  /** Test-visible count of bulk files the driver had to fully parse
    * because no usable sidecar was present (the legacy path). */
  val filesParsed = new AtomicLong(0)

  def list(path: String): Seq[Path] = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      // close the DirectoryStream eagerly — this runs on every trigger,
      // and leaking the fd until GC exhausts the limit on long streams
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("bulk-") &&
                     p.getFileName.toString.endsWith(".ndjson"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
  }

  /** [[list]] minus the names [[EsSimManifest]] hides — what PLANNERS
    * must read so an in-flight compaction's double coverage (published
    * outputs + not-yet-retired inputs) is never planned twice. */
  def visibleList(path: String): Seq[Path] = visible(path, list(path))(_.getFileName.toString)

  /** [[forPath]] restricted to the manifest-visible files (see
    * [[visibleList]]); same exactly-one-covering-file guarantee. */
  def forVisible(path: String, tsField: String): Seq[FileStat] =
    visible(path, forPath(path, tsField))(st => Paths.get(st.file).getFileName.toString)

  private def visible[A](path: String, all: Seq[A])(name: A => String): Seq[A] = {
    val hidden = EsSimManifest.hiddenNames(path, all.map(name))
    if (hidden.isEmpty) all else all.filterNot(a => hidden.contains(name(a)))
  }

  def listCompactedAt(path: String, micros: Long): Seq[Path] =
    list(path).filter { p =>
      val n = p.getFileName.toString
      EsSimManifest.isCompacted(n) && EsSimManifest.microsOf(n) == micros
    }

  /** Stats for every bulk file currently in `path`; stats only files
    * not seen before (bulk files are write-once). Lock-free: concurrent
    * first readers may stat the same fresh file twice, which is
    * harmless (same immutable result) and cheaper than serializing
    * every query behind a global parse lock. */
  def forPath(path: String, tsField: String): Seq[FileStat] = {
    val key = (path, tsField)
    val known = cache.getOrDefault(key, Map.empty)
    val files = list(path)
    val freshFiles = files.filterNot(f => known.contains(f.toString))
    val all =
      if (freshFiles.isEmpty) known
      else {
        val fresh = new java.util.concurrent.ConcurrentHashMap[String, FileStat]()
        freshFiles.asJava.parallelStream().forEach { f =>
          fresh.put(f.toString, statFile(f, tsField))
        }
        // merge fresh stats and drop entries whose file vanished from
        // the listing (in-place compaction retires inputs every cycle;
        // without pruning the cache grows with every file EVER seen,
        // not the O(current files) the design promises)
        val current = files.iterator.map(_.toString).toSet
        cache.compute(key, (_, old) =>
          ((if (old == null) Map.empty[String, FileStat] else old) ++ fresh.asScala)
            .filter { case (f, _) => current.contains(f) || fresh.containsKey(f) })
      }
    files.flatMap(f => all.get(f.toString))
  }

  private def statFile(p: Path, tsField: String): FileStat = {
    val st = graft.ingest.BulkStats.read(p, tsField).getOrElse {
      filesParsed.incrementAndGet()
      val docs = EsSimSource.parseBulkFile(p, tsField)
      graft.ingest.BulkStats.compute(tsField,
        docs.iterator.map(d => (d.indexId, d.docId, d.tsMicros)))
    }
    FileStat(p.toString, st.minTs, st.minId, st.maxTs, st.maxId, st.count, st.indexIds)
  }
}

/** Streaming offset: the composite (tsMicros, docId) cursor. Ordering is
  * (ts, id) lexicographic; docs with null ts sort first (ts = NullTs). */
final case class TsOffset(tsMicros: Long, docId: String) extends Offset {
  override def json(): String =
    s"""{"tsMicros":$tsMicros,"docId":${graft.ingest.JsonStr.quote(docId)}}"""
  def lessThan(t: Long, id: String): Boolean =
    tsMicros < t || (tsMicros == t && docId < id)
}

object TsOffset {
  val Start: TsOffset = TsOffset(Long.MinValue, "")
  def fromJson(s: String): TsOffset = {
    val m = new ObjectMapper().readTree(s)
    TsOffset(m.path("tsMicros").asLong(), m.path("docId").asText())
  }
}

class EsSimTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"es-sim(${props.getOrElse("path", "?")})"
  override def schema(): StructType = EsSimSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EsSimScanBuilder(
      options.getOrDefault("path", props.getOrElse("path", "")),
      options.getOrDefault("tsField", "ts"),
      options.getOrDefault("batchSize", "10000").toInt,
      options.getOrDefault("overlapMs", "0").toLong,
      Option(options.get("startOffset")).filter(_.nonEmpty))
}

/** Inclusive micro-second ts bounds + optional indexId set derived from
  * pushed filters; `Unbounded` means no pushed predicate. */
final case class EsSimPredicates(tsLo: Long, tsHi: Long, indexIds: Option[Set[String]]) {
  def hasTs: Boolean = tsLo != Long.MinValue || tsHi != Long.MaxValue
  def isEmpty: Boolean = !hasTs && indexIds.isEmpty
}
object EsSimPredicates { val Unbounded: EsSimPredicates = EsSimPredicates(Long.MinValue, Long.MaxValue, None) }

/** ScanBuilder with filter + column pushdown (SURVEY §4.2): ts-range
  * and indexId predicates prune whole bulk files via [[EsSimStats]];
  * column pruning drops the JSON body parse when `ts` is unused. All
  * accepted filters remain residual — Spark re-evaluates them — so the
  * prune is purely an optimization. */
class EsSimScanBuilder(path: String, tsField: String, batchSize: Int,
    overlapMs: Long, startOffset: Option[String]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = EsSimSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var preds: EsSimPredicates = EsSimPredicates.Unbounded

  private def toMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case i: java.time.Instant => Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case l: java.time.LocalDateTime =>
      Some(l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    var lo = Long.MinValue; var hi = Long.MaxValue
    var idx: Option[Set[String]] = None
    val accepted = filters.filter {
      case GreaterThan("ts", v) => toMicros(v).exists { m => lo = math.max(lo, math.min(m + 1, Long.MaxValue)); true }
      case GreaterThanOrEqual("ts", v) => toMicros(v).exists { m => lo = math.max(lo, m); true }
      case LessThan("ts", v) => toMicros(v).exists { m => hi = math.min(hi, m - 1); true }
      case LessThanOrEqual("ts", v) => toMicros(v).exists { m => hi = math.min(hi, m); true }
      case EqualTo("ts", v) => toMicros(v).exists { m => lo = math.max(lo, m); hi = math.min(hi, m); true }
      case EqualTo("indexId", v: String) =>
        idx = Some(idx.fold(Set(v))(_ intersect Set(v))); true
      case In("indexId", vs) if vs.forall(_.isInstanceOf[String]) =>
        val s = vs.map(_.asInstanceOf[String]).toSet
        idx = Some(idx.fold(s)(_ intersect s)); true
      case _ => false
    }
    pushed = accepted
    preds = EsSimPredicates(lo, hi, idx)
    filters // everything stays residual: Spark re-checks, prune is advisory
  }

  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(schema: StructType): Unit = { requiredSchema = schema }

  override def build(): Scan =
    new EsSimScan(path, tsField, batchSize, overlapMs, startOffset, requiredSchema, preds, pushed)
}

class EsSimScan(path: String, tsField: String, batchSize: Int, overlapMs: Long,
    startOffset: Option[String], requiredSchema: StructType,
    preds: EsSimPredicates, pushed: Array[Filter]) extends Scan {
  override def readSchema(): StructType = requiredSchema
  override def description(): String =
    s"EsSimScan(path=$path, tsField=$tsField, " +
      s"PushedFilters: [${pushed.mkString(", ")}], ReadColumns: [${requiredSchema.fieldNames.mkString(", ")}])"
  override def toBatch: Batch =
    new EsSimBatch(path, tsField, requiredSchema.fieldNames.toSeq, preds)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new EsSimMicroBatchStream(path, tsField, batchSize, overlapMs, startOffset,
      requiredSchema.fieldNames.toSeq, preds)
}

/** B1 full scan. Bulk files are pruned against the per-file stats index
  * when ts/indexId predicates were pushed (no stats are computed — and
  * no driver-side parse happens — for an unfiltered scan), then
  * bin-packed into ~2× core-count splits so thousands of 64-doc bulk
  * files don't become thousands of tiny tasks. */
class EsSimBatch(path: String, tsField: String, columns: Seq[String],
    preds: EsSimPredicates) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val files: Seq[String] =
      if (preds.isEmpty) EsSimStats.visibleList(path).map(_.toString)
      else EsSimStats.forVisible(path, tsField).iterator.filter { st =>
        val tsOk = !preds.hasTs || (st.count > 0 && st.minTs <= preds.tsHi && st.maxTs >= preds.tsLo)
        val idxOk = (preds.indexIds, st.indexIds) match {
          case (Some(want), Some(have)) => want.exists(have.contains)
          case _ => true
        }
        tsOk && idxOk
      }.map(_.file).toSeq
    val slots = math.max(1, math.min(files.size,
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism * 2))
    files.zipWithIndex.groupBy(_._2 % slots).values.map { g =>
      EsSimPartition(g.map(_._1), tsField, columns, None, preds): InputPartition
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = EsSimReaderFactory
}

/** B2/B3 micro-batch stream over the per-file stats index.
  *
  * Admission is file-granular: pending files (max cursor key beyond the
  * committed offset) are admitted in (maxTs, maxId) order until the
  * next whole file would exceed the row cap — a soft ReadLimit, the
  * same contract as Spark's FileStreamSource maxFilesPerTrigger. The
  * end offset is always some file's (maxTs, maxId), readers re-filter
  * rows to the (start, end] range, and a file straddling the boundary
  * is simply re-opened by the next batch.
  *
  * Implements SupportsAdmissionControl — Spark hands us the current
  * start offset on every latestOffset call, so the cursor survives
  * checkpoint restarts with no driver-side mutable offset state — and
  * SupportsTriggerAvailableNow, so Trigger.AvailableNow drains exactly
  * to the file snapshot taken at query start (in batchSize steps) and stops. */
class EsSimMicroBatchStream(path: String, tsField: String, batchSize: Int,
    overlapMs: Long = 0L, startOffset: Option[String] = None,
    columns: Seq[String] = EsSimSource.Schema.fieldNames.toSeq,
    preds: EsSimPredicates = EsSimPredicates.Unbounded)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}
  import EsSimStats.FileStat

  // Trigger.AvailableNow snapshot: only files present at query start
  // participate, so the query drains and stops even if new files land.
  private var availableNowFiles: Option[Set[String]] = None

  private def stats(): Seq[FileStat] = {
    // manifest-visible only: during an in-flight compaction exactly one
    // of {inputs, published outputs} is planned, never both (the
    // within-batch duplication the exactly-once soak caught)
    val all = EsSimStats.forVisible(path, tsField)
    availableNowFiles match {
      case Some(snap) => all.filter(f => snap.contains(f.file))
      case None => all
    }
  }

  /** First-run cursor: TsOffset JSON from the startOffset option
    * (the reference's source.checkpoint-offset parameter, core.clj:96)
    * or the epoch start. A checkpointed query ignores this — the
    * checkpoint's offset log wins, as it should. */
  override def initialOffset(): Offset =
    startOffset.map(TsOffset.fromJson).getOrElse(TsOffset.Start)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[TsOffset]
    val cap = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _ => batchSize.toLong
    }
    val pending = stats().filter(f => f.count > 0 && cur.lessThan(f.maxTs, f.maxId))
      .sortBy(f => (f.maxTs, f.maxId))
    var admitted = 0L
    var end = cur
    var full = false
    pending.foreach { f =>
      if (!full && (admitted == 0 || admitted + f.count <= cap)) {
        admitted += f.count
        end = TsOffset(f.maxTs, f.maxId)
      } else full = true
    }
    end
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset = {
    val s = stats().filter(_.count > 0)
    if (s.isEmpty) TsOffset.Start
    else { val m = s.maxBy(f => (f.maxTs, f.maxId)); TsOffset(m.maxTs, m.maxId) }
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowFiles = Some(EsSimStats.forVisible(path, tsField).map(_.file).toSet)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[TsOffset]
    // late-data overlap (SURVEY §7.3 risk 1): widen the read window by
    // overlapMs behind the cursor, so docs that arrived late with
    // timestamps inside the window ride along with the next batch.
    // Re-delivered docs are absorbed by the upsert-by-id sink
    // (at-least-once → effectively-once).
    val s = if (overlapMs > 0 && s0.tsMicros != Long.MinValue) {
      val widened = s0.tsMicros - overlapMs * 1000
      // saturate on underflow (cursor can sit near Long.MinValue when
      // docs lack a parsable ts)
      TsOffset(if (widened > s0.tsMicros) Long.MinValue else widened, "")
    } else s0
    val e = end.asInstanceOf[TsOffset]
    // files whose (min,max) cursor range intersects (s, e]
    val files = stats().filter { f =>
      f.count > 0 && s.lessThan(f.maxTs, f.maxId) && !e.lessThan(f.minTs, f.minId)
    }.map(_.file)
    // bin-pack small bulk files into at most maxPartitions splits — one
    // 64-doc file per task made a 10k-doc micro-batch 160 tiny tasks,
    // and per-task scheduling overhead dominated the trigger budget
    val maxPartitions = math.max(1,
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    files.zipWithIndex.groupBy(_._2 % maxPartitions).values.map { g =>
      EsSimPartition(g.map(_._1), tsField, columns,
        Some((s.tsMicros, s.docId, e.tsMicros, e.docId)), preds): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = EsSimReaderFactory
  override def deserializeOffset(json: String): Offset = TsOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Serializable partition: bulk files + projected columns + the (ts,id]
  * cursor range (None = batch full scan) + pushed row predicates. */
final case class EsSimPartition(files: Seq[String], tsField: String,
    columns: Seq[String], bounds: Option[(Long, String, Long, String)],
    preds: EsSimPredicates) extends InputPartition

object EsSimReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EsSimPartition]
    // the JSON body parse is only needed when something consumes ts:
    // projection, cursor-range filtering, or a pushed ts predicate
    val needTs = p.columns.contains("ts") || p.bounds.isDefined || p.preds.hasTs
    new PartitionReader[InternalRow] {
      private val it = {
        val all = p.files.iterator.flatMap { f =>
          EsSimSource.filesOpened.incrementAndGet()
          EsSimSource.parseBulkFile(Paths.get(f), p.tsField, parseBody = needTs)
        }
        val idxFiltered = p.preds.indexIds match {
          case Some(want) => all.filter(d => want.contains(d.indexId))
          case None => all
        }
        val tsFiltered =
          if (!p.preds.hasTs) idxFiltered
          else idxFiltered.filter { d =>
            // SQL comparison semantics: a null ts fails any ts predicate
            d.tsMicros != null &&
              d.tsMicros.longValue() >= p.preds.tsLo && d.tsMicros.longValue() <= p.preds.tsHi
          }
        p.bounds match {
          case None => tsFiltered
          case Some((startTs, startId, endTs, endId)) =>
            tsFiltered.filter { d =>
              val ts = if (d.tsMicros == null) graft.ingest.BulkStats.NullTs else d.tsMicros.longValue()
              val afterStart = startTs < ts || (startTs == ts && startId < d.docId)
              val atOrBeforeEnd = ts < endTs || (ts == endTs && d.docId <= endId)
              afterStart && atOrBeforeEnd
            }
        }
      }
      private val colIdx = p.columns.toArray
      private var cur: EsSimSource.Doc = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = {
        val vals = new Array[Any](colIdx.length)
        var i = 0
        while (i < colIdx.length) {
          vals(i) = colIdx(i) match {
            case "indexId" => UTF8String.fromString(cur.indexId)
            case "docId" => UTF8String.fromString(cur.docId)
            case "source" => UTF8String.fromString(cur.source)
            case "ts" => if (cur.tsMicros == null) null else cur.tsMicros.longValue()
          }
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = ()
    }
  }
}
