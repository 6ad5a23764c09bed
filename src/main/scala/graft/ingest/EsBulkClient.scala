package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

/** One document-index action of a bulk request (reference: IndexRequest
  * built at core.clj:62-65 — id, index, JSON source). */
final case class BulkAction(indexId: String, docId: String, source: String)

/** One item the server rejected inside an otherwise-accepted bulk
  * response. `status` is the per-item HTTP-style code ES reports in the
  * response's `items` array. */
final case class BulkItemFailure(action: BulkAction, status: Int, reason: String) {
  /** ES retry semantics: 429 (rejected-execution, backpressure) and 5xx
    * are transient; 4xx others (mapping conflict, malformed doc) are
    * permanent and must not be re-sent. */
  def retryable: Boolean = status == 429 || status >= 500
}

/** Per-item outcome of a bulk call whose envelope was accepted (2xx):
  * actions not listed in either bucket were indexed successfully. */
final case class BulkOutcome(retryable: Seq[BulkItemFailure], rejected: Seq[BulkItemFailure]) {
  def allOk: Boolean = retryable.isEmpty && rejected.isEmpty
}
object BulkOutcome { val Ok: BulkOutcome = BulkOutcome(Nil, Nil) }

/** Minimal ES bulk transport abstraction. A production deployment backs
  * this with the REST `_bulk` endpoint (plus a Basic-auth header —
  * reference core.clj:19-26); the offline test environment backs it
  * with [[FileEsBulkClient]]. Throwing signals a whole-batch retryable
  * failure to the buffering layer. */
trait EsBulkClient extends Serializable {
  def bulk(actions: Seq[BulkAction]): Unit

  /** Per-item form, the reference's per-action BulkProcessor semantics
    * (core.clj:74-78): a transport/envelope failure still throws
    * (whole batch retryable), but item-level failures come back in the
    * outcome so the buffer retries only the 429/5xx items and
    * dead-letters permanent rejects. Default for transports with no
    * item-level reporting: all-or-nothing via [[bulk]]. */
  def bulkOutcome(actions: Seq[BulkAction]): BulkOutcome = { bulk(actions); BulkOutcome.Ok }
}

object EsBulkClient {
  /** The `_bulk` ndjson body, both transports' wire format: per action an
    * `{"index":{…}}` line, then the source line. Lines end in `\n`, which
    * is why [[BulkBuffer.add]] rejects a source holding a raw `\n`. */
  private[ingest] def body(actions: Seq[BulkAction]): String = {
    val sb = new java.lang.StringBuilder(actions.size * 128)
    actions.foreach { a =>
      sb.append("""{"index":{"_index":""").append(JsonStr.quote(a.indexId))
        .append(""","_id":""").append(JsonStr.quote(a.docId)).append("}}\n")
      sb.append(a.source).append('\n')
    }
    sb.toString
  }
}

/** Filesystem-simulated Elasticsearch bulk endpoint, wire-faithful to
  * the `_bulk` ndjson format: each action is an `{"index":{...}}`
  * metadata line followed by the source line. Files are named with a
  * (epochMicro, per-client counter) pair so [[EsSimStore]] can replay
  * them in arrival order and apply upsert-by-id semantics — the same
  * idempotent re-run behavior the reference gets from ES document ids
  * (core.clj:63). */
final class FileEsBulkClient(dir: String, tsField: String = "ts",
    // compaction-only (EsSimCompact.inPlace): pin every file name to
    // this micros instead of the wall clock, so compacted output sorts
    // AT the newest input it replaces in upsert-replay order — after
    // everything it folded, before anything written since
    private[graft] val fixedMicros: Option[Long] = None,
    // called with each file name AFTER its atomic publish — compaction
    // threads the names it actually wrote back to the driver (via an
    // accumulator) so the fold manifest's `outputs` is exactly this
    // run's publishes, never a directory re-listing that could pick up
    // a concurrent same-slot compactor's files or a prior generation's
    private[graft] val onPublish: String => Unit = _ => ()) extends EsBulkClient {
  private val counter = new AtomicLong()
  // compaction clients lead with 'z' (> any hex char): at EQUAL micros
  // a compacted file must sort after the real client files it replaces
  private val clientId = (if (fixedMicros.isDefined) "z" else "") +
    java.util.UUID.randomUUID().toString.take(if (fixedMicros.isDefined) 7 else 8)
  private val lastIssued = new AtomicLong(Long.MinValue)
  // one mkdir per client lifetime, not one stat() per 64-doc flush
  @transient private lazy val dirPath: Path = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    p
  }

  /** Wall-clock epoch micros — comparable ACROSS writer JVMs, unlike
    * System.nanoTime() whose origin is arbitrary per JVM. EsSimStore's
    * last-write-wins replay orders by file name, so the name's leading
    * component must be a cross-process clock; clientId + counter break
    * same-instant ties deterministically. Clamped monotonic per client
    * (max(last+1, wall)): an NTP step backwards must not reorder this
    * writer's own files, or replay could resolve an upsert to the
    * older document. */
  private def epochMicros(): Long = fixedMicros.getOrElse {
    val now = java.time.Instant.now()
    val wall = now.getEpochSecond * 1000000L + now.getNano / 1000L
    lastIssued.updateAndGet(prev => math.max(prev + 1, wall))
  }

  override def bulk(actions: Seq[BulkAction]): Unit = {
    if (actions.isEmpty) return
    val bytes = EsBulkClient.body(actions).getBytes(UTF_8)
    val p = dirPath
    val name = f"bulk-${epochMicros()}%020d-$clientId-${counter.getAndIncrement()}%06d.ndjson"
    val bulkPath = p.resolve(name)
    // stats sidecar FIRST: any reader that can already list the bulk
    // file finds its stats present, so the source's planning index
    // never has to parse a body this client wrote
    BulkStats.write(bulkPath, BulkStats.compute(tsField,
      actions.iterator.map(a => (a.indexId, a.docId, BulkStats.tsOf(a.source, tsField)))))
    // body published by atomic rename: a listable bulk file is always
    // complete and matches its sidecar — a reader that admits a file on
    // sidecar stats must never see a torn/partial body (a crash or
    // ENOSPC mid-write would otherwise advance the streaming cursor
    // past rows that were never readable)
    val tmp = p.resolve(name + ".tmp")
    Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    Files.move(tmp, bulkPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    onPublish(name)
  }
}

/** A client wrapper that fails the first `failures` bulk calls — drives
  * the backoff/retry tests. */
final class FlakyEsBulkClient(inner: EsBulkClient, failures: Int) extends EsBulkClient {
  private val remaining = new AtomicLong(failures)
  val attempts = new AtomicLong()
  override def bulk(actions: Seq[BulkAction]): Unit = {
    attempts.incrementAndGet()
    if (remaining.getAndDecrement() > 0)
      throw new java.io.IOException("simulated bulk failure")
    inner.bulk(actions)
  }
}

private[graft] object JsonStr {
  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
