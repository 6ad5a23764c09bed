package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.atomic.AtomicLong

/** Production ES `_bulk` transport over `java.net.http` — the live-HTTP
  * implementation of [[EsBulkClient]] the reference's whole job exists
  * to drive (RestHighLevelClient bulk at core.clj:48-53, Elasticsearch7
  * SinkFunction at core.clj:68-79, Basic-auth CredentialsProvider at
  * core.clj:19-26).
  *
  * Behavior contract:
  *  - POSTs the wire-faithful ndjson body to `{base}/_bulk` with the
  *    [[EsRestAuth]] header set (Content-Type: application/x-ndjson +
  *    RFC 7617 Basic auth when credentials are configured);
  *  - multiple hosts round-robin per call (the reference passes the
  *    full HttpHost list to the client, core.clj:36-46);
  *  - any transport error, non-2xx status (429 throttling, 5xx), or a
  *    2xx body with `"errors":true` throws — which is exactly the
  *    retryable-failure signal [[BulkBuffer]] converts into the
  *    reference's 10-step exponential backoff (core.clj:75-78).
  *
  * The client object is per-executor-task (created inside
  * `foreachPartition`, like [[FileEsBulkClient]]); `HttpClient` itself
  * is cheap and connection-pooling, so no extra sharing layer is
  * needed. Serialization note: the class is constructed on executors,
  * never shipped — only the config strings cross the wire.
  */
final class HttpEsBulkClient(
    baseUrls: Seq[String],
    headers: Map[String, String],
    requestTimeoutMs: Long = 30000) extends EsBulkClient {
  require(baseUrls.nonEmpty, "at least one ES base URL required")

  @transient private lazy val http: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofMillis(requestTimeoutMs)).build()
  private val next = new AtomicLong(0)

  /** All-or-nothing form: any item failure is a whole-batch failure.
    * [[bulkOutcome]] is the per-item path [[BulkBuffer]] actually uses. */
  override def bulk(actions: Seq[BulkAction]): Unit = {
    val body = send(actions)
    if (body != null && body.contains("\"errors\":true"))
      throw new java.io.IOException(s"bulk response has item errors: ${body.take(200)}")
  }

  /** Per-item outcome, the reference BulkProcessor's per-action failure
    * handling (core.clj:74-78): parse the response `items` array —
    * positionally aligned with the request actions, an ES API guarantee
    * — and bucket failures into transient (429/5xx → retry) vs
    * permanent (mapping conflict etc. → dead-letter). Envelope-level
    * failures (transport error, non-2xx) still throw = whole batch
    * retryable — with ONE exception: HTTP 413 (the node's
    * `http.max_content_length` cap, 100 MB default on a real cluster).
    * A 413 is deterministic — re-sending the same body is guaranteed to
    * 413 again, so routing it through the backoff loop burns the whole
    * retry budget and then fails the task on a batch the cluster was
    * never going to accept. Instead the batch is bisected and each half
    * re-sent (recursively), isolating the oversized mass; a SINGLE
    * action that alone exceeds the cap is a permanent per-item reject
    * (status 413 → dead-letter), not a job failure. */
  override def bulkOutcome(actions: Seq[BulkAction]): BulkOutcome =
    try outcomeOf(actions, send(actions))
    catch {
      case e: HttpEsBulkClient.EnvelopeStatusException if e.status == 413 =>
        if (actions.size > 1) {
          val (l, r) = actions.splitAt(actions.size / 2)
          val a = bulkOutcome(l); val b = bulkOutcome(r)
          BulkOutcome(a.retryable ++ b.retryable, a.rejected ++ b.rejected)
        } else
          BulkOutcome(Nil, Seq(BulkItemFailure(actions.head, 413,
            "single action exceeds the node's http.max_content_length")))
    }

  private def outcomeOf(actions: Seq[BulkAction], body: String): BulkOutcome = {
    if (body == null || !body.contains("\"errors\":true")) return BulkOutcome.Ok
    val items = HttpEsBulkClient.mapper.readTree(body).path("items")
    if (!items.isArray || items.size() != actions.size)
      // a server that flags errors but reports no aligned items gives us
      // nothing to split on — degrade to whole-batch retry
      throw new java.io.IOException(s"bulk response has item errors: ${body.take(200)}")
    val retryable = Seq.newBuilder[BulkItemFailure]
    val rejected = Seq.newBuilder[BulkItemFailure]
    var i = 0
    while (i < actions.size) {
      // each item is {"<op>": {"status":…, "error":{…}?}}
      val op = items.get(i).elements()
      val r = if (op.hasNext) op.next() else HttpEsBulkClient.mapper.createObjectNode()
      val status = r.path("status").asInt(500)
      if (status < 200 || status >= 300) {
        val reason = {
          val e = r.path("error")
          if (e.isMissingNode || e.isNull) s"HTTP $status"
          else e.path("reason").asText(e.toString.take(200))
        }
        val f = BulkItemFailure(actions(i), status, reason)
        if (f.retryable) retryable += f else rejected += f
      }
      i += 1
    }
    BulkOutcome(retryable.result(), rejected.result())
  }

  /** POST the batch; returns the 2xx response body (null for an empty
    * batch), throws on transport error or non-2xx. */
  private def send(actions: Seq[BulkAction]): String = {
    if (actions.isEmpty) return null
    val base = baseUrls(((next.getAndIncrement() % baseUrls.size) + baseUrls.size).toInt % baseUrls.size)
    val builder = HttpRequest.newBuilder(URI.create(s"$base/_bulk"))
      .timeout(Duration.ofMillis(requestTimeoutMs))
      .POST(HttpRequest.BodyPublishers.ofString(EsBulkClient.body(actions), UTF_8))
    headers.foreach { case (k, v) => builder.header(k, v) }
    val resp = http.send(builder.build(), HttpResponse.BodyHandlers.ofString(UTF_8))
    val code = resp.statusCode()
    if (code < 200 || code >= 300)
      throw new HttpEsBulkClient.EnvelopeStatusException(code,
        s"bulk request failed: HTTP $code ${resp.body().take(200)}")
    resp.body()
  }
}

object HttpEsBulkClient {
  /** A non-2xx bulk envelope, status preserved so the outcome layer can
    * special-case deterministic statuses (413) from retryable ones. An
    * IOException subclass: any caller that catches the old type still
    * sees the whole-batch-retryable signal unchanged. */
  final class EnvelopeStatusException(val status: Int, msg: String)
    extends java.io.IOException(msg)

  /** Thread-safe for reads; one per JVM (same pattern as BulkStats). */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The "production swap is config-only" constructor (SURVEY §7.3):
    * build the live client for a sink config's URL list + credentials. */
  def forConfig(config: IngestionConfig): HttpEsBulkClient =
    new HttpEsBulkClient(EsRestAuth.baseUrls(config.sinkUrls), EsRestAuth.bulkHeaders(config))
}
