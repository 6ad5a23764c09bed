package graft.perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, Random}

import graft.ingest.BulkAction

/** The benchmark's inputs, made from the workload seed alone: the same
  * seed gives the same records, corpus and CDC feed. */
object Inputs {
  /** The token vocabulary of the fixture `documents` table. */
  val Vocab: Array[String] = ("a agg batch big column customer data dup fast filter " +
    "group hash join key line merge order part query row scan slow small sort spark " +
    "stream table the value vector window").split(' ')

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private def tsString(micros: Long): String =
    LocalDateTime.ofInstant(Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L),
      ZoneOffset.UTC).format(TsFormat)
  private def f2(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))

  /** `n` copy records shaped like the fixture `events` ∪ `lineitem` rows
    * as the copy lane emits them (one `events` doc per six `lineitem`
    * docs), in ts order. The seed picks the ts window and the values. */
  def copyRecords(seed: Long, n: Int): IndexedSeq[BulkAction] = {
    val rng = new Random(seed)
    val day0 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    var ts = day0 + Math.floorMod(seed, 365L) * 86400L * 1000000L
    var eventId = Math.floorMod(seed, 1000L) * 1000000L
    var orderKey = eventId
    var line = 0
    val types = Array("view", "click", "purchase", "error", "login")
    (0 until n).map { _ =>
      ts += 1 + rng.nextInt(200000)
      if (rng.nextInt(7) == 0) {
        eventId += 1
        BulkAction("events", eventId.toString,
          s"""{"event_id":$eventId,"event_type":"${types(rng.nextInt(types.length))}",""" +
          s""""value":${f2(rng.nextDouble() * 500)},"ts":"${tsString(ts)}","k":${rng.nextInt(100)}}""")
      } else {
        if (line == 0 || rng.nextInt(4) == 0) { orderKey += 1; line = 0 }
        line += 1
        val qty = 1 + rng.nextInt(50)
        BulkAction("lineitem", s"$orderKey-$line",
          s"""{"l_orderkey":$orderKey,"l_partkey":${rng.nextInt(20000)},""" +
          s""""l_suppkey":${rng.nextInt(1000)},"l_linenumber":$line,"l_quantity":$qty.0,""" +
          s""""l_extendedprice":${f2(qty * (900 + rng.nextDouble() * 1100))},"ts":"${tsString(ts)}"}""")
      }
    }
  }

  /** A text-and-vector corpus in the ScaleProbe construction: `bases`
    * base docs (a quarter of them near-duplicates of an earlier one),
    * each present as `copies` copies whose tokens carry the suffix
    * "~copy", so copies share no shingle, and whose 64-dim vectors are
    * byte-exact copies. Base doc `b` of copy `c` is doc id
    * `c * IdStride + b`. */
  final class Corpus(seed: Long, val bases: Int, val copies: Int) {
    private val rng = new Random(seed ^ 0x5DEECE66DL)
    private val tokens = new Array[Array[String]](bases)
    private val vecs = new Array[Array[Double]](bases)
    (0 until bases).foreach { b =>
      if (b > 0 && rng.nextInt(4) == 0) {
        val p = rng.nextInt(b)
        val t = tokens(p).clone()
        (0 until 1 + rng.nextInt(2)).foreach(_ => t(rng.nextInt(t.length)) = Vocab(rng.nextInt(Vocab.length)))
        tokens(b) = t
        vecs(b) = vecs(p).map(x => x + 0.02 * rng.nextGaussian())
      } else {
        tokens(b) = Array.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length)))
        vecs(b) = Array.fill(64)(rng.nextGaussian())
      }
    }

    def id(base: Int, copy: Int): Long = copy * Corpus.IdStride + base
    def text(id: Long, revisions: Int): String = {
      val c = id / Corpus.IdStride
      tokens((id % Corpus.IdStride).toInt).map(t => s"$t~$c").mkString(" ") +
        graft.operators.Dedup.U01RevisionSuffix * revisions
    }
    def vector(id: Long): Array[Double] = vecs((id % Corpus.IdStride).toInt)
  }

  object Corpus { val IdStride = 10000000L }
}
