package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest._
import graft.sources.{EsSimManifest, EsSimSource, EsSimStats}

/** Read-back of the file-simulated index ([[EsSimStore]]) against the
  * Spark SQL plan it replaced — a `wholetext` scan, `posexplode` of the
  * lines and a metas ⋈ sources join on (file, slot) — over seeded random
  * stores with upserts, two indices, a compaction fold and tombstones;
  * plus the cases that plan cannot check, and the line-break contract
  * of the `_bulk` format from sink to read-back. */
class EsSimStoreSpec extends SparkSpec {

  /** The replaced plan, kept verbatim as the oracle. */
  private object Oracle {
    def actionsOf(spark: SparkSession, paths: Seq[String]): DataFrame = {
      import spark.implicits._
      val files = spark.read.option("wholetext", "true").textFile(paths: _*)
        .withColumn("file", input_file_name())
      val lines = files
        .select($"file", posexplode(split($"value", "\n")).as(Seq("pos", "value")))
        .filter(length($"value") > 0)
      val metas = lines.filter($"pos" % 2 === 0)
        .select($"file", ($"pos" / 2).cast("int").as("slot"),
          get_json_object($"value", "$.index._index").as("indexId"),
          get_json_object($"value", "$.index._id").as("docId"))
      val sources = lines.filter($"pos" % 2 === 1)
        .select($"file", ($"pos" / 2).cast("int").as("slot"), $"value".as("source"))
      metas.join(sources, Seq("file", "slot"))
        .select($"file", $"slot", $"indexId", $"docId", $"source")
    }
    def actions(spark: SparkSession, dir: String): DataFrame =
      actionsOf(spark, Seq(s"$dir/bulk-*.ndjson"))
    def resolve(acts: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("indexId"), col("docId"))
        .orderBy(col("file").desc, col("slot").desc)
      acts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("indexId", "docId", "source")
    }
  }

  private def docs(df: DataFrame): Seq[(String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted

  /** (file name, slot, indexId, docId, source): the oracle's `file` is a
    * `file:` URI, the read-back's a plain path. */
  private def acts(df: DataFrame): Seq[(String, Int, String, String, String)] =
    df.collect().map { r =>
      val f = r.getString(0)
      val p = if (f.startsWith("file:")) Paths.get(new java.net.URI(f)) else Paths.get(f)
      (p.getFileName.toString, r.getInt(1), r.getString(2), r.getString(3), r.getString(4))
    }.toSeq.sorted

  private def names(dir: String): Seq[String] = {
    val l = Files.list(Paths.get(dir))
    try l.iterator().asScala.map(_.getFileName.toString).toSeq finally l.close()
  }

  /** A few bulk files of upserts over a small id space in two indices
    * (every file repeats one id), folded by an in-place compaction into
    * 'z' files + manifest with `.gone` inputs, then more files after it. */
  private def randomStore(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val dir = Files.createTempDirectory(s"esstore-$seed").toString
    val client = new FileEsBulkClient(dir)
    var v = 0
    def file(): Unit = {
      val batch = Seq.fill(2 + rnd.nextInt(12)) {
        v += 1
        BulkAction(if (rnd.nextBoolean()) "a" else "b", rnd.nextInt(10).toString,
          s"""{"v":$v,"ts":${rnd.nextInt(50)}}""")
      }
      v += 1
      client.bulk(batch :+ batch.head.copy(source = s"""{"v":$v,"ts":0}"""))
    }
    (0 until 3 + rnd.nextInt(3)).foreach(_ => file())
    EsSimCompact.inPlace(spark, dir, maxActions = 7, graceMs = 3600000)
    (0 until 1 + rnd.nextInt(3)).foreach(_ => file())
    dir
  }

  test("read, readOf and actions equal the replaced wholetext/join plan on random stores") {
    (0 until 3).foreach { k =>
      val seed = 600 + k
      val dir = randomStore(seed)
      val ns = names(dir)
      assert(ns.exists(n => EsSimManifest.isCompacted(n) && n.endsWith(".ndjson")) &&
        ns.exists(EsSimManifest.isManifest) &&
        ns.exists(_.endsWith(".ndjson.gone")), s"seed $seed: $ns")
      assert(acts(EsSimStore.actions(spark, dir)) === acts(Oracle.actions(spark, dir)), s"seed $seed")
      val want = docs(Oracle.resolve(Oracle.actions(spark, dir)))
      assert(want.map(_._1).distinct.sorted === Seq("a", "b"), s"seed $seed")
      assert(docs(EsSimStore.read(spark, dir)) === want, s"seed $seed")
      val live = EsSimStats.list(dir).map(_.toString)
      val pick = new scala.util.Random(seed)
      val snap = live.init.filter(_ => pick.nextBoolean()) :+ live.last
      assert(docs(EsSimStore.readOf(spark, snap)) ===
        docs(Oracle.resolve(Oracle.actionsOf(spark, snap))), s"seed $seed")
    }
  }

  test("an empty store reads as zero rows; a missing one fails naming its path") {
    val dir = Files.createTempDirectory("esstore-empty").toString
    assert(EsSimStore.read(spark, dir).count() === 0)
    assert(EsSimStore.actions(spark, dir).columns.toSeq ===
      Seq("file", "slot", "indexId", "docId", "source"))
    val missing = dir + "/no-such-store"
    val e = intercept[java.io.FileNotFoundException](EsSimStore.read(spark, missing))
    assert(e.getMessage.contains(missing))
  }

  test("readOf a snapshot whose file was retired after listing reads its tombstone") {
    val dir = Files.createTempDirectory("esstore-retired").toString
    val client = new FileEsBulkClient(dir)
    (0 until 3).foreach(f => client.bulk((0 until 4).map(i =>
      BulkAction("idx", s"$f-$i", s"""{"f":$f,"i":$i}"""))))
    val snap = EsSimStats.list(dir)
    val before = docs(EsSimStore.readOf(spark, snap.map(_.toString)))
    EsSimCompact.retireFile(snap(1), java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    assert(!Files.exists(snap(1)) &&
      Files.exists(snap(1).resolveSibling(snap(1).getFileName.toString + ".gone")))
    val after = docs(EsSimStore.readOf(spark, snap.map(_.toString)))
    assert(after === before && after.count(_._2.startsWith("1-")) === 4)
  }

  private def causes(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString(" / ")

  test("a bulk file whose source holds a raw line break fails the parse, naming file and line") {
    val dir = Files.createTempDirectory("esstore-broken")
    val f = dir.resolve("bulk-00000000000000000001-abcdef12-000000.ndjson")
    Files.write(f, ("""{"index":{"_index":"i","_id":"d1"}}""" + "\n" + "{\"a\":1,\n\"ts\":5}\n" +
      """{"index":{"_index":"i","_id":"d2"}}""" + "\n" + """{"b":2}""" + "\n" +
      """{"index":{"_index":"i","_id":"d3"}}""" + "\n" + """{"c":3}""" + "\n").getBytes(UTF_8))
    // the body parse trips on line 2, the pairing on line 3
    val e = intercept[java.io.IOException](EsSimSource.parseBulkFile(f, "ts"))
    assert(e.getMessage.contains(s"$f:2: source is not JSON"), e.getMessage)
    val e2 = intercept[java.io.IOException](EsSimSource.parseBulkFile(f, "ts", parseBody = false))
    assert(e2.getMessage.contains(s"$f:3: not a bulk index action"), e2.getMessage)
    val dangling = Files.createTempDirectory("esstore-dangling")
      .resolve("bulk-00000000000000000002-abcdef12-000000.ndjson")
    Files.write(dangling, ("""{"index":{"_index":"i","_id":"d4"}}""" + "\n").getBytes(UTF_8))
    assert(intercept[java.io.IOException](EsSimSource.parseBulkFile(dangling, "ts"))
      .getMessage.contains(s"$dangling:1:"))
    val readBack = intercept[Exception](EsSimStore.read(spark, dir.toString).collect())
    assert(causes(readBack).contains(f.getFileName.toString), causes(readBack))
    val scan = intercept[Exception](spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", dir.toString).load().collect())
    assert(causes(scan).contains(f.getFileName.toString), causes(scan))
  }

  private val withBreaks = Seq( // a raw \n in "nl", a raw \r in "cr"
    BulkAction("idx", "g1", """{"v":1,"ts":10}"""),
    BulkAction("idx", "nl", "{\"v\":2,\n\"ts\":20}"),
    BulkAction("idx", "cr", "{\"v\":3,\r\"ts\":30}"),
    BulkAction("idx", "g2", """{"v":4,"ts":40}"""))

  test("a raw \\n source is dead-lettered; a raw \\r source round-trips byte-exact") {
    import spark.implicits._
    val sink = Files.createTempDirectory("esstore-nl-sink").toString
    val dlq = Files.createTempDirectory("esstore-nl-dlq").toString
    val rejects0 = BulkBuffer.rejectedTotal.get
    val records = withBreaks.map(a => IngestRecord(a.indexId, a.docId, a.source)).toDS()
    EsBulkSink.writeWith(records, () => new FileEsBulkClient(sink),
      deadLetter = new FileDeadLetter(dlq))
    assert(BulkBuffer.rejectedTotal.get - rejects0 === 1)
    val dead = FileDeadLetter.read(spark, dlq).collect()
    assert(dead.map(r => (r.getString(1), r.getInt(2), r.getString(4))).toSeq ===
      Seq(("nl", 400, withBreaks(1).source)))
    assert(dead.head.getString(3).contains("one line"))
    val want = withBreaks.filter(_.docId != "nl").map(a => (a.indexId, a.docId, a.source)).sorted
    assert(docs(EsSimStore.read(spark, sink)) === want)
    // through the streaming source and the sink again, then both readers
    val copy = Files.createTempDirectory("esstore-nl-copy").toString
    val ckpt = Files.createTempDirectory("esstore-nl-ckpt").toString
    graft.Main.main(Array(sink, copy, ckpt, "--once"))
    assert(docs(EsSimStore.read(spark, copy)) === want)
    assert(docs(spark.read.format("graft.sources.EsSimSourceProvider").option("path", copy)
      .load().select("indexId", "docId", "source")) === want)
  }

  test("the line-break reject also holds on the HTTP transport") {
    val bodies = mutable.ArrayBuffer.empty[String]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      bodies.synchronized { bodies += new String(ex.getRequestBody.readAllBytes(), UTF_8) }
      val resp = """{"took":1,"errors":false,"items":[]}""".getBytes(UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try {
      val dead = mutable.ArrayBuffer.empty[BulkItemFailure]
      val rejects0 = BulkBuffer.rejectedTotal.get
      val buffer = new BulkBuffer(
        new HttpEsBulkClient(Seq(s"http://127.0.0.1:${server.getAddress.getPort}"), Map.empty),
        sleeper = (_: Long) => (), deadLetter = (f: BulkItemFailure) => dead += f)
      withBreaks.foreach(buffer.add)
      buffer.flush()
      assert(BulkBuffer.rejectedTotal.get - rejects0 === 1)
      assert(dead.map(f => (f.action.docId, f.status)).toSeq === Seq(("nl", 400)))
      assert(bodies.size === 1)
      val lines = bodies.head.split('\n').toSeq
      assert(lines.size === 6 && lines(3) === withBreaks(2).source)
      assert(!bodies.head.contains("\"nl\""))
    } finally server.stop(0)
  }
}
