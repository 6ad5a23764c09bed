package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.Trigger
import graft.ingest.{BulkAction, FileEsBulkClient}

/** B1/B2/B3 contract of the DataSource V2 ES-sim source: full batch
  * scan, timestamp-cursor incremental stream, batch-size admission,
  * and exactly-once-per-doc recovery across a checkpoint restart. */
class EsSimSourceSpec extends SparkSpec {

  private def writeDocs(dir: String, ids: Range, tsBase: String = "2024-01-01 00:0"): Unit = {
    val client = new FileEsBulkClient(dir)
    ids.grouped(10).foreach { g =>
      client.bulk(g.map { i =>
        val ts = f"2024-01-01 ${i / 3600}%02d:${(i / 60) % 60}%02d:${i % 60}%02d.000000"
        BulkAction("idx", i.toString, s"""{"id":$i,"ts":"$ts","v":${i * 2}}""")
      }.toSeq)
    }
  }

  test("batch read: full scan returns every action") {
    val dir = Files.createTempDirectory("essrc").toString
    writeDocs(dir, 0 until 57)
    val df = spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", dir).load()
    assert(df.count() === 57)
    assert(df.columns.toSeq === Seq("indexId", "docId", "source", "ts"))
    assert(df.where("ts IS NULL").count() === 0)
  }

  test("batch read: ts filter prunes non-matching bulk files (opens fewer files)") {
    import graft.sources.EsSimSource
    val dir = Files.createTempDirectory("essrc").toString
    writeDocs(dir, 0 until 60) // 6 files of 10 docs, ts = second 0..59
    val df = spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", dir).load()
    // ts >= 00:00:40 lives in the last 2 of 6 files
    val filtered = df.where("ts >= timestamp'2024-01-01 00:00:40'")
    EsSimSource.filesOpened.set(0)
    assert(filtered.count() === 20)
    val opened = EsSimSource.filesOpened.get()
    assert(opened === 2, s"expected 2 of 6 files opened, got $opened")
    // correctness unaffected: residual filter re-checked by Spark
    assert(filtered.where("ts < timestamp'2024-01-01 00:00:40'").count() === 0)
  }

  test("batch read: indexId filter prunes files of other indices") {
    import graft.sources.EsSimSource
    val dir = Files.createTempDirectory("essrc").toString
    val client = new FileEsBulkClient(dir)
    // two indices, four bulk files each holding a single index
    (0 until 4).foreach { k =>
      val idx = if (k < 2) "logs" else "metrics"
      client.bulk((0 until 10).map(i =>
        BulkAction(idx, s"$k-$i", s"""{"id":$i,"ts":"2024-01-01 00:0$k:0$i.000000"}""")))
    }
    val df = spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", dir).load()
      .where("indexId = 'metrics'")
    EsSimSource.filesOpened.set(0)
    assert(df.count() === 20)
    assert(EsSimSource.filesOpened.get() === 2,
      s"expected only the 2 metrics files opened, got ${EsSimSource.filesOpened.get()}")
  }

  test("batch read: pushed filters and pruned columns appear in the scan") {
    val dir = Files.createTempDirectory("essrc").toString
    writeDocs(dir, 0 until 20)
    val df = spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", dir).load()
      .where("ts >= timestamp'2024-01-01 00:00:10' AND indexId = 'idx'")
      .select("docId")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(600))
    assert(plan.contains("GreaterThanOrEqual(ts"), plan.take(600))
    assert(plan.contains("EqualTo(indexId"), plan.take(600))
    assert(df.count() === 10)
  }

  test("batch read: projection without ts skips the body parse, rows still correct") {
    import spark.implicits._
    val dir = Files.createTempDirectory("essrc").toString
    writeDocs(dir, 0 until 15)
    val ids = spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", dir).load()
      .select($"docId").as[String].collect().map(_.toInt).sorted
    assert(ids.toSeq === (0 until 15).toSeq)
  }

  test("sidecar stats: cold planning index reads zero bulk bodies") {
    import graft.sources.EsSimStats
    val dir = Files.createTempDirectory("essrc").toString
    writeDocs(dir, 0 until 50) // 5 files, each with a sidecar
    val parsedBefore = EsSimStats.filesParsed.get()
    val stats = EsSimStats.forPath(dir, "ts") // cold: fresh temp dir
    assert(stats.size === 5)
    assert(EsSimStats.filesParsed.get() === parsedBefore,
      "sidecar-bearing files must not be parsed on the driver")
    // sidecar stats must agree with a from-scratch parse of the bodies
    stats.foreach { st =>
      val docs = graft.sources.EsSimSource.parseBulkFile(java.nio.file.Paths.get(st.file), "ts")
      val recomputed = graft.ingest.BulkStats.compute("ts",
        docs.iterator.map(d => (d.indexId, d.docId, d.tsMicros)))
      assert((st.minTs, st.minId, st.maxTs, st.maxId, st.count, st.indexIds) ===
        (recomputed.minTs, recomputed.minId, recomputed.maxTs, recomputed.maxId,
         recomputed.count, recomputed.indexIds))
    }
  }

  test("sidecar stats: legacy files without sidecars fall back to a parse") {
    import graft.sources.EsSimStats
    val dir = Files.createTempDirectory("essrc").toString
    writeDocs(dir, 0 until 30) // 3 files
    // simulate a pre-sidecar index
    val listing = Files.list(java.nio.file.Paths.get(dir))
    try listing.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".stats.json"))
      .foreach(Files.delete)
    finally listing.close()
    val parsedBefore = EsSimStats.filesParsed.get()
    val stats = EsSimStats.forPath(dir, "ts")
    assert(stats.size === 3)
    assert(EsSimStats.filesParsed.get() === parsedBefore + 3)
    assert(stats.map(_.count).sum === 30)
    // second call is served from the cache: no further parses
    EsSimStats.forPath(dir, "ts")
    assert(EsSimStats.filesParsed.get() === parsedBefore + 3)
  }

  test("sidecar stats: schema-skewed sidecar is declined (counted), body parse takes over") {
    import graft.sources.EsSimStats
    val dir = Files.createTempDirectory("essrc").toString
    writeDocs(dir, 0 until 10) // 1 file + sidecar
    val bulk = EsSimStats.list(dir).head
    val sc = graft.ingest.BulkStats.sidecar(bulk)
    // a future-schema sidecar: right tsField, but count/minTs absent
    Files.write(sc, """{"tsField":"ts","note":"schema skew"}""".getBytes("UTF-8"))
    val declinedBefore = graft.ingest.BulkStats.sidecarsDeclined.get()
    val parsedBefore = EsSimStats.filesParsed.get()
    val stats = EsSimStats.forPath(dir, "ts")
    assert(graft.ingest.BulkStats.sidecarsDeclined.get() === declinedBefore + 1,
      "a present-but-unusable sidecar must be visibly counted, not silently skipped")
    assert(EsSimStats.filesParsed.get() === parsedBefore + 1)
    // fallback stats are still the correct ones
    assert(stats.size === 1)
    assert(stats.head.count === 10)
  }

  test("bulk body is published atomically: no .tmp files, body always complete beside its sidecar") {
    val dir = Files.createTempDirectory("essrc").toString
    writeDocs(dir, 0 until 20)
    val listing = Files.list(java.nio.file.Paths.get(dir))
    val names = try listing.iterator().asScala.map(_.getFileName.toString).toSeq
      finally listing.close()
    assert(!names.exists(_.endsWith(".tmp")))
    // every listable bulk file parses completely and matches its sidecar count
    graft.sources.EsSimStats.list(dir).foreach { f =>
      val st = graft.ingest.BulkStats.read(f, "ts")
      assert(st.isDefined)
      val docs = graft.sources.EsSimSource.parseBulkFile(f, "ts")
      assert(docs.size.toLong === st.get.count)
    }
  }

  test("streaming: incremental cursor, batchSize admission, no dups no loss") {
    import spark.implicits._
    val dir = Files.createTempDirectory("essrc").toString
    val out = Files.createTempDirectory("esout").toString
    val ckpt = Files.createTempDirectory("esckpt").toString
    writeDocs(dir, 0 until 25)
    def startQuery() = spark.readStream
      .format("graft.sources.EsSimSourceProvider")
      .option("path", dir).option("batchSize", "7")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("append").parquet(out)
      }
      .start()
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    val phase1 = spark.read.parquet(out)
    assert(phase1.count() === 25)
    // restart with more files: only the new docs flow
    writeDocs(dir, 25 until 40)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val all = spark.read.parquet(out)
    assert(all.count() === 40, "restart must deliver each doc exactly once")
    assert(all.select($"docId").distinct().count() === 40)
  }

  test("overlapMs re-reads the window: late doc behind the cursor is delivered") {
    import spark.implicits._
    val dir = Files.createTempDirectory("essrc").toString
    val out = Files.createTempDirectory("esout").toString
    val ckpt = Files.createTempDirectory("esckpt").toString
    val client = new FileEsBulkClient(dir)
    client.bulk((0 until 10).map(i =>
      BulkAction("idx", i.toString,
        f"""{"id":$i,"ts":"2024-01-01 10:$i%02d:00.000000","v":$i}""")))
    def startQuery() = spark.readStream
      .format("graft.sources.EsSimSourceProvider")
      .option("path", dir).option("batchSize", "100")
      .option("overlapMs", (3600L * 1000).toString) // 1h overlap
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .start()
    val q1 = startQuery()
    q1.processAllAvailable()
    // cursor now at 10:09. A LATE doc (10:05, within the 1h overlap)
    // arrives together with a new doc beyond the cursor.
    client.bulk(Seq(
      BulkAction("idx", "late", """{"id":99,"ts":"2024-01-01 10:05:30.000000","v":99}"""),
      BulkAction("idx", "new", """{"id":100,"ts":"2024-01-01 11:00:00.000000","v":100}""")))
    q1.processAllAvailable()
    q1.stop()
    val ids = spark.read.parquet(out).select($"docId").distinct()
      .collect().map(_.getString(0)).toSet
    assert(ids.contains("late"), "late doc within overlap must be delivered")
    assert(ids.contains("new"))
    assert(ids.size === 12)
  }

  test("startOffset option: first run begins at the configured cursor") {
    import spark.implicits._
    val dir = Files.createTempDirectory("essrc").toString
    val out = Files.createTempDirectory("esout").toString
    writeDocs(dir, 0 until 20)
    // cursor at doc 9's (ts, id): only docs strictly beyond flow
    val ts9micros = java.time.LocalDateTime.parse("2024-01-01T00:00:09")
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val q = spark.readStream
      .format("graft.sources.EsSimSourceProvider")
      .option("path", dir)
      .option("startOffset", s"""{"tsMicros":$ts9micros,"docId":"9"}""")
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }.start()
    assert(q.awaitTermination(120000))
    val ids = spark.read.parquet(out).select($"docId").as[String].collect().map(_.toInt).sorted
    assert(ids.toSeq === (10 until 20).toSeq, s"got ${ids.toSeq}")
  }

  test("e2e composition: ingest events, pushdown read-back matches direct computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("esint").toString
    val recs = ingest.Emit.ing01EmitEvents(spark, sf0001)
      .withColumnRenamed("index_id", "indexId").withColumnRenamed("doc_id", "docId")
      .as[ingest.IngestRecord]
    ingest.EsBulkSink.write(recs, dir)
    val cutoff = "2024-01-15 00:00:00"
    // read back THROUGH the source with a pushed ts filter + the body
    // re-parsed from the pass-through lane; analytics on top must match
    // the same computation straight off the parquet table
    val viaSource = spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", dir).load()
      .where(s"ts >= timestamp'$cutoff'")
      .select(get_json_object($"source", "$.event_type").as("et"))
      .groupBy($"et").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Tables.events(spark, sf0001)
      .where(s"ts >= timestamp'$cutoff'")
      .groupBy($"event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSource === direct)
    assert(direct.values.sum > 0)
  }

  test("compaction folds upsert history into few large files, state preserved") {
    import graft.ingest.{EsSimCompact, EsSimStore}
    val src = Files.createTempDirectory("escomp-src").toString
    val dst = Files.createTempDirectory("escomp-dst").toString
    writeDocs(src, 0 until 100) // 10 files of 10
    // overwrite a doc (upsert history) in one more tiny file
    new FileEsBulkClient(src).bulk(Seq(
      BulkAction("idx", "5", """{"id":5,"ts":"2024-01-01 09:00:00.000000","v":999}""")))
    EsSimCompact.run(spark, src, dst)
    val before = graft.sources.EsSimStats.list(src).size
    val after = graft.sources.EsSimStats.list(dst).size
    assert(after < before, s"expected fewer files, got $before -> $after")
    val a = EsSimStore.read(spark, src).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val b = EsSimStore.read(spark, dst).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(a === b, "compacted index must resolve to the same current state")
    assert(b(("idx", "5")).contains("999"), "upsert winner survives compaction")
  }

  test("in-place compaction of a live-streamed dir: cursor survives, no loss, no dups") {
    import spark.implicits._
    import graft.ingest.{EsSimCompact, EsSimStore}
    val dir = Files.createTempDirectory("escomp-live").toString
    val out = Files.createTempDirectory("esout").toString
    val ckpt = Files.createTempDirectory("esckpt").toString
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.sources.EsSimSourceProvider")
        .option("path", dir).option("batchSize", "7")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    writeDocs(dir, 0 until 50) // 5 bulk files
    drain()
    assert(spark.read.parquet(out).count() === 50)
    // maintenance between micro-batches (what Main's trigger does)
    EsSimCompact.inPlace(spark, dir, graceMs = 3600000)
    val bulks = graft.sources.EsSimStats.list(dir)
    assert(bulks.size === 1, s"expected one compacted file, got ${bulks.size}")
    writeDocs(dir, 50 until 80)
    drain()
    val all = spark.read.parquet(out)
    // the checkpointed (ts, docId) cursor is layout-independent: the
    // compacted file (whose stats span everything) is re-admitted but
    // its rows at/below the cursor are filtered — nothing re-delivered
    assert(all.count() === 80, "cursor must survive compaction")
    assert(all.select($"docId").distinct().count() === 80)
    assert(EsSimStore.read(spark, dir).count() === 80)
  }

  test("in-place compaction: upsert history folds; a post-compaction upsert still wins") {
    import graft.ingest.{EsSimCompact, EsSimStore}
    val dir = Files.createTempDirectory("escomp-ip").toString
    writeDocs(dir, 0 until 20)
    new FileEsBulkClient(dir).bulk(Seq(
      BulkAction("idx", "5", """{"id":5,"ts":"2024-01-01 09:00:00.000000","v":999}""")))
    EsSimCompact.inPlace(spark, dir, graceMs = 3600000)
    val folded = EsSimStore.read(spark, dir).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(folded.size === 20)
    assert(folded("5").contains("999"), "pre-compaction upsert winner survives the fold")
    // a write AFTER compaction gets a later wall-clock name than the
    // compacted file (pinned to the newest INPUT's micros) — it must win
    new FileEsBulkClient(dir).bulk(Seq(
      BulkAction("idx", "5", """{"id":5,"ts":"2024-01-01 10:00:00.000000","v":111}""")))
    val after = EsSimStore.read(spark, dir).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(after("5").contains("111"), "post-compaction upsert must override the fold")
  }

  test("retired bulk file: a reader that planned the old name reads the .gone tombstone") {
    import graft.sources.{EsSimSource, EsSimStats}
    val dir = Files.createTempDirectory("esgone").toString
    writeDocs(dir, 0 until 10)
    val f = EsSimStats.list(dir).head
    java.nio.file.Files.move(f, f.resolveSibling(f.getFileName.toString + ".gone"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // the list->open race of in-place compaction: content identical
    val docs = EsSimSource.parseBulkFile(f, "ts")
    assert(docs.size === 10)
    assert(docs.map(_.docId).sorted === (0 until 10).map(_.toString).sorted)
  }

  test("tombstone grace counts from RETIREMENT: old files' tombstones survive the next sweep") {
    import graft.ingest.EsSimCompact
    import java.nio.file.{Files => F, Paths}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("esgrace").toString
    writeDocs(dir, 0 until 20) // 2 bulk files
    // age the inputs: written "2 hours ago" (rename preserves mtime, so
    // without restamping their tombstones would be born already expired)
    val old = FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600 * 1000)
    val l = F.list(Paths.get(dir))
    try l.iterator().asScala.foreach(p => F.setLastModifiedTime(p, old)) finally l.close()
    EsSimCompact.inPlace(spark, dir, graceMs = 60000) // retires the 2 old files
    // drop a crashed-publish .tmp, also aged past grace -> must be swept
    val tmp = Paths.get(dir).resolve("bulk-00000000000000000001-deadbeef-000000.ndjson.tmp")
    F.write(tmp, "partial".getBytes)
    F.setLastModifiedTime(tmp, old)
    writeDocs(dir, 20 until 30) // make the second pass have >1 input
    EsSimCompact.inPlace(spark, dir, graceMs = 60000) // sweeps, then folds again
    val l2 = F.list(Paths.get(dir))
    val names = try l2.iterator().asScala.map(_.getFileName.toString).toSeq finally l2.close()
    assert(names.count(_.endsWith(".ndjson.gone")) >= 2,
      s"just-retired tombstones must survive a sweep inside grace, got $names")
    assert(!names.contains(tmp.getFileName.toString), "aged publish debris must be swept")
    assert(graft.ingest.EsSimStore.read(spark, dir).count() === 30)
  }

  test("concurrent compactors: losing the retire race is benign (no throw, mtime restamped)") {
    import graft.ingest.EsSimCompact
    import java.nio.file.{Files => F, Paths}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("esrace")
    val now = FileTime.fromMillis(System.currentTimeMillis())
    // rival already retired this input: our retire must be a no-op,
    // not a NoSuchFileException that fails the whole batch job
    EsSimCompact.retireFile(dir.resolve("bulk-x.ndjson"), now)
    // normal retire: tombstone exists with the RETIREMENT mtime, even
    // for a file written long ago (rename alone preserves old mtime)
    val f = dir.resolve("bulk-y.ndjson")
    F.write(f, "m\ns\n".getBytes)
    F.setLastModifiedTime(f, FileTime.fromMillis(1000000L)) // ancient
    EsSimCompact.retireFile(f, now)
    val tomb = dir.resolve("bulk-y.ndjson.gone")
    assert(F.exists(tomb) && !F.exists(f))
    assert(F.getLastModifiedTime(tomb) === now)
  }

  test("FileDeadLetter.read of an empty or absent queue returns zero rows, not an error") {
    import graft.ingest.FileDeadLetter
    val dir = Files.createTempDirectory("dlq-empty").toString
    val df = FileDeadLetter.read(spark, dir)
    assert(df.schema === FileDeadLetter.schema)
    assert(df.count() === 0)
    assert(FileDeadLetter.read(spark, dir + "/does-not-exist").count() === 0)
  }

  test("Main --once e2e: copy pipeline with per-batch compaction folds the live sink") {
    import graft.ingest.EsSimStore
    val src = Files.createTempDirectory("main-src").toString
    val sink = Files.createTempDirectory("main-sink").toString
    val ckpt = Files.createTempDirectory("main-ckpt").toString
    writeDocs(src, 0 until 40) // 4 source files of 10
    // batch-size 10 -> several micro-batches; compaction after every
    // batch exercises inPlace against the dir the sink is appending to
    graft.Main.main(Array(src, sink, ckpt, "--once",
      "source.batch-size=10", "sink.compact.every-batches=1"))
    val copied = EsSimStore.read(spark, sink).collect()
      .map(r => r.getString(1)).sorted
    assert(copied.toSeq === (0 until 40).map(_.toString).sorted,
      "every doc must survive the copy + repeated in-place compaction")
    // compaction really ran: retired inputs left tombstones (grace 60 s)
    val l = Files.list(java.nio.file.Paths.get(sink))
    val gone = try l.iterator().asScala.count(_.getFileName.toString.endsWith(".gone"))
      finally l.close()
    assert(gone > 0, "expected .gone tombstones from the per-batch compaction")
  }

  test("Main --once resumes a checkpoint across checkpoint file managers, exactly once") {
    import spark.implicits._
    import graft.ingest.EsSimStore
    val key = LocalCheckpointFileManager.ConfKey
    val sparkDefault = classOf[CountingFileContextManager].getName // counted
    val local = classOf[LocalCheckpointFileManager].getName
    val prev = spark.conf.getOption(key)
    def commits(ckpt: String): Seq[Long] = {
      val l = Files.list(java.nio.file.Paths.get(ckpt, "commits"))
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.forall(_.isDigit)).map(_.toLong).toSeq.sorted
      finally l.close()
    }
    // the manager the session names when each query starts
    val named = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = named.add(spark.conf.getOption(key))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // Main installs its manager only when the session names none, and
    // leaves the session's key as it found it. It runs inside the
    // caller's session, so a conf value the session holds (a shuffle
    // width no default would pick) survives the run
    val width = "spark.sql.shuffle.partitions"
    def run(manager: String, src: String, sink: String, ckpt: String): Unit = {
      val userSet = manager != local
      if (userSet) spark.conf.set(key, manager) else spark.conf.unset(key)
      val built = CountingFileContextManager.built.get
      named.clear()
      val widthBefore = spark.conf.get(width)
      spark.conf.set(width, (Engine.cpus + 1).toString)
      try {
        graft.Main.main(Array(src, sink, ckpt, "--once", "source.batch-size=10"))
        assert(spark.conf.get(width) === (Engine.cpus + 1).toString,
          "Main rewrote the shared session's conf")
      } finally spark.conf.set(width, widthBefore)
      assert(named.asScala.toSeq === Seq(Some(manager)), s"the run meant for $manager")
      assert(spark.conf.getOption(key) === (if (userSet) Some(manager) else None))
      assert((CountingFileContextManager.built.get > built) === userSet,
        s"the run meant for $manager used another manager")
    }
    spark.streams.addListener(listener)
    try {
      for ((first, second) <- Seq(sparkDefault -> local, local -> sparkDefault)) {
        val src = Files.createTempDirectory("resume-src").toString
        val sink = Files.createTempDirectory("resume-sink").toString
        val ckpt = Files.createTempDirectory("resume-ckpt").toString
        writeDocs(src, 0 until 30)
        run(first, src, sink, ckpt)
        val before = commits(ckpt)
        assert(before.nonEmpty && before === before.indices.map(_.toLong))
        writeDocs(src, 30 until 50)
        run(second, src, sink, ckpt)
        val after = commits(ckpt)
        assert(after.size > before.size && after === after.indices.map(_.toLong),
          s"batch ids must continue from ${before.last}: $after ($first -> $second)")
        // every doc copied once: no old doc re-sent, none missing
        assert(EsSimStore.actions(spark, sink).count() === 50, s"$first -> $second")
        val docs = EsSimStore.read(spark, sink).select($"docId").as[String].collect()
        assert(docs.sorted.toSeq === (0 until 50).map(_.toString).sorted, s"$first -> $second")
      }
    } finally {
      spark.streams.removeListener(listener)
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("Trigger.AvailableNow drains the start snapshot and stops") {
    val dir = Files.createTempDirectory("essrc").toString
    val out = Files.createTempDirectory("esout").toString
    writeDocs(dir, 0 until 30)
    val q = spark.readStream
      .format("graft.sources.EsSimSourceProvider")
      .option("path", dir).option("batchSize", "9")
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("append").parquet(out)
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query should self-terminate")
    assert(spark.read.parquet(out).count() === 30)
  }

  test("fold manifest: mid-compaction double coverage is planned exactly once") {
    // Freeze the compactor at its two race/crash windows and assert a
    // planner sees each row exactly once in both:
    //  (b) outputs published, NO manifest (crashed publish) → the 'z'
    //      outputs are invisible, the live inputs carry the rows;
    //  (a) manifest present, inputs NOT yet retired → visibility flips
    //      atomically to the outputs while the inputs still sit on disk.
    // Without the gate, window (a) planned BOTH sides and a live
    // micro-batch delivered its whole range twice (the soak's
    // 10-duplicated-rows flake).
    import graft.ingest.{BulkAction, FileEsBulkClient}
    import graft.sources.{EsSimManifest, EsSimStats}
    val dir = Files.createTempDirectory("esfold").toString
    writeDocs(dir, 0 until 30) // 3 input files
    val inputs = EsSimStats.list(dir).map(_.getFileName.toString)
    val micros = inputs.max.stripPrefix("bulk-").take(20).toLong
    // hand-publish the compacted output pinned at the newest input slot
    val z = new FileEsBulkClient(dir, fixedMicros = Some(micros))
    z.bulk((0 until 30).map { i =>
      val ts = f"2024-01-01 ${i / 3600}%02d:${(i / 60) % 60}%02d:${i % 60}%02d.000000"
      BulkAction("idx", i.toString, s"""{"id":$i,"ts":"$ts","v":${i * 2}}""")
    })
    def batchCount() = spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", dir).load().count()
    // (b): z published but unmanifested — invisible, inputs still carry
    assert(EsSimStats.visibleList(dir).map(_.getFileName.toString).toSet
      === inputs.toSet)
    assert(batchCount() === 30)
    // (a): manifest flips visibility to the outputs in one atomic step
    val outputs = EsSimStats.listCompactedAt(dir, micros).map(_.getFileName.toString)
    assert(outputs.nonEmpty)
    EsSimManifest.write(java.nio.file.Paths.get(dir), micros, outputs, inputs)
    assert(EsSimStats.visibleList(dir).map(_.getFileName.toString).toSet
      === outputs.toSet)
    assert(batchCount() === 30)
  }

  test("fold manifest: TOCTOU — a manifest is effective only when its outputs are in the bulk listing") {
    // visibleList/forVisible take the BULK listing before the MANIFEST
    // listing. A compactor publishing z-outputs + manifest between the
    // two listings must not hide the folded inputs (the outputs are
    // absent from the earlier snapshot — hiding the inputs would leave
    // ZERO covering files and silently drop committed rows as the
    // cursor advances). hiddenNames models this directly: it filters a
    // caller-supplied bulkNames snapshot against the manifests on disk.
    import graft.ingest.{BulkAction, FileEsBulkClient}
    import graft.sources.{EsSimManifest, EsSimStats}
    val dir = Files.createTempDirectory("estoctou").toString
    writeDocs(dir, 0 until 30) // 3 input files
    val inputs = EsSimStats.list(dir).map(_.getFileName.toString)
    val micros = inputs.max.stripPrefix("bulk-").take(20).toLong
    val z = new FileEsBulkClient(dir, fixedMicros = Some(micros))
    z.bulk((0 until 30).map { i =>
      val ts = f"2024-01-01 ${i / 3600}%02d:${(i / 60) % 60}%02d:${i % 60}%02d.000000"
      BulkAction("idx", i.toString, s"""{"id":$i,"ts":"$ts","v":${i * 2}}""")
    })
    val outputs = EsSimStats.list(dir).map(_.getFileName.toString)
      .filter(EsSimManifest.isCompacted)
    assert(outputs.nonEmpty)
    EsSimManifest.write(java.nio.file.Paths.get(dir), micros, outputs, inputs)
    // stale snapshot taken BEFORE the publish: inputs only. The manifest
    // is on disk but not effective against this listing — nothing hidden.
    assert(EsSimManifest.hiddenNames(dir, inputs) === Set.empty,
      "folds hidden while outputs are absent from the snapshot → row loss")
    // fresh snapshot (inputs + outputs): manifest effective — folds and
    // nothing else hidden.
    assert(EsSimManifest.hiddenNames(dir, inputs ++ outputs) === inputs.toSet)
    // orphan z-file at the SAME micros from a failed/concurrent attempt:
    // hidden by name-level rule 2 even though its micros has a manifest
    // (the old micros-level rule made it visible → double coverage).
    val orphanClient = new FileEsBulkClient(dir, fixedMicros = Some(micros))
    orphanClient.bulk(Seq(BulkAction("idx", "0",
      """{"id":0,"ts":"2024-01-01 00:00:00.000000","v":0}""")))
    val orphan = EsSimStats.list(dir).map(_.getFileName.toString)
      .filter(n => EsSimManifest.isCompacted(n) && !outputs.contains(n))
    assert(orphan.size === 1)
    assert(EsSimManifest.hiddenNames(dir, inputs ++ outputs ++ orphan)
      === inputs.toSet ++ orphan)
  }

  test("fold manifest lifecycle: survives while its names are live, swept only when inert") {
    import graft.ingest.EsSimCompact
    import graft.sources.{EsSimManifest, EsSimStats}
    val dir = Files.createTempDirectory("esmanifest-life").toString
    def manifests() = EsSimManifest.list(dir).map(_.file.getFileName.toString).sorted
    def visibleDocs() = spark.read.format("graft.sources.EsSimSourceProvider")
      .option("path", dir).load().count()
    writeDocs(dir, 0 until 30)
    // gen 1: long grace — folds retired to .gone, manifest1 protects them
    EsSimCompact.inPlace(spark, dir, maxActions = 500, graceMs = 3600000)
    val m1 = manifests()
    assert(m1.size === 1)
    assert(visibleDocs() === 30)
    // sweep with grace 0: manifest1's OUTPUTS are live compacted files —
    // it must survive, or rule 2 would hide a legitimate z-file and rows
    // would vanish from planning
    EsSimCompact.inPlace(spark, dir, maxActions = 500, graceMs = 0)
    assert(manifests() === m1, "manifest swept while its outputs are live")
    assert(visibleDocs() === 30)
    // gen 2: new docs arrive, everything (z1 + new) folds into z2 under
    // manifest2; z1 retires. manifest1 is now inert (outputs tombstoned,
    // folds long gone) and dies at the next grace-0 sweep — manifest2
    // must persist while z2 lives
    writeDocs(dir, 30 until 60)
    EsSimCompact.inPlace(spark, dir, maxActions = 500, graceMs = 0)
    assert(visibleDocs() === 60)
    EsSimCompact.inPlace(spark, dir, maxActions = 500, graceMs = 0)
    val after = manifests()
    assert(!after.exists(m1.contains), s"inert gen-1 manifest not swept: $after")
    assert(after.nonEmpty, "live generation's manifest must persist")
    assert(visibleDocs() === 60)
    assert(EsSimStats.visibleList(dir).nonEmpty)
  }

  test("soak: repeated in-place compaction under a LIVE reader — effectively-once across 8 cycles") {
    // The single-cycle test above stops the reader before compacting;
    // this soak keeps a ProcessingTime query RUNNING while 8
    // write→compact cycles race it (the list→open race the tombstone
    // fallback exists for), restarts the reader from its checkpoint
    // mid-soak, and asserts cursor continuity end to end: every doc
    // delivered effectively once, store state intact, file count bounded.
    //
    // Delivery contract (the reference's own design, core.clj:133-139):
    // the source is at-least-once across a restart — Structured
    // Streaming may legally re-run the last micro-batch if the stop
    // landed between the sink write and the commit-log write — and the
    // SINK makes that idempotent. A real pipeline upserts by docId
    // (EsBulkSink); here the sink is idempotent by batchId: each batch
    // overwrites out/batch=<id>, so a replayed batch (same id, same
    // (start,end] offsets from the WAL, hence identical rows) lands in
    // the same place instead of appending a duplicate copy. A blind
    // append sink would over-claim exactly-once and flake ~1-in-10 runs.
    import spark.implicits._
    import graft.ingest.{EsSimCompact, EsSimStore}
    val dir = Files.createTempDirectory("escomp-soak").toString
    val out = Files.createTempDirectory("esout-soak").toString
    val ckpt = Files.createTempDirectory("esckpt-soak").toString
    def startQ() = spark.readStream
      .format("graft.sources.EsSimSourceProvider")
      .option("path", dir).option("batchSize", "9")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(50))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      .start()
    var q = startQ()
    var written = 0
    (0 until 8).foreach { cycle =>
      writeDocs(dir, written until written + 30)
      written += 30
      // give the live query time to be mid-flight when the compactor
      // runs — the interleaving is the test, so don't synchronize
      Thread.sleep(150)
      EsSimCompact.inPlace(spark, dir, maxActions = 500, graceMs = 3600000)
      if (cycle == 3) {
        // mid-soak restart: the checkpointed (ts, docId) cursor must
        // resume over a directory whose files have ALL been replaced
        q.processAllAvailable(); q.stop()
        q = startQ()
      }
    }
    q.processAllAvailable()
    q.stop()
    val all = spark.read.parquet(out)
    assert(all.count() === written, "soak lost or duplicated rows")
    assert(all.select($"docId").distinct().count() === written)
    // the store's resolved state survived every fold
    assert(EsSimStore.read(spark, dir).count() === written)
    // and maintenance actually did its job: the live bulk-file count is
    // bounded (240 docs in <= a handful of compacted files + the last
    // uncompacted batch), not ~24 append files
    val live = graft.sources.EsSimStats.list(dir).size
    assert(live <= 5, s"compaction failed to bound file count: $live live files")
  }
}

/** Spark's default `file:` checkpoint manager, counting its instances so a
  * spec can tell which manager a query ran with. */
class CountingFileContextManager(path: org.apache.hadoop.fs.Path, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager(path, conf) {
  CountingFileContextManager.built.incrementAndGet()
}

object CountingFileContextManager {
  val built = new java.util.concurrent.atomic.AtomicLong()
}
