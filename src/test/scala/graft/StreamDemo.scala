package graft
import org.apache.spark.sql.functions._
/** Sample-code driver through the public exports: seed an ES-sim index
  * from the events fixture, stream it through the DSv2 source, assemble
  * sessions with flatMapGroupsWithState, print the result. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("demo-src").toString
    // seed from the real fixture through the emit + sink path
    val records = ingest.Emit.ing01EmitEvents(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("index_id", "indexId").withColumnRenamed("doc_id", "docId")
      .as[ingest.IngestRecord]
    ingest.EsBulkSink.write(records, dir)
    // stream it back and assemble sessions per user
    val stream = spark.readStream
      .format("graft.sources.EsSimSourceProvider")
      .option("path", dir).option("batchSize", "500").load()
      .select(
        get_json_object($"source", "$.event_id").cast("long").as("ignored"),
        get_json_object($"source", "$.ts").cast("timestamp").as("ts"),
        $"docId".cast("long").as("user_dummy"))
    // reuse the typed session assembler over (user=modulo bucket)
    val typed = stream.select(($"user_dummy" % 10).as("user_id"), $"ts",
        lit(1.0).as("value")).as[streaming.EventStreams.UserEvent]
    val q = streaming.EventStreams.assembleSessions(typed, gapMs = 60 * 60 * 1000L)
      .writeStream.format("memory").queryName("demo").outputMode("append")
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val n = spark.table("demo").count()
    println(s"DEMO_SESSIONS_EMITTED=$n")
    spark.table("demo").orderBy($"user_id", $"session_start").show(5, false)
    spark.stop()
  }
}
