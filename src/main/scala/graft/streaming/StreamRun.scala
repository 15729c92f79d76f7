package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** CLI demo of the streaming surface against real files: watches a
  * directory, feeds it the testdata event files one at a time, and shows
  * the watermarked hourly rollup updating per micro-batch; finally checks
  * the streamed totals against the batch twin on the same rows.
  *
  * Usage: runMain graft.streaming.StreamRun [watchDir]
  */
object StreamRun {
  def main(args: Array[String]): Unit = {
    val watchDir = if (args.length > 0) args(0) else "/tmp/graft_stream_in"
    val spark = graft.GraftSession.open(watchDir)

    val dir = Paths.get(watchDir)
    if (Files.exists(dir))
      Files.list(dir).forEach(p => Files.delete(p))
    Files.createDirectories(dir)

    def feed(sf: String): Unit =
      Files.copy(Paths.get(s"/root/testdata/$sf/events.parquet"),
        dir.resolve(s"events_$sf.parquet"), StandardCopyOption.REPLACE_EXISTING)

    // schema from a static read of the same file layout (ts arrives as
    // nanos-long; normalize exactly like Tables.events)
    feed("sf0.001")
    val schema = spark.read.parquet(watchDir).schema
    val raw = spark.readStream.schema(schema).parquet(watchDir)
    val events = raw.withColumn("ts",
      timestamp_micros(expr("ts div 1000"))) // integer div: ns > 2^53

    val q = Streams.hourlyRollup(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName("rollup").start()

    q.processAllAvailable()
    val n1 = spark.table("rollup").count()
    println(s"micro-batch 1 (sf0.001 file): $n1 rollup rows")

    feed("sf0.01") // second file lands in the watched dir → incremental batch
    q.processAllAvailable()
    val n2 = spark.table("rollup").count()
    println(s"micro-batch 2 (+sf0.01 file): $n2 rollup rows")
    q.stop()

    // stream-stream interval join over the same watched files: attribute
    // purchases to same-user clicks within the preceding hour
    val mkStream = spark.readStream.schema(schema).parquet(watchDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val attr = Streams.attributionStream(
      mkStream.filter(col("event_type") === "purchase"),
      spark.readStream.schema(schema).parquet(watchDir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        .filter(col("event_type") === "click"))
    val q2 = attr.writeStream.outputMode("append")
      .format("memory").queryName("attr").start()
    q2.processAllAvailable(); q2.stop()
    val nAttr = spark.table("attr").count()
    val nPurch = spark.read.parquet(watchDir)
      .filter(col("event_type") === "purchase").count()
    println(s"stream-stream attribution: $nAttr (purchase,click) pairs " +
      s"for $nPurch purchases")

    // stateful sessionization with event-time timeout: sessions close on
    // the 30-min gap AND idle sessions flush once the watermark passes
    // last-event + gap — no successor event needed (Streams.sessionize)
    import spark.implicits._
    val evTyped = spark.readStream.schema(schema).parquet(watchDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .select(col("event_id").cast("long"), col("ts"),
        col("user_id").cast("long"), col("event_type"),
        col("value").cast("double")).as[Streams.Event]
    val q3 = Streams.sessionize(evTyped)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    q3.processAllAvailable(); q3.stop()
    val sess = spark.table("sessions")
    println(s"sessionization: ${sess.count()} sessions emitted " +
      s"(gap-closed + watermark-flushed) over " +
      s"${sess.select("user_id").distinct().count()} users")

    val streamed = spark.table("rollup")
      .agg(sum("n").cast("long"), round(sum("soma_valor"), 2)).head()
    val batchTwin = Streams.hourlyRollup(
      graft.Tables.events(spark, "/root/testdata/sf0.001").unionAll(
        graft.Tables.events(spark, "/root/testdata/sf0.01")))
      .agg(sum("n").cast("long"), round(sum("soma_valor"), 2)).head()
    println(s"streamed totals: $streamed | batch twin: $batchTwin | " +
      s"match: ${streamed == batchTwin}")

    // incremental near-dup detection over a document stream: the per-band
    // stateful LSH index (candidates) and the hamming-verified SimHash64
    // form, each checked against its batch twin on the same corpus
    val docDir = "/root/testdata/sf0.001"
    val nLsh = Streams.dedupMinhashStreamed(spark, docDir).count()
    val nLshBatch = graft.text.TextOps.minhashLsh(spark, docDir).count()
    println(s"streamed LSH dedup: $nLsh candidate pairs | batch twin: " +
      s"$nLshBatch | match: ${nLsh == nLshBatch}")
    val nSim = Streams.dedupSimhashStreamed(spark, docDir).count()
    val nSimBatch = graft.text.TextOps.simhashPairs64(spark, docDir).count()
    println(s"streamed simhash near-dup: $nSim verified pairs | batch twin: " +
      s"$nSimBatch | match: ${nSim == nSimBatch}")
    spark.stop()
  }
}
