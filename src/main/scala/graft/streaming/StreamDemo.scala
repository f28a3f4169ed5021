package graft.streaming

import org.apache.spark.sql.functions._

/** CLI surface for the streaming operators: replays the events table as a
  * file-source stream (one parquet file = one micro-batch input) through
  * [[StreamingRecency.windowedLatest]] and prints the finalized windows.
  *
  * Usage: sbt "runMain graft.streaming.StreamDemo [sfDir]"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.builder(4).getOrCreate()

    // File-source stream over the events parquet; same schema-adaptive ts
    // normalization as the batch Tables.events (NTZ micros -> timestamp, or
    // legacy ns long -> timestamp). The file source wants a directory, so
    // the (read-only) table file is linked into a scratch dir — on a real
    // deployment this is the landing directory new files arrive in.
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Path.of(s"$sfDir/events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val tsNorm: org.apache.spark.sql.Column = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case _: org.apache.spark.sql.types.TimestampNTZType |
           _: org.apache.spark.sql.types.TimestampType =>
        col("ts").cast("timestamp")
      // same fail-fast as Tables.events: an unknown layout must not
      // silently cast to NULL timestamps and empty windowed output
      case other => throw new IllegalStateException(
        s"testdata changed: events.ts is now $other (expected TIMESTAMP_NTZ, " +
        "TIMESTAMP, or legacy nanos-as-long) — update StreamDemo/Tables.events")
    }
    val stream = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .withColumn("ts", tsNorm)
      .withColumn("headline", concat(lit("event:"), col("event_id")))
      .withColumn("key", col("user_id").cast("string"))

    val q = StreamingRecency
      .windowedLatest(stream, "key", "ts", "headline",
        watermark = "1 hour", windowLen = "1 day")
      .writeStream.format("memory").queryName("demo").outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()

    val out = spark.table("demo")
    val n = out.count()
    val keys = out.select("key").distinct().count()
    // Finalized (key, day) windows: bounded by watermark; the open tail
    // windows are still in state, exactly as they would be on a live feed.
    println(s"STREAM_DEMO finalized_windows=$n keys=$keys")
    out.orderBy("key", "window_start").show(5, truncate = false)

    // Streaming exact dedup over the same feed: "content" = the key, so
    // each user's stream of events collapses to its first occurrence per
    // watermark window.
    val q2 = StreamingDedup
      .exactWithinWatermark(stream, "key", "ts", "1 hour")
      .writeStream.format("memory").queryName("demo_dedup")
      .outputMode("append").start()
    q2.processAllAvailable()
    q2.stop()
    val total = spark.read.parquet(streamDir.toString).count()
    println(s"STREAM_DEMO dedup_emitted=${spark.table("demo_dedup").count()} from_raw=$total")

    // Native session windows on the live feed: sessions finalize as the
    // watermark passes their end; the open tail stays in state.
    val q3 = stream
      .withWatermark("ts", "1 hour")
      .groupBy(col("key"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName("demo_sessions")
      .outputMode("append").start()
    q3.processAllAvailable()
    q3.stop()
    println(s"STREAM_DEMO finalized_sessions=${spark.table("demo_sessions").count()}")

    // Streaming near-dup candidates: headlines band by minhash signature;
    // re-crawled duplicates pair against bucket residents as they arrive.
    val q4 = StreamingNearDedup
      .nearDupPairs(stream.select(col("event_id").as("doc_id"),
          concat(lit("event text "), pmod(col("event_id"), lit(50))).as("text"),
          col("ts")),
        "doc_id", "text", "ts", minEstJaccard = 0.99)
      .writeStream.format("memory").queryName("demo_neardup")
      .outputMode("append").start()
    q4.processAllAvailable()
    q4.stop()
    println(s"STREAM_DEMO neardup_pairs=${spark.table("demo_neardup").count()}")
    spark.stop()
  }
}
