package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming demo main: the events fixture replayed as a bounded file
  * stream (Trigger.AvailableNow drains all existing files, then stops),
  * aggregated with [[Streaming.windowedEventCounts]] into a memory sink.
  * Run: `sbt "runMain graft.streaming.StreamingDemo /root/testdata/sf0.001"`.
  * No oracle obligation (SURVEY §7.5) — the batch-equivalent plan is
  * covered by the events_json_agg / sessionize oracles. */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkEntry.sessionBuilder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The file-stream source watches a DIRECTORY for new files; the
    // fixture is a single parquet file, so stage it into a temp dir —
    // exactly how a production drop-folder ingest would receive files.
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(src, dir.resolve("events-000.parquet"))

    // A streaming source needs a fixed schema up front (no per-batch
    // inference) — take it from a batch peek of the same path.
    val schema = spark.read.parquet(src.toString).schema
    val raw = Streaming.readParquetStream(spark, dir.toString, schema)
      .withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))

    val counts = Streaming.windowedEventCounts(
      raw, windowLength = "6 hours", watermarkDelay = "1 hour")

    val query = counts.writeStream
      .format("memory").queryName("event_counts")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()

    spark.table("event_counts")
      .orderBy("window_start", "event_type")
      .show(40, truncate = false)
    spark.stop()
  }
}
