package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming session_window: watermarked gap sessions over the event
  * file stream must agree with the batch q79 plan on every session the
  * watermark has closed (append mode can only emit sessions whose
  * close time precedes the final watermark — sessions ending within
  * the last watermark interval of the data legitimately stay open). */
class StreamSessionWindowSpec extends SparkSpec {

  test("streaming session_window sessions ≡ the batch sessions it has closed") {
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val dir = "/root/testdata/sf0.001"
      val streamDir = java.nio.file.Files.createTempDirectory("graft_ssw")
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))

      val stream = graft.streaming.StreamingOps
        .eventsStream(spark, streamDir.toString)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"))

      withConf("spark.sql.shuffle.partitions" -> "8") {
        val q = stream.writeStream
          .format("memory").queryName("ssw_sink")
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }

      val streamed = spark.table("ssw_sink")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
      val batch = Tables.events(spark, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

      assert(streamed.nonEmpty, "stream emitted no closed sessions")
      assert(streamed.subsetOf(batch),
        s"streamed sessions not in batch result: ${(streamed -- batch).take(5)}")
      // the watermark can hold back only sessions near the end of data —
      // the overwhelming majority must have closed and matched
      assert(streamed.size >= batch.size * 9 / 10,
        s"only ${streamed.size}/${batch.size} sessions closed")
    }
  }
}
