package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Watermark semantics end-to-end: append-mode windowed aggregation over a
  * file stream fed two micro-batches, where batch 2 contains an event
  * later than the watermark allows — it must be silently dropped from its
  * already-finalized window.
  */
class WatermarkSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("append-mode windowed agg drops events behind the watermark") {
    import spark.implicits._
    val dir = TempDirs.create("graft_wm_")

    val b1 = Seq(
      (1L, ts("2024-01-01 10:05:00"), 1.0),
      (2L, ts("2024-01-01 10:10:00"), 2.0),
      (3L, ts("2024-01-01 12:00:00"), 4.0) // drags watermark past 10:30
    ).toDF("event_id", "ts", "value")
    val b2 = Seq(
      (4L, ts("2024-01-01 10:20:00"), 100.0), // late — must be dropped
      (5L, ts("2024-01-01 12:40:00"), 8.0)    // closes the 12:00 window
    ).toDF("event_id", "ts", "value")

    Landing.feed(b1, dir, "batch1.parquet")
    val stream = spark.readStream.schema(b1.schema)
      .parquet(dir.toString)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes").as("w"))
      .agg(sum("value").as("total"), count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm_spec").start()
    q.processAllAvailable() // batch 1 only → watermark now 11:50
    Landing.feed(b2, dir, "batch2.parquet")
    q.processAllAvailable() // batch 2: late row dropped, 12:00 window closes
    q.stop()

    val out = spark.table("wm_spec")
      .select(col("w.start").cast("string"), col("total"), col("n"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // the 10:00 window finalized with ONLY batch-1 events — 100.0 never lands
    assert(out("2024-01-01 10:00:00") == ((3.0, 2L)), s"got $out")
    // the 12:00 window closed once 12:40 advanced the watermark
    assert(out("2024-01-01 12:00:00") == ((4.0, 1L)), s"got $out")
    // nothing else was emitted (12:30 window still open at stop)
    assert(out.size == 2, s"got $out")
  }
}
