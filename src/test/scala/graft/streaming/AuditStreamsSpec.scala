package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class AuditStreamsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermark drops are counted and observe() audits every arriving row") {
    import spark.implicits._
    val dir = TempDirs.create("graft_audit_")
    def feed(rows: Seq[(Long, Timestamp)], name: String): Unit =
      Landing.feed(rows.toDF("event_id", "ts"), dir, name)
    // batch 1: three on-time rows; max ts 12:00 → watermark 11:30
    feed(Seq((1L, ts("2024-01-01 11:00:00")), (2L, ts("2024-01-01 11:05:00")),
      (3L, ts("2024-01-01 12:00:00"))), "b1.parquet")
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val q = AuditStreams.windowCounts(
        spark.readStream.schema(schema).parquet(dir.toString))
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("audit_spec").start()
    q.processAllAvailable()
    // batch 2: one fresh row + one STRAGGLER behind the 11:30 watermark
    feed(Seq((4L, ts("2024-01-01 12:10:00")),
      (5L, ts("2024-01-01 09:00:00"))), "b2.parquet")
    q.processAllAvailable()
    val progresses = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()

    // channel 1: observe() saw every ARRIVING row, per batch (3 then 2 —
    // including the straggler the aggregation goes on to drop)
    val audits = progresses.flatMap(p =>
      Option(p.observedMetrics.get("ingest_audit")))
    assert(audits.map(_.getLong(0)).toSeq == Seq(3L, 2L),
      audits.mkString(";"))
    // channel 2: exactly the straggler was dropped by the watermark
    val dropped = progresses.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    assert(dropped.sum == 1L, dropped.mkString(","))
    // and the OUTPUT never contains a 09:00 window — the loss is silent
    // in the data, visible only through the counter
    val starts = spark.table("audit_spec").collect()
      .map(_.getTimestamp(0).toString).sorted
    assert(starts.head.startsWith("2024-01-01 11:00"), starts.mkString(","))
    val n = spark.table("audit_spec").groupBy().sum("n").head().getLong(0)
    assert(n == 4L, s"update-mode rows should total the 4 kept events, got $n")
  }
}
