package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{Session, SparkSpec}

/** State-store substrate pins — the two properties that make stateful
  * streaming credible at 100 TB:
  *
  *  - RocksDB state store: the default HDFS-backed in-memory provider
  *    holds every key in executor heap; at real state sizes the
  *    answer is `RocksDBStateStoreProvider` (disk-spilling, ships
  *    in-box). The aggregation semantics must be IDENTICAL under
  *    either provider — this spec runs the same windowed count under
  *    both and compares results exactly.
  *
  *  - Checkpoint recovery: a production stream is restarted (deploys,
  *    preemptions) and must resume from its write-ahead offsets with
  *    no loss and no double counting. The spec stops a query between
  *    two file arrivals and restarts it on the SAME checkpoint; the
  *    final counts must equal the single-run batch answer.
  */
class StateStoreSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def feed(dir: String, name: String, rows: Seq[(Long, Timestamp)]): Unit = {
    import spark.implicits._
    val staging = Files.createTempDirectory("graft_ss_stage_")
    rows.toDF("event_id", "ts").coalesce(1)
      .write.mode("overwrite").parquet(staging.toString)
    val listing = Files.list(staging)
    try {
      val part = listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    } finally listing.close()
  }

  private def windowed(src: DataFrame): DataFrame =
    src.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))

  private val rows1 = Seq(
    (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:04:00")),
    (3L, ts("2024-01-01 10:12:00")))
  private val rows2 = Seq(
    (4L, ts("2024-01-01 10:07:00")), // lands in the FIRST window: state reuse
    (5L, ts("2024-01-01 10:21:00")))

  private def runToEnd(dir: String, queryName: String, checkpoint: String): Unit = {
    val schema = spark.read.parquet(s"$dir").schema
    val q = windowed(spark.readStream.schema(schema).parquet(dir))
      .writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
  }

  test("RocksDB state store produces byte-identical aggregation results") {
    def runWith(provider: Option[String]): Map[Timestamp, Long] =
      Session.withConf(spark,
          provider.map("spark.sql.streaming.stateStore.providerClass" -> _).toSeq: _*) {
        val dir = Files.createTempDirectory("graft_ss_rocks_").toString
        feed(dir, "b1.parquet", rows1)
        feed(dir, "b2.parquet", rows2)
        val name = s"ss_${provider.isDefined}"
        runToEnd(dir, name, Files.createTempDirectory("graft_ck_").toString)
        spark.table(name).collect()
          .map(r => r.getTimestamp(0) -> r.getLong(1))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max } // Update mode: last wins
      }
    val default = runWith(None)
    val rocks = runWith(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(default == rocks, s"default=$default rocks=$rocks")
    assert(rocks(ts("2024-01-01 10:00:00")) == 3L) // 2 in batch1 + 1 in batch2
  }

  test("restart from checkpoint resumes without loss or double counting") {
    // the memory sink refuses recovery by design; foreachBatch is the
    // recoverable sink (the q203 upsert pattern)
    val dir = Files.createTempDirectory("graft_ss_restart_").toString
    val ck = Files.createTempDirectory("graft_ck_restart_").toString
    def runOnce(): Unit = {
      val schema = spark.read.parquet(dir).schema
      val q = windowed(spark.readStream.schema(schema).parquet(dir))
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ck)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r =>
            StateStoreSpec.sink.put(r.getTimestamp(0), r.getLong(1)))
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    StateStoreSpec.sink.clear()
    feed(dir, "b1.parquet", rows1)
    runOnce() // first run sees only batch 1, then stops
    feed(dir, "b2.parquet", rows2)
    runOnce() // RESTART on the same checkpoint
    // the restarted run's updates layered over run 1 must equal the
    // one-shot batch answer — event 4 UPDATES the 10:00 window to 3
    // (state survived the restart), not a fresh count of 1
    import scala.jdk.CollectionConverters._
    assert(StateStoreSpec.sink.asScala.toMap == Map(
      ts("2024-01-01 10:00:00") -> 3L,
      ts("2024-01-01 10:10:00") -> 1L,
      ts("2024-01-01 10:20:00") -> 1L), StateStoreSpec.sink.toString)
  }
}

object StateStoreSpec {
  /** foreachBatch runs on executor-thread closures in local mode; a
    * concurrent map keyed by window start — Update mode re-puts a
    * window with its latest count, so plain last-write-wins is the
    * merge.
    */
  val sink = new java.util.concurrent.ConcurrentHashMap[Timestamp, Long]()
}
