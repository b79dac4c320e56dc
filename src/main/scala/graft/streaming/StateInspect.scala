package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.registry.GQuery

/** State-store INTROSPECTION via Spark 4's State Data Source: read a
  * stopped streaming query's checkpoint state back as a DataFrame
  * (`spark.read.format("statestore")`) and verify it against the
  * batch-relational answer. This is the ops surface a production
  * streaming deployment leans on — "what is actually IN the state
  * store?" during an incident, state-size audits, offline validation of
  * a checkpoint before a risky restart — expressed as a plain query.
  *
  * The pipeline: a checkpointed tumbling-count aggregation runs over the
  * staged fixture to a noop sink and stops. The data arrives as one
  * micro-batch, and processAllAvailable then runs a FINAL EMPTY batch
  * that advances the watermark to max(ts) − delay and EVICTS every
  * closed window — so the surviving state is precisely the open tail:
  * windows with end > max(ts) − 2h. The state read projects the store's
  * (key, value) pairs — key fields are the grouping columns (the window
  * struct keeps its internal name `window`; the state value keeps the
  * aggregate's BUFFER name `count`, not the query alias) — and the
  * DuckDB oracle recomputes those counts relationally WITH the eviction
  * predicate replayed as a HAVING clause. A hash match therefore
  * certifies the whole loop (ingest → stateful agg → checkpoint → state
  * read) INCLUDING the exact watermark-eviction boundary.
  *
  * Scale shape: the state source reads one store per shuffle partition
  * in parallel (partition_id is exposed; StateSourceSpec pins that the
  * per-partition union IS the whole) — at 100 TB this is the same
  * parallel scan any table gets, and the state-metadata source
  * (`format("state-metadata")`) lists operators/stores/batch ranges
  * without touching data, which is what you check FIRST in an incident.
  */
object StateInspect {

  /** Run the checkpointed tumbling count, stop it, read its state back.
    * Returns (stateRead, checkpointDir) — the dir for spec-side
    * metadata assertions.
    */
  def tumblingState(spark: SparkSession, dir: String): (DataFrame, String) =
    StreamHarness.withStreamConf(spark) {
      val ckpt = TempDirs.create("graft_stateinspect_ckpt_")
      val agg = EventStreams.eventsStream(spark, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      StreamHarness.runQuery(agg.writeStream
        .outputMode(OutputMode.Append)
        .format("noop")
        .option("checkpointLocation", ckpt.toString))()
      val st = spark.read.format("statestore").option("path", ckpt.toString).load()
      val out = st.select(
        col("key.window.start").cast("timestamp_ntz").as("hour_start"),
        col("key.event_type").as("event_type"),
        col("value.count").as("n"))
        .orderBy("hour_start", "event_type")
      (out, ckpt.toString)
    }

  val q258 = GQuery(
    "q258_state_inspect",
    (s, dir) => tumblingState(s, dir)._1,
    Some("""WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mt FROM events)
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        event_type, count(*) AS n
      FROM events, mx
      GROUP BY 1, 2, mx.mt
      HAVING hour_start + INTERVAL 1 HOUR > mx.mt - INTERVAL 2 HOURS
      ORDER BY hour_start, event_type"""))

  def all: Seq[GQuery] = Seq(q258)
}
