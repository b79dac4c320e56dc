package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `foreachBatch` + idempotent-MERGE sink pattern — the production
  * Structured Streaming surface the memory/append sinks elsewhere in
  * graft.streaming don't exercise: each microbatch's delta is MERGED
  * into a keyed state table, and a replayed batch id is a no-op, so the
  * at-least-once delivery of the engine composes to exactly-once state.
  * This is how every streaming-lakehouse ingest (foreachBatch + MERGE
  * INTO) is actually written; here the state table is versioned parquet
  * and the MERGE is union + re-aggregate, which is semantically the
  * associative-merge special case of MERGE INTO.
  *
  * Scale: the per-batch delta aggregates BEFORE the merge (map-side
  * combinable), the state table is keyed by user_id and rewritten per
  * batch — at 100 TB the rewrite becomes a partitioned MERGE INTO on
  * the key (same dataflow, storage-format detail), and the batch-id
  * ledger lives in the table's commit log instead of the state
  * directories' `v<version>_b<batchId>` names.
  * The running sum is kept as exact integer 1e-4 micros, so merge order
  * and batch boundaries cannot perturb it.
  */
object UpsertStreams {

  /** One merge step: previous state (None for the first batch) ∪ the
    * batch's aggregated delta, re-aggregated per key. Associative and
    * commutative by construction — counts and integer micros add, the
    * timestamp takes max — which is exactly what makes the sink safe
    * under microbatch re-slicing.
    */
  def mergeStep(state: Option[DataFrame], delta: DataFrame): DataFrame = {
    val all = state.map(_.unionByName(delta)).getOrElse(delta)
    all.groupBy("user_id")
      .agg(sum("n_events").as("n_events"),
        sum("sum_micros").as("sum_micros"),
        max("last_ts").as("last_ts"))
  }

  /** Per-batch delta aggregation: value snapped to the 1e-4 grid as
    * LONG micros (the exactSum discipline, kept integer so cross-batch
    * accumulation is order-exact).
    */
  def deltaAgg(batch: DataFrame): DataFrame =
    batch.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1e4 + 0.5).cast("long")).as("sum_micros"),
        max(col("ts")).as("last_ts"))

  /** Streaming upsert over the events fixture: the fixture is staged as
    * THREE slice files and read with maxFilesPerTrigger=1, so the merge
    * sink genuinely accumulates across microbatches (a single-batch run
    * would never exercise the state ∪ delta path). Returns the final
    * state table; the result is a set property of the corpus —
    * independent of the slicing — so the batch oracle verifies any
    * microbatch layout.
    */
  def streamingUpsert(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.withStreamConf(spark) {
      val events = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      // local staging harness: slice by event_id so every slice carries
      // every user; a cluster deployment reads a real landing directory
      val (slices, _) = StreamHarness.stageSlices(
        events, pmod(col("event_id"), lit(3)), 0 to 2)
      StreamHarness.runVersionedMerge(slices)((prev, batch) => mergeStep(prev, deltaAgg(batch)))
        .select(col("user_id"),
          col("n_events"),
          graft.functions.Metrics.canonRound(col("sum_micros").cast("double") / 1e4, 4)
            .as("sum_value"),
          col("last_ts").cast("timestamp_ntz").as("last_ts"))
        .orderBy("user_id")
    }
}
