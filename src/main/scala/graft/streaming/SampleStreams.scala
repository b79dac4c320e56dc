package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.WeightedSample

/** Streaming-maintained priority sample (the q221/q226 idiom pointed at
  * q229's Duffield-Lund-Thorup sampler): per micro-batch the arriving
  * documents' row-local priorities reduce to their own per-group
  * top-(k+1) and merge into the persisted state — which stays ≤ (k+1)
  * rows per group for ANY stream size, the reservoir property that
  * makes a weighted sample maintainable over an unbounded ingest
  * stream. Top-(k+1)-of-union associativity makes the final state
  * equal the batch build for any slicing, so the post-stream report is
  * q229's and q233 reuses its oracle VERBATIM (the q179/q181 zero-drift
  * argument).
  */
object SampleStreams {

  /** Stream the documents table in three doc_id-sliced micro-batches,
    * maintain the per-lang top-(k+1) priority state, and return q229's
    * report computed from the STREAM-BUILT state.
    */
  def streamingPrioritySample(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.withStreamConf(spark) {
      val docs = graft.Tables.documents(spark, dir)
      val (slices, _) = StreamHarness.stageSlices(
        docs, pmod(col("doc_id"), lit(3)), 0 to 2)
      val state = StreamHarness.runVersionedMerge(slices) { (prev, batch) =>
        // topState's partial aggregation reduces the raw batch
        // priorities map-side, so the state write stays (k+1)·|langs|
        // rows however large the batch; the replay guard (not a
        // distinct) is what prevents duplicate doc delivery
        val delta = WeightedSample.priorities(batch)
        WeightedSample.topState(prev.map(_.unionByName(delta)).getOrElse(delta))
          .select(col("lang"), col("prio"), col("doc_id"))
      }
      WeightedSample.report(WeightedSample.topState(state), docs)
    }

  /** Streaming-maintained DSIR raw-pool model (q239): the raw corpus
    * arrives in micro-batches and the hashed-bucket count model — the
    * expensive md5-per-feature aggregation — is maintained by per-batch
    * count merges (delta reduced to its own ≤ B-row bucket counts before
    * the merge, so state stays ≤ B rows for any stream size). Count-sum
    * associativity makes the stream-built model equal the batch build
    * for any slicing, so the final selection is q230's and q239 reuses
    * its oracle VERBATIM.
    */
  def streamingDsirSelect(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.withStreamConf(spark) {
      import graft.operators.DsirSelect
      val docs = graft.Tables.documents(spark, dir)
      val (_, raw) = DsirSelect.corpora(docs)
      val (slices, _) = StreamHarness.stageSlices(
        raw, pmod(col("doc_id"), lit(3)), 0 to 2)
      val state = StreamHarness.runVersionedMerge(slices) { (prev, batch) =>
        val delta = DsirSelect.rawBuckets(batch)
        prev.map(_.unionByName(delta)).getOrElse(delta)
          .groupBy("b").agg(sum("cr").as("cr"))
      }
      DsirSelect.selectGiven(docs, state)
    }
}
