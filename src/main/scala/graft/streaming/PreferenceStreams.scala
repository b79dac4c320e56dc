package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.BradleyTerry

/** Streaming-maintained Bradley-Terry win matrix (the q221/q226/q239
  * idiom pointed at q242's preference model): pairwise judgments are
  * the canonical ARRIVING event of an RLHF labeling pipeline, so the
  * engine maintains the |sources|² win matrix incrementally — per
  * micro-batch the arriving comparison rows reduce to their own
  * (lo, hi) counts before the merge, so the persisted state stays ≤ k²
  * rows for ANY stream size. Count-sum associativity makes the final
  * state equal the one-shot matrix for any slicing, so the post-stream
  * MM fit is q242's and q245 reuses its oracle VERBATIM (the q179/q181
  * zero-drift argument).
  */
object PreferenceStreams {

  /** Stream the comparison-event rows in three doc_id-sliced
    * micro-batches, maintain the win-matrix state, and return q242's
    * ranking computed from the STREAM-BUILT matrix.
    */
  def streamingBradleyTerry(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.withStreamConf(spark) {
      val docs = graft.Tables.documents(spark, dir)
      // the judgment stream: generation happens batch-side (it needs
      // the adjacency window); what STREAMS is the per-event grain
      val comps = BradleyTerry.comparisonRows(docs)
      val (slices, _) = StreamHarness.stageSlices(
        comps, pmod(col("doc_id"), lit(3)), 0 to 2)
      val state = StreamHarness.runVersionedMerge(slices) { (prev, batch) =>
        // delta reduced to its own matrix BEFORE the merge: the
        // state write is always ≤ k² + k² rows, never event-sized
        val delta = BradleyTerry.matrixFrom(batch)
        prev.map(_.unionByName(delta)).getOrElse(delta)
          .groupBy("lo", "hi")
          .agg(sum("n").as("n"), sum("wlo").as("wlo"))
      }
      BradleyTerry.rankingFromMatrix(spark, state)
    }
}
