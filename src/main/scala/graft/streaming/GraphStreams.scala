package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, DedupQueries}

/** Streaming INCREMENTAL connected components — the graph × streaming
  * intersection (r11 VERDICT item 5): near-dup edges arrive in
  * micro-batches (in production, q215's streaming band index emits them
  * as documents land) and the component state is maintained per batch
  * instead of re-clustering the corpus.
  *
  * State = the union-find FOREST as a table: one (id, comp) row per
  * non-root node, comp the component's minimum id — exactly
  * ConnectedComponents.components' output contract, so state size is
  * bounded by the number of non-root NODES regardless of how many edges
  * ever arrived (each batch's edges collapse into the forest). The merge
  * step feeds state rows back in as edges alongside the delta:
  * a spanning forest preserves connectivity, so
  * CC(forest(E₁) ∪ E₂) = CC(E₁ ∪ E₂) — the invariant that makes the
  * final state equal the batch clustering over the FULL edge set for ANY
  * micro-batch slicing, which is why q227 reuses q83's oracle VERBATIM
  * (the q179/q181/q221 argument). Labels stay canonical (component-min)
  * at every step because min is associative over the merge.
  *
  * Versioned-parquet state + replay-guarded foreachBatch is the
  * q203/q221 local-harness idiom; at scale the state is a real table and
  * each merge is components() over (state ∪ delta) — whose input is
  * forest + delta edges, NOT the full history, so per-batch cost tracks
  * the delta and the touched components only.
  */
object GraphStreams {

  /** One merge step, exposed for the spec: components of
    * (state-as-edges ∪ delta).
    */
  def mergeStep(state: Option[DataFrame], delta: DataFrame): DataFrame = {
    val stateEdges = state.map(_.select(col("id").as("u"), col("comp").as("v")))
    val all = stateEdges.map(_.unionByName(delta)).getOrElse(delta)
    ConnectedComponents.components(all)
      .select(col("id"), col("comp"))
  }

  /** Slice q83's near-dup edge set into three micro-batches, maintain
    * the component forest across them, and return q83's cluster report
    * computed from the STREAM-BUILT state.
    */
  def streamingComponents(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.withStreamConf(spark) {
      // the edge pipeline (minhash + banded self-join + eq-count filter)
      // runs exactly ONCE: stageSlices writes every slice in a single
      // pass, so it needs no cache+count against three per-slice scans
      val edges = DedupQueries.dedupEdges(spark, dir)
      val (slices, _) = StreamHarness.stageSlices(
        edges, pmod(xxhash64(col("u"), col("v")), lit(3)), 0 to 2)
      val state = StreamHarness.runVersionedMerge(slices) { (prev, batch) =>
        mergeStep(prev, batch.select(col("u"), col("v")))
      }
      DedupQueries.clusterReport(spark, dir, state)
    }
}
