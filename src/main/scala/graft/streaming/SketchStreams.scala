package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.KmvSketch

/** Streaming-maintained KMV sketch — the sketch-family member of the
  * incremental-maintenance story (q181 maintains a rollup, q215 a band
  * index, this a distinct/overlap sketch): per micro-batch the delta's
  * per-source k-minimum fingerprints merge into the sketch state, and
  * because k-min-of-union is ASSOCIATIVE and COMMUTATIVE
  * (kmin(A ∪ B) = kmin(kmin(A) ∪ kmin(B))), the final state equals the
  * batch-built sketch for ANY micro-batch slicing. The post-stream
  * overlap report is therefore identical to q219's, and q221 reuses
  * q219's oracle VERBATIM — the q179/q181 zero-drift argument.
  *
  * The merge is the q203 foreachBatch idiom: versioned parquet state,
  * idempotent batch-id guard, delta aggregated (to its own k-min)
  * BEFORE the merge so the state table stays k·|sources| rows however
  * large the stream. At 100 TB the sketch state is kilobytes per
  * source — the entire point of maintaining the sketch instead of the
  * corpus.
  */
object SketchStreams {

  /** One merge step: k-min of (state ∪ delta) per source, after
    * dropping duplicate (source, h) rows — the same text may arrive in
    * several batches.
    */
  def mergeStep(state: Option[DataFrame], delta: DataFrame, k: Int): DataFrame = {
    val all = state.map(_.unionByName(delta)).getOrElse(delta)
      .select(col("source"), col("h")).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("h")
    all.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("source"), col("h"))
  }

  /** Stream the (augmented) corpus in three doc_id-sliced micro-batches,
    * maintain the per-source KMV state, and return q219's overlap report
    * computed from the STREAM-BUILT sketch.
    */
  def streamingKmv(spark: SparkSession, dir: String, k: Int = 32): DataFrame =
    StreamHarness.withStreamConf(spark) {
      val docs = KmvSketch.augmentedDocs(spark, dir)
      val (slices, _) = StreamHarness.stageSlices(
        docs.select(col("doc_id"), col("source"), col("text")),
        pmod(col("doc_id"), lit(3)), 0 to 2)
      val state = StreamHarness.runVersionedMerge(slices) { (prev, batch) =>
        mergeStep(prev, KmvSketch.sketch(batch, k).select(col("source"), col("h")), k)
      }
      KmvSketch.overlapReport(spark, dir, state)
    }

  /** Streaming-maintained QUANTILE sketch (q226, the q221 idiom pointed
    * at plans.QuantileSketchAgg): per micro-batch the arriving orders
    * rows aggregate to per-quarter delta sketches (`graft_qsketch`) and
    * merge into the persisted quarter state (`graft_qsketch_merge`) —
    * delta reduced to its own bottom-k BEFORE the merge, so the state
    * stays ≤ k pairs per quarter for any stream size. k-min-of-union
    * associativity makes the final state equal the batch build for ANY
    * slicing, so the returned report is q225's and reuses its oracle
    * verbatim.
    */
  def streamingQuantileSketch(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.withStreamConf(spark) {
      import graft.operators.QuantileSketchQueries
      val k = QuantileSketchQueries.K
      val rows = QuantileSketchQueries.base(spark, dir)
        .select(col("qkey"), col("h"), col("v"))
      val (slices, _) = StreamHarness.stageSlices(
        rows, pmod(col("h"), lit(3)), 0 to 2)
      val state = StreamHarness.runVersionedMerge(slices) { (prev, batch) =>
        val delta = batch.groupBy("qkey")
          .agg(call_function("graft_qsketch", col("h"), col("v"), lit(k)).as("sk"))
        prev.map(_.unionByName(delta)).getOrElse(delta)
          .groupBy("qkey")
          .agg(call_function("graft_qsketch_merge", col("sk"), lit(k)).as("sk"))
      }
      QuantileSketchQueries.report(spark, dir, state)
    }

  /** Streaming-maintained count-min sketch (q247): per micro-batch the
    * arriving documents' feature stream reduces to its own D·W count
    * matrix BEFORE the merge, so the state stays ≤ D·W rows however
    * large the stream; matrix addition is associative and commutative,
    * so the final state equals the batch-built global matrix for any
    * slicing and the post-stream heavy-hitter report is q246's (oracle
    * reused VERBATIM).
    */
  def streamingCms(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.withStreamConf(spark) {
      import graft.operators.CountMinSketch
      val docs = graft.Tables.documents(spark, dir)
      val (slices, _) = StreamHarness.stageSlices(
        docs, pmod(col("doc_id"), lit(3)), 0 to 2)
      val state = StreamHarness.runVersionedMerge(slices) { (prev, batch) =>
        val delta = CountMinSketch.mergeMatrices(CountMinSketch.langMatrices(batch))
        prev.map(_.unionByName(delta)).getOrElse(delta)
          .groupBy("r", "b").agg(sum("c").as("c"))
      }
      CountMinSketch.heavyHitters(docs, state)
    }
}
