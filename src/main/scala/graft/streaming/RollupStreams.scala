package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Tables

/** Continuous incremental rollup maintenance — the streaming twin of the
  * batch q179 merge, and the answer to "how does the materialized
  * summary stay fresh between refreshes": the delta feed streams in,
  * ONE stateful aggregation keeps the running (key → count, sum)
  * partials (count/sum are commutative-mergeable, so state size is the
  * KEY CARDINALITY, never the row volume — the same boundedness
  * argument as the q98 HLL rollup, in streaming form), and the merge
  * with the static base rollup is the batch finisher on the sink.
  *
  * Because the partials are order-independent, the collected result is
  * identical for ANY micro-batching of the delta — StreamingSpec pins
  * the multi-batch case, and the GQuery reuses q179's oracle VERBATIM
  * (zero drift possible between the streaming and batch contracts).
  */
object RollupStreams {

  /** @param source the delta feed as a stream (orders schema)
    * @return q179's changelog shape: (o_custkey, action, n_orders, rev_cents)
    */
  def streamingRollup(spark: SparkSession, source: DataFrame, staticDir: String): DataFrame =
    StreamHarness.withStreamConf(spark) {
      val cents = (c: org.apache.spark.sql.Column) => floor(c * 100 + 0.5).cast("long")
      val running = source
        .filter(col("o_orderkey") % 10 === 0)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_delta"), sum(cents(col("o_totalprice"))).as("rev_delta"))
      val deltaState = StreamHarness.runToMemory(running, OutputMode.Complete)()
      // batch finisher: merge the final streamed partials into the static
      // base rollup — identical to TableMaintenance.incrementalRollup's
      // merge stage, hence the shared oracle
      val base = Tables.orders(spark, staticDir)
        .filter(col("o_orderkey") % 10 =!= 0)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_old"), sum(cents(col("o_totalprice"))).as("rev_old"))
      deltaState.join(base, Seq("o_custkey"), "left")
        .select(col("o_custkey"),
          when(col("n_old").isNull, lit("insert")).otherwise(lit("update")).as("action"),
          (coalesce(col("n_old"), lit(0L)) + col("n_delta")).as("n_orders"),
          (coalesce(col("rev_old"), lit(0L)) + col("rev_delta")).as("rev_cents"))
        .orderBy("o_custkey")
    }
}
