package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** State Data Source introspection (q258): properties the oracle gate
  * can't see — the state-metadata listing and the per-partition
  * decomposition of the state read.
  */
class StateInspectSpec extends SparkSpec {

  test("state read ≡ evicted-tail batch answer; metadata lists the operator; partitions union to the whole") {
    val (state, ckpt) = StateInspect.tumblingState(spark, sf001)
    val got = state.collect().map(r =>
      (r.getAs[java.time.LocalDateTime]("hour_start").toString,
        r.getString(1), r.getLong(2)))

    // batch twin with the eviction predicate replayed (the q258 oracle's
    // semantics, computed in Spark so the spec is self-contained)
    val e = graft.Tables.events(spark, sf001)
    val maxTs = e.agg(max(col("ts"))).head.getAs[java.sql.Timestamp](0)
    val expected = e
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("window.end") > lit(maxTs) - expr("INTERVAL 2 HOURS"))
      .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n"))
      .orderBy("hour_start", "event_type")
      .collect().map(r =>
        (r.getAs[java.time.LocalDateTime]("hour_start").toString,
          r.getString(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)

    // state-metadata: one stateStoreSave operator, store "default",
    // partition count = one state store per scheduler slot, capped at 8
    // (EventStreams.withStreamShufflePartitions)
    val meta = spark.read.format("state-metadata").option("path", ckpt).load()
      .select("operatorId", "operatorName", "stateStoreName", "numPartitions")
      .collect()
    assert(meta.length === 1, meta.mkString(";"))
    assert(meta.head.getString(1) === "stateStoreSave")
    assert(meta.head.getString(2) === "default")
    val nParts = meta.head.getInt(3)
    assert(nParts === math.min(8, spark.sparkContext.defaultParallelism))

    // the per-partition reads decompose the whole: every row carries a
    // partition_id < numPartitions and the union over partitions IS the
    // full state (this is what makes the 100 TB state scan parallel)
    val raw = spark.read.format("statestore").option("path", ckpt).load()
    val pids = raw.select("partition_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(pids.forall(p => p >= 0 && p < nParts), pids.toString)
    assert(raw.count() === got.length)
  }
}
