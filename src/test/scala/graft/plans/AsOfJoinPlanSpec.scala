package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The custom-SparkPlan tier: AsOfJoinExec must (a) agree row-for-row with
  * a brute-force reference, (b) plan exactly one shuffle per side with
  * the custom exec in the tree, and (c) keep SQL NULL semantics.
  */
class AsOfJoinPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Brute-force as-of: each left row keyed-joined to every right row at
    * or before its time, then the max of (rightTime, payload…) as a
    * struct — the latest right time, ties broken by the max payload.
    * Left rows with no such right row carry NULLs.
    */
  private def bruteAsOf(left: DataFrame, right: DataFrame, key: String,
                        leftTime: String, rightTime: String,
                        rightCols: Seq[String]): DataFrame = {
    val carried = rightTime +: rightCols
    val l = left.withColumn("__lid", monotonically_increasing_id())
    val r = right.select(col(key).as("__rk"), struct(carried.map(col): _*).as("__ref"))
    l.join(r, col(key) === col("__rk") && col(s"__ref.$rightTime") <= col(leftTime), "left")
      .groupBy(("__lid" +: left.columns.toSeq).map(col): _*)
      .agg(max("__ref").as("__m"))
      .select(left.columns.toSeq.map(col) ++
        carried.map(c => col(s"__m.$c").as(s"asof_$c")): _*)
  }

  private def executed(df: DataFrame) = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan
  }

  test("native asof picks the most recent right row at or before the left time") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 10L, ts("2024-01-01 09:00:00")),
      (4L, 20L, ts("2024-01-01 12:00:00"))
    ).toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), 1.0),
      (10L, ts("2024-01-01 11:00:00"), 2.0),
      (20L, ts("2024-01-01 12:00:00"), 3.0)
    ).toDF("k", "rt", "v")
    val out = NativeAsOfJoin.asof(left, right, "k", "t", "rt", Seq("v"))
      .select("id", "asof_rt", "asof_v")
      .collect().map(r => r.getLong(0) -> ((Option(r.getTimestamp(1)), Option(r.get(2))))).toMap
    assert(out(1L) == ((Some(ts("2024-01-01 09:30:00")), Some(1.0))))
    assert(out(2L) == ((Some(ts("2024-01-01 11:00:00")), Some(2.0))))
    assert(out(3L) == ((None, None)))
    assert(out(4L) == ((Some(ts("2024-01-01 12:00:00")), Some(3.0))))
  }

  test("native asof matches the composition on the events fixture (self-join lineage)") {
    val e = Tables.events(spark, sf001)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("value"))
    val native = NativeAsOfJoin.asof(clicks, purchases, "user_id", "click_ts", "ts", Seq("value"))
    val brute = bruteAsOf(clicks, purchases, "user_id", "click_ts", "ts", Seq("value"))
    assert(native.columns.toSeq == brute.columns.toSeq)
    assert(native.exceptAll(brute).isEmpty && brute.exceptAll(native).isEmpty)
    assert(native.count() == clicks.count()) // left-outer: every probe row kept
  }

  test("native asof plans the custom exec with exactly one shuffle per side") {
    val e = Tables.events(spark, sf001)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val plan = executed(
      NativeAsOfJoin.asof(clicks, purchases, "user_id", "click_ts", "ts", Seq("value")))
    assert(collectWithSubqueries(plan) { case x: AsOfJoinExec => x }.nonEmpty, plan.toString)
    val shuffles = collectWithSubqueries(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.length == 2, s"expected 2 shuffles, got ${shuffles.length}:\n$plan")
  }

  test("registry q39 and q132 execute the custom AsOfJoinExec") {
    for (name <- Seq("q39_asof_join", "q132_pit_enrich")) {
      val plan = executed(graft.registry.Registry.queries(name)(spark, sf001))
      assert(collectWithSubqueries(plan) { case x: AsOfJoinExec => x }.nonEmpty,
        s"$name:\n$plan")
    }
  }

  test("ties on (key, rightTime) resolve to the max carried payload, like the composition") {
    import spark.implicits._
    val left = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 11:00:00"), 1.0),
      (10L, ts("2024-01-01 11:00:00"), 7.0),
      (10L, ts("2024-01-01 11:00:00"), 3.0)
    ).toDF("k", "rt", "v")
    val native = NativeAsOfJoin.asof(left, right, "k", "t", "rt", Seq("v")).collect()
    val brute = bruteAsOf(left, right, "k", "t", "rt", Seq("v")).collect()
    assert(native.head.getDouble(native.head.fieldIndex("asof_v")) == 7.0)
    assert(native.head == brute.head)
  }

  test("NULL key or NULL time never matches but the left row is kept") {
    import spark.implicits._
    val left = Seq(
      (1L, Option(10L), Option(ts("2024-01-01 12:00:00"))),
      (2L, Option.empty[Long], Option(ts("2024-01-01 12:00:00"))), // null key
      (3L, Option(10L), Option.empty[Timestamp])                   // null time
    ).toDF("id", "k", "t")
    val right = Seq(
      (Option(10L), Option(ts("2024-01-01 11:00:00")), 1.0),
      (Option.empty[Long], Option(ts("2024-01-01 10:00:00")), 8.0), // null right key
      (Option(10L), Option.empty[Timestamp], 9.0)                   // null right time
    ).toDF("k", "rt", "v")
    val out = NativeAsOfJoin.asof(left, right, "k", "t", "rt", Seq("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(r.fieldIndex("asof_v")))).toMap
    assert(out(1L) == Some(1.0)) // not 9.0: null right time excluded
    assert(out(2L).isEmpty)
    assert(out(3L).isEmpty)
    assert(out.size == 3)
  }
}
