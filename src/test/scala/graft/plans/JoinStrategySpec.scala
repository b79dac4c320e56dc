package graft.plans

import org.apache.spark.sql.functions._

import graft.{Session, SparkSpec, Tables}

/** Join-strategy selection assertions behind the JoinStrategyCost demo
  * (PLANS.md "join strategy cost model"): Catalyst picks broadcast for
  * an under-threshold dim on its own, falls back to sort-merge when
  * broadcasting is disabled, and honors explicit strategy hints — the
  * three knobs the measured cost table ranks.
  */
class JoinStrategySpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def joined(hint: Option[String]) = {
    val l = Tables.lineitem(spark, sf001).select(col("l_partkey"), col("l_quantity"))
    val d0 = Tables.part(spark, sf001).select(col("p_partkey"))
    val d = hint.fold(d0)(d0.hint(_))
    l.join(d, col("l_partkey") === col("p_partkey")).agg(sum(col("l_quantity")))
  }

  test("auto: under-threshold dim broadcasts without a hint") {
    assert(plan(joined(None)).contains("BroadcastHashJoin"))
  }

  test("broadcast disabled: planner falls back to SortMergeJoin") {
    Session.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(plan(joined(None)).contains("SortMergeJoin"))
    }
  }

  test("strategy hints are honored") {
    assert(plan(joined(Some("shuffle_hash"))).contains("ShuffledHashJoin"))
    assert(plan(joined(Some("merge"))).contains("SortMergeJoin"))
    assert(plan(joined(Some("broadcast"))).contains("BroadcastHashJoin"))
  }

  test("hinted variants agree on the answer") {
    val vals = Seq(None, Some("broadcast"), Some("shuffle_hash"), Some("merge"))
      .map(h => joined(h).collect().head.getDouble(0))
    assert(vals.distinct.size == 1, vals.mkString(", "))
  }
}
