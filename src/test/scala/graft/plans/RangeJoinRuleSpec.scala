package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{
  BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

import graft.{Session, SparkSpec, Tables}

/** RangeJoinRewrite — the optimizer rule that turns a naively-spelled
  * point-in-interval join into the binned equi join. Each test asserts
  * the PLAN property (no nested-loop, rule fired / correctly held back)
  * and pins the rewritten result against the same join planned with the
  * rule excluded; q68/q163's oracles hash-verify the rule cross-engine.
  */
class RangeJoinRuleSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def clicks: DataFrame =
    Tables.events(spark, sf001).filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
        col("ts").as("click_ts"))

  private def purchases: DataFrame =
    Tables.events(spark, sf001).filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withColumn("lo", col("p_ts") - expr("INTERVAL 30 MINUTES"))

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Rows of `df` planned with the rule excluded: the plain, unbinned
    * join. `df` is built inside the conf so its plan sees the exclusion.
    */
  private def unbinnedRows(df: => DataFrame): Seq[Row] =
    Session.withConf(spark, "spark.sql.optimizer.excludedRules" -> RangeJoinRewrite.ruleName) {
      val d = df
      assert(!planString(d).contains("__graft_rj_bin"), planString(d).take(800))
      d.collect().toSeq
    }

  private def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.diff(b).isEmpty && b.diff(a).isEmpty

  test("naive pure-range join (no equi key) plans the binned equi join, not a nested loop") {
    // without the rule this is a BroadcastNestedLoopJoin — the fatal
    // large×large shape. No user filter: the fixture's events are sparse
    // in time (26 cross-user pairs land inside a 30-minute window at
    // sf0.001), so the full frames keep the pair set non-empty. The plan
    // is a Union: the binned equi branch carries every narrow interval
    // (here: all of them — 30-minute spans), and the wide-interval
    // fallback branch (runtime-empty here) keeps the original join shape
    // for intervals past the rule's 256-bin cap — keyless, that
    // branch IS a nested loop, so the assertion pins the binned branch
    // specifically: a hash/sort equi join on the bin column.
    val p = clicks
    val i = purchases
    val naive = p.join(i,
      col("click_ts") >= col("lo") && col("click_ts") <= col("p_ts"))
    val plan = planString(naive)
    assert(plan.contains("__graft_rj_bin"), plan.take(800))
    assert(plan.contains("Union"), plan.take(800))
    // the bin attr appears as an equi-join KEY of a hash/merge join
    assert(plan.matches(
      "(?s).*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[__graft_rj_bin.*"),
      plan.take(1200))
    // exactness: identical pair set to the unbinned nested-loop join
    val reference = unbinnedRows(p.join(i,
        col("click_ts") >= col("lo") && col("click_ts") <= col("p_ts"))
      .select("click_id", "purchase_id"))
    val viaRule = naive.select("click_id", "purchase_id").collect().toSeq
    assert(sameRows(viaRule, reference))
    assert(viaRule.nonEmpty)
  }

  test("equi-key + interval conjunction gets the bin as an extra join key") {
    val naive = clicks.join(purchases,
      col("c_uid") === col("user_id") &&
        col("click_ts") >= col("lo") && col("click_ts") <= col("p_ts"))
    val plan = planString(naive)
    assert(plan.contains("__graft_rj_bin"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    // q68's aggregate: the rewritten spelling must reproduce the unbinned
    // join's counts row-for-row
    def perPurchase(j: DataFrame) =
      j.groupBy("purchase_id").agg(count(lit(1)).as("n_clicks"))
    val viaRule = perPurchase(naive).collect().toSeq
    val reference = unbinnedRows(perPurchase(clicks.join(purchases,
      col("c_uid") === col("user_id") &&
        col("click_ts") >= col("lo") && col("click_ts") <= col("p_ts"))))
    assert(sameRows(viaRule, reference))
  }

  test("strict bounds and flipped operand order still match; exactness preserved") {
    val p = clicks
    val i = purchases
    // lo < p (flipped, strict) AND p_ts >= click_ts (flipped side)
    val naive = p.join(i, col("lo") < col("click_ts") && col("p_ts") >= col("click_ts"))
    assert(planString(naive).contains("__graft_rj_bin"))
    val expected = p.crossJoin(i)
      .filter(col("lo") < col("click_ts") && col("p_ts") >= col("click_ts"))
      .select("click_id", "purchase_id")
    val got = naive.select("click_id", "purchase_id")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("rule holds back: non-timestamp bounds, disabled conf, and the hand-binned helper") {
    import spark.implicits._
    // double-typed band join (the q12 shape) must NOT be rewritten
    val bands = Seq(("low", 0.0, 3000.0), ("high", 3000.0, 1e9)).toDF("band", "lo", "hi")
    val q12ish = Tables.customer(spark, sf001)
      .join(broadcast(bands), col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
    assert(!planString(q12ish).contains("__graft_rj_bin"))
    // rule excluded → naive stays naive
    assert(RangeJoinRewrite.ruleName == "graft.plans.RangeJoinRewrite")
    Session.withConf(spark, "spark.sql.optimizer.excludedRules" -> RangeJoinRewrite.ruleName) {
      val naive = clicks.limit(50).join(purchases.limit(50),
        col("click_ts") >= col("lo") && col("click_ts") <= col("p_ts"))
      assert(!planString(naive).contains("__graft_rj_bin"))
    }
  }

  test("sentinel-dated (SCD2) intervals take the fallback branch, not a 70M-bin explode") {
    import spark.implicits._
    // valid_to = 9999-12-31 spans ~70M hourly bins — pre-cap, Generate
    // explodes each such row into one row per bin (and Sequence errors
    // outright past 2^31). With the cap the wide rows route through the
    // original-join branch and the query completes instantly and exactly.
    // one NARROW interval (24 hourly bins — binned branch) and two
    // sentinel rows (wide branch); both Union branches stay non-empty,
    // so neither is constant-folded away (an all-wide dim collapses the
    // Union to just the fallback via PropagateEmptyRelation — also fine)
    val dim = Seq(
      ("u1", java.sql.Timestamp.valueOf("2020-03-15 00:00:00"),
        java.sql.Timestamp.valueOf("2020-03-16 00:00:00"), "v1"),
      ("u1", java.sql.Timestamp.valueOf("2020-03-16 00:00:01"),
        java.sql.Timestamp.valueOf("9999-12-31 00:00:00"), "v2"), // current row
      ("u2", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("9999-12-31 00:00:00"), "v1"))
      .toDF("uid", "valid_from", "valid_to", "ver")
    val facts = Seq(
      ("u1", java.sql.Timestamp.valueOf("2020-03-15 12:00:00")),
      ("u1", java.sql.Timestamp.valueOf("2021-07-04 09:00:00")),
      ("u2", java.sql.Timestamp.valueOf("2023-01-01 00:00:00")))
      .toDF("f_uid", "f_ts")
    val joined = facts.join(dim,
      col("f_uid") === col("uid") &&
        col("f_ts") >= col("valid_from") && col("f_ts") <= col("valid_to"))
    val plan = planString(joined)
    assert(plan.contains("__graft_rj_bin"), plan.take(800)) // binned branch present
    assert(plan.contains("Union"), plan.take(800))          // fallback branch present
    // re-fire pin: EXACTLY the two generated joins survive optimization.
    // The fallback join's guard must hold across optimizer iterations
    // (its marker column is prunable, so the rule guards generated joins
    // with a tree tag) — a broken guard re-rewrites the fallback once
    // per iteration until maxIterations and this count explodes to ~200
    // (measured: q224 0.8s → 23-33s).
    val nJoins = joined.queryExecution.optimizedPlan.collect {
      case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn }.size
    assert(nJoins === 2, s"expected exactly 2 joins (binned + fallback), got $nJoins")
    val got = joined.select("f_uid", "f_ts", "ver").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getString(2))).toSet
    assert(got === Set(
      ("u1", "2020-03-15 12:00:00.0", "v1"),
      ("u1", "2021-07-04 09:00:00.0", "v2"),
      ("u2", "2023-01-01 00:00:00.0", "v1")))
    // every interval wide: the sentinel rows alone — still exact, all
    // rows via the fallback (the 2020-03-15 fact now has no version)
    val wideJoined = facts.join(dim.filter(year(col("valid_to")) === 9999),
      col("f_uid") === col("uid") &&
        col("f_ts") >= col("valid_from") && col("f_ts") <= col("valid_to"))
    val gotWide = wideJoined.select("f_uid", "f_ts", "ver").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getString(2))).toSet
    assert(gotWide === Set(
      ("u1", "2021-07-04 09:00:00.0", "v2"),
      ("u2", "2023-01-01 00:00:00.0", "v1")))
  }

  test("registry q68 and q163 join on the rule's point bin, never a nested loop") {
    for (name <- Seq("q68_attribution_window", "q163_multitouch_attribution")) {
      val df = graft.registry.Registry.queries(name)(spark, sf001)
      df.collect() // materialize so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan
      val joins = collectWithSubqueries(plan) { case j: BaseJoinExec => j }
      assert(joins.exists(j => (j.leftKeys ++ j.rightKeys)
          .exists(_.references.exists(_.name == "__graft_rj_bin_p"))), s"$name:\n$plan")
      assert(!joins.exists {
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
        case _ => false }, s"$name:\n$plan")
    }
  }

  test("STREAMING interval joins take the single binned branch, never the Union") {
    // The fallback union is a batch-only shape: a Union of two stateful
    // stream-stream joins doubles state stores and wedges micro-batch
    // planning (the 10× scale cert measured q146 3.5s → >300s when the
    // union landed — the regression this test pins closed). Streaming
    // interval bounds are query-constant watermark offsets, so the wide-
    // interval hazard the cap defends against cannot arise there.
    // watermarks require TIMESTAMP: eventsStream normalises ts to it
    val s = graft.streaming.EventStreams.eventsStream(spark, sf001)
    val a = s.select(col("event_id").as("a_id"), col("user_id").as("a_uid"),
        col("ts").as("a_ts"))
      .withWatermark("a_ts", "2 hours")
    val b = s.select(col("event_id").as("b_id"), col("user_id").as("b_uid"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "2 hours")
    val joined = a.join(b,
      col("a_uid") === col("b_uid") &&
        col("a_ts") >= col("b_ts") - expr("INTERVAL 30 MINUTES") &&
        col("a_ts") <= col("b_ts"))
    // apply the rule directly to the analyzed plan: materializing
    // optimizedPlan on a streaming Dataset trips the batch-execution
    // check (and the full optimizer is exercised end-to-end by q138/
    // q146's oracle gates anyway — this pins the RULE's branch choice)
    val opt = RangeJoinRewrite(joined.queryExecution.analyzed)
    assert(opt.isStreaming, "precondition: plan must be streaming")
    val unions = opt.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
    assert(unions.isEmpty, s"streaming join must not take the fallback union:\n$opt")
    // the rule still FIRES (binned branch, not held back entirely)
    assert(opt.toString.contains("__graft_rj_bin"), opt.toString.take(800))
    // identical batch spelling keeps the union (the cap's batch shape)
    val ab = spark.read.parquet(s"$sf001/events.parquet")
      .select(col("event_id").as("a_id"), col("user_id").as("a_uid"), col("ts").as("a_ts"))
    val bb = spark.read.parquet(s"$sf001/events.parquet")
      .select(col("event_id").as("b_id"), col("user_id").as("b_uid"), col("ts").as("b_ts"))
    val batch = ab.join(bb,
      col("a_uid") === col("b_uid") &&
        col("a_ts") >= col("b_ts") - expr("INTERVAL 30 MINUTES") &&
        col("a_ts") <= col("b_ts"))
    assert(planString(batch).contains("Union"))
  }

  test("stream-batch: streaming points keep the cap over batch intervals; streaming intervals decline") {
    import spark.implicits._
    // A streaming POINT side joined to a BATCH interval side holding
    // data-driven sentinel rows: j.isStreaming is true here too, so the
    // old stream bypass (bin everything) would re-open the unbounded
    // explode the cap guards against. The cap must stay ON — both Union
    // branches are stateless stream-batch inner joins.
    val events = graft.streaming.EventStreams.eventsStream(spark, sf001)
    val pts = events.select(col("user_id").as("f_uid"), col("ts").as("f_ts"))
    val dim = Seq(
      ("2020-03-15 00:00:00", "2020-03-16 00:00:00", "v1"),
      ("2020-03-16 00:00:01", "9999-12-31 00:00:00", "v2"))
      .toDF("vf", "vt", "ver")
      .select(col("vf").cast("timestamp").as("valid_from"),
        col("vt").cast("timestamp").as("valid_to"), col("ver"))
    val joined = pts.join(dim,
      col("f_ts") >= col("valid_from") && col("f_ts") <= col("valid_to"))
    val opt = RangeJoinRewrite(joined.queryExecution.analyzed)
    assert(opt.isStreaming, "precondition: stream-batch plan is streaming")
    assert(opt.toString.contains("__graft_rj_bin"), "rule must still fire")
    assert(opt.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.nonEmpty,
      s"a batch interval side must keep the wide-interval cap:\n${opt.toString.take(800)}")
    // streaming INTERVAL side over batch points: no safe shape — binning
    // unconditionally risks the explode, the Union is the stream-split
    // wedge — so the rule declines and leaves the original join
    val ivs = events.select(col("user_id").as("s_uid"), col("ts").as("valid_from"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("valid_to"))
    val bpts = Seq("2020-03-15 12:00:00").toDF("t")
      .select(col("t").cast("timestamp").as("f_ts"))
    val joined2 = bpts.join(ivs,
      col("f_ts") >= col("valid_from") && col("f_ts") <= col("valid_to"))
    val opt2 = RangeJoinRewrite(joined2.queryExecution.analyzed)
    assert(!opt2.toString.contains("__graft_rj_bin"),
      s"streaming interval side must decline the rewrite:\n${opt2.toString.take(800)}")
  }

  test("fallback broadcast hint is gated on the wide side's size estimate") {
    import spark.implicits._
    // no-equi join, all-wide dim (every interval past the cap): with the
    // default threshold the tiny dim gets the BROADCAST hint; with
    // autoBroadcastJoinThreshold=-1 (estimate can never fit) the hint
    // must NOT be forced — strategy selection goes back to the planner
    val dim = Seq(
      ("2020-01-01 00:00:00", "9999-12-31 00:00:00", "v1"))
      .toDF("vf", "vt", "ver")
      .select(col("vf").cast("timestamp").as("valid_from"),
        col("vt").cast("timestamp").as("valid_to"), col("ver"))
    val facts = Seq("2023-01-01 00:00:00").toDF("t")
      .select(col("t").cast("timestamp").as("f_ts"))
    def hints(threshold: String): Seq[org.apache.spark.sql.catalyst.plans.logical.JoinHint] =
      Session.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        val j = facts.join(dim,
          col("f_ts") >= col("valid_from") && col("f_ts") <= col("valid_to"))
        assert(j.count() === 1) // exactness regardless of the hint
        j.queryExecution.optimizedPlan.collect {
          case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn.hint }
      }
    def hasBroadcast(hs: Seq[org.apache.spark.sql.catalyst.plans.logical.JoinHint]) =
      hs.exists(h => (h.leftHint ++ h.rightHint).exists(
        _.strategy.contains(org.apache.spark.sql.catalyst.plans.logical.BROADCAST)))
    assert(hasBroadcast(hints("10485760")),
      "under the threshold the dimension-shaped wide side should carry the hint")
    assert(!hasBroadcast(hints("-1")),
      "past the threshold the rule must not force a broadcast")
  }

  test("inverted and NULL intervals yield zero rows without errors") {
    import spark.implicits._
    val p = Seq(("p1", java.sql.Timestamp.valueOf("2020-01-01 12:00:00")))
      .toDF("pid", "ts")
    val i = Seq(
      ("bad", java.sql.Timestamp.valueOf("2020-01-01 13:00:00"),
        java.sql.Timestamp.valueOf("2020-01-01 11:00:00")), // lo > hi
      ("nul", null.asInstanceOf[java.sql.Timestamp],
        java.sql.Timestamp.valueOf("2020-01-01 13:00:00"))) // null lo
      .toDF("iid", "lo", "hi")
    val joined = p.join(i, col("ts") >= col("lo") && col("ts") <= col("hi"))
    assert(planString(joined).contains("__graft_rj_bin"))
    assert(joined.count() === 0)
  }
}
