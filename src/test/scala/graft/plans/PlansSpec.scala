package graft.plans

import org.apache.spark.sql.functions._

import graft.{Session, SparkSpec, Tables}
import graft.functions.{Metrics, ReservoirSample}
import graft.operators.SkewJoin
import graft.sources.Bucketing

/** Scale-machinery specs: custom Expression (codegen), custom Aggregator,
  * bucketed shuffle-free joins, salted skew joins — each asserting the
  * PLAN property, not just the answer.
  */
class PlansSpec extends SparkSpec {

  test("SinglePartitionAudit walker sees real funnels and their true record counts") {
    // pin the audit's two failure modes (a walker that misses the final
    // adaptive plan, or reads a dead metric, reports "zero funnels"
    // forever): a deliberate repartition(1) of a 10k-row frame must
    // surface as ONE single-partition exchange carrying exactly 10k
    // records; the same frame globally aggregated must surface with a
    // SMALL count (the benign partial-agg shape the threshold admits).
    import org.apache.spark.sql.functions._
    val base = spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
    val funnel = base.repartition(1).groupBy("k").agg(count(lit(1)).as("n"))
    val hits = graft.SinglePartitionAudit.singlePartitionHits(funnel)
    assert(hits.contains(10000L), s"expected a 10000-record funnel, saw $hits")
    val benign = base.agg(sum("id").as("s"))
    val bHits = graft.SinglePartitionAudit.singlePartitionHits(benign)
    assert(bHits.nonEmpty, "global aggregate should plan a single-partition exchange")
    assert(bHits.forall(n => n >= 0 && n < 500), s"partial-agg rows must be tiny, saw $bHits")
  }

  test("SinglePartitionAudit catches a funnel inside an eagerly-executed intermediate write") {
    // the r16 verdict's named blind spot: the r15 funnel lived in jobs a
    // harness ran eagerly INSIDE fn (staging writes), invisible to a
    // walker that only sees the returned frame. Pin the listener path:
    // a deliberate repartition(1) write of 10k rows that is NOT the
    // returned frame must surface as a captured hit with its true record
    // count, while the benign returned frame must not mask it.
    import org.apache.spark.sql.functions._
    val tmp = graft.streaming.TempDirs.create("graft_spa_").toString
    val hits = graft.SinglePartitionAudit.auditedHits(spark) {
      val base = spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
      // the eager intermediate job carrying the funnel (never returned)
      base.repartition(1).write.mode("overwrite").parquet(s"$tmp/staged")
      // returned frame: an innocent aggregate over the staged table
      spark.read.parquet(s"$tmp/staged").groupBy("k").agg(count(lit(1)).as("n"))
    }
    assert(hits.exists(h => h.origin.startsWith("captured") && h.records == 10000L),
      s"intermediate-write funnel not captured: $hits")
    assert(!hits.exists(h => h.origin == "returned" && h.records > 500L),
      s"returned frame should only carry tiny partial-agg exchanges: $hits")
  }

  test("SinglePartitionAudit measures funnels inside streaming micro-batch plans exactly once") {
    // a micro-batch's incremental plan is not a user Dataset action; the
    // audit's SQL-bus tier must see it — with REAL record counts from
    // the exchange's accumulator, not mere presence — while the two
    // tiers together report each exchange EXACTLY once (v2-sink batches
    // also reach the QueryExecutionListener; Spark additionally posts
    // duplicate per-batch start events whose plan copies carry fresh
    // never-updated accumulators, which must not surface as noise). A
    // deliberate repartition(1) inside the stream funnels each full
    // batch through one partition: two slices of orders (1500 rows split
    // by orderkey parity) must surface as exactly two 750-record hits.
    import org.apache.spark.sql.functions._
    val total = Tables.orders(spark, sf001).count()
    val hits = graft.SinglePartitionAudit.auditedHits(spark) {
      val (slices, stage) = graft.streaming.StreamHarness.stageSlices(
        Tables.orders(spark, sf001).select(col("o_orderkey")),
        pmod(col("o_orderkey"), lit(2)), 0 to 1)
      val q = slices.repartition(1).writeStream.format("noop").start()
      q.processAllAvailable(); q.stop()
      spark.read.parquet(s"$stage/slice_0") // returned frame: plain scan
    }
    val funnels = hits.filter(_.records >= total / 4)
    assert(funnels.size == 2, s"one measured hit per micro-batch, saw $hits")
    assert(funnels.map(_.records).sum == total,
      s"batch funnels must carry true record counts: $funnels")
    assert(!hits.exists(_.records < 0),
      s"phantom plan copies must not surface as UNMEASURED noise: $hits")
  }

  test("SinglePartitionAudit streaming twins: a collapse is marked, a distinct sibling stays visible") {
    // the r17 verdict's documented conservative corner, pinned before it
    // can matter (r17 item 3): phantom suppression collapses a
    // never-updated plan COPY of an executed exchange by its
    // plan_id-normalized signature — so a genuinely distinct STRUCTURAL
    // TWIN (identical shape, own accumulator, never executed) in the
    // same batch collapses with it too. The pin: the surviving measured
    // hit must carry an explicit [collapsed=N] marker (never a silent
    // drop), while a sibling with a DIFFERENT signature must stay
    // visible as UNMEASURED. No registry stream has the twin shape, and
    // a real stream can't be made to plan one on demand, so the spec
    // drives the listener with synthetic bus events (GraftTestEvents for
    // the private[spark] task-end constructor).
    import org.apache.spark.scheduler.GraftTestEvents
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.metric.SQLMetricInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    def exchange(accumId: Long, planId: Int, op: String = "REPARTITION_BY_NUM") =
      new SparkPlanInfo("Exchange",
        s"Exchange SinglePartition, $op, [plan_id=$planId]",
        Seq.empty, Map.empty,
        Seq(new SQLMetricInfo("shuffle records written", accumId, "sum")))
    def start(plan: SparkPlanInfo) = SparkListenerSQLExecutionStart(
      7L, None, "twin_pin [id = 7]\nrunId = deadbeef\nbatch = 0", "",
      "synthetic", plan, 0L, Map.empty)

    // case 1: structural twins — identical normalized signature, distinct
    // accumulators, only accum 101 ever executes (500 records)
    val twins = new graft.SinglePartitionAudit.SqlExecListener
    twins.onOtherEvent(start(new SparkPlanInfo("Union", "Union", Seq(
      exchange(101L, 1), exchange(202L, 2)), Map.empty, Seq.empty)))
    twins.onTaskEnd(GraftTestEvents.taskEndWithUpdate(1, 0, 101L, 500L))
    val twinHits = twins.streamingHits(Set.empty)
    assert(twinHits.size == 1, s"twin must collapse into one hit: $twinHits")
    assert(twinHits.head.records == 500L)
    assert(twinHits.head.origin.contains("[collapsed=1]"),
      s"the collapse must be explicitly marked: $twinHits")
    assert(twinHits.head.origin.contains("batch = 0"))

    // case 2: distinct sibling — different signature, so no collapse: the
    // never-executed exchange stays visible as UNMEASURED (-1), unmarked
    val siblings = new graft.SinglePartitionAudit.SqlExecListener
    siblings.onOtherEvent(start(new SparkPlanInfo("Union", "Union", Seq(
      exchange(111L, 1), exchange(222L, 2, op = "ENSURE_REQUIREMENTS")),
      Map.empty, Seq.empty)))
    siblings.onTaskEnd(GraftTestEvents.taskEndWithUpdate(1, 0, 111L, 500L))
    val sibHits = siblings.streamingHits(Set.empty)
    assert(sibHits.map(_.records).sorted == Seq(-1L, 500L),
      s"distinct never-executed sibling must surface as UNMEASURED: $sibHits")
    assert(!sibHits.exists(_.origin.contains("[collapsed=")), s"no collapse here: $sibHits")

    // case 3: duplicate start events (Spark's routine per-batch re-post) —
    // plan copies share the signature; the re-posted copy's fresh
    // accumulator collapses and is marked, measured exactly once
    val copies = new graft.SinglePartitionAudit.SqlExecListener
    copies.onOtherEvent(start(exchange(301L, 1)))
    copies.onOtherEvent(start(exchange(302L, 9))) // same exchange, re-planned copy
    copies.onTaskEnd(GraftTestEvents.taskEndWithUpdate(1, 0, 301L, 750L))
    val copyHits = copies.streamingHits(Set.empty)
    assert(copyHits.size == 1 && copyHits.head.records == 750L, s"$copyHits")
    assert(copyHits.head.origin.contains("[collapsed=1]"))
  }

  test("SinglePartitionAudit jsonStr escapes control characters so AUDIT.json parses") {
    // an AnalysisException message spans lines; one failing query must not
    // make the whole artifact unreadable by a strict JSON reader
    val raw = "line1\n'Project\r\tcol \"q\" back\\slash \u0001end"
    val parsed = org.json4s.jackson.JsonMethods.parse(
      s"""{"m":${graft.SinglePartitionAudit.jsonStr(raw)}}""")
    assert((parsed \ "m") == org.json4s.JString(raw))
  }

  test("GeometricRoundExpr matches the Column-composed version and works in SQL") {
    import spark.implicits._
    val xs = Seq(0.5, 2.44, 2.45, 7.0, 123.456, 0.0).toDF("x")
    val both = xs.select(
      GeometricRoundExpr.geometricRoundNative(col("x")).as("native"),
      Metrics.geometricRound(col("x")).as("composed")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // registered via GraftExtensions -> callable from SQL
    val viaSql = spark.sql("SELECT geometric_round(CAST(2.44 AS DOUBLE))").head().getDouble(0)
    assert(viaSql == 2.0)
  }

  test("GeometricRoundExpr participates in whole-stage codegen") {
    // needs a real source — a local Seq collapses to LocalTableScan with no
    // codegen stage at all
    val plan = Tables.orders(spark, sf001)
      .select(GeometricRoundExpr.geometricRoundNative(col("o_totalprice")))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix is the simple-string marker for WholeStageCodegen
    assert(plan.contains("*(1) Project [geometricroundexpr"),
      plan.linesIterator.take(6).mkString("\n"))
  }

  test("vector exprs match the HOF compositions bitwise and handle nulls") {
    import spark.implicits._
    // HOF reference implementations (what VectorOps used before promotion)
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val df = Seq(
      (Array(1.0f, 2.5f, -3.75f), Array(0.5f, -1.25f, 2.0f)),
      (Array(1e-8f, 2e8f, 3.3f), Array(9.9f, -1e-7f, 0.125f))).toDF("a", "b")
    val ad = df.col("a").cast("array<double>"); val bd = df.col("b").cast("array<double>")
    df.select(
      graft.functions.VectorOps.dot(col("a"), col("b")).as("ndot"),
      hofDot(ad, bd).as("hdot"),
      graft.functions.VectorOps.cosine(col("a"), col("b")).as("ncos"),
      (hofDot(ad, bd) / (sqrt(hofDot(ad, ad)) * sqrt(hofDot(bd, bd)))).as("hcos"),
      graft.functions.VectorOps.euclidean(col("a"), col("b")).as("nl2"),
      sqrt(aggregate(zip_with(ad, bd, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)).as("hl2")).collect()
      .foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1), "dot")   // bitwise equal
        assert(r.getDouble(2) == r.getDouble(3), "cosine")
        assert(r.getDouble(4) == r.getDouble(5), "l2")
      }
    // null semantics: length mismatch and null element both yield null
    val edge = Seq((Array(1.0, 2.0), Array(1.0), Array[java.lang.Double](1.0, null)))
      .toDF("a", "b", "withnull")
    val r = edge.select(
      graft.functions.VectorOps.dot(col("a"), col("b")),
      graft.functions.VectorOps.cosine(col("a"), col("withnull"))).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    // registered for SQL use
    assert(spark.sql("SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))")
      .head().getDouble(0) == 1.0)
  }

  test("cosine over candidate pairs stays inside whole-stage codegen") {
    val e = Tables.embeddings(spark, sf001).limit(50)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val df = a.join(b, col("ia") < col("ib"))
      .select(graft.functions.VectorOps.cosine(col("va"), col("vb")).as("cos"))
    df.collect() // finalize the adaptive plan so codegen markers appear
    val plan = df.queryExecution.executedPlan.toString
    // the projection computing graft_cosine must carry the `*(n)` marker
    val projLine = plan.linesIterator.find(_.contains("graft_cosine")).getOrElse("")
    assert(projLine.trim.stripPrefix("+- ").startsWith("*"),
      plan.linesIterator.take(8).mkString("\n"))
  }

  test("wrong-arity SQL call to a registered expression is an analysis error") {
    val ex = intercept[Exception](spark.sql("SELECT graft_dot(array(1.0d))").collect())
    assert(!ex.isInstanceOf[IndexOutOfBoundsException], ex.toString)
    assert(ex.getMessage.contains("graft_dot"), ex.getMessage)
  }

  test("top-k aggregator partial-aggregates map-side (no window sort of the fact table)") {
    val df = graft.registry.Registry.queries("q79_topk_agg")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // two-phase object hash aggregation: partial before the exchange
    assert(plan.contains("ObjectHashAggregate"), plan.linesIterator.take(12).mkString("\n"))
    assert(!plan.contains("Window"), "top-k must not be planned as a ranking window")
  }

  test("CollapseIdempotentRound optimizer rule folds nested roundings") {
    val df = Tables.orders(spark, sf001).select(
      GeometricRoundExpr.geometricRoundNative(
        GeometricRoundExpr.geometricRoundNative(
          GeometricRoundExpr.geometricRoundNative(col("o_totalprice")))).as("r"))
    val optimized = df.queryExecution.optimizedPlan
    val n = optimized.expressions.map(_.collect {
      case _: GeometricRoundExpr => 1
    }.sum).sum
    assert(n == 1, optimized.toString)
    // semantics preserved — still rounds
    val v = df.limit(1).head().getDouble(0)
    assert(v == math.floor(v))
  }

  test("ORC and JSON-lines roundtrip, ORC predicate pushdown (S9 extension)") {
    val tmp = graft.streaming.TempDirs.create("graft_fmt_").toString
    val o = Tables.orders(spark, sf001)
    o.write.mode("overwrite").orc(s"$tmp/orc")
    val orcBack = spark.read.orc(s"$tmp/orc")
    assert(orcBack.count() == o.count())
    val plan = orcBack.filter(col("o_orderstatus") === "F")
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("EqualTo(o_orderstatus,F)"), plan.take(800))
    o.write.mode("overwrite").json(s"$tmp/json")
    val jsonBack = spark.read.schema(o.schema).json(s"$tmp/json")
    assert(jsonBack.count() == o.count())
    assert(jsonBack.schema == o.schema)
  }

  test("reservoir sample: bounded size, subset of input, reproducible draw") {
    val c = Tables.customer(spark, sf001)
    val sampled = c.groupBy("c_nationkey")
      .agg(ReservoirSample.reservoir(col("c_acctbal"), 5, seed = 7L).as("sample"),
        count(lit(1)).as("n"))
      .collect()
    val byNation = c.collect().groupBy(_.getInt(2))
      .view.mapValues(_.map(_.getDouble(3)).toSet).toMap
    sampled.foreach { r =>
      val nation = r.getInt(0)
      val s = r.getSeq[Double](1)
      val n = r.getLong(2)
      assert(s.size == math.min(5L, n), s"nation $nation")
      assert(s.toSet.subsetOf(byNation(nation)), s"nation $nation sample not from group")
      assert(s.distinct.size == s.size, s"nation $nation sampled with replacement")
    }
  }

  test("q02 pushes all predicates and prunes columns at the parquet scan") {
    // formatted mode — the simple toString truncates PushedFilters with "..."
    val plan = graft.registry.Registry.queries("q02_filter_project")(spark, sf001)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), IsNotNull(l_shipdate)"), plan)
    assert(plan.contains("EqualTo(l_returnflag,R)"))
    assert(plan.contains("GreaterThan(l_quantity,30.0)"))
    // pruned read schema: 6 of 11 lineitem columns
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_returnflag:string,l_shipdate:timestamp_ntz>"))
  }

  test("q19 star join broadcasts every dimension") {
    val plan = graft.registry.Registry.queries("q19_star_join")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), "dims must not sort-merge at this scale")
  }

  test("q210 deletes and audits via broadcast joins (request set never shuffles the table)") {
    val plan = graft.registry.Registry.queries("q210_deletion_audit")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the anti join (the delete) and the left join (the audit) both
    // broadcast the tombstones; table data must not sort-merge
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "request set must broadcast at this scale")
  }

  test("ThresholdLevenshtein rewrites bounded edit-distance predicates") {
    import spark.implicits._
    val df = Seq(("kitten", "sitting"), ("abc", "abd"), ("abc", "zzzzzz"))
      .toDF("a", "b")
    df.createOrReplaceTempView("lev_pairs")
    // plan assertion needs a non-local source (ConvertToLocalRelation
    // folds LocalRelation queries entirely) — use the parquet fixture
    val onScan = Tables.part(spark, sf001)
      .filter(expr("levenshtein(p_name, 'small ring') <= 2"))
    val optimized = onScan.queryExecution.optimizedPlan.toString
    assert(optimized.contains("Some(2)) >= 0"), optimized)
    assert(onScan.count() >= 1) // 'small ring' itself is a fixture name
    val q = spark.sql("SELECT a, b FROM lev_pairs WHERE levenshtein(a, b) <= 2")
    assert(q.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("abc", "abd")))
    // strict < variant keeps semantics too
    val q2 = spark.sql("SELECT count(*) FROM lev_pairs WHERE levenshtein(a, b) < 3")
    assert(q2.head().getLong(0) == 1L)
    // null inputs stay null -> filtered, same as the untransformed predicate
    val q3 = spark.sql(
      "SELECT count(*) FROM (SELECT CAST(NULL AS STRING) a, 'x' b) WHERE levenshtein(a, b) <= 2")
    assert(q3.head().getLong(0) == 0L)
  }

  test("q86 plan prunes through might_contain before the confirming join") {
    val plan = graft.registry.Registry.queries("q86_bloom_novelty")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the bloom predicate must sit in the plan as a filter (pruning
    // BEFORE the join), and the confirm path must be a real join
    assert(plan.contains("might_contain"), plan.take(600))
    assert(plan.contains("Join") || plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q83 candidate generation and assignment avoid nested-loop joins") {
    val plan = graft.registry.Registry.queries("q83_dedup_clusters")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.take(20).mkString("\n"))
  }

  test("co-bucketed join is shuffle-free; unbucketed one is not (PLANS.md)") {
    val o = Tables.orders(spark, sf001)
    val l = Tables.lineitem(spark, sf001)
    val dir = graft.streaming.TempDirs.create("co-bucketed-spec-").toString
    Session.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plain = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      assert(!Bucketing.isShuffleFree(plain))

      Bucketing.writeBucketed(o, "orders_b", s"$dir/orders_b", "o_orderkey", 8)
      Bucketing.writeBucketed(l, "lineitem_b", s"$dir/lineitem_b", "l_orderkey", 8)
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      assert(Bucketing.isShuffleFree(joined),
        joined.queryExecution.executedPlan.toString.linesIterator.take(12).mkString("\n"))
      assert(joined.count() == l.count())
    }
  }

  test("date-partitioned writes give partition pruning at read (PLANS.md claim)") {
    val tmp = graft.streaming.TempDirs.create("graft_part_").toString
    val l = Tables.lineitem(spark, sf001)
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    l.write.mode("overwrite").partitionBy("ship_month").parquet(s"$tmp/li")
    val read = spark.read.parquet(s"$tmp/li").filter(col("ship_month") === "1996-03")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ship_month"), plan.take(500))
    assert(read.count() == l.filter(col("ship_month") === "1996-03").count())
  }

  test("ZValueExpr: Morton interleave parity, nulls, SQL, codegen") {
    import spark.implicits._
    // reference interleave: bit i of a -> 2i+1, bit i of b -> 2i
    def ref(a: Int, b: Int): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((a >> i) & 1).toLong << (2 * i + 1)
        z |= ((b >> i) & 1).toLong << (2 * i)
      }
      z
    }
    val cases = Seq((0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321),
      (65536, 2), (70000, 70001)) // >16-bit inputs mask, not error
    val got = cases.toDF("a", "b")
      .select(ZValueExpr.zvalue(col("a"), col("b")).as("z")).collect().map(_.getLong(0))
    cases.map { case (a, b) => ref(a & 0xffff, b & 0xffff) }
      .zip(got).foreach { case (e, g) => assert(e == g) }
    // z-curve locality sanity: interleave is monotone along each axis slice
    assert(ref(3, 0) < ref(4, 0) && ref(0, 3) < ref(0, 4))
    // nulls propagate
    val n = Seq((Some(1), None: Option[Int])).toDF("a", "b")
      .select(ZValueExpr.zvalue(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
    // SQL registration + whole-stage codegen on a real scan
    assert(spark.sql("SELECT graft_zvalue(3, 5)").head().getLong(0) == ref(3, 5))
    val plan = Tables.orders(spark, sf001)
      .select(ZValueExpr.zvalue(col("o_custkey").cast("int"), lit(7)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_zvalue"),
      plan.linesIterator.take(6).mkString("\n"))
  }

  test("z-order layout bounds BOTH dimensions where a single-column sort bounds one") {
    import graft.sources.ZOrderLayout
    val o = Tables.orders(spark, sf001)
    val coded = ZOrderLayout.rankCoded(o,
      col("o_custkey"), to_date(col("o_orderdate")), col("o_orderkey"), 256)
    val (zx, zy) = ZOrderLayout.meanExtentFractions(
      ZOrderLayout.layoutStats(coded, nFiles = 16))
    // same file count, files cut along an x-only sort: y extent ~ full domain
    val singleStats = coded
      .withColumn("file_id", ntile(16).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("x"), col("tb"))))
      .groupBy("file_id")
      .agg(min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
    val (sx, sy) = ZOrderLayout.meanExtentFractions(singleStats)
    // single sort: perfect on its own dimension, useless on the other
    assert(sx < 0.10 && sy > 0.90, s"single-sort extents ($sx, $sy)")
    // z-order: an equal-count z range spans at most ~2 aligned 64x64
    // tiles, so each dimension's extent sits in [1/4, 1/2] of the domain
    // (measured ~0.31/0.43) — bounded on BOTH axes, so min/max stats skip
    // files for predicates on either column
    assert(zx < 0.55 && zy < 0.55, s"z-order extents ($zx, $zy) should be bounded on both axes")
    assert(math.max(zx, zy) < sy * 0.6,
      s"z worst-dimension ${math.max(zx, zy)} should clearly beat single-sort worst $sy")
  }

  test("z-order production write path (range shuffle, no global window) bounds both axes") {
    import graft.sources.ZOrderLayout
    // same coding as q125, but files cut the way a real writer cuts them:
    // repartitionByRange on z (sampled boundaries, one range shuffle) —
    // no single-partition window anywhere
    val coded = ZOrderLayout.rankCoded(Tables.orders(spark, sf001),
      col("o_custkey"), to_date(col("o_orderdate")), col("o_orderkey"), 256)
    val ranged = coded
      .withColumn("z", ZOrderLayout.zvalue(col("x"), col("y")))
      .repartitionByRange(16, col("z"), col("tb"))
    val stats = ranged.groupBy(spark_partition_id().as("file_id"))
      .agg(min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
    val (zx, zy) = ZOrderLayout.meanExtentFractions(stats)
    // sampled range boundaries are slightly sloppier than exact ntile
    // cuts, but the tiles must still bound BOTH dimensions
    assert(zx < 0.6 && zy < 0.6, s"range-shuffled z layout extents ($zx, $zy)")
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    import spark.implicits._
    val tmp = graft.streaming.TempDirs.create("graft_dpp_").toString
    Tables.lineitem(spark, sf001)
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(s"$tmp/li")
    val fact = spark.read.parquet(s"$tmp/li")
    // the dim must be file-based: a filtered LocalRelation is eagerly
    // evaluated by ConvertToLocalRelation, which removes the Filter node
    // DPP's selective-predicate check looks for
    (1 to 12).map(m => (f"1996-$m%02d", if (m <= 3) "Q1" else "QX"))
      .toDF("ship_month", "qtr")
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val dim = spark.read.parquet(s"$tmp/dim")
    // the quarter predicate lives on the DIM side only; static pruning
    // can't see it — the runtime subquery (DPP) must inject the partition
    // filter into the fact scan
    val joined = fact.join(dim.filter(col("qtr") === "Q1"), "ship_month")
      .groupBy("ship_month").agg(sum("l_quantity").as("qty"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    val expected = Tables.lineitem(spark, sf001)
      .filter(date_format(col("l_shipdate"), "yyyy-MM").isin("1996-01", "1996-02", "1996-03"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM")).agg(sum("l_quantity"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap == expected)
  }

  test("runtime bloom-filter injection prefilters the fact side of a selective shuffle join") {
    // Spark's InjectRuntimeFilter plants bloom_filter_might_contain on
    // the big side of a shuffle join when the other side carries a
    // selective filter — the engine-native form of q86's explicit
    // BloomJoin. Production thresholds (10 GB application side) are
    // sized for clusters; lower them to exercise the mechanism at
    // fixture scale. Broadcast must be off: a broadcastable dim routes
    // to DPP/broadcast-join instead.
    Session.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val li = Tables.lineitem(spark, sf001).select("l_partkey", "l_quantity")
      val pt = Tables.part(spark, sf001).filter(col("p_size") <= 2)
        .select(col("p_partkey"), col("p_brand"))
      val joined = li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(sum("l_quantity").as("qty"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      // Spark 4 pretty-prints the injected pair as might_contain(
      // scalar-subquery over bloom_filter_agg(dim keys)) on the fact side
      assert(optimized.contains("might_contain") && optimized.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n${optimized.take(2000)}")
      // and the filtered result is still the plain join's result
      val expected = Tables.lineitem(spark, sf001)
        .join(Tables.part(spark, sf001).filter(col("p_size") <= 2),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(sum("l_quantity"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap == expected)
    }
  }

  test("AQE splits an injected skewed key at runtime (complement of the salted join)") {
    // q115's salted join is the MANUAL skew remedy; this pins the
    // engine-native one: under AQE, OptimizeSkewedJoin splits an
    // oversized shuffle partition into parallel sub-reads, marking the
    // join skew=true in the final adaptive plan. Thresholds are sized
    // for clusters — lower them so a fixture-scale hot key (90% of one
    // side on a single join key) trips the optimizer. Broadcast off:
    // the skew path only exists for sort-merge/shuffled-hash joins.
    Session.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      def workload() = {
        // 90% of one side lands on key 7; the rest spreads over 96 cold
        // keys. The downstream agg groups on a NON-join key: an agg on
        // the join key would reuse the join's hash partitioning, and
        // OptimizeSkewedJoin (correctly) refuses to split a partition
        // some downstream operator still requires whole.
        val hot = spark.range(300000L)
          .select(when(col("id") % 10 =!= 0, lit(7L))
            .otherwise(lit(100L) + col("id") % 97).as("k"), col("id").as("payload"))
        val dim = spark.range(200L).select(col("id").as("k"), (col("id") * 3).as("w"))
        hot.join(dim, "k")
          .groupBy((col("payload") % 7).as("g"))
          .agg(count(lit(1)).as("n"), sum("w").as("sw"))
      }
      val joined = workload()
      val gotRows = joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val got = gotRows.toSet
      // the final (post-execution) adaptive plan must carry the skew split
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"no skew-join split in the adaptive plan:\n${finalPlan.take(3000)}")
      assert(gotRows.map(_._2).sum == 300000L, "join must keep every row exactly once")
      // and splitting must not change the answer: same workload, skew off
      val plain = Session.withConf(spark, "spark.sql.adaptive.skewJoin.enabled" -> "false") {
        workload().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
      assert(got == plain)
    }
  }

  test("q186 PII scan is one codegen stage: no shuffle before the final sort") {
    val plan = graft.registry.Registry.queries("q186_pii_scan")(spark, sf001)
      .queryExecution.executedPlan.toString
    // scan -> project (regexps) -> sort exchange, nothing else
    assert(!plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.split("Exchange").length - 1 <= 1,
      s"expected only the orderBy exchange:\n${plan.take(2000)}")
  }

  test("q188 line dedup aggregates doc frequency BEFORE the join back") {
    val plan = graft.registry.Registry.queries("q188_line_dedup")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the join's build side must be the aggregated line vocabulary (df
    // per hash), never a raw lines-to-lines self join
    assert(plan.contains("linesgenerator"), "fused generator must drive the explode")
    val joinIdx = plan.indexOf("HashJoin")
    assert(joinIdx >= 0, s"expected a hash join:\n${plan.take(2000)}")
    // count distinct compiles to two HashAggregate pairs under the join's
    // build side — check an aggregate exists below the join in the tree
    assert(plan.indexOf("HashAggregate", joinIdx) >= 0,
      s"df side must aggregate before the join:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("salted join preserves inner-join semantics") {
    val o = Tables.orders(spark, sf001)
    val c = Tables.customer(spark, sf001)
    val expected = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewJoin.saltedJoin(
      o.withColumnRenamed("o_custkey", "k"), c.withColumnRenamed("c_custkey", "k"), "k", salt = 4)
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == expected)
  }

  test("graft_nfc: NFC parity with java.text.Normalizer, SQL, null, codegen") {
    import spark.implicits._
    // decomposed e+COMBINING ACUTE composes; precomposed passes through;
    // NBSP is NOT whitespace to NFC and must survive
    val cases = Seq("cafe\u0301", "caf\u00e9", "a\u0300b\u0302", "plain", "nb\u00a0sp", "")
    val got = cases.toDF("s")
      .select(call_function("graft_nfc", col("s")).as("n")).collect().map(_.getString(0))
    cases.zip(got).foreach { case (in, out) =>
      assert(out == java.text.Normalizer.normalize(in, java.text.Normalizer.Form.NFC), in)
    }
    assert(got(0) == "caf\u00e9" && got(0) == got(1), "composed and decomposed converge")
    assert(got(4) == "nb\u00a0sp", "NBSP untouched by NFC")
    // null in, null out; callable from SQL
    val viaSql = spark.sql("SELECT graft_nfc(CAST(NULL AS STRING)), graft_nfc('x')").head()
    assert(viaSql.isNullAt(0) && viaSql.getString(1) == "x")
    // stays inside whole-stage codegen on a real source
    val plan = Tables.documents(spark, sf001)
      .select(call_function("graft_nfc", col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [nfcnormalizeexpr"),
      plan.linesIterator.take(6).mkString("\n"))
  }

  test("q201 NFC normalization is one codegen stage: no shuffle before the sort") {
    val plan = graft.registry.Registry.queries("q201_text_normalize")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("nfcnormalizeexpr"), "native graft_nfc must drive the normalize")
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"), plan.take(2000))
    assert(plan.split("Exchange").length - 1 <= 1,
      s"expected only the orderBy exchange:\n${plan.take(2000)}")
  }

  test("q196 CUSUM windows run on the pre-aggregated hourly series, not raw events") {
    val plan = graft.registry.Registry.queries("q196_cusum_changepoint")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the hourly count agg must sit BELOW the first window sort: the
    // window input is the calendar-bounded series, never the event rows
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, plan.take(2000))
    assert(plan.indexOf("HashAggregate", winIdx) >= 0,
      s"hourly pre-agg must feed the window:\n${plan.take(3000)}")
    // the axis x types cross join compiles to BroadcastNestedLoopJoin
    // over the 5-row broadcast types frame - that IS the intended shape;
    // what must never appear is a shuffle cartesian
    assert(!plan.contains("CartesianProduct"),
      "the hour-axis x types frame must broadcast, never shuffle-cartesian")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"counts must broadcast onto the dense axis:\n${plan.take(2000)}")
  }

  test("q205 conformal keeps every model-side join broadcast") {
    val plan = graft.registry.Registry.queries("q205_conformal_interval")(spark, sf001)
      .queryExecution.executedPlan.toString
    // part dim, per-brand model, n_cal, and q_hat are all tiny frames:
    // probing them onto the lineitem scans must never shuffle the fact
    // side into a sort-merge join
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      s"model-side joins must broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
    // the conformal rank runs as a per-group window on the calibration
    // slice only
    assert(plan.contains("Window"), plan.take(2000))
  }

  test("q198 retrieval metrics broadcast the probe side onto the corpus scan") {
    val plan = graft.registry.Registry.queries("q198_retrieval_metrics")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      "probe fan-out must be broadcast-driven, never a cartesian shuffle")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join expected:\n${plan.take(2000)}")
  }

  test("q213 hybrid twin broadcasts coefficients and stump constants onto every scan") {
    val plan = graft.registry.Registry.queries("q213_hybrid_twin")(spark, sf001)
      .queryExecution.executedPlan.toString
    // coef (1 row), tot (1 row), and best (1 row) ride broadcast joins;
    // the corpus sides must never shuffle into a sort-merge join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the split search runs its window over per-value rows (one Window,
    // fed by a hash aggregate — never a window over raw train rows)
    assert(plan.contains("Window"), plan.take(2000))
  }

  test("q217 quantile regression: CDF window fed by the per-value aggregate") {
    val plan = graft.registry.Registry.queries("q217_quantile_regression")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("Window"), plan.take(2000))
    // the pinball pass re-joins quantiles per brand: tiny frame, must
    // broadcast — a SortMergeJoin here would shuffle the residual scan
    val smjCount = "SortMergeJoin".r.findAllIn(plan).length
    assert(smjCount == 0, s"$smjCount sort-merge joins:\n${plan.take(3000)}")
  }

  test("graft_smape: bitwise-equal to avg(smapeTerm), null and empty semantics") {
    import org.apache.spark.sql.functions._
    val l = Tables.lineitem(spark, sf001)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("double").as("y"),
        (col("l_extendedprice") / 100.0).as("p"))
    val viaAgg = l.groupBy("g")
      .agg(call_function("graft_smape", col("y"), col("p")).as("s"))
    val viaAvg = l.groupBy("g")
      .agg(avg(graft.functions.Metrics.smapeTerm(col("y"), col("p"))).as("s"))
    val joined = viaAgg.withColumnRenamed("s", "sa")
      .join(viaAvg.withColumnRenamed("s", "sv"), "g")
    // EXACT equality — NOTES invariant 8 (same update order, same doubles)
    assert(joined.filter(col("sa") =!= col("sv")).count() == 0)
    // SQL surface + null semantics: null rows contribute neither term
    // nor count; an all-null group yields NULL like avg
    l.createOrReplaceTempView("smape_in")
    val sqlRow = spark.sql(
      """SELECT graft_smape(CASE WHEN y > 1e9 THEN y END, p) AS all_null,
                graft_smape(CASE WHEN y < 10 THEN y END, p) AS some_null
         FROM smape_in""").head()
    assert(sqlRow.isNullAt(0))
    val expSome = l.filter(col("y") < 10)
      .agg(avg(graft.functions.Metrics.smapeTerm(col("y"), col("p")))).head().getDouble(0)
    assert(sqlRow.getDouble(1) == expSome)
    // 0/0 guard: identical zero rows score 0, not NaN
    import spark.implicits._
    val z = Seq((0.0, 0.0), (0.0, 0.0)).toDF("y", "p")
      .agg(call_function("graft_smape", col("y"), col("p"))).head().getDouble(0)
    assert(z == 0.0)
  }

  test("AQE skew-join fires on the naive skewed join and matches the salted variant (A/B)") {
    // A/B demanded by the r12 verdict: q115 proves MANUAL salting; this
    // pins Spark's own OptimizeSkewedJoin on the same shape. Constraints
    // discovered building it (each is a production-relevant note,
    // recorded in PLANS.md):
    //  - splits happen at MAPPER granularity -> the fact side must have
    //    >1 map task (repartition(16) here; a single-file scan is 1 task)
    //  - shuffle STATS are compressed bytes -> an all-identical hot key
    //    compresses to ~nothing; the payload column keeps sizes honest
    //  - the rule only matches Sort-over-ShuffleStage directly -> the dim
    //    is materialized to parquet first (an agg between shuffle and
    //    join blocks it), and the join must not sit in the result stage
    //    (the downstream agg keys off a DIFFERENT column)
    Session.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "128k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k") {
      // sf0.1: the byte-based skew detection needs real partition sizes
      // (sf0.001 is ~6k rows — nothing clears a 128k compressed threshold)
      val sf01 = "/root/testdata/sf0.1"
      val li = Tables.lineitem(spark, sf01)
        .select(when(col("l_orderkey") % 4 === 0, 0L)
          .otherwise(col("l_orderkey") % 1000).as("g"),
          col("l_extendedprice").as("v"))
        .repartition(16)
      val dimPath = graft.streaming.TempDirs.create("skew-spec-dim-").toString + "/dim"
      Tables.lineitem(spark, sf01)
        .groupBy((col("l_orderkey") % 1000).as("g"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("m"))
        .write.mode("overwrite").parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
      def report(fact: org.apache.spark.sql.DataFrame,
                 joined: org.apache.spark.sql.DataFrame) = joined
        .groupBy(pmod(col("g"), lit(7)).as("gb"))
        // sum BOTH sides' payloads: v must survive column pruning or the
        // hot key's shuffle partition is a run of identical longs that
        // lz4 flattens below any threshold
        .agg(count(lit(1)).as("n"), sum(col("m")).as("sm"),
          sum(floor(col("v") * 100).cast("long")).as("sv"))
      val aqe = report(li, li.join(dim, "g"))
      val aqeRows = aqe.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val plan = aqe.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"OptimizeSkewedJoin must fire:\n${plan.take(1500)}")
      assert(plan.contains("AQEShuffleRead skewed"), plan.take(1500))
      // the salted spelling of the SAME join produces the same answer
      val salted = report(li, SkewJoin.saltedJoin(li, dim, "g", 8))
      val saltedRows = salted.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(saltedRows == aqeRows, "salted and AQE-skew answers must agree")
      assert(aqeRows.nonEmpty)
    }
  }
}
