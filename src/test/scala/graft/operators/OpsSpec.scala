package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.ml.PseudoLabel
import graft.sources.CsvIo

class OpsSpec extends SparkSpec {

  test("approx_count_distinct stays within its error bound vs exact (q27)") {
    // q27 carries the exact count next to the sketch precisely so the
    // approximation is auditable; rsd=0.02 → generous 10% ceiling here
    graft.registry.Registry.queries("q27_approx_distinct")(spark, sf001)
      .collect().foreach { r =>
        val exact = r.getLong(1); val approx = r.getLong(2)
        assert(exact > 0 && math.abs(approx - exact).toDouble / exact < 0.1,
          s"flag ${r.getString(0)}: approx $approx vs exact $exact")
      }
  }

  test("sketch rollup estimates stay within HLL error of exact (q98)") {
    // lgK=12 -> rsd ~1.6%; 5% ceiling leaves slack without hiding breakage
    graft.registry.Registry.queries("q98_sketch_rollup")(spark, sf001)
      .collect().foreach { r =>
        val est = r.getLong(1); val exact = r.getLong(2)
        assert(exact > 0 && math.abs(est - exact).toDouble / exact < 0.05,
          s"year ${r.getInt(0)}: est $est vs exact $exact")
      }
  }

  test("feature selector ranks the length-collinear features on top (q67)") {
    val rows = graft.registry.Registry.queries("q67_feature_selector")(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(3)))
    assert(rows.length == 3)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    // F must be strictly decreasing in rank, and the top feature is the
    // structurally strongest length proxy (word count ≈ n_chars)
    val fs = rows.sortBy(_._1).map(_._3)
    assert(fs.zip(fs.tail).forall { case (a, b) => a > b })
    assert(rows.minBy(_._1)._2 == "f_spaces")
  }

  test("deletion propagation: counts reconcile, zero orphans, digest matches survivors (q210)") {
    val docs = Tables.documents(spark, sf001)
    val embs = Tables.embeddings(spark, sf001)
    val out = TableMaintenance.deletionAudit(docs, embs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet == Set("documents", "embeddings"))
    out.foreach { case (t, (before, del, after, orphans, _)) =>
      assert(before - del == after, s"$t: $before - $del != $after")
      assert(orphans == 0L, s"$t: $orphans orphans survived")
    }
    // deletions hit exactly the requested keys present in each table
    val expectDocsDel = docs.filter(col("doc_id") % 37 === 3).count()
    val expectEmbDel = embs.filter(col("vec_id") % 37 === 3).count()
    assert(out("documents")._2 == expectDocsDel)
    assert(out("embeddings")._2 == expectEmbDel)
    // the digest is recomputable from the surviving keys alone
    val recomputed = embs.filter(col("vec_id") % 37 =!= 3)
      .agg(coalesce(call_function("bit_xor",
        conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10).cast("long")), lit(0L)))
      .head().getLong(0)
    assert(out("embeddings")._5 == recomputed)
  }

  test("incremental rollup merged state equals a full rebuild (q179)") {
    val orders = Tables.orders(spark, sf001)
    val changelog = TableMaintenance.incrementalRollup(orders)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // full rebuild from base ∪ delta
    val rebuilt = orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("rev"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every changelog row must equal the rebuilt totals for that key
    changelog.foreach { case (k, (_, n, rev)) =>
      assert(rebuilt(k) == ((n, rev)), s"custkey $k: merged ($n,$rev) vs rebuilt ${rebuilt(k)}")
    }
    // and action labels must reflect base membership
    val baseKeys = orders.filter(col("o_orderkey") % 10 =!= 0)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    changelog.foreach { case (k, (action, _, _)) =>
      assert(action == (if (baseKeys(k)) "update" else "insert"), s"custkey $k action $action")
    }
  }

  test("compaction plan partitions the file listing into contiguous groups (q178)") {
    val orders = Tables.orders(spark, sf001)
    val plan = TableMaintenance.compactionPlan(orders, nFiles = 400, targetBytes = 40_000_000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val totalFiles = orders.select((col("o_orderkey") % 400).as("f")).distinct().count()
    val totalBytes = orders.agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")))
      .head().getLong(0)
    assert(plan.map(_._2).sum == totalFiles, "bins must cover every file exactly once")
    assert(plan.map(_._3).sum == totalBytes, "bins must cover every byte exactly once")
    // contiguity: bins in order, ranges non-overlapping and increasing
    plan.sortBy(_._1).sliding(2).foreach {
      case Array((_, _, _, _, lastA), (_, _, _, firstB, _)) =>
        assert(lastA < firstB, s"bin ranges overlap: $lastA >= $firstB")
      case _ =>
    }
    assert(plan.forall(p => p._4 <= p._5 && p._2 >= 1))
  }

  test("zone-map skip decisions are sound and non-trivial (q180)") {
    val rows = TableMaintenance.zoneMapSkipping(Tables.orders(spark, sf001),
        loDate = "1996-03-01", hiDate = "1996-09-01", minPrice = 1_000_000L)
      .select("file_id", "skippable", "n_match", "n_rows")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // soundness: a skippable file must contain zero matching rows
    rows.filter(_._2 == 1).foreach { case (f, _, m, _) =>
      assert(m == 0L, s"file $f skipped but has $m matches")
    }
    // non-triviality: the month layout must make SOME files skippable
    // and leave SOME readable, at every fixture SF
    assert(rows.exists(_._2 == 1) && rows.exists(_._2 == 0))
    // completeness: zone maps cover every order exactly once
    assert(rows.map(_._4).sum == Tables.orders(spark, sf001).count())
  }

  test("join-cardinality estimate: universe sampling lands near exact, row sampling would not (q182)") {
    val r = TableMaintenance.joinCardinalityEstimate(
      Tables.lineitem(spark, sf001), Tables.orders(spark, sf001), pPct = 5).head()
    val (exact, sampled, est, err) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(exact > 0 && sampled > 0 && est == sampled * 20)
    // fixture-deterministic: the 5% key-universe draw estimates within 2%
    // (measured 0.7-1.3% across all three SFs); a generous 10% bound
    // absorbs any future fixture regeneration
    assert(err < 0.10, s"universe-sampling rel_err $err")
    // the pPct guard
    intercept[IllegalArgumentException] {
      TableMaintenance.joinCardinalityEstimate(
        Tables.lineitem(spark, sf001), Tables.orders(spark, sf001), pPct = 7)
    }
    // algebraic pin: at pPct=100 the "sample" is the universe and the
    // estimator must be EXACT, scale factor 1
    val full = TableMaintenance.joinCardinalityEstimate(
      Tables.lineitem(spark, sf001), Tables.orders(spark, sf001), pPct = 100).head()
    assert(full.getLong(2) == full.getLong(0) && full.getDouble(3) == 0.0)
  }

  test("jackknife CI: covers the mean, agrees with sigma/sqrt(n) (q183)") {
    val r = TableMaintenance.jackknifeCi(Tables.orders(spark, sf001), g = 32).head()
    val (n, mean, se, lo, hi) = (r.getLong(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4))
    assert(se > 0 && lo < mean && mean < hi)
    assert(math.abs((hi - lo) - 2 * 1.96 * se) < 1e-3)
    // block jackknife must track the classical iid standard error: for a
    // plain mean over hash-random blocks the two are asymptotically equal
    val naive = {
      val s = Tables.orders(spark, sf001)
        .agg(stddev_samp(col("o_totalprice"))).head().getDouble(0)
      s / math.sqrt(n.toDouble)
    }
    assert(math.abs(se - naive) / naive < 0.25, s"jackknife $se vs naive $naive")
  }

  test("temperature sampling flattens the mixture: rare sources rate-up, common sources rate-down (q141)") {
    import spark.implicits._
    val docs = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 104).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source")
    val got = PipelineQueries.temperatureSample(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val (nBig, rBig, sBig) = got("big")
    val (nSmall, rSmall, sSmall) = got("small")
    assert(nBig == 100L && nSmall == 4L)
    // alpha=0.5, target half: rate_small = 52*2/12/4 > 1 -> capped at 1.0;
    // rate_big = 52*10/12/100
    assert(rSmall == 1.0 && sSmall == 4L, s"small: $rSmall, $sSmall")
    assert(math.abs(rBig - 52.0 * 10 / 12 / 100) < 1e-6, s"big rate $rBig")
    assert(sBig > 0 && sBig < 100, s"big sampled $sBig")
    // flattening: the rare source keeps a strictly higher sampling rate
    assert(rSmall > rBig)
  }

  test("vocab OOV audit: out-of-vocab holdout tokens are counted, covered types tracked (q144)") {
    import spark.implicits._
    // ids 4,6,7,9 train / 0,1,2,3,5,8 holdout under the q55 md5 split
    val d = Seq(
      (4L, "A", "aa bb aa"), (6L, "A", "bb aa bb"), (7L, "A", "aa bb cc"),
      (5L, "A", "aa zz"), (8L, "B", "bb bb qq zz"))
      .toDF("doc_id", "source", "text")
    // train counts: aa=4, bb=4, cc=1 -> k=2 vocab = {aa, bb} (count desc, tok asc)
    val got = TextQueries.vocabOov(d, 2).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got("A") == ((2L, 1L, 0.5, 2L, 1L)), s"A: ${got("A")}")      // "aa zz"
    assert(got("B") == ((4L, 2L, 0.5, 3L, 1L)), s"B: ${got("B")}")      // "bb bb qq zz"
  }

  test("curriculum manifest: quality-descending buckets, deterministic rank across runs (q147)") {
    import spark.implicits._
    // quality rises with distinct-token count (no stopwords, full TTR)
    val d = Seq(
      (1L, "w1 w2"), (2L, "w1 w2 w3 w4"),
      (3L, "w1 w2 w3 w4 w5 w6"), (4L, "w1 w2 w3 w4 w5 w6 w7 w8"))
      .toDF("doc_id", "text")
    def run() = PipelineQueries.curriculumManifest(d, 2, "s1").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3)))
    val m = run()
    // bucket 1 = the two highest-quality docs (4 and 3), bucket 2 the rest
    assert(m.filter(_._2 == 1).map(_._1).toSet == Set(3L, 4L), m.toSeq)
    assert(m.filter(_._2 == 2).map(_._1).toSet == Set(1L, 2L), m.toSeq)
    // ranks are 1..n, bucket-major
    assert(m.map(_._3).sorted.toSeq == Seq(1, 2, 3, 4))
    assert(m.filter(_._2 == 1).map(_._3).forall(_ <= 2))
    // the seeded shuffle is a pure function of (seed, doc_id): rerun equal
    assert(run().toSeq == m.toSeq)
  }

  test("source KL: identical distributions score zero, skewed sources score higher (q149)") {
    import spark.implicits._
    val d = Seq(
      (1L, "A", "x y x y"), (2L, "B", "x x y y"), (3L, "C", "x x x y"))
      .toDF("doc_id", "source", "text")
    val got = TextQueries.sourceTokenKl(d).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("A") == got("B"), s"equal dists must score equally: $got")
    assert(got("C") > got("A"), s"skewed source must exceed balanced: $got")
    assert(got.values.forall(_ >= -1e-6), s"KL must be ~non-negative: $got")
  }

  test("binned range join matches the naive theta join and avoids nested loops") {
    val e = Tables.events(spark, sf001)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withColumn("lo", col("p_ts") - expr("INTERVAL 30 MINUTES"))
    def pairs() = clicks.join(purchases,
        col("c_uid") === col("user_id") &&
          col("click_ts") >= col("lo") && col("click_ts") <= col("p_ts"))
      .select("purchase_id", "user_id", "click_ts")
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime)).toSeq.sorted
    val binned = pairs()
    // the naive theta join: the same spelling, planned without the rule
    val naiveKey = graft.Session.withConf(spark,
        "spark.sql.optimizer.excludedRules" -> graft.plans.RangeJoinRewrite.ruleName) {
      keys(pairs())
    }
    assert(keys(binned) == naiveKey)
    // candidate generation must be an equi join on the bin — never a nested loop
    val plan = binned.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_rj_bin"), plan.linesIterator.take(10).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.linesIterator.take(10).mkString("\n"))
  }

  test("CSV roundtrip with explicit schema (S1/S6)") {
    import spark.implicits._
    val tmp = graft.streaming.TempDirs.create("graft_csv_").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    CsvIo.writeSingleCsv(df, s"$tmp/out")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType), StructField("v", DoubleType)))
    val back = CsvIo.readCsv(spark, s"$tmp/out", schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    val inferred = CsvIo.readCsvInferred(spark, s"$tmp/out")
    assert(inferred.schema("id").dataType == LongType || inferred.schema("id").dataType == IntegerType)
  }

  test("per-group sampling caps group size and is reproducible (A1)") {
    val c = Tables.customer(spark, sf001)
    val s1 = Sampling.perGroup(c, Seq("c_nationkey"), 3, seed = 7L, tieBreak = Seq("c_custkey"))
    val s2 = Sampling.perGroup(c, Seq("c_nationkey"), 3, seed = 7L, tieBreak = Seq("c_custkey"))
    assert(s1.groupBy("c_nationkey").count().filter(col("count") > 3).count() == 0)
    assert(s1.select("c_custkey").collect().toSet == s2.select("c_custkey").collect().toSet)
    // groups smaller than n are kept whole
    val small = s1.groupBy("c_nationkey").count()
    assert(small.count() == c.select("c_nationkey").distinct().count())
  }

  test("hashSplit is exhaustive (null keys included) and stable") {
    import spark.implicits._
    val df = Seq(Some(1L), Some(2L), None, Some(4L), None).toDF("k")
    val (train, holdout) = Sampling.hashSplit(df, "k", 8)
    // nothing silently dropped — the null-key regression this guards
    assert(train.count() + holdout.count() == df.count(), "rows lost in split")
    // all null-key rows land on the same (deterministic) side
    val nullSides = Seq(train, holdout).map(_.filter(col("k").isNull).count())
    assert(nullSides.contains(2L) && nullSides.contains(0L), s"nulls split: $nullSides")
    val (t2, h2) = Sampling.hashSplit(df.repartition(3), "k", 8)
    assert(train.count() == t2.count() && holdout.count() == h2.count(), "unstable across partitioning")
  }

  test("stratified sampling respects per-stratum fractions (seeded)") {
    val c = Tables.customer(spark, sf001)
    val s = Sampling.stratified(c, "c_mktsegment",
      Map("BUILDING" -> 1.0, "MACHINERY" -> 0.0), seed = 7L)
    val bySeg = s.groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nBuilding = c.filter(col("c_mktsegment") === "BUILDING").count()
    assert(bySeg.getOrElse("BUILDING", 0L) == nBuilding)
    assert(!bySeg.contains("MACHINERY"))
    // unlisted strata default to fraction 0
    assert(bySeg.keySet.subsetOf(Set("BUILDING")))
  }

  test("pseudo-labeling joins by row_id and unions with provenance (E14)") {
    import spark.implicits._
    val train = Seq((0L, "2018-01-01", 10.0), (1L, "2018-01-02", 11.0))
      .toDF("row_id", "date", "num_sold")
    val test = Seq((100L, "2019-01-01"), (101L, "2019-01-02")).toDF("row_id", "date")
    val prior = Seq((100L, 12.5), (101L, 13.5)).toDF("row_id", "num_sold")
    val aug = PseudoLabel.augment(train, test, prior)
    assert(aug.count() == 4)
    assert(aug.filter(col("is_pseudo")).count() == 2)
    assert(aug.filter(col("row_id") === 100L).select("num_sold").head().getDouble(0) == 12.5)
  }

  test("MLlib MinHashLSH finds planted near-duplicates (§4.3)") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 57).map(i => s"tok$i") ++ Seq("x", "y", "z")).mkString(" ")
    val far = (100 to 160).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = LshOps.minhashNearDups(spark, docs, jaccardDistanceThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("BucketedRandomProjectionLSH ANN returns k neighbors (§4.3)") {
    val res = LshOps.euclideanAnn(spark, Tables.embeddings(spark, sf001), Seq(0L, 1L), k = 5)
    val counts = res.groupBy("q_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0L, 1L))
    assert(counts.values.forall(_ == 5))
  }

  test("batch euclideanAnn equals the per-probe approxNearestNeighbors formulation") {
    val e = Tables.embeddings(spark, sf001)
    val batch = LshOps.euclideanAnn(spark, e, Seq(0L, 1L, 2L), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val perProbe = LshOps.euclideanAnnPerProbe(spark, e, Seq(0L, 1L, 2L), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch == perProbe,
      s"batch-only: ${(batch -- perProbe).take(3)}; perProbe-only: ${(perProbe -- batch).take(3)}")
  }

  test("incremental SCD-2 merge (q136) equals the full q111 rebuild on shared columns") {
    import org.apache.spark.sql.functions.col
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("o_custkey", "o_orderkey", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[java.time.LocalDateTime](2),
        Option(r.getAs[java.time.LocalDateTime](3)), r.getInt(4))).toSet
    val merged = key(graft.registry.Registry.queries("q136_scd2_merge")(spark, sf001))
    val rebuilt = key(graft.registry.Registry.queries("q111_scd2_history")(spark, sf001))
    assert(merged == rebuilt,
      s"merged-only: ${(merged -- rebuilt).take(3)}; rebuilt-only: ${(rebuilt -- merged).take(3)}")
    // and the merge actually took the incremental paths: all three
    // actions appear on the fixture
    val actions = graft.registry.Registry.queries("q136_scd2_merge")(spark, sf001)
      .select(col("action")).distinct().collect().map(_.getString(0)).toSet
    assert(actions == Set("keep", "close", "insert"), s"actions seen: $actions")
  }

  test("TF-IDF produces stable-dimensional sparse vectors") {
    val out = TextMl.tfidf(spark, Tables.documents(spark, sf001).limit(50))
    val v = out.select("tfidf").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.size == (1 << 12))
    assert(out.count() == 50)
  }

  test("PMI ranks the always-adjacent pair above independent co-occurrence (q150)") {
    import spark.implicits._
    // "aa bb" always fuse; "cc"/"dd" float around them independently
    val d = Seq((1L, "aa bb cc dd"), (2L, "cc aa bb dd"), (3L, "dd cc aa bb"),
      (4L, "aa bb dd cc")).toDF("doc_id", "text")
    val got = TextQueries.pmiCollocations(d, minCount = 2L, topK = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getDouble(4)))
    assert(got.head._2 == "aa" && got.head._3 == "bb", s"top pair: ${got.head}")
    assert(got.head._4 > 0, s"fused pair must have positive PMI: ${got.head}")
    val ranks = got.map(_._1).toSeq
    assert(ranks == (1 to ranks.size).toSeq, s"ranks must be dense: $ranks")
  }

  test("Zipf fit recovers slope -1 from an exact 12/r frequency law (q152)") {
    import spark.implicits._
    val text = (Seq.fill(12)("t1") ++ Seq.fill(6)("t2") ++
      Seq.fill(4)("t3") ++ Seq.fill(3)("t4")).mkString(" ")
    val d = Seq((1L, "S", text)).toDF("doc_id", "source", "text")
    val row = TextQueries.zipfFit(d, topN = 50).collect().head
    assert(row.getString(0) == "S" && row.getLong(1) == 4L, row.toString)
    assert(math.abs(row.getDouble(2) + 1.0) <= 5e-6, s"slope: ${row.getDouble(2)}")
    assert(math.abs(row.getDouble(3) - math.log(12.0)) <= 5e-6,
      s"intercept: ${row.getDouble(3)}")
  }

  test("skyline keeps exactly the non-dominated parts, including min-price ties (q153)") {
    import spark.implicits._
    val parts = Seq(
      (1L, "a", 10, 5.0), (2L, "b", 10, 7.0), (3L, "c", 8, 4.0),
      (4L, "d", 8, 4.0), (5L, "e", 8, 6.0), (6L, "f", 12, 9.0),
      (7L, "g", 5, 4.0)).toDF("p_partkey", "p_name", "p_size", "p_retailprice")
    val got = RelationalQueries.skylineParts(parts).collect().map(_.getLong(0)).toSet
    // 7 (size 5, price 4) is dominated by 3/4 (size 8, same price);
    // 3 and 4 tie on (size, price) — neither strictly dominates, both stay
    assert(got == Set(1L, 3L, 4L, 6L), s"frontier: $got")
  }

  test("markov transition matrix rows are conditional probabilities (q154)") {
    import spark.implicits._
    val e = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "A"), (2L, "2024-01-01 00:01:00", 1L, "B"),
      (3L, "2024-01-01 00:02:00", 1L, "A"), (4L, "2024-01-01 00:00:00", 2L, "A"),
      (5L, "2024-01-01 00:01:00", 2L, "B"), (6L, "2024-01-01 00:00:00", 3L, "A"),
      (7L, "2024-01-01 00:01:00", 3L, "C"))
      .toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = EventQueries.markovTransitions(e).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("A", "B")) == ((2L, 0.666667)), got.toSeq)
    assert(got(("A", "C")) == ((1L, 0.333333)), got.toSeq)
    assert(got(("B", "A")) == ((1L, 1.0)), got.toSeq)
    assert(got.size == 3, got.toSeq)
  }

  test("ES weighted sample: per-source top-k, dense ranks, deterministic, weight-sensitive (q156)") {
    import spark.implicits._
    val d = (1L to 6L).map(i => (i, "S", if (i == 3L) 1000000L else 1L))
      .toDF("doc_id", "source", "n_chars")
    def run() = PipelineQueries.esWeightedSample(d, 5).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    val got = run()
    assert(got.size == 5 && got.map(_._1) == (1 to 5), s"ranks: $got")
    // the ~10⁶× heavier doc wins unless a light doc drew u > exp(-4e-5)
    assert(got.head._2 == 3L, s"heavy doc must sample first: $got")
    assert(run() == got, "draw must be a pure function of (seed, doc_id)")
  }

  test("three-way split audit: fractions near 80/10/10 and counts partition the corpus (q157)") {
    import spark.implicits._
    val d = (0L until 1000L).map(i => (i, "S")).toDF("doc_id", "source")
    val r = PipelineQueries.threeWaySplitAudit(d).collect().head
    val (n, tr, va, te) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(n == 1000L && tr + va + te == n, r.toString)
    assert(math.abs(r.getDouble(5) - 0.8) < 0.06, s"frac_train: ${r.getDouble(5)}")
    assert(math.abs(r.getDouble(6) - 0.1) < 0.06, s"frac_val: ${r.getDouble(6)}")
    assert(math.abs(r.getDouble(7) - 0.1) < 0.06, s"frac_test: ${r.getDouble(7)}")
  }

  test("MAD outliers: robust to the spike the mean would chase; degenerate MAD=0 still fences (q158)") {
    import spark.implicits._
    val e = (Seq.fill(4)(0.0) :+ 100.0).zipWithIndex.map { case (v, i) => (i.toLong, "X", v) } ++
      Seq(1.0, 2.0, 3.0, 4.0, 5.0).zipWithIndex.map { case (v, i) => (10L + i, "Y", v) }
    val df = e.toDF("event_id", "event_type", "value")
    val got = EventQueries.madOutliers(df).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    assert(got("X") == ((0.0, 0.0, 0.0, 1L)), s"X: ${got("X")}") // spike alone breaches a zero fence
    assert(got("Y") == ((3.0, 1.0, 4.4478, 0L)), s"Y: ${got("Y")}")
  }

  test("snapshot diff emits exactly the added/removed/changed changelog (q159)") {
    import spark.implicits._
    val old = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("c_custkey", "c_acctbal")
    val neu = Seq((2L, 20.0), (3L, 35.0), (4L, 40.0)).toDF("c_custkey", "c_acctbal")
    val got = RelationalQueries.snapshotDiff(old, neu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 3L -> "changed", 4L -> "added"), got.toSeq)
  }

  test("integrity audit: clean FKs report zero, the lang domain genuinely violates (q160)") {
    val got = RelationalQueries.integrityAudit(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == Set("dom_documents_lang", "fk_events_customer",
      "fk_lineitem_orders", "fk_orders_customer"), got.keySet)
    Seq("fk_events_customer", "fk_lineitem_orders", "fk_orders_customer").foreach { c =>
      assert(got(c)._2 == 0L && got(c)._3 == 0L, s"$c must be clean: ${got(c)}")
    }
    val (nd, bad, keys) = got("dom_documents_lang")
    assert(nd == 500L && bad > 0L && keys >= 1L, s"lang domain: ${got("dom_documents_lang")}")
  }

  test("containment flags the quoted-subset pair symmetric Jaccard misses (q161)") {
    import spark.implicits._
    // doc 10's bigrams all appear inside doc 20; doc 30 shares nothing
    val d = Seq(
      (10L, "en", "a b c d e"),
      (20L, "en", "a b c d e f g h i j k l m n o p q r s t"),
      (30L, "en", "x y z w v u t2 s2")).toDF("doc_id", "lang", "text")
    val got = TextQueries.containmentPairs(d, 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got.length == 1, got.toSeq)
    val (a, b, jac, cab, _) = got.head
    assert(a == 10L && b == 20L, got.toSeq)
    assert(cab == 1.0, s"full quote must score containment 1: $got")
    assert(jac < 0.5, s"the same pair under-scores on Jaccard: $jac")
  }

  test("U-shaped attribution: 40/20/40 for three touches, credits sum to the purchase value (q163)") {
    import spark.implicits._
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "click", 0.0),
      (2L, "2024-01-01 10:05:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:10:00", 1L, "click", 0.0),
      (4L, "2024-01-01 10:20:00", 1L, "purchase", 50.0),
      (5L, "2024-01-01 11:00:00", 2L, "click", 0.0),
      (6L, "2024-01-01 11:10:00", 2L, "purchase", 10.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = EventQueries.multiTouchAttribution(e).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getDouble(5), r.getDouble(6)))
    val p4 = got.filter(_._1 == 4L).sortBy(_._2)
    assert(p4.map(_._3).toSeq == Seq(0.4, 0.2, 0.4), s"U weights: ${p4.toSeq}")
    assert(math.abs(p4.map(_._4).sum - 50.0) < 1e-9, s"credit conservation: ${p4.toSeq}")
    val p6 = got.filter(_._1 == 6L)
    assert(p6.map(w => (w._3, w._4)).toSeq == Seq((1.0, 10.0)), s"lone touch: ${p6.toSeq}")
  }

  test("merkle digests are layout-independent and localize a single-row change (q164)") {
    import spark.implicits._
    val base = (0L until 3000L).map(k =>
      (k, k % 97, if (k % 2 == 0) "O" else "F", 100.0 + (k % 50), "2024-01-0" + (1 + k % 9)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "d")
      .withColumn("o_orderdate", to_timestamp(col("d"))).drop("d")
    val a = RelationalQueries.merkleRangeDigests(base).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val b = RelationalQueries.merkleRangeDigests(base.repartition(7, col("o_custkey")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(a == b, "digest must not depend on partitioning/row order")
    val mutated = base.withColumn("o_totalprice",
      when(col("o_orderkey") === 1500L, 999.0).otherwise(col("o_totalprice")))
    val c = RelationalQueries.merkleRangeDigests(mutated).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val diff = a.keySet.filter(k => a(k) != c(k))
    assert(diff == Set(1500L / 1024L), s"exactly the mutated range must differ: $diff")
  }

  test("association rules report exact support/confidence/lift on constructed baskets (q165)") {
    import spark.implicits._
    // 4 users: {A,B} {A,B} {A} {B,C} — supp(A→B)=0.5, conf=2/3, lift=(2/3)/(3/4)
    val e = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"), (2L, "B"),
      (3L, "A"), (4L, "B"), (4L, "C"))
      .zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) }
      .toDF("event_id", "user_id", "event_type")
    val got = RelationalQueries.associationRules(e, minSupport = 0.05).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got(("A", "B")) == ((2L, 0.5, 0.666667, 0.888889)), s"A->B: ${got(("A", "B"))}")
    assert(got(("B", "A")) == ((2L, 0.5, 0.666667, 0.888889)), s"B->A: ${got(("B", "A"))}")
    assert(got(("C", "B")) == ((1L, 0.25, 1.0, 1.333333)), s"C->B: ${got(("C", "B"))}")
  }

  test("sequential patterns respect event ORDER, unlike co-occurrence rules (q166)") {
    import spark.implicits._
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "A"), (2L, "2024-01-01 11:00:00", 1L, "B"),
      (3L, "2024-01-01 10:00:00", 2L, "A"), (4L, "2024-01-01 11:00:00", 2L, "B"),
      (5L, "2024-01-01 10:00:00", 3L, "B"), (6L, "2024-01-01 11:00:00", 3L, "A"))
      .toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = EventQueries.sequentialPatterns(e, minSupport = 0.01).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("A", "B")) == ((2L, 0.666667)), s"A->B: ${got.toSeq}") // users 1, 2
    assert(got(("B", "A")) == ((1L, 0.333333)), s"B->A: ${got.toSeq}") // user 3 only
  }

  test("naive Bayes separates disjoint-vocabulary languages perfectly (q167)") {
    import spark.implicits._
    // even ids train, odd ids test; vocab is disjoint per lang
    val d = (0L until 40L).map { i =>
      val lang = if (i % 4 < 2) "aa" else "bb"
      val text = if (lang == "aa") "foo bar foo baz" else "qux quux qux corge"
      (i, lang, text)
    }.toDF("doc_id", "lang", "text")
    val got = TextQueries.naiveBayesConfusion(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("aa", "aa") -> 10L, ("bb", "bb") -> 10L),
      s"confusion must be diagonal: ${got.toSeq}")
  }

  test("item-item CF: co-purchase cosine and top-k neighbor ranking are exact (q168)") {
    import spark.implicits._
    // orders: {1,2} {1,2} {1,3} — co(1,2)=2, n1=3, n2=2 -> cos=2/sqrt(6)
    val li = Seq((100L, 1L), (100L, 2L), (101L, 1L), (101L, 2L), (102L, 1L), (102L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val got = RelationalQueries.itemItemCf(li, topK = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val expCos12 = math.floor(2.0 / (math.sqrt(3.0) * math.sqrt(2.0)) * 1e6 + 0.5) / 1e6
    assert(got((1L, 1)) == ((2L, 2L, expCos12)), s"item 1 top: ${got.toSeq}")
    val expCos13 = math.floor(1.0 / (math.sqrt(3.0) * math.sqrt(1.0)) * 1e6 + 0.5) / 1e6
    assert(got((1L, 2)) == ((3L, 1L, expCos13)), s"item 1 second: ${got.toSeq}")
    assert(got((2L, 1)) == ((1L, 2L, expCos12)), s"item 2 top: ${got.toSeq}")
    assert(got.keys.forall { case (_, rank) => rank >= 1 && rank <= 3 })
    assert(got.forall { case ((item, _), (neighbor, _, _)) => item != neighbor },
      "an item must never recommend itself")
  }

  test("STL-lite recovers a pure weekly signal exactly: flat trend, seasonal = effect, zero residual (q170)") {
    import spark.implicits._
    // 21 days of rev = 700 + weekday (Mon0 convention): MA7 = 703 on full windows
    val days = (0 until 21).map { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i) // 2024-01-01 is a Monday
      (i.toLong, java.sql.Timestamp.valueOf(d.atStartOfDay), 700.0 + (i % 7))
    }
    val orders = days.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val got = RelationalQueries.stlDecompose(orders).collect()
      .map(r => r.getString(0) -> (Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]), Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(got.size == 21)
    // edges (first/last 3 days) have no full window
    assert(got("2024-01-01") == ((None, None, None)), got("2024-01-01").toString)
    // interior: trend exactly 703, seasonal = wd - 3, residual 0
    (3 until 18).foreach { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i).toString
      val (t, s, r) = got(d)
      assert(t.contains(703.0), s"$d trend: $t")
      assert(s.contains((i % 7) - 3.0), s"$d seasonal: $s")
      assert(r.contains(0.0), s"$d residual: $r")
    }
  }

  test("proportion z-test: identical arms are insignificant, a one-sided type is (q171)") {
    import spark.implicits._
    // arm A = even users, arm B = odd; 'x' appears ONLY in arm A
    val e = (0L until 200L).map(i => (i, i % 2, if (i % 2 == 0) "x" else "y")) ++
      (200L until 400L).map(i => (i, i % 2, "z"))
    val df = e.toDF("event_id", "user_id", "event_type")
    val got = EventQueries.proportionZTest(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getDouble(7), r.getInt(8))).toMap
    assert(got("x")._4 == 1 && got("x")._3 > 0, s"one-arm-only type must be significant: ${got("x")}")
    assert(got("y")._4 == 1 && got("y")._3 < 0, s"opposite arm flips the sign: ${got("y")}")
    assert(got("z")._4 == 0 && math.abs(got("z")._3) < 0.01, s"balanced type: ${got("z")}")
  }

  test("chi-squared: proportional table scores ~0, diagonal table scores Cramers V = 1 (q172)") {
    import spark.implicits._
    val indep = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr", "s" + (i % 4 / 2))).toDF("doc_id", "lang", "source")
    val ri = TextQueries.chiSquaredLangSource(indep).collect().head
    assert(ri.getDouble(2) == 0.0 && ri.getDouble(3) == 0.0,
      s"independent table: chi2=${ri.getDouble(2)} v=${ri.getDouble(3)}")
    val dep = (0L until 400L).map(i => (i,
      if (i % 2 == 0) "en" else "fr", if (i % 2 == 0) "sA" else "sB")).toDF("doc_id", "lang", "source")
    val rd = TextQueries.chiSquaredLangSource(dep).collect().head
    assert(rd.getInt(1) == 1 && rd.getDouble(3) == 1.0,
      s"diagonal table: df=${rd.getInt(1)} v=${rd.getDouble(3)}")
  }

  test("Benford audit: a single-digit-dominated column maximally deviates (q173)") {
    import spark.implicits._
    val orders = (0L until 100L).map(i => (i, 100.0 + i % 90)).toDF("o_orderkey", "o_totalprice")
    val got = RelationalQueries.benfordAudit(orders).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1) == ((100L, 1.0, 0.30103)), s"digit 1: ${got.toSeq}") // all prices in [100, 190)
    assert(got.size == 1, s"only digit 1 occurs: ${got.keySet}")
  }

  test("k-anonymity flags small QI groups, l-diversity flags uniform sensitive bands (q174)") {
    import spark.implicits._
    val c = // group (1,'A'): 6 rows, 3 bands; (1,'B'): 2 rows; (2,'A'): 5 rows, 1 band
      ((0 until 6).map(i => (i.toLong, 1L, "A", 500.0 + 1000.0 * (i % 3))) ++
        (6 until 8).map(i => (i.toLong, 1L, "B", 500.0)) ++
        (8 until 13).map(i => (i.toLong, 2L, "A", 1500.0)))
        .toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
    val got = RelationalQueries.kAnonymityAudit(c, k = 5, l = 3).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getInt(3), r.getLong(4), r.getInt(5))).toMap
    assert(got((1L, "A")) == ((6L, 1, 3L, 1)), s"anonymous + diverse: ${got.toSeq}")
    assert(got((1L, "B")) == ((2L, 0, 1L, 0)), s"small group flagged: ${got.toSeq}")
    assert(got((2L, "A")) == ((5L, 1, 1L, 0)), s"k-anonymous but NOT l-diverse: ${got.toSeq}")
  }

  test("burst detection fills quiet hours with zeros and fires only after a full trailing window (q155)") {
    import spark.implicits._
    val base = Seq((0, 1), (1, 1), (2, 1), (3, 1)).flatMap { case (h, n) =>
      (0 until n).map(i => f"2024-01-01 $h%02d:0$i:00")
    } ++ (0 until 30).map(i => f"2024-01-01 04:${i % 60}%02d:00") ++
      Seq("2024-01-01 07:00:00")
    val e = base.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("event_id", "ts_s").withColumn("ts", to_timestamp(col("ts_s")))
    val got = EventQueries.burstHours(e).collect()
      .map(r => r.getAs[java.time.LocalDateTime](0).getHour ->
        (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    assert(got(4) == ((30L, 3L, 1)), s"hour 4: ${got(4)}")       // 30 vs trailing 3
    assert(got(0)._3 == 0, "first hour has no full trailing window")
    assert(got(5) == ((0L, 32L, 0)) && got(6)._1 == 0L, s"dense zeros: ${got(5)} ${got(6)}")
    assert(got.keySet == (0 to 7).toSet, s"dense axis: ${got.keySet}")
  }

  test("CUSUM changepoint lands on a constructed level shift (q196)") {
    import spark.implicits._
    // 8 hours: rate 1/hour for hours 0-3, then 5/hour for hours 4-7 —
    // |N·cum − t·total| = |8·cum − 24t| peaks at t=4 (value 64)
    val rows = (0 until 8).flatMap { h =>
      val n = if (h < 4) 1 else 5
      (0 until n).map(i => f"2024-01-01 $h%02d:${i + 1}%02d:00")
    }
    val e = rows.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "click") }
      .toDF("event_id", "ts_s", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = EventQueries.cusumChangepoint(e).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "click" && r.getInt(1) == 8 && r.getLong(2) == 24L)
    assert(r.getInt(4) == 4 && r.getLong(5) == 64L,
      s"cp at t=4 with dev 64: idx=${r.getInt(4)} dev=${r.getLong(5)}")
    assert(r.getDouble(6) == 0.5)
  }

  test("Mann-Kendall: monotone series maxes S, constant series is all ties (q197)") {
    import spark.implicits._
    // type "up": counts 1,2,3,4,5 over 5 days → S = 10 (every pair rises),
    // var18 = 5·4·15 = 300, z = 9/sqrt(300/18) = 2.2045 → increasing.
    // type "flat": 2/day → S = 0, tie term kills the variance, z = 0.
    val rows =
      (0 until 5).flatMap(d => (0 to d).map(i => (f"2024-01-${d + 1}%02d 00:${i}%02d:00", "up"))) ++
      (0 until 5).flatMap(d => (0 until 2).map(i => (f"2024-01-${d + 1}%02d 00:${i}%02d:00", "flat")))
    val e = rows.zipWithIndex.map { case ((t, ty), i) => (i.toLong, t, ty) }
      .toDF("event_id", "ts_s", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = EventQueries.mannKendall(e).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5))).toMap
    assert(got("up")._1 == 5 && got("up")._2 == 10L && got("up")._3 == 300L, s"up: ${got("up")}")
    assert(got("up")._4 == 2.2045 && got("up")._5 == "increasing", s"up z: ${got("up")}")
    // flat type: every pair tied → S=0; ties: one group of 5 → 5·4·15=300,
    // var18 = 300−300 = 0 → z defined as 0, trend none
    assert(got("flat") == ((5, 0L, 0L, 0.0, "none")), s"flat: ${got("flat")}")
  }

  test("EWMA control chart: dyadic levels and the 3-MAE fence (q199)") {
    import spark.implicits._
    // 4,4,4,4,40 over 5 days: level stays exactly 4 until the spike
    // (partial-window norms divide out), day-5 level = 43.75/1.9375,
    // devs 0,0,0,36 → MAE 9 → only the spike clears the 27 fence
    val rows = (0 until 4).flatMap(d => (0 until 4).map(i => f"2024-01-${d + 1}%02d 00:0$i:00")) ++
      (0 until 40).map(i => f"2024-01-05 00:$i%02d:00")
    val e = rows.zipWithIndex.map { case (t, i) => (i.toLong, t, "a") }
      .toDF("event_id", "ts_s", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = EventQueries.ewmaAnomalies(e).collect()
      .map(r => r.getAs[java.time.LocalDateTime](1).getDayOfMonth ->
        (r.getLong(2), r.getDouble(3), r.getInt(7))).toMap
    assert(got(1) == ((4L, 4.0, 0)) && got(4) == ((4L, 4.0, 0)), s"flat days: $got")
    assert(got(5)._1 == 40L && got(5)._2 == 22.5806 && got(5)._3 == 1, s"spike day: ${got(5)}")
    assert(got.values.count(_._3 == 1) == 1, "exactly one anomaly")
  }

  test("KS drift: exact integer numerator on disjoint vs identical halves (q200)") {
    import spark.implicits._
    // type x: halves {1,2} vs {3,4} → D = 1 (num 4 of n1·n2 4);
    // type y: identical halves → D = 0. Neither clears the small-sample
    // critical value 1.358·sqrt(4/4).
    val e = Seq(
      (0L, "2024-01-01 00:00:00", "x", 1.0), (1L, "2024-01-02 00:00:00", "x", 2.0),
      (2L, "2024-01-20 00:00:00", "x", 3.0), (3L, "2024-01-21 00:00:00", "x", 4.0),
      (4L, "2024-01-01 00:00:00", "y", 1.0), (5L, "2024-01-02 00:00:00", "y", 2.0),
      (6L, "2024-01-20 00:00:00", "y", 1.0), (7L, "2024-01-21 00:00:00", "y", 2.0))
      .toDF("event_id", "ts_s", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val got = EventQueries.ksDrift(e).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(6))).toMap
    assert(got("x") == ((2L, 2L, 4L, 1.0, 0)), s"x: ${got("x")}")
    assert(got("y") == ((2L, 2L, 0L, 0.0, 0)), s"y: ${got("y")}")
  }

  test("Holt-Winters forecaster (q216): 21 backtest rows per type, errors consistent") {
    val out = graft.SparkEntry.queries("q216_holt_winters")(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val byType = out.groupBy(_._1)
    assert(byType.nonEmpty)
    // 28-day axis, 7-day init → exactly 21 one-step-ahead forecasts per series
    byType.foreach { case (t, rows) => assert(rows.length == 21, s"$t: ${rows.length}") }
    out.foreach { case (t, n, f, err) =>
      assert(!f.isNaN && !f.isInfinite, s"$t forecast $f")
      // abs_err is |n - forecast| up to the two independent 1e-4 roundings
      assert(math.abs(err - math.abs(n - f)) < 2e-4, s"$t: n=$n f=$f err=$err")
      assert(n >= 0)
    }
    // the forecaster must track the series level: mean error strictly
    // under the mean count (a flat-zero forecast scores exactly meanN; a
    // runaway trend scores far above). At sf0.001 the daily counts are
    // ~7/day so Poisson noise keeps the ratio high — the bound is a
    // level-tracking floor, not an accuracy claim (sf0.1's ~670-count
    // series backtest at ~5% MAE through the oracle gate).
    val meanN = out.map(_._2).sum.toDouble / out.length
    val meanErr = out.map(_._4).sum / out.length
    assert(meanErr < meanN, s"meanErr $meanErr vs meanN $meanN")
  }

  test("q223 curation pipeline: funnel monotone per source, sampling hits its target") {
    val out = graft.SparkEntry.queries("q223_curation_pipeline")(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.length == 20)
    out.foreach { case (src, raw, qual, dedup, clean, sampled, toks) =>
      // each stage can only shrink the corpus
      assert(raw >= qual && qual >= dedup && dedup >= clean && clean >= sampled,
        s"$src: $raw/$qual/$dedup/$clean/$sampled")
      assert(sampled == 0 || toks > 0)
    }
    val nTrain = graft.Tables.documents(spark, sf001)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 17 =!= 0).count()
    assert(out.map(_._2).sum == nTrain, "n_raw must partition the train split")
    // α=0.5 temperature sampling targets half the cleaned corpus; on
    // near-equal sources the realized fraction lands close to it
    val frac = out.map(_._6).sum.toDouble / out.map(_._5).sum
    assert(frac > 0.4 && frac < 0.6, s"sampled fraction $frac")
  }

  test("q220 re-sharding: ring moves ~2/10 of keys where naive mod moves ~4/5") {
    val out = graft.SparkEntry.queries("q220_consistent_shards")(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5))).toMap
    val nDocs = graft.Tables.documents(spark, sf001).count()
    val (naive, ring) = (out("naive_mod"), out("ring"))
    assert(naive._1 == nDocs && ring._1 == nDocs)
    // theory: naive keeps only the 8-of-40 residues (moves 0.8); the
    // ring moves just the mass the two NEW shards take over (~0.2)
    assert(naive._3 > 0.7 && naive._3 < 0.9, s"naive ${naive._3}")
    assert(ring._3 < 0.35, s"ring ${ring._3}")
    assert(ring._3 < naive._3 / 2, s"ring ${ring._3} vs naive ${naive._3}")
    Seq(naive, ring).foreach { case (_, moved, _, maxL, minL) =>
      assert(moved > 0 && minL > 0 && maxL >= minL)
    }
  }
}
