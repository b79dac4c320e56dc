package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables

/** GSH DataSource V2 reader: roundtrip fidelity, column pruning reaching
  * the scan, and planning-time shard pruning from the pushed filters.
  */
class GShardSpec extends SparkSpec {

  private lazy val stage: String = {
    val dir = graft.streaming.TempDirs.create("gshard-spec-").toString
    GShard.write(Tables.documents(spark, sf001), dir, nShards = 8)
    dir
  }

  private def gsh = spark.read.format("graft.sources.GShardSource").load(stage)

  test("roundtrip: every column of every row matches the parquet source") {
    val ref = Tables.documents(spark, sf001)
      .select("doc_id", "lang", "source", "n_chars", "text")
    val got = gsh.select("doc_id", "lang", "source", "n_chars", "text")
    assert(got.count() == ref.count())
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
  }

  test("column pruning reaches the scan (text payload skipped)") {
    val df = gsh.select("doc_id", "source")
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSet == Set("doc_id", "source"))
  }

  test("doc_id range filters prune whole shards at planning time") {
    val df = gsh.filter(col("doc_id") >= 10 && col("doc_id") < 40)
      .select("doc_id", "n_chars")
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.head.scan.description().contains("doc_id"),
      "range filters must be reported as pushed")
    val n = df.count()
    val (considered, kept) = GShardSource.lastPlanned
    assert(considered == 8, s"8 shards staged, saw $considered")
    assert(kept < considered, s"zone maps must prune shards ($kept/$considered)")
    // residual re-evaluation keeps correctness independent of the skip
    val ref = Tables.documents(spark, sf001)
      .filter(col("doc_id") >= 10 && col("doc_id") < 40).count()
    assert(n == ref)
  }

  test("micro-batch stream replays the directory in admission-limited batches") {
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.format("graft.sources.GShardSource")
      .option("maxFilesPerTrigger", 3)
      .load(stage)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          batches += ((id, b.count())); ()
      }.queryName("gshard_spec_stream").start()
    try q.processAllAvailable() finally q.stop()
    // 8 shards at 3 files/trigger → 3 batches covering every row once
    assert(batches.length == 3, s"expected 3 batches, got $batches")
    assert(batches.map(_._2).sum == Tables.documents(spark, sf001).count())
    assert(batches.forall(_._2 > 0))
  }

  test("micro-batch stream decodes vectorised and replays every document") {
    import org.apache.spark.sql.execution.ColumnarToRowExec
    import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.OutputMode
    val source = spark.readStream.format("graft.sources.GShardSource")
      .option("maxFilesPerTrigger", 3)
      .load(stage)
    var plan: org.apache.spark.sql.execution.SparkPlan = null
    val got = graft.streaming.StreamHarness.runToMemory(source, OutputMode.Append) { q =>
      plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    }
    val vectorised = plan.collect {
      case c: ColumnarToRowExec if c.child.exists(_.isInstanceOf[MicroBatchScanExec]) => c
    }
    assert(vectorised.nonEmpty, s"expected ColumnarToRow over MicroBatchScan in:\n$plan")
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "lang", "source", "n_chars", "text")
    val rows = got.select("doc_id", "lang", "source", "n_chars", "text")
    assert(rows.count() == docs.count())
    assert(rows.exceptAll(docs).count() == 0 && docs.exceptAll(rows).count() == 0)
  }

  test("V2 overwrite truncates: a second write leaves no stale shards") {
    val dir = graft.streaming.TempDirs.create("gshard-ow-").toString
    val docs = Tables.documents(spark, sf001)
    GShard.write(docs, dir, nShards = 8)
    val first = new java.io.File(dir).listFiles().count(_.getName.endsWith(".gsh"))
    GShard.write(docs.filter(col("doc_id") < 100), dir, nShards = 2)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".gsh"))
    assert(files.length < first, "truncate must drop the old shard set")
    val n = spark.read.format("graft.sources.GShardSource").load(dir).count()
    assert(n == docs.filter(col("doc_id") < 100).count())
    // the two-phase protocol leaves no temp files behind (the
    // _gshard_meta layout sidecar is the one intentional non-shard file)
    assert(new java.io.File(dir).listFiles().forall(f =>
      f.getName.endsWith(".gsh") || f.getName == "_gshard_meta"))
  }

  test("filterless count/min/max is served from footers alone") {
    val df = gsh.selectExpr("count(*)", "min(doc_id)", "max(doc_id)")
    val row = df.head()
    val ref = Tables.documents(spark, sf001)
      .selectExpr("count(*)", "min(doc_id)", "max(doc_id)").head()
    assert(row == ref)
    assert(GShardSource.lastAggPushed,
      "aggregation must be answered at planning time from the footers")
    // a doc_id filter makes footer counts unsafe: pushdown must decline
    val filtered = gsh.filter(col("doc_id") < 100).selectExpr("count(*)")
    assert(filtered.head().getLong(0) ==
      Tables.documents(spark, sf001).filter(col("doc_id") < 100).count())
    assert(!GShardSource.lastAggPushed,
      "filtered aggregation must run as a real scan")
    // grouped aggregation likewise declines (and stays correct)
    val grouped = gsh.groupBy("source").count()
    assert(grouped.count() == 20 || grouped.count() > 0)
    assert(!GShardSource.lastAggPushed)
    // a NON-doc_id filter never reaches `pushed`, so the correctness of
    // this case rests on Spark only attempting aggregate pushdown when
    // no post-scan filter remains (ours always remain — belt-and-braces
    // with the builder's own pushed.nonEmpty guard)
    val langN = gsh.filter(col("lang") === "en").selectExpr("count(*)")
      .head().getLong(0)
    assert(langN == Tables.documents(spark, sf001)
      .filter(col("lang") === "en").count(),
      "footer count must not be served under a residual lang filter")
    assert(!GShardSource.lastAggPushed)
  }

  test("pushed limit stops the row decoder early and stays correct") {
    val df = gsh.select("doc_id").limit(7)
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.head.scan.description().contains("limit=7"),
      s"limit must reach the scan: ${scans.head.scan.description()}")
    assert(df.count() == 7)
  }

  test("shard scans read vectorized; columnar ≡ row path ≡ parquet") {
    val df = gsh.select("doc_id", "lang", "n_chars")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"expected a columnar transition in:\n${plan.take(1200)}")
    // the vectorised decoder is the only one: every column of every row
    // equals the parquet source
    val all = gsh.select("doc_id", "lang", "source", "n_chars", "text")
    val docs = Tables.documents(spark, sf001)
      .select("doc_id", "lang", "source", "n_chars", "text")
    assert(all.exceptAll(docs).count() == 0 && docs.exceptAll(all).count() == 0)
    // vectorized + zone-map row skip + pruning compose
    val filtered = gsh.filter(col("doc_id") >= 10 && col("doc_id") < 40)
      .select("doc_id", "source")
    val ref = Tables.documents(spark, sf001)
      .filter(col("doc_id") >= 10 && col("doc_id") < 40)
      .select("doc_id", "source")
    assert(filtered.exceptAll(ref).count() == 0 && ref.exceptAll(filtered).count() == 0)
  }

  test("runtime (DPP-style) filtering prunes shards from a join's key set") {
    val df = gsh.select("doc_id", "n_chars")
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    val scan = scans.head.scan.asInstanceOf[GShardScan]
    val before = scan.toBatch.planInputPartitions().length
    assert(before == 8)
    // the engine delivers the build side's doc_id set through
    // SupportsRuntimeFiltering.filter before execution planning
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id", Array(17L, 23L))))
    val after = scan.toBatch.planInputPartitions().length
    assert(after == 1, s"two nearby keys must plan one shard, got $after")
    // end-to-end: joining against a tiny key frame stays correct
    import spark.implicits._
    val keys = Seq(17L, 23L, 400L).toDF("doc_id")
    val joined = gsh.join(keys, "doc_id").select("doc_id", "source")
    val ref = Tables.documents(spark, sf001).join(keys, "doc_id")
      .select("doc_id", "source")
    assert(joined.exceptAll(ref).count() == 0 && ref.exceptAll(joined).count() == 0)
  }

  test("top-n on doc_id asc pushes as a decode cap; other orders decline") {
    // ascending doc_id matches the storage order → per-shard truncation
    val asc = gsh.select("doc_id").orderBy("doc_id").limit(5)
    val ascScan = asc.queryExecution.sparkPlan
      .collect { case b: BatchScanExec => b }.head.scan
    assert(ascScan.description().contains("limit=5"),
      s"asc top-n must cap the decoder: ${ascScan.description()}")
    assert(asc.collect().map(_.getLong(0)).toSeq ==
      Tables.documents(spark, sf001).select("doc_id").orderBy("doc_id")
        .limit(5).collect().map(_.getLong(0)).toSeq)
    // any other order must NOT truncate the read
    val desc = gsh.select("doc_id", "n_chars").orderBy(col("n_chars").desc).limit(5)
    val descScan = desc.queryExecution.sparkPlan
      .collect { case b: BatchScanExec => b }.head.scan
    assert(descScan.description().contains("limit=none"),
      s"non-storage order must decline: ${descScan.description()}")
    val got = desc.collect().map(_.getLong(1)).toSeq
    val ref = Tables.documents(spark, sf001)
      .select("doc_id", "n_chars").orderBy(col("n_chars").desc).limit(5)
      .collect().map(_.getLong(1)).toSeq
    assert(got == ref)
  }

  test("statistics report the surviving row count") {
    val narrow = gsh.filter(col("doc_id") === 17L).select("doc_id")
    narrow.count()
    val (_, kept) = GShardSource.lastPlanned
    assert(kept == 1, "equality predicate must plan exactly one shard")
  }

  test("storage-partitioned join: co-sharded GShard tables join with no Exchange on either side") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // same doc universe -> GShard.write derives the same (lo, step) ->
    // compatible shard_<lo>_<step> clustering via the gshard catalog
    val docs = Tables.documents(spark, sf001)
    val dirA = graft.streaming.TempDirs.create("gshard-spj-a-").toString
    val dirB = graft.streaming.TempDirs.create("gshard-spj-b-").toString
    GShard.write(docs, dirA, nShards = 8)
    GShard.write(docs.select(col("doc_id"), col("lang"), col("source"),
      (col("n_chars") * 2).as("n_chars"), col("text")), dirB, nShards = 8)
    val joined = spark.table(s"gshard.`$dirA`").hint("merge")
      .join(spark.table(s"gshard.`$dirB`").select(col("doc_id"),
        col("n_chars").as("n2")), "doc_id")
    // force planning; the query is join-only, so the WHOLE final plan
    // must be exchange-free (string assertion — AQE query stages don't
    // traverse via collect)
    joined.collect()
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other => other.toString
      }
    val plan = finalPlan(joined)
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"co-sharded join must be shuffle-free:\n$plan")
    // and it is CORRECT: every doc matched exactly once, n2 = 2*n_chars
    assert(joined.count() === docs.count())
    assert(joined.filter(col("n2") =!= col("n_chars") * 2).count() === 0)

    // safety fallback: a DIFFERENT layout (other shard count -> other
    // step) resolves a different canonical transform; Spark must NOT
    // align the partitions and instead shuffles (correctness over speed)
    val dirC = graft.streaming.TempDirs.create("gshard-spj-c-").toString
    GShard.write(docs, dirC, nShards = 3)
    val mixed = spark.table(s"gshard.`$dirA`").hint("merge")
      .join(spark.table(s"gshard.`$dirC`").select(col("doc_id"),
        col("n_chars").as("n3")), "doc_id")
    mixed.collect()
    val mixedPlan = finalPlan(mixed)
    assert(mixedPlan.contains("SortMergeJoin"))
    assert(mixedPlan.contains("Exchange"),
      s"incompatible layouts must fall back to a shuffled join:\n$mixedPlan")
    assert(mixed.count() === docs.count())
  }

  test("cross-format join: V1 bucketed side stays in place, only the GSH side shuffles") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // zero-exchange cross-format SPJ is impossible by API construction
    // (KeyGroupedShuffleSpec never matches HashShuffleSpec; V2 readers
    // cannot report HashPartitioning): KeyGroupedShuffleSpec.isCompatibleWith
    // returns false for any spec that is not key-grouped, and V1 bucketing
    // reports murmur3 HashPartitioning, a HashShuffleSpec.
    // The achievable minimum is pinned here: the bucketed layout is
    // honored (no exchange above its scan), exactly ONE exchange total,
    // and it sits on the GSH side.
    val docs = Tables.documents(spark, sf001)
    Bucketing.writeBucketed(
      docs.select(col("doc_id"), (col("n_chars") * 3L).as("tri_chars")),
      "graft_spec_bkt", graft.streaming.TempDirs.create("gshard-spec-bkt-").toString,
      "doc_id", nBuckets = 8, sortCol = Some("doc_id"))
    val joined = spark.table(s"gshard.`$stage`").hint("merge")
      .join(spark.table("graft_spec_bkt"), "doc_id")
    joined.collect()
    // walk the final adaptive plan INCLUDING query-stage bodies: exactly
    // one shuffle, whose subtree is the GSH scan (a v2 BatchScanExec) --
    // never the bucketed FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def flatten(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => pl +: flatten(a.executedPlan)
      case q: QueryStageExec => pl +: flatten(q.plan)
      case _ => pl +: pl.children.flatMap(flatten)
    }
    val nodes = flatten(joined.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      s"expected a sort-merge join:\n${nodes.map(_.nodeName).mkString(", ")}")
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1,
      s"cross-format join must shuffle exactly one side, saw ${shuffles.size}")
    val sub = flatten(shuffles.head)
    assert(sub.exists(_.isInstanceOf[BatchScanExec]),
      "the single exchange must sit over the GSH v2 scan")
    assert(!sub.exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      "the bucketed parquet side must not be shuffled")
    assert(nodes.exists {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.bucketedScan
      case _ => false
    }, "the parquet side must be read as a bucketed scan")
    // correctness
    assert(joined.count() === docs.count())
    assert(joined.filter(col("tri_chars") =!= col("n_chars") * 3).count() === 0)
  }
}
