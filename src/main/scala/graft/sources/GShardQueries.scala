package graft.sources

import org.apache.spark.sql.functions._

import graft.Tables
import graft.registry.GQuery

/** Registry surface for the GSH DataSource V2 reader: stage the
  * documents table as range-sharded binary files, read them back
  * through the custom source with a doc_id range filter (planning-time
  * shard pruning + row skip) and a text-free projection (payload-skip
  * column pruning), and hash-verify the aggregate against DuckDB
  * reading the same rows from parquet. Each invocation stages into its
  * own temp dir (concurrent Verify workers never collide); staging cost
  * is one scan + one shuffle at fixture scale.
  */
object GShardQueries {

  val q232 = GQuery(
    "q232_gshard_scan",
    (s, dir) => {
      val stage = graft.streaming.TempDirs.create("gshard-q232-").toString
      GShard.write(Tables.documents(s, dir), stage, nShards = 8)
      s.read.format("graft.sources.GShardSource").load(stage)
        .filter(col("doc_id") >= 100 && col("doc_id") < 400)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents WHERE doc_id >= 100 AND doc_id < 400
      GROUP BY source ORDER BY source"""))

  /** Micro-batch streaming read of the custom format (q236): the staged
    * shard directory plays back as a genuine multi-batch stream
    * (maxFilesPerTrigger=3 over 8 shards → 3 batches through
    * GShardMicroBatchStream's file-count offsets); per batch the
    * per-source partials merge into versioned state through the shared
    * StreamHarness.runVersionedMerge loop (the q203 idiom).
    * Counts are a set property of the corpus ⇒ the final state is
    * slicing-independent and equals the batch aggregate, so the oracle
    * is a plain GROUP BY over the parquet twin.
    */
  val q236 = GQuery(
    "q236_gshard_stream",
    (s, dir) => graft.streaming.StreamHarness.withStreamConf(s) {
      val stage = graft.streaming.TempDirs.create("gshard-q236-").toString
      GShard.write(Tables.documents(s, dir), stage, nShards = 8)
      val source = s.readStream.format("graft.sources.GShardSource")
        .option("maxFilesPerTrigger", 3)
        .load(stage)
      graft.streaming.StreamHarness.runVersionedMerge(source) { (prev, batch) =>
        val delta = batch.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        prev.fold(delta)(_.unionByName(delta))
          .groupBy("source")
          .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"))
      }.orderBy("source")
    },
    Some("""SELECT source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY source ORDER BY source"""))

  /** Aggregate pushdown (q237): a filterless, ungrouped COUNT(*) /
    * MIN / MAX(doc_id) over the custom format is answered ENTIRELY from
    * the 24-byte shard footers at planning time — zero row decodes (the
    * spec pins the lastAggPushed flag and that a grouped/filtered query
    * declines the pushdown). The scan-free metadata query every lakehouse
    * format optimizes; here the zone maps double as the statistics.
    */
  val q237 = GQuery(
    "q237_gshard_footer_stats",
    (s, dir) => {
      val stage = graft.streaming.TempDirs.create("gshard-q237-").toString
      GShard.write(Tables.documents(s, dir), stage, nShards = 8)
      s.read.format("graft.sources.GShardSource").load(stage)
        .selectExpr("count(*) AS n_docs", "min(doc_id) AS min_id",
          "max(doc_id) AS max_id")
    },
    Some("""SELECT count(*) AS n_docs, min(doc_id) AS min_id,
        max(doc_id) AS max_id
      FROM documents"""))

  /** The connector under a REAL text workload (q240): the full
    * documents corpus staged as shards, read back through the
    * VECTORIZED string path, and pushed through an exact-dedup +
    * token-stats funnel — proof the existing operator surface runs
    * unchanged on the custom source (q232 never decodes `text`; this
    * query's dominant cost IS the text decode). Oracle reads the same
    * rows from parquet.
    */
  val q240 = GQuery(
    "q240_gshard_corpus",
    (s, dir) => {
      val stage = graft.streaming.TempDirs.create("gshard-q240-").toString
      GShard.write(Tables.documents(s, dir), stage, nShards = 8)
      val docs = s.read.format("graft.sources.GShardSource").load(stage)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
      docs
        .withColumn("is_survivor", col("doc_id") === min("doc_id").over(w))
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_survivor"), 1L).otherwise(0L)).as("n_unique"),
          sum("n_tok").as("n_tokens"),
          sum(when(col("is_survivor"), col("n_tok")).otherwise(0L))
            .as("kept_tokens"))
        .orderBy("source")
    },
    Some("""WITH d AS (
        SELECT source, n_chars,
          (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS is_survivor,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents)
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN is_survivor THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN is_survivor THEN n_tok ELSE 0 END) AS BIGINT)
          AS kept_tokens
      FROM d GROUP BY source ORDER BY source"""))

  /** Storage-partitioned join (q254): two GSH corpora over the SAME
    * doc_id universe — the full documents and a 40-char summary twin —
    * share the writer's (lo, step) layout, load through the `gshard`
    * catalog (which resolves the shard_<lo>_<step> clustering
    * transform), and equi-join on doc_id with ZERO Exchange on either
    * side: partition i of A merges with partition i of B directly
    * (GShardScan.outputPartitioning + GShardCatalog). The merge hint
    * pins the sort-merge shape so the co-partitioning is what the plan
    * exercises — at fixture scale the summary side would broadcast and
    * hide it. GShardSpec asserts the shuffle-free plan and the
    * different-layout fallback; the oracle replays the join from
    * parquet.
    */
  val q254 = GQuery(
    "q254_gshard_spj",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val stageA = graft.streaming.TempDirs.create("gshard-q254a-").toString
      val stageB = graft.streaming.TempDirs.create("gshard-q254b-").toString
      GShard.write(docs, stageA, nShards = 8)
      GShard.write(
        docs.withColumn("text", substring(col("text"), 1, 40))
          .withColumn("n_chars", length(col("text")).cast("long")),
        stageB, nShards = 8)
      val full = s.table(s"gshard.`$stageA`")
      val short = s.table(s"gshard.`$stageB`")
        .select(col("doc_id"), col("n_chars").as("short_chars"))
      full.hint("merge").join(short, "doc_id")
        .groupBy(full("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("short_chars").as("sum_short"))
        .orderBy("lang")
    },
    Some("""WITH b AS (
        SELECT doc_id, CAST(length(substring(text, 1, 40)) AS BIGINT) AS short_chars
        FROM documents)
      SELECT d.lang, count(*) AS n_docs,
        CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
        CAST(sum(b.short_chars) AS BIGINT) AS sum_short
      FROM documents d JOIN b USING (doc_id)
      GROUP BY d.lang ORDER BY d.lang"""))

  /** CROSS-FORMAT physical-layout join (q263): the GSH V2 source against
    * a V1 Hive-bucketed parquet table, both laid out on doc_id. ZERO
    * exchanges is impossible here by API construction — Spark's
    * storage-partitioned join aligns two V2 `KeyGroupedPartitioning`s
    * (same transform on both sides), while V1 bucketing reports
    * murmur3 `HashPartitioning`; a `KeyGroupedShuffleSpec` is never
    * compatible with a `HashShuffleSpec`, and the V2 reader API cannot
    * report a hash layout (Partitioning is KeyGrouped or Unknown). See
    * PLANS.md "Cross-format SPJ" for the full note. The ACHIEVABLE
    * minimum is therefore one exchange: the bucketed side's layout is
    * honored as-is (no shuffle, 8 bucket files = 8 partitions) and only
    * the GSH side reshuffles into that layout — GShardSpec pins exactly
    * one Exchange, on the GSH side. At 100 TB this halves the join's
    * shuffle bill; co-formatting both sides (q254) removes it entirely.
    */
  val q263 = GQuery(
    "q263_gshard_bucket_join",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val stage = graft.streaming.TempDirs.create("gshard-q263-").toString
      GShard.write(docs, stage, nShards = 8)
      Bucketing.writeBucketed(
        docs.select(col("doc_id"), (col("doc_id") % 7).as("fold"),
          (col("n_chars") * 3L).as("tri_chars")),
        "graft_q263_meta", graft.streaming.TempDirs.create("gshard-q263-meta-").toString,
        "doc_id", nBuckets = 8, sortCol = Some("doc_id"))
      val gsh = s.table(s"gshard.`$stage`")
      val meta = s.table("graft_q263_meta")
      gsh.hint("merge").join(meta, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("tri_chars").as("sum_tri"),
          sum(when(col("fold") === 0, 1L).otherwise(0L)).as("n_fold0"))
        .orderBy("source")
    },
    Some("""WITH m AS (
        SELECT doc_id, doc_id % 7 AS fold, n_chars * 3 AS tri_chars
        FROM documents)
      SELECT d.source, count(*) AS n_docs,
        CAST(sum(m.tri_chars) AS BIGINT) AS sum_tri,
        CAST(sum(CASE WHEN m.fold = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fold0
      FROM documents d JOIN m USING (doc_id)
      GROUP BY d.source ORDER BY d.source"""))

  val all: Seq[GQuery] = Seq(q232, q236, q237, q240, q254, q263)
}
