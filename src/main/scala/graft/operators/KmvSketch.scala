package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Metrics
import graft.registry.GQuery

/** KMV (k-minimum-values) distinct/overlap sketch (Bar-Yossef et al. 2002,
  * Beyer et al. 2007 — public literature): keep the k smallest hash
  * values of a set; (k−1)/h_(k) estimates the distinct count, and two
  * sketches MERGE by taking the k smallest of their union — which makes
  * KMV the sketch for set OVERLAP: among the merged k-minimums, the
  * fraction present in both sides estimates Jaccard, and ρ·D̂(∪)
  * estimates the intersection size. This is how a 100 TB pipeline asks
  * "how much do corpus A and corpus B overlap" WITHOUT joining them —
  * per-source sketches are k rows each, pairwise comparison is
  * sketch-sized, and the corpus is scanned once.
  *
  * The deterministic, oracle-checkable member of the sketch family: HLL
  * (q27/q98) is engine-internal and stays rows-only; KMV over the q56
  * md5 60-bit hash is EXACTLY replayable in DuckDB (the k smallest are
  * an order statistic, not a register race) — the same twin relationship
  * MinHash got from q56. Like q124's CMS and q139's histogram, the
  * output pairs every estimate with the exact value so the error is
  * auditable at fixture scale (the exact columns are the test harness,
  * dropped at corpus scale).
  *
  * The fixture's organic cross-source duplication is near zero (7 of
  * 190 pairs share any fingerprint at sf0.1, each ≤2 docs), which
  * would leave every estimate at an unexercised 0.0 — so the query
  * INJECTS deterministic shared mass (the q211 injected-twin
  * precedent): every even doc_id's text is also attributed to the next
  * source ((src_i+1) mod 20). Because the fixture assigns source =
  * doc_id % 20, even doc_ids are exactly the even-NUMBERED sources, so
  * each (src_even, src_even+1) pair acquires a known Jaccard ≈ 1/2
  * (src_even ⊂ src_even+1) that the sketch must actually measure —
  * measured est_jaccard 0.41-0.63 at k=32 against exact 0.50, the
  * binomial ±0.09 the theory predicts, corr(est, exact) 0.989 over all
  * 190 pairs. The oracle re-derives the identical injection.
  *
  * Scale shape: one scan → distinct (source, h) hash agg → per-source
  * k-min (a window over per-source DISTINCT fingerprints here; the
  * bounded-heap TopK aggregator is the at-scale form) → pairwise merge
  * over |sources|²·k sketch rows — broadcast-scale regardless of corpus
  * size. k=32 suits the fixture's 25-250 docs/source; production uses
  * k≈1024 for ±3% relative error.
  */
object KmvSketch {

  private val K = 32
  // 2^60 — exact in double (power of two); h/2^60 ∈ [0,1) is the
  // uniform position of a 60-bit md5 hash
  private val Pow60 = 1.152921504606846976e18

  /** Per-source KMV sketch rows: (source, h, rk ≤ K) over distinct
    * md5-60-bit text fingerprints.
    */
  def sketch(docs: DataFrame, k: Int = K): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("h")
    docs.select(col("source"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** The q219 corpus: fixture documents plus the deterministic injected
    * duplication (even doc_ids re-attributed to the next source). Keeps
    * doc_id so streaming callers can slice into micro-batches.
    */
  def augmentedDocs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
    val nextSource = concat(lit("src"),
      ((substring(col("source"), 4, 10).cast("int") + 1) % 20).cast("string"))
    base.select(col("doc_id"), col("source"), col("text"))
      .unionByName(base.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), nextSource.as("source"), col("text")))
  }

  /** Everything downstream of the sketch: pairwise merged-minima overlap
    * estimation plus the exact audit over the full (augmented) corpus.
    * Shared by q219 (batch-built sketch) and q221 (stream-built sketch —
    * identical output for ANY micro-batch slicing because k-min merge is
    * associative and commutative, which is what lets q221 reuse q219's
    * oracle verbatim, the q179/q181 argument).
    *
    * CACHE CONTRACT (the PqAnn.buildIndex rule): the sketch and the
    * exact-audit fingerprint frames are `.cache()`d and eagerly
    * materialized here because the returned report consumes each of them
    * through several join branches — recomputing would re-scan the corpus
    * per branch. The blocks stay pinned for the lifetime of the returned
    * (lazy) frame; a long-lived session that runs this repeatedly must
    * clear them between runs (perfbench, TimeQuery and ScaleCert call
    * `sharedState.cacheManager.clearCache()` between queries, which is
    * why their registry sweeps don't accumulate; Verify does not — see
    * DedupQueries.capBuckets).
    */
  def overlapReport(s: org.apache.spark.sql.SparkSession, dir: String,
                    skIn: DataFrame): DataFrame = {
      val docs = augmentedDocs(s, dir).select(col("source"), col("text"))
      val sk = skIn.select(col("source"), col("h")).cache()
      sk.count()
      // pairwise merge: union the two sketches' hash sets, rank, keep the
      // K smallest; count how many of those K appear in BOTH sketches
      val a = sk.select(col("source").as("src_a"), col("h"))
      val b = sk.select(col("source").as("src_b"), col("h"))
      val both = a.join(b, "h").filter(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"), col("h"), lit(1).as("in_both"))
      val unioned = a.join(b.select(col("src_b")).distinct(), col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"), col("h"))
        .unionByName(
          b.join(a.select(col("src_a")).distinct(), col("src_a") < col("src_b"))
            .select(col("src_a"), col("src_b"), col("h")))
        .distinct()
      val wU = org.apache.spark.sql.expressions.Window
        .partitionBy("src_a", "src_b").orderBy("h")
      val merged = unioned.withColumn("rk", row_number().over(wU))
        .filter(col("rk") <= K)
        .join(both, Seq("src_a", "src_b", "h"), "left")
      // small-union regime: when the merged union holds FEWER than K
      // fingerprints the sketch IS the full union — hk has no rank-K row
      // and the estimators collapse to the exact values (divide by the
      // union size n_u, est_union = n_u). At fixture scale every pair's
      // union exceeds K, so n_u = K and this is the plain KMV formula;
      // the guard keeps tiny corpora NULL-free and unbiased.
      val est = merged.groupBy("src_a", "src_b")
        .agg(max(when(col("rk") === K, col("h"))).as("hk"),
          count(lit(1)).as("n_u"),
          sum(coalesce(col("in_both"), lit(0))).as("n_both"))
        .select(col("src_a"), col("src_b"),
          Metrics.canonRound(
            col("n_both").cast("double") / col("n_u").cast("double"), 4).as("est_jaccard"),
          Metrics.canonRound(
            coalesce(lit((K - 1).toDouble) / (col("hk").cast("double") / Pow60),
              col("n_u").cast("double")) *
              (col("n_both").cast("double") / col("n_u").cast("double")), 2)
            .as("est_intersection"))
      // exact audit (fixture-scale harness; a real corpus drops this):
      // distinct fingerprints per source, exact pairwise intersection
      val fps = docs.select(col("source"),
          conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))
        .distinct().cache()
      fps.count()
      val na = fps.groupBy(col("source").as("src_a")).agg(count(lit(1)).as("n_a"))
      val nb = fps.groupBy(col("source").as("src_b")).agg(count(lit(1)).as("n_b"))
      val inter = fps.select(col("source").as("src_a"), col("h"))
        .join(fps.select(col("source").as("src_b"), col("h")), "h")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("exact_intersection"))
      est.join(broadcast(na), "src_a").join(broadcast(nb), "src_b")
        .join(broadcast(inter), Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          coalesce(col("exact_intersection"), lit(0L)).as("exact_intersection"),
          Metrics.canonRound(
            coalesce(col("exact_intersection"), lit(0L)).cast("double") /
              (col("n_a") + col("n_b") - coalesce(col("exact_intersection"), lit(0L)))
                .cast("double"), 4).as("exact_jaccard"),
          col("est_jaccard"), col("est_intersection"))
        .orderBy("src_a", "src_b")
  }

  val q219 = GQuery(
    "q219_kmv_overlap",
    (s, dir) => overlapReport(s, dir,
      sketch(augmentedDocs(s, dir).select(col("source"), col("text")))),
    Some(s"""WITH docs AS (
        SELECT source, text FROM documents
        UNION ALL
        SELECT 'src' || CAST((CAST(substr(source, 4) AS INTEGER) + 1) % 20 AS VARCHAR), text
        FROM documents WHERE doc_id % 2 = 0),
      fp AS (
        SELECT DISTINCT source,
          CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        FROM docs),
      sk AS (
        SELECT source, h FROM (
          SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk
          FROM fp) z
        WHERE rk <= 32),
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM (SELECT DISTINCT source FROM sk) a
        JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
      uni AS (
        SELECT DISTINCT p.src_a, p.src_b, s.h
        FROM pairs p JOIN sk s ON s.source = p.src_a OR s.source = p.src_b),
      ranked AS (
        SELECT src_a, src_b, h,
          row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
        FROM uni),
      kept AS (SELECT * FROM ranked WHERE rk <= 32),
      tagged AS (
        SELECT k.src_a, k.src_b, k.h, k.rk,
          CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL THEN 1 ELSE 0 END AS in_both
        FROM kept k
        LEFT JOIN sk sa ON sa.source = k.src_a AND sa.h = k.h
        LEFT JOIN sk sb ON sb.source = k.src_b AND sb.h = k.h),
      est AS (
        SELECT src_a, src_b,
          max(CASE WHEN rk = 32 THEN h END) AS hk,
          count(*) AS n_u,
          sum(in_both) AS n_both
        FROM tagged GROUP BY 1, 2),
      ex AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS exact_intersection
        FROM fp a JOIN fp b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2),
      nn AS (SELECT source, count(*) AS n FROM fp GROUP BY 1)
      SELECT e.src_a, e.src_b, na.n AS n_a, nb.n AS n_b,
        coalesce(x.exact_intersection, 0) AS exact_intersection,
        floor(CAST(coalesce(x.exact_intersection, 0) AS DOUBLE) /
          CAST(na.n + nb.n - coalesce(x.exact_intersection, 0) AS DOUBLE)
          * 1e4 + 0.5) / 1e4 AS exact_jaccard,
        floor(CAST(e.n_both AS DOUBLE) / CAST(e.n_u AS DOUBLE) * 1e4 + 0.5) / 1e4
          AS est_jaccard,
        floor(coalesce(31.0 / (CAST(e.hk AS DOUBLE) / 1152921504606846976.0),
            CAST(e.n_u AS DOUBLE)) *
          (CAST(e.n_both AS DOUBLE) / CAST(e.n_u AS DOUBLE)) * 1e2 + 0.5) / 1e2
          AS est_intersection
      FROM est e
      JOIN nn na ON na.source = e.src_a
      JOIN nn nb ON nb.source = e.src_b
      LEFT JOIN ex x ON x.src_a = e.src_a AND x.src_b = e.src_b
      ORDER BY e.src_a, e.src_b"""))

  /** Streaming twin of q219 (streaming.SketchStreams): the per-source
    * KMV state is maintained across three genuine micro-batches via
    * replay-guarded foreachBatch merges; k-min merge associativity makes
    * the final sketch — and so the whole overlap report — equal the
    * batch build for any slicing, which is why this entry reuses q219's
    * oracle VERBATIM (zero drift possible between the streaming and
    * batch contracts, the q179/q181 trick).
    */
  val q221 = GQuery(
    "q221_stream_kmv",
    (s, dir) => graft.streaming.SketchStreams.streamingKmv(s, dir),
    q219.oracle)

  def all: Seq[GQuery] = Seq(q219, q221)
}
