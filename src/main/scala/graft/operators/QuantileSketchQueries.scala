package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Metrics
import graft.registry.GQuery

/** Mergeable quantile sketch over the orders fact — the rollup face of
  * plans.QuantileSketchAgg (see its scaladoc for the KLL-vs-bottom-k
  * design argument). The demonstrated property is RE-AGGREGABILITY
  * across three grain levels (the q98 recipe, now for percentiles):
  * month sketches are built from raw rows ONCE (`graft_qsketch`), then
  * quarters, years and the corpus total are each derived purely by
  * merging the next-finer grain's sketches (`graft_qsketch_merge`) —
  * no raw-data re-scan above the month grain. Because k-min-of-union is
  * associative, the merged sketch at every level equals the sketch
  * DuckDB builds directly from raw rows at that level, which is what
  * lets one oracle hash-check the whole merge tree.
  *
  * Per the q139/q219 audit discipline the output pairs every estimate
  * with the exact percentile (fixture-scale harness columns, dropped at
  * corpus scale) so the O(1/√k) sampling error is measured, not
  * assumed: at k=64 the p50 estimate sits within ±1 decile-width of
  * exact on every fixture grain.
  *
  * Scale shape: one scan builds the month sketches (map-side-combined
  * hash agg carrying ≤ k pairs per group); every rollup above works on
  * sketch-sized frames (≤ k rows' worth of pairs per group); the exact
  * audit is the only other corpus scan and exists for the gate, not
  * production. At 100 TB the audit drops and the whole percentile
  * surface — any grain — recomputes from kilobytes per group.
  */
object QuantileSketchQueries {

  val K = 64
  val Ps = Seq(0.5, 0.9, 0.99)

  /** Raw rows with the sketch hash: one md5-60-bit hash per UNIQUE order
    * key (the q56 convention) so the bottom-k sample is reproducible in
    * DuckDB; v is the sketched measure.
    */
  def base(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      date_trunc("month", col("o_orderdate")).cast("date").as("mkey"),
      date_trunc("quarter", col("o_orderdate")).cast("date").as("qkey"),
      conv(substring(md5(col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long").as("h"),
      col("o_totalprice").as("v"))

  /** Month-grain sketches — the only raw-data aggregation. */
  def monthSketches(b: DataFrame): DataFrame =
    b.groupBy("mkey", "qkey")
      .agg(call_function("graft_qsketch", col("h"), col("v"), lit(K)).as("sk"))

  /** Quarter sketches from MONTH SKETCHES (first merge level). */
  def quarterSketches(monthSk: DataFrame): DataFrame =
    monthSk.groupBy("qkey")
      .agg(call_function("graft_qsketch_merge", col("sk"), lit(K)).as("sk"))

  /** The report from quarter-grain sketches: year and total levels are
    * merged FROM the quarter sketches, quantiles extracted as order
    * statistics of each sample, exact audit joined per grain. Shared by
    * q225 (batch month→quarter build) and the streaming twin q226
    * (micro-batch-merged quarter state) — merge associativity makes
    * both quarter inputs identical for any slicing, the q219/q221
    * zero-drift argument.
    */
  def report(s: SparkSession, dir: String, quarterSk: DataFrame): DataFrame = {
    val yearSk = quarterSk
      .groupBy(date_trunc("year", col("qkey")).cast("date").as("gkey"))
      .agg(call_function("graft_qsketch_merge", col("sk"), lit(K)).as("sk"))
    val totalSk = yearSk
      .agg(call_function("graft_qsketch_merge", col("sk"), lit(K)).as("sk"))
      .select(lit("all").as("gkey"), col("sk"))
    val leveled = quarterSk.select(lit("quarter").as("grain"),
        col("qkey").cast("string").as("gkey"), col("sk"))
      .unionByName(yearSk.select(lit("year").as("grain"),
        col("gkey").cast("string").as("gkey"), col("sk")))
      .unionByName(totalSk.select(lit("total").as("grain"), col("gkey"), col("sk")))
    // order-statistic extraction: est(p) = p-th smallest of the sampled
    // values. Plain codegen'd built-ins over ≤ K-element arrays.
    val vs = array_sort(expr("transform(sk, x -> x.v)"))
    val est = Ps.map { p =>
      leveled.select(col("grain"), col("gkey"), lit(p).as("p"),
        size(col("sk")).cast("long").as("m"),
        Metrics.canonRound(element_at(vs,
          greatest(ceil(lit(p) * size(col("sk"))).cast("int"), lit(1))), 4).as("est"))
    }.reduce(_ unionByName _)
    // exact audit per grain from raw (ONE grouped pass per level via the
    // array-percentile trick, the q139 shape)
    val b = base(s, dir)
    val rawLeveled = b.select(lit("quarter").as("grain"),
        col("qkey").cast("string").as("gkey"), col("v"))
      .unionByName(b.select(lit("year").as("grain"),
        date_trunc("year", col("qkey")).cast("date").cast("string").as("gkey"), col("v")))
      .unionByName(b.select(lit("total").as("grain"), lit("all").as("gkey"), col("v")))
    val psArr = Ps.mkString(", ")
    val exact = rawLeveled.groupBy("grain", "gkey")
      .agg(count(lit(1)).as("n_rows"),
        expr(s"percentile(v, array($psArr))").as("exs"))
      .select(col("grain"), col("gkey"), col("n_rows"),
        posexplode(col("exs")).as(Seq("i", "ex")))
      .select(col("grain"), col("gkey"), col("n_rows"),
        element_at(array(Ps.map(lit): _*), col("i") + 1).as("p"),
        Metrics.canonRound(col("ex"), 4).as("exact"))
    est.join(exact, Seq("grain", "gkey", "p"))
      .select(col("grain"), col("gkey"), col("p"), col("n_rows"), col("m"),
        col("est"), col("exact"),
        Metrics.canonRound(abs(col("est") - col("exact")), 4).as("est_error"))
      .orderBy("grain", "gkey", "p")
  }

  private val oracleSqlText: String = {
    val psList = Ps.mkString(", ")
    s"""WITH base AS (
        SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qkey,
          CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
          o_totalprice AS v
        FROM orders),
      leveled AS (
        SELECT 'quarter' AS grain, CAST(qkey AS VARCHAR) AS gkey, h, v FROM base
        UNION ALL
        SELECT 'year', CAST(CAST(date_trunc('year', qkey) AS DATE) AS VARCHAR), h, v FROM base
        UNION ALL
        SELECT 'total', 'all', h, v FROM base),
      dedup AS (SELECT DISTINCT grain, gkey, h, v FROM leveled),
      ranked AS (
        SELECT grain, gkey, h, v,
          row_number() OVER (PARTITION BY grain, gkey ORDER BY h, v) AS rk
        FROM dedup),
      sk AS (SELECT grain, gkey, v FROM ranked WHERE rk <= $K),
      m AS (SELECT grain, gkey, count(*) AS m FROM sk GROUP BY 1, 2),
      pgrid AS (SELECT CAST(unnest([$psList]) AS DOUBLE) AS p),
      vs AS (
        SELECT grain, gkey, v,
          row_number() OVER (PARTITION BY grain, gkey ORDER BY v) AS vr
        FROM sk),
      est AS (
        SELECT s.grain, s.gkey, g.p, mm.m,
          floor(s.v * 1e4 + 0.5) / 1e4 AS est
        FROM vs s
        JOIN m mm ON mm.grain = s.grain AND mm.gkey = s.gkey
        CROSS JOIN pgrid g
        WHERE s.vr = greatest(CAST(ceil(g.p * mm.m) AS BIGINT), 1)),
      ex AS (
        SELECT grain, gkey, count(*) AS n_rows,
          ${Ps.map(p => s"floor(quantile_cont(v, CAST($p AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS ex_${(p * 100).toInt}").mkString(",\n          ")}
        FROM leveled GROUP BY 1, 2),
      exl AS (
        ${Ps.map(p =>
          s"SELECT grain, gkey, n_rows, CAST($p AS DOUBLE) AS p, ex_${(p * 100).toInt} AS exact FROM ex")
          .mkString("\n        UNION ALL ")})
      SELECT e.grain, e.gkey, e.p, x.n_rows, e.m, e.est, x.exact,
        floor(abs(e.est - x.exact) * 1e4 + 0.5) / 1e4 AS est_error
      FROM est e
      JOIN exl x ON x.grain = e.grain AND x.gkey = e.gkey AND x.p = e.p
      ORDER BY e.grain, e.gkey, e.p"""
  }

  val q225 = GQuery(
    "q225_quantile_sketch_rollup",
    (s, dir) => report(s, dir, quarterSketches(monthSketches(base(s, dir)))),
    Some(oracleSqlText))

  /** Streaming twin: the quarter sketch state is maintained across three
    * micro-batches (streaming.SketchStreams.streamingQuantileSketch, the
    * q203/q221 replay-guarded foreachBatch idiom) and fed into the SAME
    * report — oracle reused verbatim because the merged state equals the
    * batch build for any slicing.
    */
  val q226 = GQuery(
    "q226_stream_quantile_sketch",
    (s, dir) => graft.streaming.SketchStreams.streamingQuantileSketch(s, dir),
    q225.oracle)

  def all: Seq[GQuery] = Seq(q225, q226)
}
