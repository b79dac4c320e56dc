package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Metrics
import graft.registry.GQuery

/** Bradley-Terry pairwise preference model (Bradley & Terry 1952) fit by
  * the MM algorithm (Hunter 2004, "MM algorithms for generalized
  * Bradley-Terry models", Ann. Statist. — public literature). The
  * reward-data question of an RLHF pipeline: given a stream of pairwise
  * preference judgments over documents, which SOURCES produce preferred
  * data — as calibrated strengths, not just win rates (BT corrects for
  * who was compared against whom).
  *
  * Scale shape: the corpus-sized comparison stream reduces by ONE
  * map-side-combinable groupBy to a |sources|² win matrix; the MM
  * iterations run on that tiny matrix (driver state, the KMeansLloyd
  * centroid precedent — k² ints, never the data); scoring rejoins
  * nothing corpus-sized. At 100 TB only the first aggregation touches
  * the data.
  *
  * Determinism (the q230-λ integer-scaling recipe, taken further — the
  * entire iteration is transcendental-free): every MM round maps each
  * pair term n/(w_i+w_j) to a 1e-9-scaled BIGINT (one IEEE division +
  * one multiply, bit-identical cross-engine), sums those EXACTLY as
  * integers (order-free), takes one IEEE division for the raw update,
  * integer-scales again for the exact normalization sum, and snaps the
  * normalized strength at 1e-6 as the round's output. DuckDB replays
  * all five rounds in unrolled materialized CTEs and matches every bit.
  *
  * Preferences are synthetic with a PLANTED signal (the q211/q219/q230
  * injection precedent): source srcN has latent tier N%5; a document's
  * preference score is tier·50 + md5-noise in [0,200), and each document
  * is compared against the next same-lang document from a different
  * source. BT must recover the tier ordering through the noise —
  * measured by the spec, replayed exactly by the oracle.
  */
object BradleyTerry {

  /** MM rounds; each output snapped at 1e-6 (see determinism note). */
  val Rounds = 5

  /** Per-document planted preference score: tier·50 + hash noise. */
  def prefFrame(docs: DataFrame): DataFrame = {
    val sidx = substring(col("source"), 4, 8).cast("int")
    docs.select(
      col("doc_id"), col("lang"), sidx.as("sidx"),
      ((sidx % 5) * 50 + pmod(Metrics.h60("btn", col("doc_id")), lit(200))).as("pref"))
  }

  /** Canonical win matrix: one row per unordered source pair (lo < hi)
    * with comparison count and lo's win count. Each doc is compared to
    * the NEXT same-lang doc (by doc_id) when their sources differ;
    * higher pref wins, ties to the lower doc_id.
    */
  def comparisonMatrix(docs: DataFrame): DataFrame =
    matrixFrom(comparisonRows(docs))

  /** The raw judgment stream before matrix reduction — one row per
    * comparison (lo, hi, win_lo). This is the grain preference events
    * arrive at in production; q245 streams it. */
  def comparisonRows(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val p = prefFrame(docs)
      .withColumn("n_doc", lead("doc_id", 1).over(w))
      .withColumn("n_sidx", lead("sidx", 1).over(w))
      .withColumn("n_pref", lead("pref", 1).over(w))
      .filter(col("n_sidx").isNotNull && col("n_sidx") =!= col("sidx"))
    val winA = col("pref") > col("n_pref") ||
      (col("pref") === col("n_pref") && col("doc_id") < col("n_doc"))
    p.select(
      col("doc_id"),
      least(col("sidx"), col("n_sidx")).as("lo"),
      greatest(col("sidx"), col("n_sidx")).as("hi"),
      when(winA === (col("sidx") < col("n_sidx")), 1L).otherwise(0L).as("win_lo"))
  }

  /** Matrix reduction — associative in the comparison rows, so a
    * streaming state merge of per-batch counts equals the one-shot
    * build (q245's invariant). */
  def matrixFrom(rows: DataFrame): DataFrame =
    rows.groupBy("lo", "hi")
      .agg(count(lit(1)).as("n"), sum("win_lo").as("wlo"))

  /** MM iterations over the collected matrix — the exact integer-scaled
    * scheme the oracle unrolls. pairs: (lo, hi, n, winsLo).
    */
  private[operators] def mmStrengths(
      pairs: Seq[(Int, Int, Long, Long)], rounds: Int): Map[Int, Double] = {
    val items = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val k = items.size
    require(k >= 2, s"Bradley-Terry needs at least two compared sources, got $k")
    val wins: Map[Int, Long] = items.map { i =>
      i -> pairs.map {
        case (lo, hi, n, wlo) =>
          if (lo == i) wlo else if (hi == i) n - wlo else 0L
      }.sum
    }.toMap
    var w: Map[Int, Double] = items.map(_ -> 1.0).toMap
    for (_ <- 1 to rounds) {
      // per-item denominator: each pair term 1e9-scaled to a long, then
      // an exact (order-free) integer sum
      val denom: Map[Int, Long] = items.map { i =>
        i -> pairs.map {
          case (lo, hi, n, _) if lo == i || hi == i =>
            val j = if (lo == i) hi else lo
            math.floor(n / (w(i) + w(j)) * 1e9 + 0.5).toLong
          case _ => 0L
        }.sum
      }.toMap
      // raw update with add-half smoothed wins (kept rational: 2W+1 over
      // twice the denominator), 1e9-scaled for the exact normalization
      val v: Map[Int, Long] = items.map { i =>
        val wr = (2 * wins(i) + 1) * 1e9 / (2.0 * denom(i))
        i -> math.floor(wr * 1e9 + 0.5).toLong
      }.toMap
      val total = items.map(v).sum
      w = items.map { i =>
        i -> math.floor((v(i) * k).toDouble / total.toDouble * 1e6 + 0.5) / 1e6
      }.toMap
    }
    w
  }

  /** Per-source BT ranking report: strength, rank, win/comparison
    * counts, planted tier.
    */
  def sourceRanking(docs: DataFrame): DataFrame =
    rankingFromMatrix(docs.sparkSession, comparisonMatrix(docs))

  /** The MM fit + report over a (lo, hi, n, wlo) matrix frame — shared
    * by the batch query and q245's streamed state. */
  def rankingFromMatrix(spark: org.apache.spark.sql.SparkSession,
                        matrix: DataFrame): DataFrame = {
    import spark.implicits._
    val pairs = matrix.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val strengths = mmStrengths(pairs, Rounds)
    val items = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    def involving(i: Int)(f: ((Int, Int, Long, Long)) => Long): Long =
      pairs.collect { case p if p._1 == i || p._2 == i => f(p) }.sum
    val rows = items.map { i =>
      val nComp = involving(i)(_._3)
      val nWins = involving(i) { case (lo, _, n, wlo) => if (lo == i) wlo else n - wlo }
      (s"src$i", i % 5, nComp, nWins, strengths(i))
    }
    val ranked = rows.sortBy { case (src, _, _, _, s) =>
      (-s, src.drop(3).toInt)
    }.zipWithIndex.map { case ((src, tier, nc, nw, s), r) =>
      (src, tier, nc, nw, s, r + 1)
    }
    ranked.toDF("source", "tier", "n_comp", "n_wins", "bt_strength", "rank")
      .select(col("source"), col("tier"), col("n_comp"), col("n_wins"),
        col("bt_strength"), col("rank").cast("int").as("rank"))
      .orderBy("rank")
  }

  private def mmRoundSql(r: Int): String = {
    val prev = if (r == 1) "w0" else s"w${r - 1}"
    s"""t$r AS MATERIALIZED (
        SELECT x.i, CAST(floor(x.n / (wa.w + wb.w) * 1e9 + 0.5) AS BIGINT) AS term
        FROM (SELECT lo AS i, hi AS j, n FROM m
              UNION ALL SELECT hi, lo, n FROM m) x
        JOIN $prev wa ON wa.sidx = x.i
        JOIN $prev wb ON wb.sidx = x.j),
      d$r AS (SELECT i, sum(term) AS ds FROM t$r GROUP BY i),
      v$r AS MATERIALIZED (
        SELECT d.i AS sidx,
          CAST(floor((2 * wn.wins + 1) * 1e9 / (2.0 * d.ds) * 1e9 + 0.5) AS BIGINT) AS v
        FROM d$r d JOIN wn ON wn.sidx = d.i),
      w$r AS MATERIALIZED (
        SELECT sidx,
          floor(CAST(v * (SELECT count(*) FROM srcs) AS DOUBLE)
                / CAST((SELECT sum(v) FROM v$r) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS w
        FROM v$r)"""
  }

  val q242 = GQuery(
    "q242_bradley_terry",
    (s, dir) => sourceRanking(Tables.documents(s, dir)),
    Some(s"""WITH d AS (
        SELECT doc_id, lang,
          CAST(substr(source, 4) AS INT) AS sidx,
          (CAST(substr(source, 4) AS INT) % 5) * 50 +
            CAST(('0x' || substr(md5('btn:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 200 AS pref
        FROM documents),
      p AS (
        SELECT doc_id, sidx, pref,
          lead(doc_id) OVER w AS n_doc,
          lead(sidx) OVER w AS n_sidx,
          lead(pref) OVER w AS n_pref
        FROM d WINDOW w AS (PARTITION BY lang ORDER BY doc_id)),
      c AS (
        SELECT least(sidx, n_sidx) AS lo, greatest(sidx, n_sidx) AS hi,
          CASE WHEN (pref > n_pref OR (pref = n_pref AND doc_id < n_doc))
                    = (sidx < n_sidx) THEN 1 ELSE 0 END AS win_lo
        FROM p WHERE n_sidx IS NOT NULL AND n_sidx <> sidx),
      m AS MATERIALIZED (
        SELECT lo, hi, count(*) AS n, sum(win_lo) AS wlo FROM c GROUP BY lo, hi),
      srcs AS MATERIALIZED (
        SELECT DISTINCT i AS sidx FROM
          (SELECT lo AS i FROM m UNION ALL SELECT hi FROM m)),
      wn AS MATERIALIZED (
        SELECT s.sidx, (SELECT coalesce(sum(CASE WHEN x.lo = s.sidx THEN x.wlo
                                              ELSE x.n - x.wlo END), 0)
                        FROM m x WHERE x.lo = s.sidx OR x.hi = s.sidx) AS wins
        FROM srcs s),
      w0 AS (SELECT sidx, CAST(1.0 AS DOUBLE) AS w FROM srcs),
      ${(1 to Rounds).map(mmRoundSql).mkString(",\n      ")}
      SELECT 'src' || CAST(f.sidx AS VARCHAR) AS source,
        CAST(f.sidx % 5 AS INT) AS tier,
        CAST((SELECT sum(x.n) FROM m x
              WHERE x.lo = f.sidx OR x.hi = f.sidx) AS BIGINT) AS n_comp,
        CAST(wn.wins AS BIGINT) AS n_wins,
        f.w AS bt_strength,
        CAST(row_number() OVER (ORDER BY f.w DESC, f.sidx) AS INT) AS rank
      FROM w$Rounds f JOIN wn ON wn.sidx = f.sidx
      ORDER BY rank"""))

  /** Streaming twin: the win matrix maintained across three genuine
    * micro-batches of comparison EVENTS (streaming.PreferenceStreams);
    * count-sum associativity makes the final state — and so the MM fit
    * and the whole ranking — equal the batch build for any slicing,
    * which is why this entry reuses q242's oracle VERBATIM.
    */
  val q245 = GQuery(
    "q245_streaming_bradley_terry",
    (s, dir) => graft.streaming.PreferenceStreams.streamingBradleyTerry(s, dir),
    q242.oracle)

  val all: Seq[GQuery] = Seq(q242, q245)
}
