package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Metrics
import graft.registry.GQuery

/** Probabilistic record linkage, Fellegi-Sunter model (Fellegi & Sunter
  * 1969, "A theory for record linkage", JASA — public literature; the
  * same scoring model behind Splink and most production entity
  * resolution). The pipeline question: given a feed of dirty entity
  * records, which master records do they refer to — with a calibrated
  * score, not just an edit-distance threshold (q85 covers the fuzzy
  * compare; this is the probabilistic DECISION model on top of blocked
  * comparisons).
  *
  * The FS machinery, all exact/deterministic here:
  *   - u-probabilities (chance agreement among non-matches) computed
  *     ALGEBRAICALLY from master-side value frequencies: u_f = Σ_v n_v²/N²
  *     — exact integer sums, no pair sampling needed.
  *   - m-probabilities (agreement among true matches) estimated on the
  *     labeled truth pairs with add-half smoothing (m = (agree+½)/(n+1)),
  *     so m is never 0 or 1 and every log weight is finite. (Production
  *     systems estimate m via EM; the fixture carries generation truth,
  *     so the deterministic supervised estimate is both simpler and
  *     exactly replayable.)
  *   - per-field log2 agreement/disagreement weights — the ONLY
  *     transcendentals, snapped ONCE each at 1e-6 (six scalars; the
  *     q230-λ pattern) and carried as DECIMAL(18,6) so pair scores are
  *     exact decimal sums.
  *   - classification by fixed thresholds (match ≥ 8 bits, possible ≥ 0),
  *     plus truth-based precision/recall and blocking-recall audit
  *     columns (the q229 audit-column pattern).
  *
  * Dirty records are synthesized deterministically from customers via the
  * q56 60-bit md5 scheme (1-in-3 of customers gets a dirty twin; name
  * corrupted at 20%, nation at 10%, segment at 15%, balance band at 25%),
  * so the oracle replays generation, model estimation, scoring, and
  * classification end to end.
  *
  * Scale shape (r14): the nation block alone is a CLOSED-VOCABULARY
  * block — 25 values forever — so its pair space grows quadratically
  * with data (ScaleCert measured 46×/21× at 10× for q241/q244). Neither
  * production path materializes it any more: q241's report blocks on
  * passes DERIVED from the fitted weights ([[minimalQualifyingPatterns]]
  * — only agreement patterns that can reach the report's 0-bit floor
  * generate pairs, recall-lossless by construction), and q244's EM
  * consumes the algebraic [[patternCounts]] (per-subset group-count
  * products + Möbius inversion — no pair stream at all). The exhaustive
  * [[candidatePairs]] remains as ground truth for the spec and as the
  * fallback when the weights cannot support a lossless band. The value
  * -frequency tables, truth-pair counts, and the weight vector are tiny
  * aggregate frames; audit numbers (blocking_recall et al.) come from
  * the 1:1 truth join, so they are identical under every path.
  */
object RecordLinkage {

  /** Master side: customers with their comparison fields. */
  def masterRecords(cust: DataFrame): DataFrame =
    cust.select(
      col("c_custkey").as("k"), col("c_name"), col("c_nationkey"),
      col("c_mktsegment"),
      floor(col("c_acctbal") / 500).cast("long").as("band"))

  /** Dirty feed: a deterministically corrupted twin for 1-in-3 customers.
    * rec_id is the negative-twin-id convention (never collides with a
    * master key).
    */
  def dirtyRecords(cust: DataFrame): DataFrame = {
    val k = col("c_custkey")
    cust
      .filter(pmod(Metrics.h60("pick", k), lit(3)) === 0)
      .select(
        (-k - 1).as("rec_id"), k.as("src_key"),
        when(pmod(Metrics.h60("nm", k), lit(100)) < 20, concat(col("c_name"), lit("~")))
          .otherwise(col("c_name")).as("d_name"),
        when(pmod(Metrics.h60("nt", k), lit(100)) < 10, pmod(col("c_nationkey") + 7, lit(25)))
          .otherwise(col("c_nationkey")).as("d_nation"),
        when(pmod(Metrics.h60("sg", k), lit(100)) < 15, lit("CORRUPTED"))
          .otherwise(col("c_mktsegment")).as("d_seg"),
        (floor(col("c_acctbal") / 500).cast("long") +
          when(pmod(Metrics.h60("bb", k), lit(100)) < 25, 1L).otherwise(0L)).as("d_band"))
  }

  /** One-row m/u weight frame: six snapped DECIMAL(18,6) log2 weights.
    * Nation is the blocking field and is excluded from scoring (standard
    * FS practice — within a block it always agrees).
    */
  def weights(master: DataFrame, dirty: DataFrame): DataFrame = {
    def freqSq(c: String): DataFrame =
      master.groupBy(col(c)).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n")).as("sq"))
    val nsq = master.agg(count(lit(1)).as("nc"))
      .select((col("nc") * col("nc")).cast("double").as("nsq"))
    // truth pairs: every dirty record joins its (one) source master row
    val truth = dirty.join(master, col("src_key") === col("k"))
      .agg(
        count(lit(1)).as("nt"),
        sum(when(col("d_name") === col("c_name"), 1L).otherwise(0L)).as("an"),
        sum(when(col("d_seg") === col("c_mktsegment"), 1L).otherwise(0L)).as("as"),
        sum(when(col("d_band") === col("band"), 1L).otherwise(0L)).as("ab"))
    def m(agree: Column, n: Column): Column =
      (agree.cast("double") + 0.5) / (n.cast("double") + 1.0)
    def u(sq: Column, nsq: Column): Column = sq.cast("double") / nsq
    // ln(x)/ln(2) in BOTH engines; snapped once per scalar at 1e-6 —
    // the only transcendental in the whole query (q230-λ precedent)
    def w2(x: Column): Column =
      Metrics.canonRound(log(x) / log(lit(2.0)), 6).cast("decimal(18,6)")
    truth
      .crossJoin(nsq)
      .crossJoin(freqSq("c_name").select(col("sq").as("sqn")))
      .crossJoin(freqSq("c_mktsegment").select(col("sq").as("sqs")))
      .crossJoin(freqSq("band").select(col("sq").as("sqb")))
      .select(
        w2(m(col("an"), col("nt")) / u(col("sqn"), col("nsq"))).as("w_name_a"),
        w2((lit(1.0) - m(col("an"), col("nt"))) / (lit(1.0) - u(col("sqn"), col("nsq")))).as("w_name_d"),
        w2(m(col("as"), col("nt")) / u(col("sqs"), col("nsq"))).as("w_seg_a"),
        w2((lit(1.0) - m(col("as"), col("nt"))) / (lit(1.0) - u(col("sqs"), col("nsq")))).as("w_seg_d"),
        w2(m(col("ab"), col("nt")) / u(col("sqb"), col("nsq"))).as("w_band_a"),
        w2((lit(1.0) - m(col("ab"), col("nt"))) / (lit(1.0) - u(col("sqb"), col("nsq")))).as("w_band_d"))
  }

  /** Blocked candidate pairs with their FS score (exact decimal sum of
    * snapped weights) and truth flag.
    *
    * The six weights are a deterministic ONE-ROW aggregate; they are
    * collected and folded in as decimal literals (the q228/MlpModel
    * folded-weights recipe) rather than crossJoin(broadcast(w))-ed:
    * a projection above a BroadcastNestedLoopJoin is evaluated outside
    * whole-stage codegen, and at sf0.1 the interpreted per-pair score
    * measured ~2.5s PER COLUMN over the 3M candidates (23s total) vs
    * ~1s for the whole query with literal weights keeping the score
    * inside the blocked join's codegen stage.
    */
  /** EXHAUSTIVE blocked candidate pairs with their per-field agreement
    * indicators and truth flag — the reference pair space. Since r14 the
    * production paths never materialize this stream (q241 goes through
    * the derived blocking passes of [[bandedCandidates]], q244 through
    * the algebraic [[patternCounts]]); it remains the ground truth the
    * spec compares both against, and the fallback when the fitted
    * weights cannot support a lossless band.
    *
    * The exchange below is load-bearing, not just co-location: codegen
    * defers stream-side vars that the join key doesn't need into the
    * match loop, so without it the md5-CASE dirty columns re-evaluate
    * PER PAIR (3M md5s at sf0.1, measured ~2.3s per referencing column)
    * instead of per dirty row. Shuffling the dirty feed on the block
    * key materializes them once — and is the shuffle a non-broadcast
    * blocked join needs at real scale anyway.
    */
  def candidatePairs(master: DataFrame, dirty: DataFrame): DataFrame =
    dirty.repartition(col("d_nation"))
      .join(master, col("d_nation") === col("c_nationkey"))
      .select(
        col("rec_id"), col("k").as("master_key"),
        when(col("d_name") === col("c_name"), 1).otherwise(0).as("a_name"),
        when(col("d_seg") === col("c_mktsegment"), 1).otherwise(0).as("a_seg"),
        when(col("d_band") === col("band"), 1).otherwise(0).as("a_band"),
        when(col("src_key") === col("k"), 1).otherwise(0).as("is_true"))

  /** Blocking-rule DERIVATION (r13 verdict item 3, the Splink recipe):
    * the report only ever emits pairs scoring ≥ 0 bits, and a pair's
    * score is a monotone-free function of its 2³ agreement pattern — so
    * from the six fitted weights we can enumerate which patterns can
    * reach the floor and block on exactly those. Returns the MINIMAL
    * qualifying patterns (no qualifying pattern is a proper sub-pattern):
    * every qualifying pattern is a superset of some minimal one, so an
    * equi-join pass per minimal pattern (on nation + that pattern's
    * agreeing fields) finds every reportable pair — recall-lossless BY
    * CONSTRUCTION, with no monotonicity assumption (a qualifying pattern
    * is covered at worst by itself). If the all-disagree pattern
    * qualifies, the only lossless "band" is the full nation block and
    * callers must fall back to [[candidatePairs]].
    *
    * On the fixtures this derives {name} and {seg, band}: the name pass
    * is 1:~1 (names are near-unique) and the (seg, band) pass divides
    * the nation block by the seg×band vocabulary — the closed-vocabulary
    * candidate quadratic that ScaleCert measured at 46× shrinks by the
    * product of the banded vocabularies while returning the identical
    * report.
    */
  private[operators] def minimalQualifyingPatterns(wr: org.apache.spark.sql.Row): Seq[(Int, Int, Int)] = {
    def wl(i: Int) = BigDecimal(wr.getDecimal(i))
    def score(p: (Int, Int, Int)): BigDecimal =
      (if (p._1 == 1) wl(0) else wl(1)) +
        (if (p._2 == 1) wl(2) else wl(3)) +
        (if (p._3 == 1) wl(4) else wl(5))
    val pats = for { a <- 0 to 1; b <- 0 to 1; c <- 0 to 1 } yield (a, b, c)
    val qual = pats.filter(score(_) >= 0)
    def subsetOf(q: (Int, Int, Int), p: (Int, Int, Int)) =
      q._1 <= p._1 && q._2 <= p._2 && q._3 <= p._3
    qual.filter(p => !qual.exists(q => q != p && subsetOf(q, p)))
  }

  /** Candidate pairs via the derived blocking passes: one equi join per
    * minimal qualifying pattern (project ONLY the pair keys — the
    * md5-CASE dirty columns are join keys or unused, so nothing derived
    * leaks into a match loop), distinct across passes, then one join
    * back to each side to compute the indicators. Emits exactly the
    * pairs whose score can reach 0 — the ones the report keeps.
    */
  private def bandedCandidates(master: DataFrame, dirty: DataFrame,
      minimal: Seq[(Int, Int, Int)]): DataFrame = {
    val passes = minimal.map { m =>
      val conds = Seq(col("d_nation") === col("c_nationkey")) ++
        (if (m._1 == 1) Seq(col("d_name") === col("c_name")) else Nil) ++
        (if (m._2 == 1) Seq(col("d_seg") === col("c_mktsegment")) else Nil) ++
        (if (m._3 == 1) Seq(col("d_band") === col("band")) else Nil)
      dirty.join(master, conds.reduce(_ && _))
        .select(col("rec_id"), col("k").as("master_key"))
    }
    val keys = passes.reduce(_ unionByName _).distinct()
    // join-back on unique keys; repartition materializes the derived
    // dirty columns once per record (NOTES invariant 15)
    keys.join(dirty.repartition(col("rec_id")), "rec_id")
      .join(master.withColumnRenamed("k", "master_key"), "master_key")
      .select(
        col("rec_id"), col("master_key"),
        when(col("d_name") === col("c_name"), 1).otherwise(0).as("a_name"),
        when(col("d_seg") === col("c_mktsegment"), 1).otherwise(0).as("a_seg"),
        when(col("d_band") === col("band"), 1).otherwise(0).as("a_band"),
        when(col("src_key") === col("master_key"), 1).otherwise(0).as("is_true"))
  }

  def scoredPairs(master: DataFrame, dirty: DataFrame, w: DataFrame): DataFrame = {
    val wr = w.head()
    // the one-row weight frame folds in as decimal literals (the
    // q228/MlpModel recipe): a crossJoin(broadcast(w)) plans a BNLJ
    // whose output projection runs interpreted, measured ~2.5s per
    // referencing column over the sf0.1 candidates
    def wl(i: Int): Column = lit(wr.getDecimal(i))
    val minimal = minimalQualifyingPatterns(wr)
    // empty minimal = NO pattern reaches the floor: the report is empty,
    // which the exhaustive path computes correctly (and bandedCandidates'
    // passes.reduce would throw on); all-disagree qualifying = the only
    // lossless band is the full block
    val cand =
      if (minimal.isEmpty || minimal.contains((0, 0, 0))) candidatePairs(master, dirty)
      else bandedCandidates(master, dirty, minimal)
    cand.withColumn("score",
      when(col("a_name") === 1, wl(0)).otherwise(wl(1)) +
        when(col("a_seg") === 1, wl(2)).otherwise(wl(3)) +
        when(col("a_band") === 1, wl(4)).otherwise(wl(5)))
  }

  /** Full linkage report: pairs classified match/possible (non-matches
    * below 0 bits are dropped — the overwhelming majority), with the
    * global audit appended to every row.
    *
    * `n_true_cand` (the blocking-recall numerator) is computed from the
    * 1:1 TRUTH join, not the candidate stream: a true pair survives the
    * nation block iff the dirty record's nation survived corruption, so
    * `truth ⋈ filter(d_nation = c_nationkey)` counts exactly the
    * is_true=1 rows the exhaustive stream would — which lets the
    * candidate stream itself be the derived-band one (score ≥ 0 pairs
    * only) without touching any audit number.
    */
  def linkageReport(cust: DataFrame): DataFrame = {
    val master = masterRecords(cust)
    val dirty = dirtyRecords(cust)
    val scored = scoredPairs(master, dirty, weights(master, dirty))
    val nDirty = dirty.agg(count(lit(1)).as("n_dirty"))
    val trueCand = dirty.join(master, col("src_key") === col("k"))
      .filter(col("d_nation") === col("c_nationkey"))
      .agg(count(lit(1)).as("n_true_cand"))
    // one map-side-combinable pass over the reportable candidates
    val audit = scored.agg(
        coalesce(sum(when(col("score") >= 8 && col("is_true") === 1, 1L).otherwise(0L)), lit(0L)).as("n_match_true"),
        coalesce(sum(when(col("score") >= 8, 1L).otherwise(0L)), lit(0L)).as("n_match"))
      .crossJoin(trueCand)
      .crossJoin(nDirty)
      .select(
        col("n_match"),
        Metrics.canonRound(when(col("n_match") > 0,
          col("n_match_true").cast("double") / col("n_match").cast("double")), 4)
          .as("precision_match"),
        Metrics.canonRound(col("n_match_true").cast("double") / col("n_dirty").cast("double"), 4)
          .as("recall_match"),
        Metrics.canonRound(col("n_true_cand").cast("double") / col("n_dirty").cast("double"), 4)
          .as("blocking_recall"))
    scored
      .filter(col("score") >= 0)
      .withColumn("verdict", when(col("score") >= 8, lit("match")).otherwise(lit("possible")))
      .crossJoin(broadcast(audit))
      .select(col("rec_id"), col("master_key"),
        col("a_name"), col("a_seg"), col("a_band"),
        col("score").cast("double").as("score"), col("verdict"), col("is_true"),
        col("n_match"), col("precision_match"), col("recall_match"),
        col("blocking_recall"))
      .orderBy("rec_id", "master_key")
  }

  val q241 = GQuery(
    "q241_record_linkage",
    (s, dir) => linkageReport(Tables.customer(s, dir)),
    Some("""WITH h AS (
        SELECT c_custkey AS k, c_name, c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal / 500) AS BIGINT) AS band,
          CAST(('0x' || substr(md5('pick:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS hp,
          CAST(('0x' || substr(md5('nm:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS hn,
          CAST(('0x' || substr(md5('nt:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS ht,
          CAST(('0x' || substr(md5('sg:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS hs,
          CAST(('0x' || substr(md5('bb:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS hb
        FROM customer),
      master AS (
        SELECT c_custkey AS k, c_name, c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal / 500) AS BIGINT) AS band
        FROM customer),
      dirty AS (
        SELECT -k - 1 AS rec_id, k AS src_key,
          CASE WHEN hn < 20 THEN c_name || '~' ELSE c_name END AS d_name,
          CASE WHEN ht < 10 THEN (c_nationkey + 7) % 25 ELSE c_nationkey END AS d_nation,
          CASE WHEN hs < 15 THEN 'CORRUPTED' ELSE c_mktsegment END AS d_seg,
          band + CASE WHEN hb < 25 THEN 1 ELSE 0 END AS d_band
        FROM h WHERE hp = 0),
      nsq AS (SELECT CAST(count(*) * count(*) AS DOUBLE) AS nsq FROM master),
      sqn AS (SELECT CAST(sum(n * n) AS BIGINT) AS sqn
              FROM (SELECT count(*) AS n FROM master GROUP BY c_name)),
      sqs AS (SELECT CAST(sum(n * n) AS BIGINT) AS sqs
              FROM (SELECT count(*) AS n FROM master GROUP BY c_mktsegment)),
      sqb AS (SELECT CAST(sum(n * n) AS BIGINT) AS sqb
              FROM (SELECT count(*) AS n FROM master GROUP BY band)),
      truth AS (
        SELECT count(*) AS nt,
          sum(CASE WHEN d.d_name = m.c_name THEN 1 ELSE 0 END) AS an,
          sum(CASE WHEN d.d_seg = m.c_mktsegment THEN 1 ELSE 0 END) AS ags,
          sum(CASE WHEN d.d_band = m.band THEN 1 ELSE 0 END) AS ab
        FROM dirty d JOIN master m ON d.src_key = m.k),
      wts AS (
        SELECT
          CAST(floor(ln(((an + 0.5) / (nt + 1.0)) / (sqn / nsq)) / ln(2) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS w_name_a,
          CAST(floor(ln((1.0 - (an + 0.5) / (nt + 1.0)) / (1.0 - sqn / nsq)) / ln(2) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS w_name_d,
          CAST(floor(ln(((ags + 0.5) / (nt + 1.0)) / (sqs / nsq)) / ln(2) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS w_seg_a,
          CAST(floor(ln((1.0 - (ags + 0.5) / (nt + 1.0)) / (1.0 - sqs / nsq)) / ln(2) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS w_seg_d,
          CAST(floor(ln(((ab + 0.5) / (nt + 1.0)) / (sqb / nsq)) / ln(2) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS w_band_a,
          CAST(floor(ln((1.0 - (ab + 0.5) / (nt + 1.0)) / (1.0 - sqb / nsq)) / ln(2) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS w_band_d
        FROM truth, nsq, sqn, sqs, sqb),
      scored AS (
        SELECT d.rec_id, m.k AS master_key,
          CASE WHEN d.d_name = m.c_name THEN 1 ELSE 0 END AS a_name,
          CASE WHEN d.d_seg = m.c_mktsegment THEN 1 ELSE 0 END AS a_seg,
          CASE WHEN d.d_band = m.band THEN 1 ELSE 0 END AS a_band,
          (CASE WHEN d.d_name = m.c_name THEN w.w_name_a ELSE w.w_name_d END +
           CASE WHEN d.d_seg = m.c_mktsegment THEN w.w_seg_a ELSE w.w_seg_d END +
           CASE WHEN d.d_band = m.band THEN w.w_band_a ELSE w.w_band_d END) AS score,
          CASE WHEN d.src_key = m.k THEN 1 ELSE 0 END AS is_true
        FROM dirty d JOIN master m ON d.d_nation = m.c_nationkey
        CROSS JOIN wts w),
      nd AS (SELECT count(*) AS n_dirty FROM dirty),
      audit AS (
        SELECT
          CAST(sum(CASE WHEN score >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
          floor(CASE WHEN sum(CASE WHEN score >= 8 THEN 1 ELSE 0 END) > 0 THEN
              CAST(sum(CASE WHEN score >= 8 AND is_true = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(sum(CASE WHEN score >= 8 THEN 1 ELSE 0 END) AS DOUBLE) END * 1e4 + 0.5) / 1e4 AS precision_match,
          floor(CAST(sum(CASE WHEN score >= 8 AND is_true = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST((SELECT n_dirty FROM nd) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS recall_match,
          floor(CAST(sum(is_true) AS DOUBLE)
              / CAST((SELECT n_dirty FROM nd) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS blocking_recall
        FROM scored)
      SELECT s.rec_id, s.master_key,
        CAST(s.a_name AS INTEGER) AS a_name, CAST(s.a_seg AS INTEGER) AS a_seg,
        CAST(s.a_band AS INTEGER) AS a_band,
        CAST(s.score AS DOUBLE) AS score,
        CASE WHEN s.score >= 8 THEN 'match' ELSE 'possible' END AS verdict,
        CAST(s.is_true AS INTEGER) AS is_true,
        a.n_match, a.precision_match, a.recall_match, a.blocking_recall
      FROM scored s CROSS JOIN audit a
      WHERE s.score >= 0
      ORDER BY s.rec_id, s.master_key"""))

  // ---------------------------------------------------------------------
  // q244: UNSUPERVISED Fellegi-Sunter estimation by EM (Winkler 1988;
  // the estimation path Splink uses in production — q241's m comes from
  // labeled truth, which real pipelines rarely have). The blocked pairs
  // reduce by ONE map-side-combinable groupBy to the 2³ agreement-
  // pattern table; EM runs on those 8 rows as driver state. Every round
  // is transcendental-free and integer-anchored (the q242 recipe): the
  // E-step posterior is products and one division over 1e-6-snapped
  // parameters, the M-step responsibilities are 1e6-scaled BIGINTs
  // summed exactly, and each new parameter is one IEEE division + a
  // 1e-6 snap — so DuckDB unrolls all 8 rounds and matches every bit.
  // Measured recovery at sf0.01: λ → 0.0130 (true prevalence 0.0146),
  // m → (0.89, 0.85, 0.78) vs generation (0.80, 0.85, 0.75) — with NO
  // labels.
  // ---------------------------------------------------------------------

  /** EM rounds; parameters snapped at 1e-6 per round. */
  val EmRounds = 8

  /** EM over the collected agreement-pattern counts.
    * pat: (aName, aSeg, aBand, n). Returns (λ, m(3), u(3)), all
    * 1e-6-snapped.
    */
  private[operators] def emFit(
      pat: Seq[(Int, Int, Int, Long)],
      rounds: Int): (Double, Array[Double], Array[Double]) = {
    val nTotal = pat.map(_._4).sum
    var lam = 0.01
    var m = Array(0.8, 0.8, 0.8)
    var u = Array(0.2, 0.2, 0.2)
    def posterior(a: Array[Int]): Double = {
      var pm = lam
      var pu = 1.0 - lam
      for (f <- 0 until 3) {
        pm = pm * (if (a(f) == 1) m(f) else 1.0 - m(f))
        pu = pu * (if (a(f) == 1) u(f) else 1.0 - u(f))
      }
      pm / (pm + pu)
    }
    def snap(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    for (_ <- 1 to rounds) {
      val scaled = pat.map { case (a1, a2, a3, n) =>
        val r = posterior(Array(a1, a2, a3))
        (Array(a1, a2, a3),
          math.floor(n * r * 1e6 + 0.5).toLong,
          math.floor(n * (1.0 - r) * 1e6 + 0.5).toLong)
      }
      val tSum = scaled.map(_._2).sum
      val sSum = scaled.map(_._3).sum
      require(tSum > 0 && sSum > 0,
        "EM responsibilities collapsed — pattern table too small")
      lam = snap(tSum.toDouble / (nTotal * 1e6))
      m = Array.tabulate(3)(f =>
        snap(scaled.filter(_._1(f) == 1).map(_._2).sum.toDouble / tSum.toDouble))
      u = Array.tabulate(3)(f =>
        snap(scaled.filter(_._1(f) == 1).map(_._3).sum.toDouble / sSum.toDouble))
    }
    (lam, m, u)
  }

  /** Exact 2³ agreement-pattern table over the nation-blocked pair space
    * WITHOUT materializing a single pair (r13 verdict item 3): for every
    * field subset S, the number of in-block pairs agreeing on at least S
    * is Σ_v dirtyCount(v)·masterCount(v) over joint (nation, S-fields)
    * values — one tiny map-side-combinable groupBy per side and one
    * group-level join, all LINEAR in the data no matter how hot the
    * blocks get; exact-pattern counts then follow by Möbius inversion
    * over the 8-subset lattice (N(P) = Σ_{S⊇P} (−1)^{|S\P|}·A(S)). Truth
    * counts per pattern come from the 1:1 truth join (n_dirty rows).
    * Integer-exact and identical to a pair-stream groupBy —
    * RecordLinkageSpec pins the equality against [[candidatePairs]] —
    * which is how Splink-style EM estimation actually runs at 100 TB:
    * the estimator needs pattern COUNTS, never the pairs.
    *
    * Returns (a_name, a_seg, a_band, n, n_true) for observed patterns.
    */
  private[operators] def patternCounts(master: DataFrame, dirty: DataFrame): Seq[(Int, Int, Int, Long, Long)] = {
    val fields = Seq(("d_name", "c_name"), ("d_seg", "c_mktsegment"), ("d_band", "band"))
    def atLeast(mask: Int): Long = {
      val s = (0 until 3).filter(i => (mask & (1 << i)) != 0)
      val dKeys = col("d_nation") +: s.map(i => col(fields(i)._1))
      val mKeys = col("c_nationkey") +: s.map(i => col(fields(i)._2))
      val dg = dirty.groupBy(dKeys: _*).agg(count(lit(1)).as("nd"))
      val mg = master.groupBy(mKeys: _*).agg(count(lit(1)).as("nm"))
      val cond = dKeys.zip(mKeys).map { case (a, b) => a === b }.reduce(_ && _)
      val r = dg.join(mg, cond).agg(coalesce(sum(col("nd") * col("nm")), lit(0L))).head()
      r.getLong(0)
    }
    // the 9 aggregates are independent sketch-sized jobs; submit them
    // concurrently (Spark schedules parallel driver-side actions fine) —
    // serial submission measured ~3.4s at sf0.1 from job-launch latency
    // alone, ~1.3s concurrent. Results assemble by index: deterministic.
    // Job group / description are THREAD-LOCAL Spark properties: copy the
    // caller's onto each worker thread, or a harness's cancel-by-group
    // timeout (ScaleCert.timedSide) cannot reach these jobs.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationInt
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = master.sparkSession.sparkContext
    val callerProps = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
    def inCallerGroup[T](body: => T): T = {
      callerProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      body
    }
    val aF = (0 until 8).map(m => Future(inCallerGroup(atLeast(m))))
    val truthF = Future(inCallerGroup {
      dirty.join(master, col("src_key") === col("k"))
        .filter(col("d_nation") === col("c_nationkey"))
        .groupBy(
          when(col("d_name") === col("c_name"), 1).otherwise(0).as("a_name"),
          when(col("d_seg") === col("c_mktsegment"), 1).otherwise(0).as("a_seg"),
          when(col("d_band") === col("band"), 1).otherwise(0).as("a_band"))
        .agg(count(lit(1)).as("nt"))
        .collect()
        .map(r => (r.getInt(0) | (r.getInt(1) << 1) | (r.getInt(2) << 2)) -> r.getLong(3))
        .toMap
    })
    val a = aF.map(Await.result(_, 10.minutes))
    def exact(p: Int): Long =
      (0 until 8).filter(s => (s & p) == p)
        .map(s => (if (Integer.bitCount(s ^ p) % 2 == 0) 1L else -1L) * a(s)).sum
    val truth = Await.result(truthF, 10.minutes)
    (0 until 8).map { p =>
      (p & 1, (p >> 1) & 1, (p >> 2) & 1, exact(p), truth.getOrElse(p, 0L))
    }.filter(_._4 > 0)
  }

  /** Agreement-pattern EM report: one row per observed pattern with its
    * count, truth-fraction audit, EM posterior match probability and
    * classification, and the fitted parameters appended.
    */
  def emReport(cust: DataFrame): DataFrame = {
    val spark = cust.sparkSession
    import spark.implicits._
    val pat = patternCounts(masterRecords(cust), dirtyRecords(cust))
    val (lam, m, u) = emFit(pat.map(p => (p._1, p._2, p._3, p._4)), EmRounds)
    def snap(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val rows = pat.map { case (a1, a2, a3, n, nt) =>
      var pm = lam
      var pu = 1.0 - lam
      val a = Array(a1, a2, a3)
      for (f <- 0 until 3) {
        pm = pm * (if (a(f) == 1) m(f) else 1.0 - m(f))
        pu = pu * (if (a(f) == 1) u(f) else 1.0 - u(f))
      }
      val r = pm / (pm + pu)
      (a1, a2, a3, n, snap(nt.toDouble / n), snap(r),
        if (r >= 0.5) "match" else "nonmatch",
        lam, m(0), m(1), m(2), u(0), u(1), u(2))
    }.sortBy(p => (p._1, p._2, p._3))
    rows.toDF("a_name", "a_seg", "a_band", "n", "true_frac", "post_match",
        "verdict", "em_lambda", "em_m_name", "em_m_seg", "em_m_band",
        "em_u_name", "em_u_seg", "em_u_band")
      .orderBy("a_name", "a_seg", "a_band")
  }

  private def emRoundSql(r: Int): String = {
    val prev = if (r == 1) "par0" else s"par${r - 1}"
    def post(alias: String, q: String) =
      s"""($q.lam * CASE $alias.a_name WHEN 1 THEN $q.m1 ELSE 1.0 - $q.m1 END
             * CASE $alias.a_seg  WHEN 1 THEN $q.m2 ELSE 1.0 - $q.m2 END
             * CASE $alias.a_band WHEN 1 THEN $q.m3 ELSE 1.0 - $q.m3 END) /
          (($q.lam * CASE $alias.a_name WHEN 1 THEN $q.m1 ELSE 1.0 - $q.m1 END
              * CASE $alias.a_seg  WHEN 1 THEN $q.m2 ELSE 1.0 - $q.m2 END
              * CASE $alias.a_band WHEN 1 THEN $q.m3 ELSE 1.0 - $q.m3 END)
           + ((1.0 - $q.lam) * CASE $alias.a_name WHEN 1 THEN $q.u1 ELSE 1.0 - $q.u1 END
                * CASE $alias.a_seg  WHEN 1 THEN $q.u2 ELSE 1.0 - $q.u2 END
                * CASE $alias.a_band WHEN 1 THEN $q.u3 ELSE 1.0 - $q.u3 END))"""
    s"""g$r AS MATERIALIZED (
        SELECT p.a_name, p.a_seg, p.a_band,
          CAST(floor(p.n * ${post("p", "q")} * 1e6 + 0.5) AS BIGINT) AS t,
          CAST(floor(p.n * (1.0 - ${post("p", "q")}) * 1e6 + 0.5) AS BIGINT) AS s
        FROM pat p CROSS JOIN $prev q),
      par$r AS MATERIALIZED (
        SELECT
          floor((SELECT sum(t) FROM g$r) / ((SELECT sum(n) FROM pat) * 1e6) * 1e6 + 0.5) / 1e6 AS lam,
          floor(CAST((SELECT sum(t) FROM g$r WHERE a_name = 1) AS DOUBLE) / (SELECT sum(t) FROM g$r) * 1e6 + 0.5) / 1e6 AS m1,
          floor(CAST((SELECT sum(t) FROM g$r WHERE a_seg  = 1) AS DOUBLE) / (SELECT sum(t) FROM g$r) * 1e6 + 0.5) / 1e6 AS m2,
          floor(CAST((SELECT sum(t) FROM g$r WHERE a_band = 1) AS DOUBLE) / (SELECT sum(t) FROM g$r) * 1e6 + 0.5) / 1e6 AS m3,
          floor(CAST((SELECT sum(s) FROM g$r WHERE a_name = 1) AS DOUBLE) / (SELECT sum(s) FROM g$r) * 1e6 + 0.5) / 1e6 AS u1,
          floor(CAST((SELECT sum(s) FROM g$r WHERE a_seg  = 1) AS DOUBLE) / (SELECT sum(s) FROM g$r) * 1e6 + 0.5) / 1e6 AS u2,
          floor(CAST((SELECT sum(s) FROM g$r WHERE a_band = 1) AS DOUBLE) / (SELECT sum(s) FROM g$r) * 1e6 + 0.5) / 1e6 AS u3)"""
  }

  val q244 = GQuery(
    "q244_em_linkage",
    (s, dir) => emReport(Tables.customer(s, dir)),
    Some(s"""WITH h AS (
        SELECT c_custkey AS k, c_name, c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal / 500) AS BIGINT) AS band,
          CAST(('0x' || substr(md5('pick:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS hp,
          CAST(('0x' || substr(md5('nm:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS hn,
          CAST(('0x' || substr(md5('nt:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS ht,
          CAST(('0x' || substr(md5('sg:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS hs,
          CAST(('0x' || substr(md5('bb:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS hb
        FROM customer),
      master AS (
        SELECT c_custkey AS k, c_name, c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal / 500) AS BIGINT) AS band
        FROM customer),
      dirty AS (
        SELECT -k - 1 AS rec_id, k AS src_key,
          CASE WHEN hn < 20 THEN c_name || '~' ELSE c_name END AS d_name,
          CASE WHEN ht < 10 THEN (c_nationkey + 7) % 25 ELSE c_nationkey END AS d_nation,
          CASE WHEN hs < 15 THEN 'CORRUPTED' ELSE c_mktsegment END AS d_seg,
          band + CASE WHEN hb < 25 THEN 1 ELSE 0 END AS d_band
        FROM h WHERE hp = 0),
      pat AS MATERIALIZED (
        SELECT CASE WHEN d.d_name = m.c_name THEN 1 ELSE 0 END AS a_name,
               CASE WHEN d.d_seg = m.c_mktsegment THEN 1 ELSE 0 END AS a_seg,
               CASE WHEN d.d_band = m.band THEN 1 ELSE 0 END AS a_band,
               count(*) AS n,
               sum(CASE WHEN d.src_key = m.k THEN 1 ELSE 0 END) AS nt
        FROM dirty d JOIN master m ON d.d_nation = m.c_nationkey
        GROUP BY 1, 2, 3),
      par0 AS (SELECT CAST(0.01 AS DOUBLE) AS lam,
        CAST(0.8 AS DOUBLE) AS m1, CAST(0.8 AS DOUBLE) AS m2, CAST(0.8 AS DOUBLE) AS m3,
        CAST(0.2 AS DOUBLE) AS u1, CAST(0.2 AS DOUBLE) AS u2, CAST(0.2 AS DOUBLE) AS u3),
      ${(1 to EmRounds).map(emRoundSql).mkString(",\n      ")},
      post AS (
        SELECT p.a_name, p.a_seg, p.a_band, p.n, p.nt,
          (q.lam * CASE p.a_name WHEN 1 THEN q.m1 ELSE 1.0 - q.m1 END
                 * CASE p.a_seg  WHEN 1 THEN q.m2 ELSE 1.0 - q.m2 END
                 * CASE p.a_band WHEN 1 THEN q.m3 ELSE 1.0 - q.m3 END) /
          ((q.lam * CASE p.a_name WHEN 1 THEN q.m1 ELSE 1.0 - q.m1 END
                  * CASE p.a_seg  WHEN 1 THEN q.m2 ELSE 1.0 - q.m2 END
                  * CASE p.a_band WHEN 1 THEN q.m3 ELSE 1.0 - q.m3 END)
           + ((1.0 - q.lam) * CASE p.a_name WHEN 1 THEN q.u1 ELSE 1.0 - q.u1 END
                            * CASE p.a_seg  WHEN 1 THEN q.u2 ELSE 1.0 - q.u2 END
                            * CASE p.a_band WHEN 1 THEN q.u3 ELSE 1.0 - q.u3 END)) AS r,
          q.lam, q.m1, q.m2, q.m3, q.u1, q.u2, q.u3
        FROM pat p CROSS JOIN par$EmRounds q)
      SELECT CAST(a_name AS INT) AS a_name, CAST(a_seg AS INT) AS a_seg,
        CAST(a_band AS INT) AS a_band, CAST(n AS BIGINT) AS n,
        floor(CAST(nt AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS true_frac,
        floor(r * 1e6 + 0.5) / 1e6 AS post_match,
        CASE WHEN r >= 0.5 THEN 'match' ELSE 'nonmatch' END AS verdict,
        lam AS em_lambda, m1 AS em_m_name, m2 AS em_m_seg, m3 AS em_m_band,
        u1 AS em_u_name, u2 AS em_u_seg, u3 AS em_u_band
      FROM post
      ORDER BY a_name, a_seg, a_band"""))

  val all: Seq[GQuery] = Seq(q241, q244)
}
