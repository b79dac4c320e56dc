package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT set-similarity join (Jaccard ≥ t) via prefix filtering — the
  * SSJoin/PPJoin family (Chaudhuri et al. ICDE'06, Xiao et al. WWW'08;
  * public literature). Complete AND sub-quadratic: a pair can only reach
  * Jaccard t if the two sets share at least one token among each set's
  * RAREST p = n − ⌈t·n⌉ + 1 tokens (prefix-filter theorem, under one
  * global token order) — so candidate generation is an equi join on
  * prefix tokens instead of an O(n²) cross product, and the exact
  * verification runs only on candidates.
  *
  * Contrast with the MinHash/LSH path (DedupQueries): LSH is probabilistic
  * (recall < 1, tunable), this join is exact; LSH cost is independent of
  * the threshold, prefix filtering prunes harder as t grows (prefixes
  * shrink). The classic corpus-dedup stack uses BOTH: LSH to rough-cluster,
  * exact set-similarity to adjudicate.
  *
  * Scale shape: (1) the document-frequency ranking is one groupBy + one
  * join + two windows partitioned by set id — all shuffle-parallel, no
  * driver state; (2) the rarest-first order makes prefix tokens the LEAST
  * shared tokens in the corpus, so the candidate join's key distribution
  * is anti-skewed by construction (the hottest token can appear in at most
  * the few sets for which it is rare); (3) verification joins the full
  * sets back only for surviving candidates. The length filter
  * (t·|A| ≤ |B|) prunes before verification.
  */
object SetSimJoin {

  /** ⌈x⌉ with a one-sided epsilon guard: IEEE rounding can land t·n a
    * hair ABOVE an exact integer (0.07·100 = 7.000000000000001), and a
    * plain ceil would then over-tighten the completeness-critical filters
    * by a full token, silently dropping exact-boundary pairs. The epsilon
    * only ever RELAXES a filter — verification stays exact.
    */
  private def ceilSafe(x: org.apache.spark.sql.Column) = ceil(x - lit(1e-9))

  /** All pairs of `df` rows whose `setCol` (an array of DISTINCT elements)
    * has Jaccard similarity ≥ t. Returns (id_a, id_b, jaccard) with
    * id_a < id_b, jaccard unrounded.
    */
  def jaccardJoin(df: DataFrame, idCol: String, setCol: String, t: Double): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"threshold must be in (0,1], got $t")
    // n = |set| comes from size() BEFORE the explode — the elements are
    // distinct by contract, so no count-over-window pass is needed (that
    // second window was a full extra shuffle+sort of every token row)
    val toks = df.select(col(idCol).as("sid"), size(col(setCol)).as("n"),
      explode(col(setCol)).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // global rarest-first total order (df, tok); per-set prefix of the
    // p = n − ⌈t·n⌉ + 1 rarest tokens
    val wRank = Window.partitionBy("sid").orderBy(col("df"), col("tok"))
    val prefix = toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= col("n") - ceilSafe(lit(t) * col("n")) + lit(1))
      .select(col("sid"), col("tok"), col("rn"), col("n"))
      .cache()
    // eager: both sides of the candidate self-join read this frame in one
    // job — same racing-consumers rule as DedupQueries.capBuckets (same
    // cache-ownership contract too)
    prefix.count()
    val a = prefix.select(col("tok"),
      col("sid").as("id_a"), col("rn").as("ra"), col("n").as("na"))
    val b = prefix.select(col("tok"),
      col("sid").as("id_b"), col("rn").as("rb"), col("n").as("nb"))
    val cand = a.join(b, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      // length filter: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t
      .filter(col("nb") >= ceilSafe(lit(t) * col("na")) &&
        col("na") >= ceilSafe(lit(t) * col("nb")))
      // positional filter (PPJoin): a match at ranks (ra, rb) caps the
      // achievable overlap at 1 + min(|A|−ra, |B|−rb); J ≥ t needs
      // overlap ≥ ⌈t/(1+t)·(|A|+|B|)⌉. Safe under ANY-token semantics:
      // a qualifying pair's FIRST shared prefix token always passes.
      .filter(lit(1) + least(col("na") - col("ra"), col("nb") - col("rb")) >=
        ceilSafe(lit(t / (1 + t)) * (col("na") + col("nb"))))
      .select("id_a", "id_b")
      .distinct()
    val va = df.select(col(idCol).as("id_a"), col(setCol).as("set_a"))
    val vb = df.select(col(idCol).as("id_b"), col(setCol).as("set_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("set_a")) + size(col("set_b")) - col("inter")))
      .filter(col("jaccard") >= t)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
