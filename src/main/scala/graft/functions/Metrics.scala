package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Metric / rounding / blending column helpers from the reference workload.
  *
  * These are plain `Column` builders — they stay inside whole-stage codegen
  * because they compose built-in Catalyst expressions only (SURVEY.md §4.3).
  */
object Metrics {

  /** SMAPE term per row, reference definition (kaggle/kaggle.py:109-131):
    * |y−ŷ| / ((|y|+|ŷ|)/200), with the 0/0 → 0 guard. Range [0, 200].
    */
  def smapeTerm(y: Column, yhat: Column): Column = {
    val denom = (abs(y) + abs(yhat)) / lit(200.0)
    when(denom === 0.0, lit(0.0)).otherwise(abs(y - yhat) / denom)
  }

  /** Aggregate SMAPE over a DataFrame — the codegen'd native aggregate
    * (plans.SmapeAgg, SURVEY §4.3), spec-pinned bitwise-equal to
    * `avg(smapeTerm(y, yhat))` including null semantics, so swapping it
    * in here changed no oracle. Double casts make integral inputs take
    * the same widening avg's implicit casts produced.
    *
    * REQUIRES GraftExtensions on the session (graft.Session installs it;
    * otherwise `spark.sql.extensions=graft.plans.GraftExtensions`):
    * `graft_smape` resolves at analysis time, so a session built without
    * the extension fails with UNRESOLVED_ROUTINE. On such a session use
    * `avg(Metrics.smapeTerm(y, yhat))` — bitwise the same result.
    */
  def smape(y: Column, yhat: Column): Column =
    call_function("graft_smape", y.cast("double"), yhat.cast("double"))

  /** Geometric rounding (kaggle/kaggle.py:837-842): round x up iff x is at
    * or above the geometric mean of floor(x) and ceil(x). For integral x,
    * floor==ceil so the result is x itself.
    */
  def geometricRound(x: Column): Column = {
    // Spark floor/ceil return LONG; multiply as double (a LONG product
    // overflows for |x| ≳ 3e9) and keep the result double so it compares
    // cleanly with engines whose floor/ceil stay floating (DuckDB, pandas)
    val f = floor(x).cast("double")
    val c = ceil(x).cast("double")
    when(x < sqrt(f * c), f).otherwise(c)
  }

  /** Engine-agnostic decimal rounding: floor(x·10ⁿ + 0.5)/10ⁿ in plain
    * double arithmetic. Spark's round() (BigDecimal HALF_UP on the shortest
    * string repr) and DuckDB's round() (float multiply trick) disagree on
    * values sitting exactly on a .5 boundary; this formula, applied
    * identically on both sides of the oracle comparison, cannot — identical
    * input doubles give bitwise-identical outputs.
    */
  def canonRound(c: Column, scale: Int): Column = {
    val k = math.pow(10, scale)
    floor(c * k + 0.5) / k
  }

  /** Salted 60-bit hash: the first 15 hex digits of md5("salt:key") as a
    * non-negative long. The DuckDB oracles spell the same value
    * `CAST(('0x' || substr(md5('salt:' || key), 1, 15)) AS BIGINT)`.
    */
  def h60(salt: String, key: Column): Column =
    conv(substring(md5(concat_ws(":", lit(salt), key.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** Order-independent exact sum of a double expression: accumulate as
    * DECIMAL(18,4) (exact integer arithmetic — associative, so partition
    * order can't change the result), surface as double. This is what makes
    * money-sum aggregates hash-identical against any other engine
    * (SURVEY.md §7.4 item 1).
    *
    * The addend is first snapped to the 4-decimal grid with [[canonRound]]:
    * engines disagree on how to round a raw double into a decimal (Spark
    * rounds the shortest string repr, DuckDB the binary value), but a double
    * already ~on the grid casts identically everywhere.
    */
  def exactSum(c: Column): Column =
    sum(canonRound(c, 4).cast("decimal(18,4)")).cast("double")

  /** Order-independent mean built from exactSum / count. */
  def exactMean(c: Column): Column = exactSum(c) / count(lit(1))

  /** Mean of an array column (ensemble blending, kaggle/kaggle.py:814). */
  def arrayMean(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x) / size(a)

  /** Exact median of an array column via sort + middle element(s). */
  def arrayMedian(a: Column): Column = {
    val s = array_sort(a)
    val n = size(s)
    // Column `/` yields double; element_at needs int ordinals
    val mid = ((n + 1) / 2).cast("int") // 1-based
    val lo = (n / 2).cast("int")
    // empty array -> NULL (like min/max/avg), not the INVALID_INDEX_OF_ZERO
    // error element_at(s, 0) would throw (review finding, r14)
    when(n === 0, lit(null).cast("double"))
      .when(n % 2 === 1, element_at(s, mid))
      .otherwise((element_at(s, lo) + element_at(s, lo + 1)) / 2.0)
  }

  /** better_than_median blend (kaggle/kaggle.py:132-144): mean of the fold
    * predictions when they agree (spread < threshold), median otherwise.
    */
  def betterThanMedian(a: Column, spreadThreshold: Double = 0.45): Column = {
    val spread = array_max(a) - array_min(a)
    when(spread < spreadThreshold, arrayMean(a)).otherwise(arrayMedian(a))
  }
}
