package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, AttributeReference, Cast, EqualTo, Explode, Expression,
  GreaterThan, GreaterThanOrEqual, If, IntegralDivide, LessThan,
  LessThanOrEqual, Literal, Pmod, Sequence, Subtract, UnixMicros}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{
  BROADCAST, Filter, Generate, HintInfo, Join, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{
  ArrayType, LongType, TimestampNTZType, TimestampType}

/** Optimizer rule that plans EVERY point-in-interval join as a binned
  * equi join — the survey's own named candidate (SURVEY.md §4.3
  * "range-join rule"), and the engine's one range-join implementation:
  * q68 and q163 write the plain inequality join and reach it here.
  *
  * The problem: `points.join(intervals, keysEq && p >= lo && p <= hi)`
  * with no equi conjunct plans as a BroadcastNestedLoopJoin (fatal when
  * both sides are big), and even WITH an equi key the range residual runs
  * as a per-key cartesian inside the sort-merge join — quadratic in the
  * hottest key at 100 TB. The standard fix (Flink interval joins,
  * warehouse range-join optimizations) is to quantize time into
  * fixed-width bins, replicate each interval into every bin it covers,
  * and equi-join points to intervals on the bin — candidates become
  * bin-local, and the exact predicate (kept in the rewritten join's
  * condition) restores exactness. Any spelling of the join gets it,
  * DataFrame or SQL.
  *
  * Pattern matched on an Inner join condition's conjuncts: a lower bound
  * (p >= lo or p > lo) and an upper bound (p <= hi or p < hi) over the
  * SAME point expression p, where p references one side only and lo/hi
  * the other side only, all of timestamp type. Strict bounds are fine —
  * bins only generate candidates; the retained original predicate
  * enforces strictness. Any other conjuncts (equi keys included) are
  * preserved verbatim, so with equi keys present the bin simply becomes
  * one more join key bounding the per-key fan-out.
  *
  * Rewrite, on raw Catalyst nodes: bin(x) = (unix_micros(x) −
  * pmod(unix_micros, w)) div w — pmod keeps floor semantics pre-1970,
  * and the subtraction makes the division exact. The interval side explodes
  * sequence(bin(lo), bin(hi)); an inverted interval (lo > hi, which the
  * naive join silently emits zero rows for) gets an empty array rather
  * than sequence()'s descending-step surprise, and a NULL bound nulls
  * the If guard into the same empty array — both preserve inner-join
  * semantics exactly. A point lies in exactly one bin, so no pair is
  * produced twice and no distinct is needed.
  *
  * Guard against re-fire (the rule runs in the operator-optimization
  * FIX-POINT, and the rewritten join still contains the range
  * conjuncts): the joins this rule generates carry a tree tag the
  * rule skips, and joins whose children already carry one of its bin
  * columns (__graft_rj_bin_p / __graft_rj_bin_i) are skipped too.
  *
  * Wide-interval cap: the explode is one row per covered bin, so an
  * open-ended or sentinel-dated interval (SCD2 valid_to = 9999-12-31)
  * would span ~70M bins at the 3600 s width — blowing up the Generate,
  * and Sequence errors outright past 2^31 elements. The interval side is
  * therefore SPLIT at plan time on the per-row bin span: intervals
  * covering ≤ MaxBinsPerInterval (256) bins take the binned equi-join
  * path; wider ones keep the ORIGINAL join (with all original conjuncts —
  * an equi-keyed SCD2 probe stays a plain equi join with a range
  * residual), and the two branches union. NULL-bounded rows drop from
  * both filters, matching the inner join they could never satisfy. The
  * fallback join carries the re-fire tag, so the fixpoint does not re-bin
  * it. When BOTH sides stream, every interval is binned and there is no
  * fallback branch (see the streaming note in `rewrite`).
  *
  * Bins are `BinSeconds` (3600 s) wide — ≳ the typical interval span, so
  * most intervals replicate into ≤ 2 bins.
  */
object RangeJoinRewrite extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  private val PointBin = "__graft_rj_bin_p"
  private val IntervalBin = "__graft_rj_bin_i"
  private val markerNames = Set(PointBin, IntervalBin)

  /** Bin width in seconds (see the object doc). */
  private val BinSeconds = 3600L

  /** Widest interval, in bins, that a batch join bins (see the object doc). */
  private val MaxBinsPerInterval = 256L

  /** Re-fire guard for the joins this rule GENERATES. The name-based
    * markerNames guard alone is not optimizer-stable for the fallback
    * branch: its marker column is load-bearing nowhere, so
    * PushDownPredicate + ColumnPruning strip it between fixpoint
    * iterations, the guard stops seeing it, and the rule re-rewrites
    * the fallback join ONCE PER ITERATION until maxIterations — the
    * 10× cert caught q224 at 0.8s → 23-33s executing a ~200-branch
    * flattened Union (and the analyzer's "Max iterations (100)
    * reached" warnings were the same bug). Tree tags survive rule
    * rewrites (transformDown copies tags onto replacement nodes), so
    * the generated joins carry this tag instead.
    */
  private val NoRewriteTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.rangeJoin.noRewrite")

  private def isTs(e: Expression): Boolean =
    e.dataType == TimestampType || e.dataType == TimestampNTZType

  /** Conjunct → both readings of a timestamp inequality as
    * (point, bound, isLower): `a >= b` says "a is lower-bounded by b"
    * AND "b is upper-bounded by a" — which reading applies is decided
    * later by the sides constraint, so both are emitted.
    */
  private def asBounds(c: Expression): Seq[(Expression, Expression, Boolean)] =
    c match {
      case GreaterThanOrEqual(a, b) if isTs(a) && isTs(b) =>
        Seq((a, b, true), (b, a, false))
      case GreaterThan(a, b) if isTs(a) && isTs(b) =>
        Seq((a, b, true), (b, a, false))
      case LessThanOrEqual(a, b) if isTs(a) && isTs(b) =>
        Seq((a, b, false), (b, a, true))
      case LessThan(a, b) if isTs(a) && isTs(b) =>
        Seq((a, b, false), (b, a, true))
      case _ => Seq.empty
    }

  private def binOf(ts: Expression, binMicros: Long): Expression = {
    val micros = ts.dataType match {
      case TimestampType => UnixMicros(ts)
      // NTZ: session-zone cast — applied identically to point and bounds,
      // so bins stay mutually consistent. The explicit timeZoneId keeps
      // the expression RESOLVED (TimeZoneAwareExpression.resolved
      // requires it, and an optimizer rule must not un-resolve the plan).
      case _ => UnixMicros(Cast(ts, TimestampType, Some(conf.sessionLocalTimeZone)))
    }
    val w = Literal(binMicros)
    IntegralDivide(Subtract(micros, Pmod(micros, w)), w)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if j.getTagValue(NoRewriteTag).isEmpty &&
            !(left.output ++ right.output).exists(a => markerNames(a.name)) =>
        rewrite(j, left, right, cond, hint).getOrElse(j)
    }

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression,
                      hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint)
      : Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val bounds = conjuncts.flatMap(asBounds)
    val lowers = bounds.collect { case (p, b, true) => (p, b) }
    val uppers = bounds.collect { case (p, b, false) => (p, b) }
    // first (point, lo, hi) where the same point expression has a lower
    // AND an upper bound, point and bounds on opposite sides
    val matched = (for {
      (p, lo) <- lowers.iterator
      (p2, hi) <- uppers.iterator
      if p2.semanticEquals(p)
      if (refsOnly(p, left) && refsOnly(lo, right) && refsOnly(hi, right)) ||
        (refsOnly(p, right) && refsOnly(lo, left) && refsOnly(hi, left))
    } yield (p, lo, hi)).nextOption()
    matched.flatMap { case (p, lo, hi) =>
      val pointOnLeft = refsOnly(p, left)
      val (pointSide, intervalSide) = if (pointOnLeft) (left, right) else (right, left)
      val binMicros = BinSeconds * 1000000L
      // STREAM-STREAM joins take the single binned branch unconditionally
      // (the pre-cap shape): a Union of two stateful stream-stream joins
      // doubles state stores and wedges micro-batch planning (found by
      // the 10× scale cert — q146 went 3.5s → >300s when the fallback
      // union landed). The wide-interval hazard the cap guards against
      // cannot arise THERE: a stream-stream interval join's bounds are a
      // query-constant watermark-bounded offset, never a data-driven
      // SCD2 sentinel, so the bin span is a compile-time-small constant.
      // That argument does NOT extend to stream-batch joins (j.isStreaming
      // is true for those too): a BATCH interval side can hold sentinel
      // valid_to rows, and binning it unconditionally reintroduces the
      // unbounded explode — Sequence errors outright past 2^31 elements.
      // So: both sides streaming → bypass the cap; streaming point ×
      // batch intervals → apply the cap normally (both union branches
      // are stateless stream-batch inner joins); streaming INTERVAL side
      // × batch points → decline the rewrite entirely (unconditional
      // binning risks the explode, and splitting the stream across a
      // Union branch pair is the exact q146 wedge shape).
      val bothStreaming = left.isStreaming && right.isStreaming
      if (intervalSide.isStreaming && !bothStreaming) None
      else Some {
      val maxBins = if (bothStreaming) 0 else MaxBinsPerInterval
      // point side: one bin column
      val pBinAlias = Alias(binOf(p, binMicros), PointBin)()
      val pointProj = Project(pointSide.output :+ pBinAlias, pointSide)
      // interval side: explode the covered bin range (empty on inverted
      // or NULL-bounded intervals — inner-join-equivalent). With the cap
      // on, only intervals whose span fits maxBins are binned; NULL spans
      // drop here AND from the fallback filter, which is exact because a
      // NULL bound satisfies no range conjunct of the inner join.
      val binLo = binOf(lo, binMicros)
      val binHi = binOf(hi, binMicros)
      val span = Subtract(binHi, binLo)
      val narrowSide =
        if (maxBins > 0)
          Filter(LessThanOrEqual(span, Literal(maxBins)), intervalSide)
        else intervalSide
      val seqExpr = If(LessThanOrEqual(binLo, binHi),
        // explicit timeZoneId: Sequence is TimeZoneAwareExpression and
        // stays UNRESOLVED without one — a rule-generated plan must not
        // regress from resolved to unresolved
        new Sequence(binLo, binHi, Some(Literal(1L)), Some(conf.sessionLocalTimeZone)),
        Literal.create(Array.empty[Long], ArrayType(LongType, containsNull = false)))
      val iBinAttr = AttributeReference(IntervalBin, LongType, nullable = false)()
      val gen = Generate(Explode(seqExpr), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(iBinAttr),
        child = narrowSide)
      // rebuilt condition: bin equality + every original conjunct
      // (bounds included — they are the exact re-filter)
      val newCond = (EqualTo(pBinAlias.toAttribute, iBinAttr) +: conjuncts)
        .reduce(And)
      val (newLeft, newRight) =
        if (pointOnLeft) (pointProj, gen) else (gen, pointProj)
      val binnedJoin = Join(newLeft, newRight, Inner, Some(newCond), hint)
      binnedJoin.setTagValue(NoRewriteTag, true)
      val binned = Project(j.output, binnedJoin)
      if (maxBins <= 0) binned
      else {
        // fallback branch: wide intervals keep the ORIGINAL join shape —
        // any equi conjuncts still drive it, so an SCD2-style probe with
        // sentinel end dates runs as a plain equi join with the range
        // residual instead of a 70M-row explode. Re-fire protection is
        // the NoRewriteTag on the generated join (see its scaladoc);
        // the marker column additionally keeps the analyzed-plan shape
        // self-describing for specs.
        val wideMark = Alias(Literal(0L), IntervalBin)()
        val wideSide = Project(
          intervalSide.output :+ wideMark,
          Filter(GreaterThan(span, Literal(maxBins)), intervalSide))
        val (wLeft, wRight) =
          if (pointOnLeft) (pointSide, wideSide) else (wideSide, pointSide)
        // With NO equi conjunct the fallback is a nested-loop join whose
        // broadcast side Spark picks by size estimate — which can be the
        // fact-scale POINT side. The wide subset is USUALLY
        // dimension-shaped (rows past the cap are SCD2-sentinel-style),
        // but that is a data property, not a guarantee — a corpus where
        // most intervals are open-ended makes the wide subset fact-scale,
        // and a BROADCAST hint is honored regardless of size. So the hint
        // is attached only when the wide side's size ESTIMATE fits the
        // broadcast threshold; past it, join-strategy selection is left
        // to the planner (the estimate is the unfiltered interval side's
        // — no CBO filter selectivity — so the gate errs conservative).
        // With equi conjuncts present the planner's keyed strategies are
        // already right, hint untouched.
        val hasEqui = conjuncts.exists {
          case EqualTo(a, b) =>
            (refsOnly(a, left) && refsOnly(b, right)) ||
              (refsOnly(a, right) && refsOnly(b, left))
          case _ => false
        }
        val wideFits =
          try wideSide.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold
          catch { case _: Throwable => false }
        val wideHint =
          if (hasEqui || !wideFits) hint
          else {
            val bc = Some(HintInfo(strategy = Some(BROADCAST)))
            if (pointOnLeft) hint.copy(rightHint = bc) else hint.copy(leftHint = bc)
          }
        val wideJoin = Join(wLeft, wRight, Inner, Some(cond), wideHint)
        wideJoin.setTagValue(NoRewriteTag, true)
        val wide = Project(j.output, wideJoin)
        Union(Seq(binned, wide))
      }
      }
    }
  }
}
