package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** The custom-SparkPlan tier (SURVEY §4.3 preference ladder, rung (c)):
  * a whole-operator as-of join shipped as LogicalPlan + SparkStrategy +
  * SparkPlan, injected via GraftExtensions.
  *
  * This is the engine's one as-of join: q39 and q132 call
  * `NativeAsOfJoin.asof`, and it is the template for operators that
  * cannot be composed from built-ins. A union+window composition could
  * spell the same point-in-time pick, but it inflates the shuffle with
  * the union's rows, buffers a window per key, and lets a NULL key or a
  * NULL right-side time match.
  *
  * The physical algorithm is the one a native engine would run
  * (reference behavior: point-in-time alignment of a probe stream to the
  * latest reference row, kaggle/kaggle.py:791-ish temporal-fold
  * alignment): both sides hash-clustered on the key and
  * sorted by (key, time), then ONE in-partition merge sweep carrying O(1)
  * state — the last reference row at-or-before the probe time. Exactly one
  * shuffle per side, no union row inflation, no window buffering.
  *
  * At 100 TB both children shuffle on the key once (same as any equi join)
  * and the sweep is streaming per partition: no per-key materialization, so
  * skew only costs sort time, not memory.
  *
  * Semantics (SQL-style, matching DuckDB ASOF LEFT JOIN): a NULL key or
  * NULL time never matches — left rows still emit with NULL carried
  * columns. Ties on (key, rightTime) resolve to the lexicographically
  * largest carried payload.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    carried: Seq[Attribute],
    carriedOut: Seq[Attribute]) extends BinaryNode {
  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty)
  // TYPE-EQUALITY is load-bearing, not cosmetic: the physical operator
  // compares raw internal values with orderings built from the LEFT
  // side's types only (a TIMESTAMP left against a DATE right would read
  // day counts as micros and silently "match" every row). The analyzer
  // inserts implicit casts for ordinary joins; this custom node gets
  // none, so mismatches must fail HERE, loudly (review finding, r14).
  leftKeys.zip(rightKeys).foreach { case (lk, rk) =>
    require(lk.dataType == rk.dataType,
      s"as-of join key types differ: ${lk.dataType} vs ${rk.dataType} — cast explicitly")
  }
  require(leftTime.dataType == rightTime.dataType,
    s"as-of join time types differ: ${leftTime.dataType} vs ${rightTime.dataType} — cast explicitly")
  override def output: Seq[Attribute] = left.output ++ carriedOut
  override def producedAttributes: AttributeSet = AttributeSet(carriedOut)
  override def maxRows: Option[Long] = left.maxRows
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans AsOfJoinNode to AsOfJoinExec; injected via
  * `injectPlannerStrategy` in GraftExtensions.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(n.leftKeys, n.rightKeys, n.leftTime, n.rightTime,
        n.carried, n.carriedOut, planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join. EnsureRequirements satisfies the declared
  * distribution/ordering below by inserting one hash shuffle + sort per
  * side (co-partitioned, so zipPartitions pairs the key ranges); the sweep
  * itself is O(left + right) per partition with O(1) carried state.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    carried: Seq[Attribute],
    carriedOut: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ carriedOut

  override def outputPartitioning = left.outputPartitioning

  // the sweep emits left rows in their sorted (key, time) order
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // right-side tie-break: carried payload ascending, so "last row wins"
  // under equal (key, time) = max payload — deterministic whatever the
  // partition order of tied right rows
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (rightTime +: carried.filter(a => RowOrdering.isOrderable(a.dataType)))
        .map(SortOrder(_, Ascending)))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lt = leftTime
    val rt = rightTime
    val nullableCarried = carried.map(_.withNullability(true))
    val nCarried = carried.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      val carriedProj = UnsafeProjection.create(nullableCarried, rOut)
      val resultProj = UnsafeProjection.create(
        lOut ++ nullableCarried, lOut ++ nullableCarried)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      val nullCarried = new GenericInternalRow(nCarried)
      val joined = new JoinedRow

      var rightRow: InternalRow = if (rIter.hasNext) rIter.next() else null
      var lastKey: InternalRow = null      // copy: current left key group
      var lastMatch: InternalRow = null    // copy: latest carried payload <= left time
      def advanceRight(): Unit =
        rightRow = if (rIter.hasNext) rIter.next() else null

      lIter.map { l =>
        val lk = lKeyProj(l)
        val ltRow = lTimeProj(l)
        if (lk.anyNull || ltRow.isNullAt(0)) {
          // SQL semantics: NULL never matches (nulls sort first, so the
          // right pointer has not moved past anything relevant)
          joined(l, nullCarried)
        } else {
          if (lastKey == null || keyOrd.compare(lk, lastKey) != 0) {
            lastMatch = null
            lastKey = lk.copy()
          }
          // drop right rows before this key group (incl. null-key rows)
          while (rightRow != null && keyOrd.compare(rKeyProj(rightRow), lastKey) < 0)
            advanceRight()
          // fold right rows of this key group with time <= left time
          var scanning = true
          while (scanning && rightRow != null &&
                 keyOrd.compare(rKeyProj(rightRow), lastKey) == 0) {
            val rtRow = rTimeProj(rightRow)
            if (rtRow.isNullAt(0)) advanceRight() // null time never matches
            else if (timeOrd.compare(rtRow, ltRow) <= 0) {
              lastMatch = carriedProj(rightRow).copy()
              advanceRight()
            } else scanning = false
          }
          joined(l, if (lastMatch != null) lastMatch else nullCarried)
        }
      }.map(resultProj)
    }
  }
}

/** Public API: every left row, with the latest right row at or before its
  * time carried as `prefix` + column (NULL when there is none).
  */
object NativeAsOfJoin {

  /** @param left      probe side
    * @param right     reference side
    * @param key       equi key column name (same name on both sides)
    * @param leftTime  event-time column on left
    * @param rightTime event-time column on right
    * @param rightCols right columns to carry (besides key/time)
    * @param prefix    prefix for carried right columns
    */
  def asof(left: DataFrame, right: DataFrame, key: String,
           leftTime: String, rightTime: String,
           rightCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    val spark = left.sparkSession
    // re-alias right's columns: Alias mints fresh exprIds, so a self-join
    // (left and right reading the same table) cannot produce children with
    // overlapping attribute ids under a node the dedup rules don't know
    val rCols: Seq[Column] = (Seq(key, rightTime) ++ rightCols).distinct.map(c => col(c).as(c))
    val lPlan = Bridge.analyzed(left)
    val rPlan = Bridge.analyzed(right.select(rCols: _*))
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"asof: no column '$name' in ${plan.output.map(_.name)}"))
    val carried = (rightTime +: rightCols).map(n => attr(rPlan, n))
    val carriedOut = carried.map(a =>
      AttributeReference(prefix + a.name, a.dataType, nullable = true)())
    Bridge.ofRows(spark, AsOfJoinNode(
      lPlan, rPlan,
      Seq(attr(lPlan, key)), Seq(attr(rPlan, key)),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      carried, carriedOut))
  }
}
