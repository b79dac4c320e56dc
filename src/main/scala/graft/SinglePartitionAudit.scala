package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

import graft.registry.Registry

/** Registry-wide `Exchange SinglePartition` audit — the automated form of
  * the question every round's plan review asks by hand: does ANY
  * registered query funnel a data-sized frame through one partition?
  * (r15's verdict found the last such site by reading plans; this main
  * makes the "zero left" claim checkable in one run, and keeps it
  * checkable as the registry grows.)
  *
  * Scope (r16 verdict item 1): the audit walks EVERY QueryExecution a
  * query runs, not just its returned frame's. Harness queries execute
  * their real work eagerly inside `fn` — staging writes, checkpointed
  * iteration rounds, foreachBatch state merges — and exactly there is
  * where the r15 funnel lived (the staging `ntile` write jobs), invisible
  * to a walker that only sees the returned plan. A
  * [[org.apache.spark.sql.util.QueryExecutionListener]] registered for
  * the duration of each `fn` call captures every Dataset action and
  * DataFrameWriter command the query executes (success AND failure); each
  * captured executed plan is walked with the same metrics-verified logic
  * as the returned frame.
  *
  * Streaming micro-batch plans are covered too (closing what was briefly
  * a documented residual): a micro-batch's OWN incremental plan is not a
  * Dataset action, so the QueryExecutionListener never sees it — but
  * MicroBatchExecution posts every batch to the SQL listener bus as a
  * `SparkListenerSQLExecutionStart` (identified by the
  * `"...\nrunId = ...\nbatch = N"` description). A second listener walks
  * each streaming plan's `SparkPlanInfo` tree for
  * `Exchange SinglePartition` nodes, remembers their "shuffle records
  * written" accumulator ids (Spark posts duplicate start events per
  * batch, but they reference the SAME accumulators — dedup by id), and
  * sums the matching task-end accumulator updates: the same runtime
  * record-count truth the batch walk reads from the exchange's metric,
  * arriving over the bus instead. AQE re-plans inside a streaming batch
  * (stateless ones only — stateful batches disable AQE) are walked from
  * their `SparkListenerSQLAdaptiveExecutionUpdate` events as well.
  *
  * The listener bus is asynchronous, so after `fn` returns the audit
  * drains deterministically: it runs a sentinel action (a 1-row select of
  * a marker column) and waits until the sentinel's QueryExecution arrives
  * — the bus is FIFO, so everything the query executed has arrived before
  * it. No fixed sleeps, no lost events.
  *
  * For every registry query: execute at `sfDir` (noop sink — full plan,
  * as TimeQuery times it), walk the FINAL adaptive plan including query
  * stages and subqueries, and report every shuffle exchange targeting
  * `SinglePartition` with the number of records actually written into
  * it (the exchange's own shuffle-write metric — runtime truth, not an
  * estimate). Rows above `threshold` print as FUNNEL; the exit code is
  * 2 if any exist. Query execution errors are counted and reported
  * SEPARATELY from funnels (both fail the run, but "query crashed" and
  * "data funneled through one partition" are different findings), and an
  * exchange whose metric never populated (-1: planned but never executed
  * at this SF, e.g. behind an AQE-pruned branch) is reported as
  * UNMEASURED rather than silently counted benign.
  *
  * What a benign hit looks like: ungrouped global aggregates (a handful
  * of partial-agg rows), tiny bounded frames (per-series/per-group
  * summaries), broadcast prep. Those all write a few hundred records at
  * most — far under any honest threshold. A funnel writes ~the input
  * table's row count.
  *
  * Usage: runMain graft.SinglePartitionAudit [sfDir] [threshold] [only]
  * (defaults /root/testdata/sf0.1, 20000, all queries).
  */
object SinglePartitionAudit {

  /** One single-partition exchange observed in an executed plan: `origin`
    * is "returned" (the query's returned frame) or "captured:<action>"
    * (an intermediate QueryExecution the query ran eagerly inside `fn`);
    * `records` is the shuffle-write record count, -1 = never executed.
    */
  final case class Hit(origin: String, records: Long)

  private val SentinelCol = "__spa_sentinel__"

  private final class CaptureListener extends QueryExecutionListener {
    val captured = new ConcurrentLinkedQueue[(String, QueryExecution)]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      captured.add(funcName -> qe)
    // a FAILED intermediate job still executed work up to the failure —
    // its exchanges carry real metrics and must not escape the walk
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      captured.add(funcName -> qe)
  }

  private def isSentinel(e: (String, QueryExecution)): Boolean =
    try e._2.analyzed.output.exists(_.name == SentinelCol)
    catch { case _: Throwable => false }

  /** SQL-listener-bus side of the audit (streaming micro-batch plans —
    * scaladoc above). Collects, per single-partition exchange seen in a
    * streaming execution's plan tree, the "shuffle records written"
    * accumulator id with a human label, then sums that accumulator's
    * task-end updates. Batch-action executions are EXCLUDED here (no
    * streaming description) — the QueryExecutionListener walk already
    * covers them with the exchange's own metric; counting both would
    * double-report.
    */
  private[graft] final class SqlExecListener extends SparkListener {
    private val streamExecLabels = new ConcurrentHashMap[Long, String]
    // accumId -> (batch label, exchange node signature). The signature
    // rides along so phantom suppression (streamingHits below) only
    // collapses plan COPIES of the same exchange, never a genuinely
    // distinct never-executed sibling exchange in the same batch.
    val labels = new ConcurrentHashMap[Long, (String, String)]
    private val order = new ConcurrentLinkedQueue[java.lang.Long]
    // (accumId, stageId, partitionIndex) -> first SUCCESSFUL update.
    // Keyed per task partition so a speculative duplicate or a stage
    // retry can't double-count a partition's records — the batch tier's
    // SQLMetric gets this dedup from the DAGScheduler (only the first
    // successful attempt's accumulators merge); the bus tier must do it
    // itself.
    private val updates = new ConcurrentHashMap[(Long, Int, Int), java.lang.Long]
    @volatile var sentinelSeen = false

    private def walk(p: SparkPlanInfo): Seq[SparkPlanInfo] =
      p +: p.children.flatMap(walk)

    private def collectFrom(info: SparkPlanInfo, label: String): Unit =
      walk(info).foreach { n =>
        if (n.nodeName == "Exchange" && n.simpleString.contains("SinglePartition"))
          n.metrics.find(_.name == "shuffle records written").foreach { m =>
            // plan copies re-number plan_id — strip it so copies of the
            // same exchange share one signature
            val sig = n.simpleString.replaceAll("\\[plan_id=\\d+\\]", "")
            if (labels.putIfAbsent(m.accumulatorId, (label, sig)) == null)
              order.add(m.accumulatorId)
          }
      }

    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        if (e.physicalPlanDescription != null &&
          e.physicalPlanDescription.contains(SentinelCol)) sentinelSeen = true
        else if (e.description != null && e.description.contains("\nrunId = ")) {
          val lines = e.description.linesIterator.toSeq
          val label = (lines.headOption.toSeq ++ lines.find(_.startsWith("batch = ")))
            .mkString(" ")
          streamExecLabels.putIfAbsent(e.executionId, label)
          collectFrom(e.sparkPlanInfo, label)
        }
      case e: SparkListenerSQLAdaptiveExecutionUpdate =>
        // AQE inside a stateless streaming batch re-plans mid-flight; the
        // update event carries the new tree (same label as its start)
        Option(streamExecLabels.get(e.executionId))
          .foreach(collectFrom(e.sparkPlanInfo, _))
      case _ => ()
    }

    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
      if (taskEnd.taskInfo != null && taskEnd.taskInfo.successful)
        taskEnd.taskInfo.accumulables.foreach { a =>
          if (labels.containsKey(a.id)) a.update match {
            case Some(v: java.lang.Long) =>
              updates.putIfAbsent((a.id, taskEnd.stageId, taskEnd.taskInfo.index), v)
            case _ => ()
          }
        }

    /** One hit per single-partition exchange observed in a streaming
      * plan, records = summed task updates. Two dedup rules keep the
      * union of the tiers exactly-once and noise-free (measured in the
      * PlansSpec pin):
      *  - `exclude`: accumulator ids already walked by the
      *    QueryExecutionListener tier (v2-sink micro-batches and every
      *    foreachBatch user action ARE Dataset executions — the bus
      *    tier must not report the same exchange twice);
      *  - phantom suppression: Spark posts duplicate start events per
      *    batch whose plan copies carry fresh, never-updated
      *    accumulators; a -1 id is dropped ONLY when the same batch
      *    label carries a measured-or-excluded id with the SAME exchange
      *    node signature (plan_id-normalized — a plan copy of an
      *    exchange that demonstrably executed and was reported once). A
      *    never-executed sibling with a DIFFERENT signature stays
      *    visible as UNMEASURED, and a batch whose ids are ALL -1 stays
      *    fully visible: planned-but-never-executed is a finding. Known
      *    conservative corner: a never-executed sibling whose normalized
      *    signature exactly matches an executed one in the same batch
      *    collapses with it — signatures can't separate structural twins
      *    (the batch tier still reports per-exchange for every
      *    foreachBatch/v2 execution it walks). Every collapse is MARKED
      *    (r17 verdict item 3): the surviving measured hit's origin
      *    carries `[collapsed=N]` so a structural twin can never vanish
      *    silently — the reader sees "one measured exchange, N
      *    suppressed plan-copies-or-twins with this exact shape" and can
      *    adjudicate. N counts routine duplicate-start plan copies too
      *    (they're indistinguishable from twins by construction, which
      *    is the point of the marker).
      */
    def streamingHits(exclude: Set[Long]): Seq[Hit] = {
      val all = order.asScala.toVector.map { id =>
        val (label, sig) = labels.get(id)
        (id.longValue, label, sig, recordsFor(id))
      }
      val covered = all.collect {
        case (id, l, sig, r) if r >= 0 || exclude(id) => (l, sig)
      }.toSet
      // phantom ids suppressed per (label, signature): plan copies of an
      // executed-and-reported exchange — or its structural twin
      val collapsed = all
        .filter { case (id, l, sig, r) => !exclude(id) && r < 0 && covered((l, sig)) }
        .groupBy { case (_, l, sig, _) => (l, sig) }
        .view.mapValues(_.size).toMap
      val marked = scala.collection.mutable.Set.empty[(String, String)]
      all.filterNot { case (id, _, _, _) => exclude(id) }
        .filter { case (_, l, sig, r) => r >= 0 || !covered((l, sig)) }
        .map { case (_, l, sig, r) =>
          val n = collapsed.getOrElse((l, sig), 0)
          val tag =
            if (n > 0 && r >= 0 && marked.add((l, sig))) s" [collapsed=$n]" else ""
          Hit(s"stream:$l$tag", r)
        }
    }

    private def recordsFor(id: Long): Long = {
      val vs = updates.asScala.collect { case ((a, _, _), v) if a == id => v.longValue }
      if (vs.isEmpty) -1L else vs.sum
    }
  }

  private def flatten(pl: SparkPlan): Seq[SparkPlan] = {
    val self = pl match {
      case a: AdaptiveSparkPlanExec => pl +: flatten(a.executedPlan)
      case q: QueryStageExec => pl +: flatten(q.plan)
      case _ => pl +: pl.children.flatMap(flatten)
    }
    self ++ pl.subqueries.flatMap(flatten)
  }

  /** Records written into a single-partition exchange: prefer the
    * exchange's own shuffle-write metric; fall back to the child's
    * numOutputRows. -1 when neither exists (never executed — e.g. a
    * pruned branch).
    */
  private def recordsIn(e: ShuffleExchangeExec): Long =
    e.metrics.get("shuffleRecordsWritten").map(_.value)
      .orElse(e.child.metrics.get("numOutputRows").map(_.value))
      .getOrElse(-1L)

  private def spExchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    flatten(plan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }

  private def hitsIn(plan: SparkPlan, origin: String): Seq[Hit] =
    spExchanges(plan).map(e => Hit(origin, recordsIn(e)))

  /** Execute the frame and return every single-partition exchange in its
    * final adaptive plan with the record count written into it. The
    * execution MUST run through the frame's OWN QueryExecution
    * (`toRdd` + a discarding action): `df.write`/`df.count` build a
    * SEPARATE QueryExecution, leaving this one's plan unexecuted and
    * every metric zero — the audit then reads "0 records" on every
    * exchange and reports zero funnels forever. PlansSpec pins exactly
    * that failure mode (a deliberate repartition(1) of 10k rows must
    * read 10000, not 0). This path deliberately bypasses SQLExecution,
    * so it never shows up in the capture listener — no double counting.
    */
  private[graft] def singlePartitionHits(df: DataFrame): Seq[Long] = {
    df.queryExecution.toRdd.foreachPartition(_ => ())
    hitsIn(df.queryExecution.executedPlan, "returned").map(_.records)
  }

  /** Run `fn` with a capture listener registered, execute the returned
    * frame, and report single-partition exchanges from BOTH the returned
    * frame's plan and every QueryExecution `fn` ran eagerly (the r16
    * verdict's audit-scope fix — the r15 funnel lived in exactly those
    * intermediate jobs). PlansSpec pins both directions: a deliberate
    * repartition(1) inside an eagerly-executed intermediate write is
    * caught with its true record count, and the benign returned frame
    * does not mask it.
    */
  private[graft] def auditedHits(spark: SparkSession)(fn: => DataFrame): Seq[Hit] = {
    val listener = new CaptureListener
    val sqlBus = new SqlExecListener
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(sqlBus)
    try {
      val df = fn
      // deterministic drain FIRST: each bus delivers in order, so once
      // the sentinel's execution arrives ON BOTH (the
      // QueryExecutionListener via its SQLExecutionEnd, the
      // SparkListener via its SQLExecutionStart), everything `fn` ran
      // has arrived — and the returned-frame decision below can see it
      spark.range(1).select(lit(1).as(SentinelCol)).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!(listener.captured.asScala.exists(isSentinel) && sqlBus.sentinelSeen) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      require(listener.captured.asScala.exists(isSentinel) && sqlBus.sentinelSeen,
        "listener bus did not drain within 60s — capture evidence incomplete")
      // a query that already executed its RETURNED frame's own
      // QueryExecution inside fn (df.collect() then return df) must not
      // be executed again: toRdd would re-run the tasks and the plan's
      // SQLMetric accumulators would double, inflating the SAME exchange
      // to 2x in both the captured and returned rows (review finding,
      // r17) — the captured walk already reports it once, so the
      // returned tier stands down
      val returnedAlreadyRan =
        listener.captured.asScala.exists(_._2 eq df.queryExecution)
      val returned =
        if (returnedAlreadyRan) Nil
        else singlePartitionHits(df).map(Hit("returned", _))
      val capturedPlans = listener.captured.asScala.toVector
        .filterNot(isSentinel)
        .flatMap { case (func, qe) =>
          // executedPlan can throw for a query that failed during ANALYSIS
          // (no plan to walk — nothing executed either)
          val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
          plan.map(func -> _)
        }
      val captured = capturedPlans.flatMap { case (func, plan) =>
        hitsIn(plan, s"captured:$func")
      }
      // exchanges this tier already walked, by their metric accumulator
      // id — the bus tier must not report them a second time
      val walkedIds = capturedPlans.flatMap { case (_, plan) =>
        spExchanges(plan).flatMap(_.metrics.get("shuffleRecordsWritten").map(_.id))
      }.toSet
      returned ++ captured ++ sqlBus.streamingHits(walkedIds)
    } finally {
      spark.sparkContext.removeSparkListener(sqlBus)
      spark.listenerManager.unregister(listener)
    }
  }

  /** Known-benign UNMEASURED exchanges, keyed "<registry name>|<origin>". An
    * unmeasured exchange (planned but never executed at this SF — e.g.
    * behind an AQE-pruned branch) could be a funnel that only
    * materializes at larger scale, so since r18 it FAILS the run (exit 3)
    * unless listed here with a reviewed rationale (a log line that no
    * check reads is not a gate). Empty today — the r17 full
    * sf0.1 run measured every planned single-partition exchange.
    */
  private[graft] val UnmeasuredAllowlist: Set[String] = Set.empty

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * character escaped (an AnalysisException message spans lines). */
  private[graft] def jsonStr(s: String): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.JString(s))

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val threshold = args.lift(1).map(_.toLong).getOrElse(20000L)
    val only = args.lift(2).map(_.split(",").toSeq)
    // committed artifact (r17 verdict item 4): the audit's verdict used
    // to live only in stdout prose ("0/0/0/198 twice" in NOTES) — the
    // next session couldn't diff it. One JSON per run, the SCALE
    // convention: a name-filtered run writes the subset side file, never
    // the full registry artifact.
    val outPath = args.lift(3).getOrElse(
      if (only.isDefined) "AUDIT_subset.json" else "AUDIT.json")
    val spark = Session.getOrCreate()
    var funnels = 0
    var errors = 0
    var benign = 0
    var unmeasured = 0
    var allowlisted = 0
    var maxBenign = -1L
    var maxBenignAt = ""
    // per-query artifact rows, in registry order: benign count always;
    // non-benign findings (funnel/unmeasured/error) spelled out
    val rows = scala.collection.mutable.LinkedHashMap
      .empty[String, (Int, List[String])]
    Registry.all.filter(q => only.forall(_.exists(q.name.contains))).foreach { q =>
      var qBenign = 0
      var findings = List.empty[String]
      try {
        auditedHits(spark)(q.fn(spark, sfDir)).foreach { h =>
          if (h.records > threshold) {
            funnels += 1
            findings :+= s"""{"kind":"funnel","origin":${jsonStr(h.origin)},"records":${h.records}}"""
            println(s"[spa] FUNNEL ${q.name} (${h.origin}): ${h.records} records " +
              "into Exchange SinglePartition")
          } else if (h.records < 0) {
            val allowed = UnmeasuredAllowlist(s"${q.name}|${h.origin}")
            if (allowed) allowlisted += 1 else unmeasured += 1
            findings :+= s"""{"kind":"unmeasured","origin":${jsonStr(h.origin)},"allowlisted":$allowed}"""
            println(s"[spa] UNMEASURED ${q.name} (${h.origin}): single-partition " +
              "exchange planned but never executed at this SF" +
              (if (allowed) " (allowlisted)" else ""))
          } else {
            benign += 1
            qBenign += 1
            if (h.records > maxBenign) { maxBenign = h.records; maxBenignAt = q.name }
          }
        }
        spark.sharedState.cacheManager.clearCache()
      } catch {
        case e: Throwable =>
          errors += 1
          findings :+= s"""{"kind":"error","message":${jsonStr(String.valueOf(e.getMessage).take(200))}}"""
          println(s"[spa] ERROR ${q.name}: ${e.getMessage}")
      }
      rows(q.name) = (qBenign, findings)
    }
    println(s"[spa] done: $funnels funnels, $errors errors, $unmeasured unmeasured, " +
      s"$benign benign single-partition exchanges " +
      s"(largest benign: $maxBenign records in $maxBenignAt; threshold $threshold, sf $sfDir)")
    val queriesJson = rows.map { case (name, (b, fs)) =>
      val base = s"""${jsonStr(name)}:{"benign":$b"""
      if (fs.isEmpty) base + "}"
      else base + s""","findings":${fs.mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    val artifact =
      s"""{"sf":${jsonStr(sfDir)},"threshold":$threshold,""" +
        s""""funnels":$funnels,"errors":$errors,"unmeasured":$unmeasured,""" +
        s""""unmeasured_allowlisted":$allowlisted,"benign":$benign,""" +
        s""""max_benign":{"records":$maxBenign,"query":${jsonStr(maxBenignAt)}},""" +
        s""""queries":$queriesJson}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        artifact.getBytes("UTF-8"))
      println(s"[spa] artifact: $outPath")
    } catch { case e: Throwable =>
      println(s"[spa] artifact write FAILED ($outPath): ${e.getMessage}")
    }
    spark.stop()
    // exit contract: 2 = funnel or crash (a wrong plan or a broken
    // query), 3 = unexplained unmeasured exchange (a POSSIBLE funnel the
    // run couldn't observe — a gate, not a log line; allowlisted rows
    // don't trip it)
    if (funnels > 0 || errors > 0) sys.exit(2)
    if (unmeasured > 0) sys.exit(3)
  }
}
