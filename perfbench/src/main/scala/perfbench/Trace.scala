package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records one span around each call the benchmark makes into a layer.
  * The untraced runs use [[Tracer.Off]], so their code path is the same
  * minus the bookkeeping; the traced run's extra time is the overhead.
  */
trait Tracer {
  def beginOp(op: Int): Unit
  def span[A](name: String)(f: => A): A
}

object Tracer {
  val OpKey = "perfbench.op"
  val LayerKey = "perfbench.layer"

  object Off extends Tracer {
    def beginOp(op: Int): Unit = ()
    def span[A](name: String)(f: => A): A = f
  }
}

/** In-memory spans, written out when the run ends. The innermost span's
  * name and the operation id travel with every job as local properties, so
  * [[Counters]] can attribute jobs, stages and tasks to a layer.
  */
final class Spans(sc: SparkContext, base: Long) extends Tracer {
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1

  def beginOp(o: Int): Unit = {
    op = o
    sc.setLocalProperty(Tracer.OpKey, o.toString)
  }

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val outer = sc.getLocalProperty(Tracer.LayerKey)
    sc.setLocalProperty(Tracer.LayerKey, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.LayerKey, outer)
      stack = stack.tail
      spans += Map("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
        "t0" -> (t0 - base) / 1e9, "t1" -> (t1 - base) / 1e9)
    }
  }
}

/** Duration of every Spark job, kept in every run: the pipeline
  * workload's per-operation latencies are its jobs.
  */
final class JobTimes extends SparkListener {
  val durations = mutable.ArrayBuffer.empty[Long]
  private val started = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(t => durations += e.time - t)
  }
}

/** Job, stage and task counters from the scheduler's own events. */
final class Counters extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobOwner = mutable.Map.empty[Int, (Int, String, Long)]
  private val stageOwner = mutable.Map.empty[Int, (Int, String)]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val sums = mutable.Map.empty[(Int, Int), Array[Long]]

  private def owner(p: java.util.Properties): (Int, String) =
    if (p == null) (-1, "")
    else (Option(p.getProperty(Tracer.OpKey)).map(_.toInt).getOrElse(-1),
      Option(p.getProperty(Tracer.LayerKey)).getOrElse(""))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (op, layer) = owner(e.properties)
    jobOwner(e.jobId) = (op, layer, e.time)
    e.stageIds.foreach(s => stageOwner(s) = (op, layer))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (op, layer, start) =>
      jobs += Map("job" -> e.jobId, "op" -> op, "layer" -> layer,
        "start_ms" -> start, "end_ms" -> e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    taskMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      val s = sums.getOrElseUpdate(key, new Array[Long](5))
      s(0) += m.executorCpuTime
      s(1) += m.jvmGCTime
      s(2) += m.shuffleReadMetrics.totalBytesRead
      s(3) += m.shuffleWriteMetrics.bytesWritten
      s(4) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    val (op, layer) = stageOwner.getOrElse(info.stageId, (-1, ""))
    val ts = taskMs.remove(key).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
    val s = sums.remove(key).getOrElse(new Array[Long](5))
    stages += Map("stage" -> info.stageId, "op" -> op, "layer" -> layer,
      "tasks" -> ts.size, "busy_ms" -> ts.sum, "cpu_ns" -> s(0), "gc_ms" -> s(1),
      "shuffle_read" -> s(2), "shuffle_write" -> s(3), "spill" -> s(4),
      "task_ms_max" -> ts.lastOption.getOrElse(0L),
      "task_ms_median" -> (if (ts.isEmpty) 0L else ts(ts.size / 2)))
  }
}

/** The engine's own micro-batch progress events, kept in every run: the
  * stream workload's per-operation latencies are its batch durations.
  */
final class StreamEvents extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    batches += Map("query" -> p.runId.toString, "batch" -> p.batchId,
      "op" -> -1, "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
      "planning_ms" -> ms("queryPlanning"), "wal_ms" -> ms("walCommit"),
      "commit_ms" -> ms("commitOffsets"), "source_ms" -> (ms("getBatch") + ms("latestOffset")),
      "input_rows" -> p.numInputRows,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
      "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "watermark_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum)
  }

  /** Attribute every batch reported since the last call to operation `op`. */
  def claim(op: Int): Unit = synchronized {
    for (i <- batches.indices if batches(i)("op") == -1)
      batches(i) = batches(i).updated("op", op)
  }
}

object PlanShape {
  /** Every node of the final physical plan, through adaptive stages and
    * subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  /** Exchange and join counts, and the bytes and rows the file scans read,
    * of an executed plan.
    */
  def counts(p: SparkPlan): Map[String, Long] = {
    val all = nodes(p)
    val names = all.map(_.getClass.getSimpleName)
    def n(f: String => Boolean) = names.count(f).toLong
    val scans = all.filter(_.getClass.getSimpleName.endsWith("ScanExec"))
    def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    Map(
      "exchanges" -> n(s => s == "ShuffleExchangeExec" || s == "BroadcastExchangeExec"),
      "joins_broadcast" -> n(s => s.startsWith("Broadcast") && s.endsWith("JoinExec")),
      "joins_hash" -> n(_ == "ShuffledHashJoinExec"),
      "joins_sort_merge" -> n(_ == "SortMergeJoinExec"),
      "scan_bytes" -> metric("filesSize"),
      "scan_rows" -> metric("numOutputRows"))
  }
}
