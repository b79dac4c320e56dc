package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

import StreamHarness.{runToMemory, withStreamConf}

/** Structured Streaming twins of the batch event-time queries
  * (SURVEY.md §2.6 streaming row): file stream → watermark → windowed agg /
  * stateful sessionization → sink. Locally a parquet file drives the
  * stream synchronously (processAllAvailable); on a cluster the same code
  * reads a directory/Kafka source incrementally — only the source/sink
  * lines change.
  */
object EventStreams extends Serializable {

  /** The events fixture as a stream ([[StreamHarness.fixtureStream]]),
    * its `ts` normalised exactly as Tables.events does for batch, and the
    * stage dir the heartbeat harnesses feed further files into.
    */
  def eventsStreamStaged(spark: SparkSession, dir: String): (DataFrame, java.nio.file.Path) = {
    val (raw, stage) = StreamHarness.fixtureStream(spark, dir, "events")
    (graft.Tables.eventsTs(raw.schema).normalize(raw), stage)
  }

  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStreamStaged(spark, dir)._1

  /** SLIDING 2h/1h trending-type ranking: every event lands in TWO
    * window states (the sliding shape q31 runs in batch), counts per
    * (window, type); the top-3 rank per window is the batch finishing
    * step on the sink — ranking is not incrementally maintainable,
    * counting is, so the stream carries exactly the incrementally-
    * maintainable half. OUTPUT-MODE HONESTY (review finding, r14): this
    * harness runs Complete mode so the memory sink holds every window
    * for the full-corpus oracle compare, and in Complete mode Spark
    * retains all window state and IGNORES the watermark for eviction —
    * the bounded-state production form of this query is Append mode
    * (emit each window once it finalizes past the watermark), identical
    * per-window numbers, and the repo's watermark-evicting state lives
    * in the TWS family (q249/q250/q134). This is the "trending topics"
    * dataflow: at production scale the same query reads Kafka and the
    * finisher runs on each emitted window.
    */
  def slidingTrending(spark: SparkSession, dir: String): DataFrame = withStreamConf(spark) {
    val agg = eventsStream(spark, dir)
      // no withWatermark: Complete mode ignores it for eviction, and an
      // inert watermark would misstate the query's state story (doc above)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start").orderBy(col("n").desc, col("event_type").asc)
    runToMemory(agg, OutputMode.Complete)()
      .select(col("w.start").cast("timestamp_ntz").as("win_start"), col("event_type"), col("n"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .orderBy("win_start", "rank")
  }

  /** Tumbling 1h × event_type counts. Returns the completed result as a
    * batch DataFrame via an in-memory sink — numerically identical to
    * the batch q30 (and to the DuckDB oracle). Same output-mode honesty
    * note as [[slidingTrending]]: Complete mode here retains all window
    * state (the watermark does not evict); Append is the bounded-state
    * production form with identical per-window numbers.
    */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame = withStreamConf(spark) {
    val agg = eventsStream(spark, dir)
      // no withWatermark: inert under Complete mode (see slidingTrending)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Metrics.canonRound(graft.functions.Metrics.exactSum(col("value")), 4).as("sum_value"))
    runToMemory(agg, OutputMode.Complete)()
      .select(col("w.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_start", "event_type")
  }

  /** Streaming exact deduplication — the streaming face of the corpus-
    * dedup operators. dropDuplicatesWithinWatermark is what actually
    * bounds the state: plain dropDuplicates(id) keeps every id ever seen
    * (only dedup keys containing the event-time column are evicted), which
    * would OOM a long-running job.
    */
  def dedupStream(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark) {
      runToMemory(
        eventsStream(spark, dir)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id"),
        OutputMode.Append)()
    }

  /** Stream-stream interval join: clicks joined to purchases of the same
    * user within the 30 minutes before the purchase — the streaming twin
    * of the batch q68 attribution window. Both sides carry watermarks, so
    * the join state is BOUNDED: a buffered click can be dropped once the
    * purchase-side watermark passes click_ts + 30min (Spark derives the
    * eviction bound from the time-interval condition) — the property that
    * keeps an unbounded 100 TB/day stream from accumulating state forever.
    * StreamingSpec asserts pair-level equality with the batch plain
    * interval join planned without plans.RangeJoinRewrite.
    */
  private def attributionJoined(spark: SparkSession, dir: String): DataFrame = withStreamConf(spark) {
    val e = eventsStream(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("""c_user = p_user AND
              click_ts >= p_ts - INTERVAL 30 MINUTES AND click_ts <= p_ts"""))
    runToMemory(joined, OutputMode.Append)()
  }

  def attributionStream(spark: SparkSession, dir: String): DataFrame =
    attributionJoined(spark, dir)
      .select(col("purchase_id"), col("p_user").as("user_id"), col("click_ts"))
      .orderBy("purchase_id", "click_ts")

  /** The q68 attribution aggregate fed by the STREAM-STREAM join: the
    * emitted click×purchase pairs roll up per purchase — the batch
    * finishing step on the sink, while the unbounded work (the interval
    * join and its watermark-bounded state) ran in the stream. Output grain
    * and oracle are exactly q68's.
    */
  def attributionStreamAgg(spark: SparkSession, dir: String): DataFrame =
    attributionJoined(spark, dir)
      .groupBy("purchase_id")
      .agg(max(col("p_user")).as("user_id"),
        max(col("p_ts")).cast("timestamp_ntz").as("purchase_ts"),
        count(lit(1)).as("n_clicks"))
      .orderBy("purchase_id")

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionState(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

  /** Timestamp ↔ epoch-micros, exact: the fixture timestamps are
    * microsecond-grained, and `Timestamp.getTime` alone truncates to ms —
    * which would silently shift session boundaries and break the q129
    * oracle's hash compare.
    */
  private[streaming] def toMicros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private[streaming] def fromMicros(us: Long): Timestamp = {
    val ts = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos(((us - math.floorDiv(us, 1000000L) * 1000000L) * 1000L).toInt)
    ts
  }

  /** The session gap: 30 minutes of inactivity close a session, the same
    * 30 minutes the q129/q134 oracle SQL fixes. */
  private[streaming] final val SessionGapUs = 30L * 60 * 1000000L

  /** The per-user open-session fold every sessionization harness in this
    * package shares (r15 verdict item 2 — until then each of the FIVE
    * stateful APIs carried a byte-identical copy of this loop, the exact
    * copy-drift class the r14 review caught once already): fold the
    * batch's rows (sorted by (ts, event_id) — micro-batch iterators carry
    * no order guarantee) into the open-session state, closing a session
    * whenever the gap exceeds [[SessionGapUs]]. Returns (closed sessions in
    * chronological order, the still-open state to persist). Pure and
    * state-API-agnostic, so GroupState, ValueState, and the restart
    * harness all call the same fold — their outputs can no longer drift.
    */
  private[streaming] def foldSessions(userId: Long, rows: Iterator[Event],
      prev: Option[SessionState]): (Iterator[SessionOut], Option[SessionState]) = {
    val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
    var out = List.empty[SessionOut]
    var cur = prev
    sorted.foreach { e =>
      val t = toMicros(e.ts)
      cur match {
        case Some(ss) if t - ss.end > SessionGapUs =>
          out ::= SessionOut(userId, fromMicros(ss.start), fromMicros(ss.end), ss.n)
          cur = Some(SessionState(t, t, 1))
        case Some(ss) =>
          cur = Some(SessionState(ss.start, math.max(ss.end, t), ss.n + 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    (out.reverseIterator, cur)
  }

  /** [[foldSessions]] on transformWithState: one ValueState holds the
    * user's open session (q249, and q252 across restarts). `onUpdate`
    * runs after each open-session write; the timer-evicting processor
    * (q250) re-arms its timer there.
    */
  private[streaming] class SessionProcessor extends StatefulProcessor[Long, Event, SessionOut] {
    @transient protected var open: ValueState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessionState](
        "open", Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[SessionOut] = {
      val prev: Option[SessionState] = if (open.exists()) Some(open.get()) else None
      val (out, cur) = foldSessions(userId, rows, prev)
      cur.foreach { ss => open.update(ss); onUpdate(ss) }
      out
    }
    protected def onUpdate(ss: SessionState): Unit = ()
  }

  /** Stateful sessionization via flatMapGroupsWithState (the §2.9 custom-
    * state row): per-user state = the open session; a gap > 30 min closes
    * it. Emits closed sessions — i.e. every session of a user except the
    * still-open last one, which is exactly expressible in SQL, so the
    * registry twin (q129) is oracle-checked: batch sessionization minus
    * each user's final session.
    */
  def sessionizeStream(spark: SparkSession, dir: String): DataFrame = withStreamConf(spark) {
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]

    def update(userId: Long, rows: Iterator[Event], state: GroupState[SessionState]): Iterator[SessionOut] = {
      val (out, cur) = foldSessions(userId, rows, state.getOption)
      cur.foreach(state.update)
      out
    }

    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    runToMemory(sessions, OutputMode.Append)().orderBy("user_id", "session_start")
  }

  /** Sessionization via Spark 4's transformWithState — the NEW arbitrary
    * stateful-processing API (StatefulProcessor + typed state handles,
    * SPARK-46815), which is the successor surface to
    * flatMapGroupsWithState: state is declared as named, individually
    * typed handles (here one ValueState[SessionState]) instead of a
    * single state object, and the processor can mix value/list/map state
    * and timers. Semantics here are IDENTICAL to [[sessionizeStream]] —
    * same per-user open-session fold, same closed-session emission — so
    * the registry twin (q249) reuses q129's oracle VERBATIM, and the
    * spec pins the two APIs' outputs row-for-row equal.
    *
    * transformWithState requires the RocksDB state store provider, so
    * the harness runs under `withStreamConf(spark, rocksDb = true)`.
    */
  def sessionizeTws(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark, rocksDb = true) {
      import spark.implicits._
      val sessions = eventsStream(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Event]
        .groupByKey(_.user_id)
        .transformWithState(new SessionProcessor, TimeMode.None(), OutputMode.Append())
      runToMemory(sessions, OutputMode.Append)().orderBy("user_id", "session_start")
    }

  /** Sessionization with EVENT-TIME TIMEOUT eviction — the piece q129's
    * NoTimeout variant can't show: an idle user's open session is emitted
    * (and its state REMOVED) once the watermark passes session_end + gap,
    * not only when that user's next event happens to arrive. This is what
    * bounds state on a real stream, where most sessions end by silence.
    *
    * The local harness drives the watermark deterministically with two
    * HEARTBEAT files staged after the fixture batch commits (user_id -1,
    * filtered from the output; a production stream gets this for free
    * from continuously arriving data):
    *  - batch 1: all fixture events → per-user open-session state;
    *    in-batch gap closures emit on the data path. Watermark after:
    *    max(fixture ts) − delay.
    *  - batch 2 (heartbeat +10 d): timeouts fire for sessions already
    *    gap-expired at the batch-1 watermark.
    *  - batch 3 (heartbeat +11 d): the watermark is now 10 days past the
    *    fixture, so EVERY remaining session times out and evicts.
    * Evicted ∪ gap-closed = exactly the batch sessionization of every
    * user — the oracle — because all real events commit before the first
    * timeout can fire, so no eviction can ever split a session an
    * unprocessed event would have extended.
    */
  def sessionizeEvictAll(spark: SparkSession, dir: String): DataFrame = withStreamConf(spark) {
    import spark.implicits._
    val (stream, stage) = eventsStreamStaged(spark, dir)
    val events = stream
      .withWatermark("ts", "1 hour")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]

    def update(userId: Long, rows: Iterator[Event], state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val ss = state.get
        state.remove()
        Iterator.single(SessionOut(userId, fromMicros(ss.start), fromMicros(ss.end), ss.n))
      } else {
        val (out, cur) = foldSessions(userId, rows, state.getOption)
        cur.foreach { ss =>
          state.update(ss)
          // evict when the watermark passes the session's gap horizon
          state.setTimeoutTimestamp(math.floorDiv(ss.end + SessionGapUs, 1000L))
        }
        out
      }
    }

    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
    runToMemory(sessions, OutputMode.Append)(
        driveHeartbeats(graft.Tables.raw(spark, dir, "events"), stage, _))
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start")
  }

  /** Two staged heartbeats carry the watermark past every horizon;
    * each is a data batch, so eviction/timer firing never depends on
    * the engine's optional no-data microbatch. Each heartbeat harness
    * passes this as the `afterDrain` hook of
    * [[StreamHarness.runToMemory]], which stops the query even when a
    * heartbeat write throws.
    *
    * `files` is a batch read of the files the stream reads (the raw
    * fixture for q134/q250, the normalised events for q255's slices):
    * each heartbeat is written in exactly its schema, `ts` shifted in the
    * type it has there, or the stream's read of the heartbeat fails with
    * a column type mismatch when the fixture's `ts` type differs from the
    * slices'. The day offsets and the link-name prefix are the caller's:
    * q255 derives its offsets from the fixture span (no profile may flush
    * mid-stream) and prefixes its links so they sort after the slice
    * files.
    */
  private[streaming] def driveHeartbeats(files: DataFrame, stage: java.nio.file.Path,
                              q: org.apache.spark.sql.streaming.StreamingQuery,
                              dayOffsets: Seq[Long] = Seq(10L, 11L),
                              linkPrefix: String = ""): Unit = {
    val shift = graft.Tables.eventsTs(files.schema).plusDays
    val fixed = Map("event_id" -> lit(-1L), "user_id" -> lit(-1L),
      "event_type" -> lit("heartbeat"), "value" -> lit(0.0), "props" -> lit("{}"))
    dayOffsets.zipWithIndex.foreach { case (days, i) =>
      val name = s"hb${i + 1}"
      val hbDir = TempDirs.create(s"graft_${name}_")
      files.orderBy(col("ts").desc).limit(1)
        .select(files.schema.fields.map { f =>
          val c = if (f.name == "ts") shift(days) else fixed.getOrElse(f.name, col(f.name))
          c.cast(f.dataType).as(f.name)
        }: _*)
        .write.mode("overwrite").parquet(hbDir.toString)
      val part = hbDir.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createSymbolicLink(
        stage.resolve(s"$linkPrefix$name.parquet"), part.toPath)
      q.processAllAvailable()
    }
  }

  /** q134's eviction semantics on transformWithState TIMERS — the half
    * of the new API q249 doesn't exercise: TimeMode.EventTime plus
    * registerTimer/handleExpiredTimer replaces GroupStateTimeout. The
    * session's eviction horizon MOVES as events extend it, so the stale
    * timer is deleted before the new one registers (a stale timer would
    * evict a still-live session — with GroupState the single timeout
    * timestamp got overwritten implicitly; TWS timers are a SET and the
    * discipline is explicit). Same heartbeat harness, same evicted ∪
    * gap-closed = batch-sessionization identity, so q250 reuses q134's
    * oracle VERBATIM.
    */
  def sessionizeTwsEvict(spark: SparkSession, dir: String): DataFrame =
    withStreamConf(spark, rocksDb = true) {
      import spark.implicits._
      import org.apache.spark.sql.streaming.ExpiredTimerInfo
      val (stream, stage) = eventsStreamStaged(spark, dir)
      class EvictingProcessor extends SessionProcessor {
        // the horizon moved: clear stale timers, register end + gap
        override protected def onUpdate(ss: SessionState): Unit = {
          getHandle.listTimers().foreach(getHandle.deleteTimer)
          getHandle.registerTimer(math.floorDiv(ss.end + SessionGapUs, 1000L))
        }
        override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                        info: ExpiredTimerInfo): Iterator[SessionOut] = {
          if (open.exists()) {
            val ss = open.get()
            open.clear()
            Iterator.single(SessionOut(userId, fromMicros(ss.start), fromMicros(ss.end), ss.n))
          } else Iterator.empty
        }
      }
      val sessions = stream
        .withWatermark("ts", "1 hour")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Event]
        .groupByKey(_.user_id)
        .transformWithState(new EvictingProcessor, TimeMode.EventTime(), OutputMode.Append())
      runToMemory(sessions, OutputMode.Append)(
          driveHeartbeats(graft.Tables.raw(spark, dir, "events"), stage, _))
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    }
}
