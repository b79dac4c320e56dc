package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables

/** Structured Streaming twins of the batch event-time queries
  * (SURVEY.md §2.6 streaming row): readStream → watermark → windowed agg /
  * stateful sessionization → sink. Locally a parquet file drives the
  * stream synchronously (processAllAvailable); on a cluster the same code
  * reads a directory/Kafka source incrementally — only the source/sink
  * lines change.
  */
object EventStreams extends Serializable {

  /** Streaming source over the events fixture, normalizing the NANOS
    * timestamp exactly like Tables.events does for batch. Returns the
    * staging directory too so callers can feed FURTHER files into the
    * running stream (the multi-batch harness [[sessionizeEvictAll]]
    * needs).
    */
  def eventsStreamStaged(spark: SparkSession, dir: String): (DataFrame, java.nio.file.Path) = {
    val batchSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource wants a directory; the fixture is a single file.
    // Stage a symlink in a temp dir — a cluster deployment streams a real
    // landing directory (or Kafka) and this staging disappears.
    val stage = TempDirs.create("graft_stream_")
    java.nio.file.Files.createSymbolicLink(
      stage.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath)
    val raw = spark.readStream.schema(batchSchema).parquet(stage.toString)
    // Same shape normalization as Tables.events: Long-nanos or TIMESTAMP_NTZ
    // → session-UTC TimestampType (the type withWatermark requires).
    val df = batchSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
    (df, stage)
  }

  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStreamStaged(spark, dir)._1

  /** Run `body` (a streaming query execution) with
    * spark.sql.shuffle.partitions temporarily set to the STATE partition
    * count, min(8, defaultParallelism): one state store per scheduler
    * slot, capped at 8.
    *
    * Why the slot count: every stateful streaming operator keeps one
    * state store PER shuffle partition, and each store pays a fixed cost
    * in every micro-batch (load, commit, checksummed delta or snapshot
    * write) that dwarfs its row work at fixture scale. With more
    * partitions than slots a stateful stage runs in several waves of
    * tasks that are mostly that fixed cost; one partition per slot runs
    * it in one wave with the fewest stores.
    *
    * Why the cap of 8: measured on sf0.1 at local[32], 32 → 8 partitions
    * took the stream-stream join 6.3s→3.2s and timeout sessionization
    * 5.6s→3.6s (BENCH.md, round 7) — above 8 the extra stores cost more
    * than the parallelism returns.
    *
    * Why OPTIMIZATION_r18.md's "8 → 4 a wash" does not carry over: that
    * A/B ran at local[32], where 8 tasks already fit in one wave, so 4
    * only dropped stores that ran in parallel anyway. Below 8 slots, 8
    * stores take two waves; at local[4] going from 8 to 4 cut the
    * stream_replay benchmark's mean Spark job time from 0.197s to 0.143s
    * (medians of ten alternating runs each, every output checked).
    *
    * State partitioning is fixed at the query's FIRST start (a restart
    * keeps the count its checkpoint recorded), so the conf must be set
    * before .start(); a production stream sizes this by throughput
    * exactly as a batch job sizes its shuffle.
    *
    * The conf is SESSION-GLOBAL, so the save/set/restore is serialized
    * under a JVM lock: Verify's 4-way-parallel pool runs several
    * streaming harnesses on one session, and unsynchronized save/restore
    * pairs can interleave so that a body runs at the batch partition
    * count and — worse — the LAST restore re-installs the temporary
    * value permanently, skewing every later query in the sweep.
    * Serializing the handful of streaming harnesses costs little; batch
    * queries are unaffected.
    */
  private val shufflePartitionsLock = new Object

  def withStreamShufflePartitions[A](spark: SparkSession)(body: => A): A =
    shufflePartitionsLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val saved = spark.conf.get(key)
      spark.conf.set(key, math.min(8, spark.sparkContext.defaultParallelism).toString)
      try body finally spark.conf.set(key, saved)
    }

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
  def slidingTrending(spark: SparkSession, dir: String,
      queryName: String = "stream_sliding_trend"): DataFrame = withStreamShufflePartitions(spark) {
    val agg = eventsStream(spark, dir)
      // no withWatermark: Complete mode ignores it for eviction, and an
      // inert watermark would misstate the query's state story (doc above)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start").orderBy(col("n").desc, col("event_type").asc)
    spark.table(queryName)
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
  def tumblingCounts(spark: SparkSession, dir: String, queryName: String = "stream_tumbling"): DataFrame = withStreamShufflePartitions(spark) {
    val agg = eventsStream(spark, dir)
      // no withWatermark: inert under Complete mode (see slidingTrending)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Metrics.canonRound(graft.functions.Metrics.exactSum(col("value")), 4).as("sum_value"))
    val q = agg.writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
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
  def dedupQuery(deduped: org.apache.spark.sql.Dataset[_], queryName: String): DataFrame = withStreamShufflePartitions(deduped.sparkSession) {
    val q = deduped.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    deduped.sparkSession.table(queryName)
  }

  def dedupStream(spark: SparkSession, dir: String, queryName: String = "stream_dedup"): DataFrame =
    dedupQuery(
      eventsStream(spark, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id"),
      queryName)

  /** Stream-stream interval join: clicks joined to purchases of the same
    * user within the 30 minutes before the purchase — the streaming twin
    * of the batch q68 attribution window. Both sides carry watermarks, so
    * the join state is BOUNDED: a buffered click can be dropped once the
    * purchase-side watermark passes click_ts + 30min (Spark derives the
    * eviction bound from the time-interval condition) — the property that
    * keeps an unbounded 100 TB/day stream from accumulating state forever.
    * StreamingSpec asserts pair-level equality with the batch RangeJoin.
    */
  private def attributionJoined(spark: SparkSession, dir: String, queryName: String): DataFrame = withStreamShufflePartitions(spark) {
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
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  def attributionStream(spark: SparkSession, dir: String,
                        queryName: String = "stream_attribution"): DataFrame =
    attributionJoined(spark, dir, queryName)
      .select(col("purchase_id"), col("p_user").as("user_id"), col("click_ts"))
      .orderBy("purchase_id", "click_ts")

  /** The q68 attribution aggregate fed by the STREAM-STREAM join: the
    * emitted click×purchase pairs roll up per purchase — the batch
    * finishing step on the sink, while the unbounded work (the interval
    * join and its watermark-bounded state) ran in the stream. Output grain
    * and oracle are exactly q68's.
    */
  def attributionStreamAgg(spark: SparkSession, dir: String,
                           queryName: String = "stream_attribution_agg"): DataFrame =
    attributionJoined(spark, dir, queryName)
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

  /** The per-user open-session fold every sessionization harness in this
    * package shares (r15 verdict item 2 — until then each of the FIVE
    * stateful APIs carried a byte-identical copy of this loop, the exact
    * copy-drift class the r14 review caught once already): fold the
    * batch's rows (sorted by (ts, event_id) — micro-batch iterators carry
    * no order guarantee) into the open-session state, closing a session
    * whenever the gap exceeds `gapUs`. Returns (closed sessions in
    * chronological order, the still-open state to persist). Pure and
    * state-API-agnostic, so GroupState, ValueState, and the restart
    * harness all call the same fold — their outputs can no longer drift.
    */
  private[streaming] def foldSessions(userId: Long, gapUs: Long, rows: Iterator[Event],
      prev: Option[SessionState]): (Iterator[SessionOut], Option[SessionState]) = {
    val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
    var out = List.empty[SessionOut]
    var cur = prev
    sorted.foreach { e =>
      val t = toMicros(e.ts)
      cur match {
        case Some(ss) if t - ss.end > gapUs =>
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

  /** Stateful sessionization via flatMapGroupsWithState (the §2.9 custom-
    * state row): per-user state = the open session; a gap > 30 min closes
    * it. Emits closed sessions — i.e. every session of a user except the
    * still-open last one, which is exactly expressible in SQL, so the
    * registry twin (q129) is oracle-checked: batch sessionization minus
    * each user's final session.
    */
  def sessionizeStream(spark: SparkSession, dir: String, gapMinutes: Int = 30,
                       queryName: String = "stream_sessions"): DataFrame = withStreamShufflePartitions(spark) {
    import spark.implicits._
    val gapUs = gapMinutes * 60 * 1000000L
    val events = eventsStream(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]

    def update(userId: Long, rows: Iterator[Event], state: GroupState[SessionState]): Iterator[SessionOut] = {
      val (out, cur) = foldSessions(userId, gapUs, rows, state.getOption)
      cur.foreach(state.update)
      out
    }

    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    val q = sessions.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName).orderBy("user_id", "session_start")
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
    * transformWithState requires the RocksDB state store provider; the
    * conf is set for the harness run and restored after (local default
    * is HDFSBackedStateStoreProvider).
    */
  def sessionizeTws(spark: SparkSession, dir: String, gapMinutes: Int = 30,
                    queryName: String = "stream_sessions_tws"): DataFrame = withStreamShufflePartitions(spark) {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    val gapUs = gapMinutes * 60 * 1000000L
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = eventsStream(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Event]
      class SessionProcessor extends StatefulProcessor[Long, Event, SessionOut] {
        @transient private var open: ValueState[SessionState] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          open = getHandle.getValueState[SessionState](
            "open", org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
        override def handleInputRows(userId: Long, rows: Iterator[Event],
                                     tv: TimerValues): Iterator[SessionOut] = {
          val prev: Option[SessionState] = if (open.exists()) Some(open.get()) else None
          val (out, cur) = foldSessions(userId, gapUs, rows, prev)
          cur.foreach(open.update)
          out
        }
      }
      val sessions = events
        .groupByKey(_.user_id)
        .transformWithState(new SessionProcessor, TimeMode.None(), OutputMode.Append())
      val q = sessions.writeStream
        .outputMode(OutputMode.Append)
        .format("memory")
        .queryName(queryName)
        .start()
      q.processAllAvailable()
      q.stop()
      // the memory sink holds its rows on the driver, so restoring the
      // provider conf below cannot affect the returned frame
      spark.table(queryName).orderBy("user_id", "session_start")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
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
  def sessionizeEvictAll(spark: SparkSession, dir: String, gapMinutes: Int = 30,
                         queryName: String = "stream_sessions_evict"): DataFrame = withStreamShufflePartitions(spark) {
    import spark.implicits._
    val gapUs = gapMinutes * 60 * 1000000L
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
        val (out, cur) = foldSessions(userId, gapUs, rows, state.getOption)
        cur.foreach { ss =>
          state.update(ss)
          // evict when the watermark passes the session's gap horizon
          state.setTimeoutTimestamp(math.floorDiv(ss.end + gapUs, 1000L))
        }
        out
      }
    }

    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
    val q = sessions.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    driveHeartbeats(spark, dir, stage, q)
    q.stop()
    spark.table(queryName)
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start")
  }

  /** Two staged heartbeats carry the watermark past every horizon;
    * each is a data batch, so eviction/timer firing never depends on
    * the engine's optional no-data microbatch. Shared by the
    * GroupStateTimeout (q134), transformWithState-timer (q250), and
    * multi-handle-profile (q255) harnesses — the q255 copy was the last
    * near-duplicate of this scaffold (r16, closing the r15 item-2
    * sweep): it differs only in the day offsets (span-derived, so no
    * profile flushes mid-stream) and in a link-name prefix that sorts
    * its heartbeats after the slice files.
    */
  private[streaming] def driveHeartbeats(spark: SparkSession, dir: String,
                              stage: java.nio.file.Path,
                              q: org.apache.spark.sql.streaming.StreamingQuery,
                              dayOffsets: Seq[Long] = Seq(10L, 11L),
                              linkPrefix: String = ""): Unit = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val dayNs = 86400L * 1000000000L
    val shift: Long => org.apache.spark.sql.Column =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        days => (col("ts") + lit(days * dayNs)).as("ts")
      else
        days => (col("ts") + expr(s"INTERVAL $days DAYS")).as("ts")
    dayOffsets.zipWithIndex.foreach { case (days, i) =>
      val name = s"hb${i + 1}"
      val hbDir = TempDirs.create(s"graft_${name}_")
      raw.orderBy(col("ts").desc).limit(1)
        .select(lit(-1L).as("event_id"), shift(days), lit(-1L).as("user_id"),
          lit("heartbeat").as("event_type"), lit(0.0).as("value"), lit("{}").as("props"))
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
  def sessionizeTwsEvict(spark: SparkSession, dir: String, gapMinutes: Int = 30,
                         queryName: String = "stream_sessions_tws_evict"): DataFrame = withStreamShufflePartitions(spark) {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    val gapUs = gapMinutes * 60 * 1000000L
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (stream, stage) = eventsStreamStaged(spark, dir)
      val events = stream
        .withWatermark("ts", "1 hour")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Event]
      class EvictingProcessor extends StatefulProcessor[Long, Event, SessionOut] {
        @transient private var open: ValueState[SessionState] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          open = getHandle.getValueState[SessionState](
            "open", org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
        override def handleInputRows(userId: Long, rows: Iterator[Event],
                                     tv: TimerValues): Iterator[SessionOut] = {
          val prev: Option[SessionState] = if (open.exists()) Some(open.get()) else None
          val (out, cur) = foldSessions(userId, gapUs, rows, prev)
          cur.foreach { ss =>
            open.update(ss)
            // the horizon moved: clear stale timers, register end + gap
            getHandle.listTimers().foreach(getHandle.deleteTimer)
            getHandle.registerTimer(math.floorDiv(ss.end + gapUs, 1000L))
          }
          out
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
      val sessions = events
        .groupByKey(_.user_id)
        .transformWithState(new EvictingProcessor, TimeMode.EventTime(), OutputMode.Append())
      val q = sessions.writeStream
        .outputMode(OutputMode.Append)
        .format("memory")
        .queryName(queryName)
        .start()
      q.processAllAvailable()
      driveHeartbeats(spark, dir, stage, q)
      q.stop()
      spark.table(queryName)
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
