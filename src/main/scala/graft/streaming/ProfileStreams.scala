package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.registry.GQuery

/** transformWithState with the FULL state-handle surface (the r12
  * verdict's item 5): q249/q250 each use one ValueState handle; this
  * processor keeps a per-user profile in FOUR handles at once and
  * flushes it with an event-time timer —
  *
  *  - ValueState[Long]  `last`:   last event micros (session-gap detect)
  *  - ListState[Long]   `starts`: session-start log — APPEND-only, one
  *    element per session; the honest ListState shape (an append is a
  *    point write in RocksDB, where a growing array in ValueState would
  *    rewrite the whole blob every event)
  *  - MapState[String, TypeStat] `types`: per-event-type (count, exact
  *    integer value micros) — point get/put per event over a bounded
  *    key domain; the canonical MapState shape
  *  - an event-time TIMER at last-seen + horizon (deleted/re-registered
  *    as the user stays active — q250's moving-horizon discipline) that
  *    emits the whole profile once the user has been silent past the
  *    horizon and CLEARS all three handles: the state-bounding story.
  *
  * Harness: the fixture streams as THREE time-ordered tercile batches
  * (the q252 slicing — session-gap detection needs non-decreasing
  * per-user delivery), then two heartbeat batches drive the watermark
  * past every horizon so each user flushes exactly once. The horizon is
  * sized from the fixture's own time span (span + 1 day), so NO timer
  * can fire while real events remain — one emission per user, and the
  * output is a pure set property of the corpus: the oracle is a plain
  * batch profile (per-user-per-type counts/sums + windowed session
  * count), slicing-independent by the same argument as q233/q239.
  */
object ProfileStreams {

  case class TypeStat(n: Long, sumMicros: Long)
  case class ProfileOut(user_id: Long, event_type: String, n_events: Long,
                        sum_micros: Long, n_sessions: Long)

  def userProfileTws(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.withStreamConf(spark, rocksDb = true) {
      import spark.implicits._
      import org.apache.spark.sql.streaming.{
        ExpiredTimerInfo, ListState, MapState, StatefulProcessor, TimeMode,
        TimerValues, TTLConfig, ValueState}
      val batchEvents = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      // horizon: longer than the corpus span -> no mid-stream flush;
      // heartbeats land just past it
      val span = batchEvents.agg(min("ts"), max("ts")).head
      val spanUs = (span.getTimestamp(1).getTime - span.getTimestamp(0).getTime) * 1000L
      val horizonUs = spanUs + 86400L * 1000000L
      val hbDays = spanUs / (86400L * 1000000L) + 2

      // time-ordered terciles (q252's slicing contract), via
      // DistributedRank.ntile — one range exchange, never the
      // single-partition window sort
      val (slices, stage) = StreamHarness.stageTimeOrderedSlices(
        batchEvents, Seq(col("ts"), col("event_id")), 3)

      class ProfileProcessor extends StatefulProcessor[Long, EventStreams.Event, ProfileOut] {
        @transient private var last: ValueState[Long] = _
        @transient private var starts: ListState[Long] = _
        @transient private var types: MapState[String, TypeStat] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
          last = getHandle.getValueState[Long](
            "last", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
          starts = getHandle.getListState[Long](
            "starts", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
          types = getHandle.getMapState[String, TypeStat](
            "types", org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.product[TypeStat], TTLConfig.NONE)
        }
        override def handleInputRows(userId: Long, rows: Iterator[EventStreams.Event],
                                     tv: TimerValues): Iterator[ProfileOut] = {
          val sorted = rows.toSeq.sortBy(e => (EventStreams.toMicros(e.ts), e.event_id))
          var prev: Option[Long] = if (last.exists()) Some(last.get()) else None
          sorted.foreach { e =>
            val t = EventStreams.toMicros(e.ts)
            if (prev.forall(p => t - p > EventStreams.SessionGapUs)) starts.appendValue(t)
            val st = if (types.containsKey(e.event_type)) types.getValue(e.event_type)
              else TypeStat(0L, 0L)
            types.updateValue(e.event_type,
              TypeStat(st.n + 1, st.sumMicros + math.floor(e.value * 1e4 + 0.5).toLong))
            prev = Some(math.max(prev.getOrElse(Long.MinValue), t))
          }
          prev.foreach { p =>
            last.update(p)
            getHandle.listTimers().foreach(getHandle.deleteTimer)
            getHandle.registerTimer(math.floorDiv(p + horizonUs, 1000L))
          }
          Iterator.empty
        }
        override def handleExpiredTimer(userId: Long, tv: TimerValues,
                                        info: ExpiredTimerInfo): Iterator[ProfileOut] = {
          val nSessions = starts.get().length
          val out = types.iterator().map { case (k, v) =>
            ProfileOut(userId, k, v.n, v.sumMicros, nSessions)
          }.toList
          last.clear(); starts.clear(); types.clear()
          out.iterator
        }
      }

      val profiles = slices.withWatermark("ts", "1 hour")
        .as[EventStreams.Event]
        .groupByKey(_.user_id)
        .transformWithState(new ProfileProcessor, TimeMode.EventTime(), OutputMode.Append())
      // heartbeat batches drive the watermark past every horizon —
      // the shared scaffold, written in the slices' schema, with
      // span-derived offsets (no profile may flush mid-stream) and a
      // link prefix that sorts the heartbeats after the slice files
      StreamHarness.runToMemory(profiles, OutputMode.Append)(
          EventStreams.driveHeartbeats(batchEvents, stage, _,
            dayOffsets = Seq(hbDays, hbDays + 1), linkPrefix = "zz_"))
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("event_type"), col("n_events"),
          graft.functions.Metrics.canonRound(col("sum_micros").cast("double") / 1e4, 4)
            .as("sum_value"),
          col("n_sessions"))
        .orderBy("user_id", "event_type")
    }

  val q255 = GQuery(
    "q255_tws_profile",
    (s, dir) => userProfileTws(s, dir),
    Some("""WITH e AS (
        SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
        FROM events),
      g AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS prev_ts FROM e),
      s AS (SELECT user_id,
              sum(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END) AS n_sessions
            FROM g GROUP BY user_id)
      SELECT e.user_id, e.event_type, count(*) AS n_events,
        floor(CAST(sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 * 1e4 + 0.5)/1e4
          AS sum_value,
        CAST(s.n_sessions AS BIGINT) AS n_sessions
      FROM e JOIN s USING (user_id)
      GROUP BY e.user_id, e.event_type, s.n_sessions
      ORDER BY user_id, event_type"""))

  def all: Seq[GQuery] = Seq(q255)
}
