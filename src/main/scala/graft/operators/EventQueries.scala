package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.registry.GQuery

/** Event-time analytics over the `events` fixture: tumbling / sliding
  * windows, sessionization, JSON prop extraction (SURVEY.md §2.6 streaming
  * rows; batch-first per §1.1, with the Structured Streaming variants in
  * graft.streaming).
  *
  * Scale: all of these group/partition by (user_id | window start), which
  * distributes evenly; sessionization is a single shuffle on user_id
  * followed by in-partition ordered traversal — no driver state.
  */
object EventQueries {

  /** Tumbling 1-hour event-time window via the built-in `window()` —
    * semantically identical to date_trunc for aligned tumbling windows,
    * which is what the DuckDB oracle uses.
    */
  val q30 = GQuery(
    "q30_tumbling_window",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Metrics.canonRound(graft.functions.Metrics.exactSum(col("value")), 4).as("sum_value"))
        .select(col("w.start").cast("timestamp_ntz").as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour_start", "event_type"),
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
      count(*) AS n,
      floor((CAST(sum(CAST(floor((value) * 1e4 + 0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)) * 1e4 + 0.5)/1e4 AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""))

  /** Sliding window: 2-hour length, 1-hour slide — every event lands in two
    * windows. Oracle replays the same semantics by exploding each event to
    * its two window starts.
    */
  val q31 = GQuery(
    "q31_sliding_window",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Metrics.canonRound(graft.functions.Metrics.exactMean(col("value")), 4).as("avg_value"))
        .select(col("w.start").cast("timestamp_ntz").as("win_start"), col("n"), col("avg_value"))
        .orderBy("win_start"),
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - to_hours(k) AS win_start,
      count(*) AS n,
      floor((CAST(sum(CAST(floor((value) * 1e4 + 0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)/count(*)) * 1e4 + 0.5)/1e4 AS avg_value
      FROM events CROSS JOIN (SELECT unnest([0,1]) AS k)
      GROUP BY 1 ORDER BY win_start"""))

  /** Sessionization by inactivity gap (30 min): the lag/flag/cumsum idiom.
    * At 100 TB this is one shuffle on user_id; state never leaves the
    * executor. The streaming twin (mapGroupsWithState) lives in
    * graft.streaming.EventStreams.
    */
  val q32 = GQuery(
    "q32_sessionize",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
        .withColumn("sess_id", sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").cast("timestamp_ntz").as("session_start"),
          max("ts").cast("timestamp_ntz").as("session_end"),
          (max(col("ts")).cast("long") - min(col("ts")).cast("long")).as("duration_s"))
        .orderBy("user_id", "sess_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      g AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e),
      f AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS new_sess FROM g),
      s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f)
      SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, count(*) AS n_events,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s
      FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id"""))

  /** JSON property extraction (`props` is a JSON string) + aggregation. */
  val q33 = GQuery(
    "q33_json_extract",
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          graft.functions.Metrics.canonRound(avg("k"), 4).as("avg_k"),
          sum(col("k")).cast("long").as("sum_k"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n,
      floor((avg(CAST(json_extract_string(props, '$.k') AS INT))) * 1e4 + 0.5)/1e4 AS avg_k,
      CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Per-user daily activity rollup joined against a generated date axis
    * (D10: sequence+explode) so zero-activity days are preserved.
    */
  val q34 = GQuery(
    "q34_date_axis_activity",
    (s, dir) => {
      val days = graft.functions.DateFeatures.dateAxis(s, "2024-01-01", "2024-01-31")
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("cnt"),
          graft.functions.Metrics.canonRound(graft.functions.Metrics.exactSum(col("value")), 4).as("sv"))
      days.join(daily, Seq("d"), "left")
        .select(col("d").cast("timestamp_ntz").as("d"),
          coalesce(col("cnt"), lit(0L)).as("n_events"),
          coalesce(col("sv"), lit(0.0)).as("sum_value"))
        .orderBy("d")
    },
    Some("""WITH axis AS (
        SELECT CAST(unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 1 DAY)) AS TIMESTAMP) AS d),
      daily AS (
        SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d, count(*) AS cnt,
               floor((CAST(sum(CAST(floor((value) * 1e4 + 0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)) * 1e4 + 0.5)/1e4 AS sv
        FROM events GROUP BY 1)
      SELECT axis.d, CAST(coalesce(cnt, 0) AS BIGINT) AS n_events,
             coalesce(sv, 0.0) AS sum_value
      FROM axis LEFT JOIN daily ON axis.d = daily.d ORDER BY axis.d"""))

  /** Structured Streaming twin of q30: file stream → watermark → tumbling
    * agg → memory sink. Shares q30's DuckDB oracle — the streaming and
    * batch answers must be numerically identical on a bounded input.
    */
  val q35 = GQuery(
    "q35_stream_tumbling",
    (s, dir) => graft.streaming.EventStreams.tumblingCounts(s, dir),
    q30.oracle)

  /** Ordered funnel (view → click → purchase): per-user min event times,
    * strict ordering — the sequential-pattern query shape. One shuffle on
    * user_id; conditional min aggregation does the rest.
    */
  val q36 = GQuery(
    "q36_funnel",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val perUser = e.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      perUser.agg(
        count(lit(1)).as("n_users"),
        sum((col("t_view").isNotNull).cast("long")).as("n_view"),
        sum((col("t_view") < col("t_click")).cast("long")).as("n_view_click"),
        sum((col("t_view") < col("t_click") && col("t_click") < col("t_purchase")).cast("long"))
          .as("n_full_funnel"))
    },
    Some("""WITH p AS (
        SELECT user_id,
          min(CASE WHEN event_type='view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
          min(CASE WHEN event_type='click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
          min(CASE WHEN event_type='purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
        FROM events GROUP BY user_id)
      SELECT count(*) AS n_users,
        CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        CAST(sum(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
      FROM p"""))

  /** Typed JSON parsing with from_json (schema-on-read for the props
    * column) — the structured path next to q33's get_json_object.
    */
  val q37 = GQuery(
    "q37_from_json",
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))).as("p"))
        .select(col("event_id"), col("p.k").as("k"))
        .filter(col("k") >= 90)
        .orderBy("event_id"),
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 90
      ORDER BY event_id"""))

  /** Native gap-based session windows (session_window — Spark's built-in
    * sessionization operator, batch + streaming). Must agree with q32's
    * lag/cumsum idiom on (user, start, count); oracle is the same derived
    * SQL. (session_window.end = last event + gap, so end isn't compared.)
    */
  val q38 = GQuery(
    "q38_session_window",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("w.start").cast("timestamp_ntz").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start"),
    Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      g AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e),
      f AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS new_sess FROM g),
      s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f)
      SELECT user_id, min(ts) AS session_start, count(*) AS n_events
      FROM s GROUP BY user_id, sess_id ORDER BY user_id, session_start"""))

  /** As-of join (point-in-time): each click matched to the user's most
    * recent prior-or-equal purchase. Oracle is DuckDB's native ASOF JOIN;
    * ours is plans.NativeAsOfJoin, the custom physical operator
    * (AsOfJoinNode + Strategy + AsOfJoinExec injected via GraftExtensions):
    * one hash shuffle per side and a streaming in-partition merge sweep.
    * The right side is deduped to unique (user, ts) first — ASOF semantics
    * are undefined under tied reference timestamps. AsOfJoinPlanSpec pins
    * the plan shape and the NULL semantics.
    */
  val q39 = GQuery(
    "q39_asof_join",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("value"))
      graft.plans.NativeAsOfJoin.asof(clicks, purchases, "user_id", "click_ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          col("click_ts").cast("timestamp_ntz").as("click_ts"),
          col("asof_ts").cast("timestamp_ntz").as("purchase_ts"),
          graft.functions.Metrics.canonRound(col("asof_value"), 4).as("purchase_value"))
        .orderBy("event_id")
    },
    Some("""WITH clicks AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type='click'),
      purch AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS v
        FROM events WHERE event_type='purchase' GROUP BY 1, 2)
      SELECT c.event_id, c.user_id, c.ts AS click_ts,
             p.ts AS purchase_ts,
             floor((p.v) * 1e4 + 0.5)/1e4 AS purchase_value
      FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY c.event_id"""))

  /** q39 under the name the benchmark's olap_mix replays: the same
    * builder and the same DuckDB ASOF JOIN oracle.
    */
  val q118 = q39.copy(name = "q118_asof_native")

  /** Attribution-window range join: clicks within the 30 minutes before
    * each purchase by the same user, counted per purchase. Written as the
    * plain `join(uid === uid && ts >= lo && ts <= hi)`; the optimizer rule
    * plans.RangeJoinRewrite plans it as a binned equi join — bin-bucketed
    * candidates plus the exact predicate, where q12's broadcast band join
    * stops scaling. Oracle is the plain
    * inequality join; RangeJoinRuleSpec pins the plan shape (bin key
    * present, no nested-loop join even with the equi key removed).
    */
  val q68 = GQuery(
    "q68_attribution_window",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("click_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
        .withColumn("lo", col("p_ts") - expr("INTERVAL 30 MINUTES"))
      clicks.join(purchases,
          col("c_uid") === col("user_id") &&
            col("click_ts") >= col("lo") && col("click_ts") <= col("p_ts"))
        .groupBy("purchase_id", "user_id")
        .agg(count(lit(1)).as("n_clicks"), max(col("p_ts")).as("p_ts"))
        .select(col("purchase_id"), col("user_id"),
          col("p_ts").cast("timestamp_ntz").as("purchase_ts"), col("n_clicks"))
        .orderBy("purchase_id")
    },
    Some("""SELECT p.event_id AS purchase_id, p.user_id,
        CAST(p.ts AS TIMESTAMP) AS purchase_ts, count(*) AS n_clicks
      FROM events p JOIN events c
        ON p.event_type = 'purchase' AND c.event_type = 'click'
        AND p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
      GROUP BY 1, 2, 3 ORDER BY purchase_id"""))

  /** q68 under the name the benchmark's olap_mix replays: the same
    * builder and the same oracle.
    */
  val q224 = q68.copy(name = "q224_range_join_rule")

  /** Cohort retention: users bucketed by first-seen month, distinct active
    * users counted per (cohort, months-since-cohort). Two shuffles total —
    * the per-user first-touch aggregate (map-side combined) and the final
    * cohort × age aggregate; the join back to events is on user_id, the
    * natural key the events would already be partitioned by at scale.
    */
  val q76 = GQuery(
    "q76_cohort_retention",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val first = e.groupBy("user_id")
        .agg(date_trunc("month", min("ts")).as("cohort_month"))
      e.join(first, Seq("user_id"))
        .groupBy(col("cohort_month"), date_trunc("month", col("ts")).as("activity_month"))
        .agg(countDistinct("user_id").as("n_users"))
        .select(col("cohort_month").cast("timestamp_ntz").as("cohort_month"),
          col("activity_month").cast("timestamp_ntz").as("activity_month"),
          months_between(col("activity_month"), col("cohort_month")).cast("int").as("age_months"),
          col("n_users"))
        .orderBy("cohort_month", "activity_month")
    },
    Some("""WITH f AS (
        SELECT user_id, date_trunc('month', min(CAST(ts AS TIMESTAMP))) AS cohort_month
        FROM events GROUP BY user_id)
      SELECT CAST(e2.cohort_month AS TIMESTAMP) AS cohort_month,
        CAST(e2.activity_month AS TIMESTAMP) AS activity_month,
        CAST(datediff('month', e2.cohort_month, e2.activity_month) AS INTEGER) AS age_months,
        count(DISTINCT e2.user_id) AS n_users
      FROM (
        SELECT e.user_id, f.cohort_month,
               date_trunc('month', CAST(e.ts AS TIMESTAMP)) AS activity_month
        FROM events e JOIN f ON e.user_id = f.user_id) e2
      GROUP BY 1, 2, 3 ORDER BY cohort_month, activity_month"""))

  /** Pivot → unpivot roundtrip: per-user event counts widened to one
    * column per event_type (explicit value list — no extra distinct scan),
    * then melted back with the native unpivot API (U2's inverse; pandas
    * melt). Dataset.unpivot RETAINS null value rows (a user missing one
    * event_type pivots to NULL and melts back as a NULL-count row), so
    * the explicit isNotNull filter is what makes the roundtrip equal the
    * long-form group-by — which is the oracle.
    */
  val q77 = GQuery(
    "q77_pivot_unpivot",
    (s, dir) => {
      val types = Seq("click", "purchase", "view")
      val wide = Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      wide.unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n_events")
        .filter(col("n_events").isNotNull)
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type, count(*) AS n_events
      FROM events WHERE event_type IN ('click', 'purchase', 'view')
      GROUP BY user_id, event_type ORDER BY user_id, event_type"""))

  /** Event-sequence transition mining: per-user (previous → current)
    * event-type pairs via one lag window, counted with map-side combine —
    * the first-order-Markov summary a clickstream/behavior pipeline
    * derives. The window sorts within user only (events are already
    * user-partitioned by the shuffle); the transition matrix is tiny
    * (|event_type|²) however large the log is.
    */
  /** Per-user event-type transition counts over the (ts, event_id)
    * total order — the lag/filter/count stage q94 and q154 both start
    * from, factored so the ordering key and null handling cannot
    * diverge between them (review finding, r14). `nextCol` names the
    * destination-type column (q94 reports cur_type, q154 next_type).
    */
  private def transitionCounts(events: DataFrame, nextCol: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as(nextCol))
      .agg(count(lit(1)).as("n"))
  }

  val q94 = GQuery(
    "q94_event_transitions",
    (s, dir) => transitionCounts(Tables.events(s, dir), nextCol = "cur_type")
      .orderBy("prev_type", "cur_type"),
    Some("""WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      t AS (
        SELECT event_type AS cur_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM e)
      SELECT prev_type, cur_type, count(*) AS n
      FROM t WHERE prev_type IS NOT NULL
      GROUP BY prev_type, cur_type
      ORDER BY prev_type, cur_type"""))

  /** Streaming near-dup over the documents fixture (streaming.DedupStreams:
    * LSH bucket = flatMapGroupsWithState key), on the md5/K-M signature
    * scheme so the STATEFUL pipeline itself is DuckDB-oracle-checked: a
    * single-file source is one deterministic micro-batch processed in
    * doc_id order per bucket, which makes the streaming bucket-cap
    * semantics (the first `cap` arrivals stay comparable; later arrivals
    * still probe them) exactly a `row_number ≤ cap` predicate in SQL.
    * Cross-batch statefulness — the part one batch can't show — is
    * spec-verified in StreamingSpec on multi-file feeds.
    *
    * The registry entry runs a deterministic 1-in-3 corpus sample
    * (doc_id % 3 = 0, mirrored in the oracle) through the FULL stateful
    * pipeline: per-doc md5 minhashing dominates the cost and the twin's
    * job is to oracle-check the dataflow, not to re-scan the whole
    * corpus the xxhash64 production path (StreamingSpec) already
    * covers. The full-corpus twin emitted the whole pair set (12.9k
    * rows, ~5 s at sf0.1) and topped the old serial benchmark; the
    * filter on the source runs before the hashing, so the cost drops
    * with the sample.
    */
  val q100 = GQuery(
    "q100_stream_neardup",
    (s, dir) => {
      val (docs, _) = graft.streaming.StreamHarness.fixtureStream(s, dir, "documents")
      graft.streaming.DedupStreams.nearDupStreamMd5(s, docs.filter(col("doc_id") % 3 === 0))
    },
    Some {
      val nH = 8
      val mins = (0 until nH).map(i => s"min(xor(h1, h2 * $i)) AS m$i").mkString(",\n          ")
      val eqSum = (0 until nH).map(i => s"CAST(sa.m$i = sb.m$i AS INT)").mkString(" + ")
      val bandCase = "CASE b WHEN 0 THEN concat_ws('-', m0, m1) " +
        "WHEN 1 THEN concat_ws('-', m2, m3) WHEN 2 THEN concat_ws('-', m4, m5) " +
        "ELSE concat_ws('-', m6, m7) END"
      s"""WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE doc_id % 3 = 0),
      sh AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS s
        FROM toks),
      md AS (
        SELECT doc_id, md5(s) AS md FROM sh),
      halves AS (
        SELECT doc_id,
          CAST(('0x' || substr(md, 1, 15)) AS BIGINT) AS h1,
          CAST(('0x' || substr(md, 17, 15)) AS BIGINT) AS h2
        FROM md),
      sig AS (
        SELECT doc_id,
          $mins
        FROM halves GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b, $bandCase AS bh
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
      ranked AS (
        SELECT doc_id, b, bh,
          row_number() OVER (PARTITION BY b, bh ORDER BY doc_id) AS rn
        FROM bands),
      rawpairs AS (
        SELECT later.doc_id AS doc_id, earlier.doc_id AS dup_of, ($eqSum) AS n_eq
        FROM ranked earlier
        JOIN ranked later
          ON earlier.b = later.b AND earlier.bh = later.bh
         AND earlier.doc_id < later.doc_id
         AND earlier.rn <= 50
        JOIN sig sa ON sa.doc_id = earlier.doc_id
        JOIN sig sb ON sb.doc_id = later.doc_id)
      SELECT doc_id, dup_of, CAST(max(n_eq) AS INTEGER) AS n_eq
      FROM rawpairs WHERE n_eq >= ${nH / 2}
      GROUP BY doc_id, dup_of
      ORDER BY doc_id, dup_of"""
    })

  /** Stateful streaming sessionization (flatMapGroupsWithState with
    * per-user open-session state, streaming.EventStreams) registered as
    * an oracle-checked query: the stream emits every CLOSED session, i.e.
    * the batch sessionization (q32's window idiom) minus each user's
    * still-open final session — which is exactly what the oracle
    * computes. State is micros-exact so boundaries hash-match.
    */
  val q129 = GQuery(
    "q129_stream_sessions",
    (s, dir) => graft.streaming.EventStreams
      .sessionizeStream(s, dir)
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start"),
    Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      g AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e),
      f AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS new_sess FROM g),
      s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f),
      agg AS (SELECT user_id, sess_id, count(*) AS n_events,
              min(ts) AS session_start, max(ts) AS session_end
              FROM s GROUP BY user_id, sess_id),
      fin AS (SELECT *, max(sess_id) OVER (PARTITION BY user_id) AS last_id FROM agg)
      SELECT user_id, session_start, session_end, n_events
      FROM fin WHERE sess_id <> last_id
      ORDER BY user_id, session_start"""))

  /** q129's sessionization re-expressed on Spark 4's transformWithState
    * (StatefulProcessor + named typed state handles — the successor API
    * to flatMapGroupsWithState, run on the RocksDB state store it
    * requires). Identical semantics by construction, so this entry
    * reuses q129's oracle VERBATIM; StreamingSpec additionally pins the
    * two APIs' outputs row-for-row equal.
    */
  val q249 = GQuery(
    "q249_tws_sessions",
    (s, dir) => graft.streaming.EventStreams
      .sessionizeTws(s, dir)
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start"),
    q129.oracle)

  /** Sessionization with GroupStateTimeout EVICTION (streaming.
    * EventStreams.sessionizeEvictAll): event-time timeouts emit an idle
    * user's open session once the watermark passes end + gap — the state-
    * bounding half q129 leaves out. Heartbeat batches drive the watermark
    * 10+ days past the fixture, so the evicted ∪ gap-closed set is
    * EXACTLY the batch sessionization of every user, which is the oracle
    * (q129's SQL minus the open-last-session exclusion).
    */
  val q134 = GQuery(
    "q134_stream_session_evict",
    (s, dir) => graft.streaming.EventStreams
      .sessionizeEvictAll(s, dir)
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start"),
    Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      g AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e),
      f AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS new_sess FROM g),
      s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        count(*) AS n_events
      FROM s GROUP BY user_id, sess_id
      ORDER BY user_id, session_start"""))

  /** q134's eviction on transformWithState TIMERS (TimeMode.EventTime +
    * registerTimer/handleExpiredTimer — the API half q249 doesn't
    * cover). Same heartbeat harness, same evicted ∪ gap-closed = batch
    * identity ⇒ q134's oracle VERBATIM; StreamingSpec pins the TWS and
    * GroupStateTimeout eviction outputs row-for-row equal.
    */
  val q250 = GQuery(
    "q250_tws_session_evict",
    (s, dir) => graft.streaming.EventStreams
      .sessionizeTwsEvict(s, dir)
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start"),
    q134.oracle)

  /** The q68 attribution window computed by the STREAM-STREAM interval
    * join (EventStreams.attributionStreamAgg): both sides watermarked, so
    * the join state is bounded — a buffered click drops once the purchase
    * watermark passes click_ts + 30min. Previously spec-only
    * (StreamingSpec pair-equality); registering it with q68's OWN oracle
    * makes the streaming join hash-verified end to end. The per-purchase
    * rollup runs on the sink output — the batch finishing step; the
    * unbounded work happened in the stream.
    */
  val q138 = GQuery(
    "q138_stream_attribution",
    (s, dir) => graft.streaming.EventStreams
      .attributionStreamAgg(s, dir),
    q68.oracle)

  /** First-order Markov model of user behavior: per-user event-type
    * transition counts (lag over the (ts, event_id) total order) and the
    * row-conditional probabilities P(next | prev). The transition matrix
    * is what session-simulation, anomaly scoring, and next-event
    * prediction baselines consume.
    *
    * Scale: ONE shuffle on user_id for the lag window (the q32
    * sessionization shape), then a map-side-combinable (prev, next) count
    * agg; the matrix itself is |types|² — broadcast-scale output.
    */
  def markovTransitions(events: DataFrame): DataFrame = {
    val counts = transitionCounts(events, nextCol = "next_type")
    val tot = counts.groupBy("prev_type").agg(sum("n").as("n_prev"))
    counts.join(broadcast(tot), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        graft.functions.Metrics.canonRound(
          col("n").cast("double") / col("n_prev").cast("double"), 6).as("p"))
      .orderBy("prev_type", "next_type")
  }

  val q154 = GQuery(
    "q154_markov_transitions",
    (s, dir) => markovTransitions(Tables.events(s, dir)),
    Some("""WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      g AS (
        SELECT event_type AS next_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM e),
      c AS (SELECT prev_type, next_type, count(*) AS n FROM g
            WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type),
      t AS (SELECT prev_type, sum(n) AS n_prev FROM c GROUP BY prev_type)
      SELECT c.prev_type, c.next_type, c.n,
        floor((CAST(c.n AS DOUBLE)/CAST(t.n_prev AS DOUBLE))*1e6 + 0.5)/1e6 AS p
      FROM c JOIN t USING (prev_type)
      ORDER BY prev_type, next_type"""))

  /** Burst detection on the event-rate series: hourly counts on a DENSE
    * hour axis (q34's date_range idiom — a missing hour is rate 0, and a
    * burst right after a quiet gap must see that 0), each hour compared
    * with its trailing 3-hour sum. The burst test is pure integer
    * arithmetic (3·n ≥ 2·prev3 with floors n ≥ 10, prev3 covered ≥ 3
    * hours), so no float threshold can disagree across engines; the ratio
    * column is diagnostic output on the usual grid.
    *
    * Scale: one hour-truncated count agg (map-side combined) left-joined
    * onto a generated axis; the window runs over |hours| rows — the series
    * frame, not the event corpus.
    */
  def burstHours(events: DataFrame): DataFrame = {
    val hours = events.agg(
        date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("hour_start"))
    val counts = events.groupBy(date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("hour_start").rowsBetween(-3, -1)
    hours.join(counts, Seq("hour_start"), "left")
      .select(col("hour_start"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("prev3", coalesce(sum("n").over(w), lit(0L)))
      .withColumn("n_prev_hours", count(lit(1)).over(w))
      .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
        col("n"), col("prev3"),
        when(col("prev3") > 0,
          graft.functions.Metrics.canonRound(
            col("n").cast("double") * 3.0 / col("prev3").cast("double"), 4))
          .as("rate_ratio"),
        (col("n_prev_hours") === 3 && col("n") >= 10 &&
          col("n") * 3 >= col("prev3") * 2).cast("int").as("is_burst"))
      .orderBy("hour_start")
  }

  val q155 = GQuery(
    "q155_burst_hours",
    (s, dir) => burstHours(Tables.events(s, dir)),
    Some("""WITH b AS (
        SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
               date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1 FROM events),
      axis AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_start FROM b),
      c AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, count(*) AS n
        FROM events GROUP BY 1),
      dense AS (
        SELECT a.hour_start, coalesce(c.n, 0) AS n
        FROM axis a LEFT JOIN c ON c.hour_start = a.hour_start),
      roll AS (
        SELECT hour_start, n,
          CAST(coalesce(sum(n) OVER (ORDER BY hour_start ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev3,
          count(*) OVER (ORDER BY hour_start ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS n_prev_hours
        FROM dense)
      SELECT hour_start, n, prev3,
        CASE WHEN prev3 > 0
             THEN floor((CAST(n AS DOUBLE)*3.0/CAST(prev3 AS DOUBLE))*1e4 + 0.5)/1e4 END AS rate_ratio,
        CAST(CASE WHEN n_prev_hours = 3 AND n >= 10 AND n*3 >= prev3*2
             THEN 1 ELSE 0 END AS INTEGER) AS is_burst
      FROM roll ORDER BY hour_start"""))

  /** Robust outlier audit per event type: median + MAD (median absolute
    * deviation) and the count beyond the 3σ-equivalent fence
    * 3·1.4826·MAD — the outlier rule that, unlike mean/stddev, a burst
    * of corrupt values cannot drag along with it (50% breakdown point vs
    * 0%). The per-type counts are what a pipeline alarms on.
    *
    * Determinism: deviations snap to canonRound's 1e-4 grid BEFORE the
    * second median and before the fence comparison, so both engines
    * compare identical grid values; medians interpolate identically on
    * IEEE doubles. Scale: two (event_type) median aggs + one flag agg —
    * the medians are exact (sort-based) here; at 100 TB they'd swap for
    * the q139 histogram-CDF sketch, same fence logic.
    */
  def madOutliers(events: DataFrame): DataFrame = {
    val med = events.groupBy("event_type").agg(median(col("value")).as("med"))
    val dev = events.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        graft.functions.Metrics.canonRound(abs(col("value") - col("med")), 4).as("dev"))
    val madR = graft.functions.Metrics.canonRound(col("mad_raw"), 4)
    dev.groupBy(col("event_type"), col("med"))
      .agg(count(lit(1)).as("n"), median(col("dev")).as("mad_raw"))
      .select(col("event_type"), col("n"),
        graft.functions.Metrics.canonRound(col("med"), 4).as("med"),
        madR.as("mad"),
        graft.functions.Metrics.canonRound(madR * 4.4478, 4).as("fence"))
      .join(dev.select(col("event_type"), col("dev")), "event_type")
      .groupBy(col("event_type"), col("n"), col("med"), col("mad"), col("fence"))
      .agg(sum((col("dev") > col("fence")).cast("long")).as("n_outliers"))
      .orderBy("event_type")
  }

  val q158 = GQuery(
    "q158_mad_outliers",
    (s, dir) => madOutliers(Tables.events(s, dir)),
    Some("""WITH med AS (
        SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
      dev AS (
        SELECT e.event_type, m.med,
          floor(abs(e.value - m.med)*1e4 + 0.5)/1e4 AS dev
        FROM events e JOIN med m USING (event_type)),
      stats AS (
        SELECT event_type, count(*) AS n,
          floor(any_value(med)*1e4 + 0.5)/1e4 AS med,
          floor(median(dev)*1e4 + 0.5)/1e4 AS mad,
          floor(floor(median(dev)*1e4 + 0.5)/1e4 * 4.4478 * 1e4 + 0.5)/1e4 AS fence
        FROM dev GROUP BY event_type)
      SELECT s.event_type, s.n, s.med, s.mad, s.fence,
        CAST(sum(CASE WHEN d.dev > s.fence THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM stats s JOIN dev d USING (event_type)
      GROUP BY s.event_type, s.n, s.med, s.mad, s.fence
      ORDER BY s.event_type"""))

  /** U-shaped (position-based) multi-touch attribution: every click in
    * the 30-min pre-purchase window gets credit — 100% for a lone click,
    * 50/50 for two, else 40% first / 40% last / 20% split across the
    * middles — the marketing-analytics refinement of q68's last-window
    * count (q68 says HOW MANY touches; this says WHICH touch earns what).
    * Weights are pure functions of (n, rank) computed identically in both
    * engines; credit = purchase value × weight on the 1e-4 grid.
    *
    * Scale: the same plain interval join as q68, which
    * plans.RangeJoinRewrite bins (never a full cross of clicks ×
    * purchases), then one per-purchase window rank over the handful of
    * attributed clicks per purchase.
    */
  def multiTouchAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
        col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
      .withColumn("lo", col("p_ts") - expr("INTERVAL 30 MINUTES"))
    val joined = clicks.join(purchases,
      col("c_uid") === col("user_id") &&
        col("click_ts") >= col("lo") && col("click_ts") <= col("p_ts"))
    val wn = Window.partitionBy("purchase_id")
    val wr = wn.orderBy(col("click_ts").asc, col("click_id").asc)
    val n = col("n_touch")
    val r = col("click_rank")
    val weight =
      when(n === 1, 1.0)
        .when(n === 2, 0.5)
        .when(r === 1 || r === n, 0.4)
        .otherwise(lit(0.2) / (n - lit(2)).cast("double"))
    joined
      .withColumn("click_rank", row_number().over(wr))
      .withColumn("n_touch", count(lit(1)).over(wn))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("click_rank"), col("n_touch").cast("int").as("n_touch"),
        graft.functions.Metrics.canonRound(weight, 6).as("weight"),
        graft.functions.Metrics.canonRound(col("value") * weight, 4).as("credit"))
      .orderBy("purchase_id", "click_rank")
  }

  val q163 = GQuery(
    "q163_multitouch_attribution",
    (s, dir) => multiTouchAttribution(Tables.events(s, dir)),
    Some("""WITH j AS (
        SELECT p.event_id AS purchase_id, p.user_id, p.value,
          c.event_id AS click_id, c.ts AS click_ts
        FROM events p JOIN events c
          ON p.event_type = 'purchase' AND c.event_type = 'click'
          AND p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts),
      ranked AS (
        SELECT purchase_id, user_id, value, click_id,
          row_number() OVER (PARTITION BY purchase_id ORDER BY click_ts ASC, click_id ASC) AS click_rank,
          count(*) OVER (PARTITION BY purchase_id) AS n_touch
        FROM j),
      w AS (
        SELECT *, CASE WHEN n_touch = 1 THEN 1.0
                       WHEN n_touch = 2 THEN 0.5
                       WHEN click_rank = 1 OR click_rank = n_touch THEN 0.4
                       ELSE 0.2 / CAST(n_touch - 2 AS DOUBLE) END AS wt
        FROM ranked)
      SELECT purchase_id, user_id, click_id,
        CAST(click_rank AS INTEGER) AS click_rank,
        CAST(n_touch AS INTEGER) AS n_touch,
        floor(wt*1e6 + 0.5)/1e6 AS weight,
        floor(value*wt*1e4 + 0.5)/1e4 AS credit
      FROM w ORDER BY purchase_id, click_rank"""))

  /** Streaming sliding-window trending (EventStreams.slidingTrending):
    * the 2h/1h sliding count — every event feeding TWO live window
    * states, watermark-evicted — with the non-incremental top-3 ranking
    * as the batch finisher on the sink. The sliding-state shape q31 only
    * exercises in batch; the oracle replays it by exploding each event
    * to both its window starts.
    */
  val q162 = GQuery(
    "q162_stream_sliding_trend",
    (s, dir) => graft.streaming.EventStreams
      .slidingTrending(s, dir),
    Some("""WITH e AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - to_hours(k) AS win_start, event_type
        FROM events CROSS JOIN (SELECT unnest([0,1]) AS k)),
      c AS (SELECT win_start, event_type, count(*) AS n
            FROM e GROUP BY win_start, event_type),
      r AS (
        SELECT win_start, event_type, n,
          CAST(row_number() OVER (PARTITION BY win_start ORDER BY n DESC, event_type ASC) AS INTEGER) AS rank
        FROM c)
      SELECT win_start, event_type, n, rank FROM r
      WHERE rank <= 3 ORDER BY win_start, rank"""))

  /** Sequential pattern mining, length-2 patterns (Agrawal & Srikant
    * 1995's "Mining Sequential Patterns", the pair case): A→B is
    * supported by a user iff some A-event precedes some B-event in their
    * timeline — i.e. min_ts(A) < max_ts(B) — the ORDERED refinement of
    * q165's co-occurrence rules (q165 asks "do A and B co-occur", this
    * asks "does A lead B"). Comparing the A→B vs B→A support asymmetry
    * is the direction signal.
    *
    * Scale: one (user, type) min/max agg (map-side combined), then a
    * per-user self-join bounded by |types| per user — never a corpus
    * cross; the rule frame is |types|².
    */
  def sequentialPatterns(events: DataFrame, minSupport: Double): DataFrame = {
    val spans = events.groupBy("user_id", "event_type")
      .agg(min("ts").as("t_min"), max("ts").as("t_max"))
    val nUsers = events.select("user_id").distinct().count() // tiny driver scalar
    val supp = col("n_users").cast("double") / lit(nUsers.toDouble)
    spans.as("a")
      .join(spans.as("b"), col("a.user_id") === col("b.user_id")
        && col("a.event_type") =!= col("b.event_type"))
      .filter(col("a.t_min") < col("b.t_max"))
      .groupBy(col("a.event_type").as("lhs"), col("b.event_type").as("rhs"))
      .agg(count(lit(1)).as("n_users"))
      .filter(supp >= minSupport)
      .select(col("lhs"), col("rhs"), col("n_users"),
        graft.functions.Metrics.canonRound(supp, 6).as("support"))
      .orderBy("lhs", "rhs")
  }

  val q166 = GQuery(
    "q166_sequential_patterns",
    (s, dir) => sequentialPatterns(Tables.events(s, dir), minSupport = 0.05),
    Some("""WITH spans AS (
        SELECT user_id, event_type, min(ts) AS t_min, max(ts) AS t_max
        FROM events GROUP BY user_id, event_type),
      nu AS (SELECT count(DISTINCT user_id) AS n FROM events),
      rules AS (
        SELECT a.event_type AS lhs, b.event_type AS rhs, count(*) AS n_users
        FROM spans a JOIN spans b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type
        WHERE a.t_min < b.t_max
        GROUP BY 1, 2)
      SELECT lhs, rhs, n_users,
        floor(CAST(n_users AS DOUBLE)/CAST(nu.n AS DOUBLE)*1e6 + 0.5)/1e6 AS support
      FROM rules CROSS JOIN nu
      WHERE CAST(n_users AS DOUBLE)/CAST(nu.n AS DOUBLE) >= 0.05
      ORDER BY lhs, rhs"""))

  /** Two-sample proportion z-test per event type — the A/B-experiment
    * readout: split users by id parity (the deterministic stand-in for
    * treatment assignment), compare each type's share of events between
    * arms, report the pooled-variance z statistic and the |z| ≥ 1.96
    * significance flag. Every input is an integer count; the z formula
    * is one identical IEEE sequence in both engines, and the flag tests
    * the ROUNDED z so no borderline value can flip across engines.
    *
    * Scale: one conditional-count agg per event type off the scan; the
    * test frame is |types| rows.
    */
  def proportionZTest(events: DataFrame): DataFrame = {
    val arm = (pmod(col("user_id"), lit(2L)) === 0).cast("int")
    val byType = events.select(col("event_type"), arm.as("a"))
      .groupBy("event_type")
      .agg(sum(col("a")).as("x1"), sum(lit(1) - col("a")).as("x2"))
    val totals = events.select(arm.as("a"))
      .agg(sum(col("a")).as("n1"), sum(lit(1) - col("a")).as("n2"))
    val p1 = col("x1").cast("double") / col("n1").cast("double")
    val p2 = col("x2").cast("double") / col("n2").cast("double")
    val pPool = (col("x1") + col("x2")).cast("double") / (col("n1") + col("n2")).cast("double")
    val se = sqrt(pPool * (lit(1.0) - pPool)
      * (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double")))
    val z = graft.functions.Metrics.canonRound((p1 - p2) / se, 4)
    byType.crossJoin(broadcast(totals))
      .select(col("event_type"), col("x1"), col("n1"), col("x2"), col("n2"),
        graft.functions.Metrics.canonRound(p1, 6).as("rate_a"),
        graft.functions.Metrics.canonRound(p2, 6).as("rate_b"),
        z.as("z"),
        // NULL z (empty arm or zero pooled variance → division yields
        // null/NaN) must grade NOT-significant, matching the oracle's
        // CASE, whose ELSE returns 0 on a null comparison — a bare
        // cast("int") would emit NULL here instead (review finding, r14)
        when(abs(z) >= 1.96, 1).otherwise(0).cast("int").as("significant"))
      .orderBy("event_type")
  }

  val q171 = GQuery(
    "q171_proportion_ztest",
    (s, dir) => proportionZTest(Tables.events(s, dir)),
    Some("""WITH e AS (
        SELECT event_type, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a FROM events),
      bt AS (
        SELECT event_type,
          CAST(sum(a) AS BIGINT) AS x1, CAST(sum(1 - a) AS BIGINT) AS x2
        FROM e GROUP BY event_type),
      t AS (
        SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(1 - a) AS BIGINT) AS n2 FROM e),
      s AS (
        SELECT event_type, x1, n1, x2, n2,
          CAST(x1 AS DOUBLE)/CAST(n1 AS DOUBLE) AS p1,
          CAST(x2 AS DOUBLE)/CAST(n2 AS DOUBLE) AS p2,
          CAST(x1 + x2 AS DOUBLE)/CAST(n1 + n2 AS DOUBLE) AS pp
        FROM bt CROSS JOIN t),
      zz AS (
        SELECT event_type, x1, n1, x2, n2, p1, p2,
          floor(((p1 - p2) / sqrt(pp*(1.0 - pp)*(1.0/CAST(n1 AS DOUBLE) + 1.0/CAST(n2 AS DOUBLE))))*1e4 + 0.5)/1e4 AS z
        FROM s)
      SELECT event_type, x1, n1, x2, n2,
        floor(p1*1e6 + 0.5)/1e6 AS rate_a,
        floor(p2*1e6 + 0.5)/1e6 AS rate_b,
        z,
        CAST(CASE WHEN abs(z) >= 1.96 THEN 1 ELSE 0 END AS INTEGER) AS significant
      FROM zz ORDER BY event_type"""))

  /** CUSUM changepoint detection per event type: the monitoring stage
    * that answers "WHEN did this stream's rate shift", complementing
    * q155's "is this hour bursting". The series is the DENSE hourly
    * count (zero hours included — a detector that only sees occupied
    * hours is blind to outages); the classic CUSUM S_t = Σ(x_i − μ) is
    * kept in exact integers by cross-multiplying the mean away:
    * dev_t = |N·cum_t − t·total| ∝ |S_t|, so the argmax — the estimated
    * changepoint — is engine-exact with no floating point until the
    * final reported fraction.
    *
    * Scale: the heavy distributed work is the map-side-combinable
    * hourly pre-aggregation; the windows then run over #hours×#types
    * rows — bounded by the time range, not the data volume, so the
    * per-type partitions stay small at any corpus size.
    */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val e = events.select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
    cusumFromCounts(
      e.groupBy(col("h").as("hour_start"), col("event_type")).agg(count(lit(1)).as("n")))
  }

  /** The CUSUM finisher on a sparse hourly count table — counts are the
    * incrementally-maintainable half (what q222's stream carries; the
    * q162 split), the scoring half runs identically on either source.
    * The dense axis derives from the counts' min/max hour, which equals
    * the raw events' truncated min/max because an hour appears in the
    * count table iff it has an event.
    */
  def cusumFromCounts(counts: DataFrame): DataFrame = {
    val axis = counts.agg(min("hour_start").as("h0"), max("hour_start").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour_start"))
    val types = counts.select("event_type").distinct()
    val dense = axis.crossJoin(broadcast(types))
      .join(counts, Seq("hour_start", "event_type"), "left")
      .select(col("hour_start"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
    val run = Window.partitionBy("event_type").orderBy("hour_start")
    val whole = Window.partitionBy("event_type")
    val scored = dense
      .withColumn("t", row_number().over(run).cast("long"))
      .withColumn("cum", sum("n").over(run))
      .withColumn("nh", count(lit(1)).over(whole))
      .withColumn("total", sum("n").over(whole))
      .withColumn("dev", abs(col("nh") * col("cum") - col("t") * col("total")))
    val pick = Window.partitionBy("event_type").orderBy(col("dev").desc, col("t").asc)
    scored.withColumn("rk", row_number().over(pick)).filter(col("rk") === 1)
      .select(col("event_type"),
        col("nh").cast("int").as("n_hours"),
        col("total"),
        col("hour_start").cast("timestamp_ntz").as("cp_hour"),
        col("t").cast("int").as("cp_idx"),
        col("dev").as("cusum_stat"),
        graft.functions.Metrics.canonRound(
          col("t").cast("double") / col("nh").cast("double"), 4).as("frac_before"))
      .orderBy("event_type")
  }

  val q196 = GQuery(
    "q196_cusum_changepoint",
    (s, dir) => cusumChangepoint(Tables.events(s, dir)),
    Some("""WITH b AS (
        SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
               date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1 FROM events),
      axis AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_start FROM b),
      ty AS (SELECT DISTINCT event_type FROM events),
      c AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      dense AS (
        SELECT a.hour_start, t.event_type, coalesce(c.n, 0) AS n
        FROM axis a CROSS JOIN ty t
        LEFT JOIN c ON c.hour_start = a.hour_start AND c.event_type = t.event_type),
      s AS (
        SELECT event_type, hour_start, n,
          row_number() OVER (PARTITION BY event_type ORDER BY hour_start) AS t,
          sum(n) OVER (PARTITION BY event_type ORDER BY hour_start) AS cum,
          count(*) OVER (PARTITION BY event_type) AS nh,
          sum(n) OVER (PARTITION BY event_type) AS total
        FROM dense),
      d AS (
        SELECT *, abs(nh*cum - t*total) AS dev,
          row_number() OVER (PARTITION BY event_type ORDER BY abs(nh*cum - t*total) DESC, t ASC) AS rk
        FROM s)
      SELECT event_type,
        CAST(nh AS INTEGER) AS n_hours,
        CAST(total AS BIGINT) AS total,
        hour_start AS cp_hour,
        CAST(t AS INTEGER) AS cp_idx,
        CAST(dev AS BIGINT) AS cusum_stat,
        floor(CAST(t AS DOUBLE) / nh * 1e4 + 0.5) / 1e4 AS frac_before
      FROM d WHERE rk = 1 ORDER BY event_type"""))

  /** Mann-Kendall trend test per event type over the dense DAILY count
    * series: S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 and the continuity-
    * corrected z. The nonparametric complement to q196: CUSUM locates a
    * level shift, Mann-Kendall decides whether a MONOTONic drift exists
    * at all — together they are the standard stream-health pair.
    *
    * Determinism: S and 18·Var(S) are pure integer arithmetic (sign
    * comparisons and tie-group counts); the single sqrt and division at
    * the end are IEEE-exact cross-engine. Scale: the pair join runs on
    * the aggregated per-day series — (days choose 2)·types rows, bounded
    * by the calendar, not the corpus; the distributed work is the daily
    * pre-aggregation.
    */
  /** The dense per-(event_type, day) count series — calendar axis ×
    * type cross join, zeros filled: the frame q197 and q199 both
    * analyze, factored so the two trend tests cannot drift apart (it
    * was previously built inline in each). Returned eagerly CACHED:
    * q197 alone consumes it through four branches (both pair-join
    * sides, nDays, ties), and an uncached lineage re-scans the event
    * table once per branch (review finding, r14 — the racing-consumers
    * rule). No unpersist needed: the frame is bounded by
    * calendar × |types|, and the bench clears cache between queries.
    */
  private def denseDaily(events: DataFrame): DataFrame = {
    val e = events.select(to_date(col("ts")).as("d"), col("event_type"))
    val axis = e.agg(min("d").as("d0"), max("d").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val types = e.select("event_type").distinct()
    val daily = axis.crossJoin(broadcast(types))
      .join(e.groupBy(col("d").as("day"), col("event_type")).agg(count(lit(1)).as("n")),
        Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
      .cache()
    daily.count()
    daily
  }

  def mannKendall(events: DataFrame): DataFrame = {
    val daily = denseDaily(events)
    val a = daily.select(col("event_type"), col("day").as("di"), col("n").as("xi"))
    val b = daily.select(col("event_type"), col("day").as("dj"), col("n").as("xj"))
    val sStat = a.join(b, Seq("event_type")).filter(col("di") < col("dj"))
      .groupBy("event_type")
      .agg(sum(signum(col("xj") - col("xi")).cast("long")).as("s_stat"))
    val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("nd"))
    val ties = daily.groupBy("event_type", "n").agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_term"))
    val z0 = col("s_stat").cast("double") - signum(col("s_stat").cast("double"))
    sStat.join(nDays, "event_type").join(ties, "event_type")
      .withColumn("var18",
        col("nd") * (col("nd") - 1) * (lit(2) * col("nd") + 5) - col("tie_term"))
      .withColumn("z",
        when(col("s_stat") === 0 || col("var18") === 0, lit(0.0))
          .otherwise(graft.functions.Metrics.canonRound(
            z0 / sqrt(col("var18").cast("double") / 18.0), 4)))
      .select(col("event_type"), col("nd").cast("int").as("n_days"),
        col("s_stat"), col("var18").as("var_s18"), col("z"),
        when(col("z") > 1.96, lit("increasing"))
          .when(col("z") < -1.96, lit("decreasing"))
          .otherwise(lit("none")).as("trend"))
      .orderBy("event_type")
  }

  val q197 = GQuery(
    "q197_mann_kendall",
    (s, dir) => mannKendall(Tables.events(s, dir)),
    Some("""WITH b AS (
        SELECT CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
               CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) AS d1 FROM events),
      axis AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
      ty AS (SELECT DISTINCT event_type FROM events),
      c AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      daily AS (
        SELECT a.day, t.event_type, coalesce(c.n, 0) AS n
        FROM axis a CROSS JOIN ty t
        LEFT JOIN c ON c.day = a.day AND c.event_type = t.event_type),
      s AS (
        SELECT x.event_type,
          CAST(sum(CASE WHEN y.n > x.n THEN 1 WHEN y.n < x.n THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        FROM daily x JOIN daily y
          ON x.event_type = y.event_type AND x.day < y.day
        GROUP BY x.event_type),
      nd AS (SELECT event_type, count(*) AS nd FROM daily GROUP BY 1),
      ties AS (
        SELECT event_type, CAST(sum(t*(t-1)*(2*t+5)) AS BIGINT) AS tie_term
        FROM (SELECT event_type, n, count(*) AS t FROM daily GROUP BY 1, 2)
        GROUP BY event_type),
      j AS (
        SELECT s.event_type, nd.nd, s.s_stat,
          CAST(nd.nd*(nd.nd-1)*(2*nd.nd+5) - ties.tie_term AS BIGINT) AS var18
        FROM s JOIN nd USING (event_type) JOIN ties USING (event_type)),
      zz AS (
        SELECT event_type, nd, s_stat, var18,
          CASE WHEN s_stat = 0 OR var18 = 0 THEN 0.0
               ELSE floor((CAST(s_stat AS DOUBLE) - sign(CAST(s_stat AS DOUBLE)))
                          / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e4 + 0.5) / 1e4 END AS z
        FROM j)
      SELECT event_type, CAST(nd AS INTEGER) AS n_days, s_stat, var18 AS var_s18, z,
        CASE WHEN z > 1.96 THEN 'increasing'
             WHEN z < -1.96 THEN 'decreasing'
             ELSE 'none' END AS trend
      FROM zz ORDER BY event_type"""))

  /** Truncated-EWMA control chart per event type over the dense daily
    * count series: level_t = Σ_{k=0..7} 0.5^k·x_{t−k} / Σ 0.5^k (the
    * 8-lag exponentially-weighted moving average — truncation keeps
    * every weight an exact dyadic rational at ANY series length, where
    * the closed-form infinite EWMA would overflow its 2^t rescaling
    * past 62 steps), forecast_t = level_{t−1}, and the 3·MAE anomaly
    * fence on the one-step-ahead error. α = 1/2 is chosen deliberately:
    * the weights are powers of two, so every numerator term is exact
    * and the single division per row is IEEE-identical cross-engine.
    *
    * Scale: the distributed work is the daily pre-aggregation; the 8
    * explicit lag terms stay inside one window pass over the bounded
    * per-type series (no HOFs, no self-join).
    */
  def ewmaAnomalies(events: DataFrame): DataFrame = {
    val daily = denseDaily(events) // shared with q197, cached there too
    val run = Window.partitionBy("event_type").orderBy("day")
    val lagsNum = (0 until 8).map(k => lit(math.pow(0.5, k)) * coalesce(lag(col("n"), k).over(run), lit(0L)).cast("double"))
    val lagsNorm = (0 until 8).map(k => when(lag(col("n"), k).over(run).isNotNull, lit(math.pow(0.5, k))).otherwise(lit(0.0)))
    val leveled = daily
      .withColumn("level", lagsNum.reduce(_ + _) / lagsNorm.reduce(_ + _))
      .withColumn("forecast", lag(col("level"), 1).over(run))
      .withColumn("dev",
        when(col("forecast").isNotNull,
          graft.functions.Metrics.canonRound(abs(col("n").cast("double") - col("forecast")), 4)))
    val mae = leveled.filter(col("dev").isNotNull)
      .groupBy("event_type")
      .agg(graft.functions.Metrics.canonRound(
        graft.functions.Metrics.exactMean(col("dev")), 4).as("mae"))
    leveled.join(broadcast(mae), "event_type")
      .select(col("event_type"), col("day").cast("timestamp_ntz").as("day"), col("n"),
        graft.functions.Metrics.canonRound(col("level"), 4).as("level"),
        graft.functions.Metrics.canonRound(col("forecast"), 4).as("forecast"),
        col("dev"), col("mae"),
        when(col("dev").isNotNull && col("dev") > lit(3.0) * col("mae"), lit(1))
          .otherwise(lit(0)).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  val q199 = GQuery(
    "q199_ewma_anomaly",
    (s, dir) => ewmaAnomalies(Tables.events(s, dir)),
    Some("""WITH b AS (
        SELECT CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
               CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) AS d1 FROM events),
      axis AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
      ty AS (SELECT DISTINCT event_type FROM events),
      c AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      daily AS (
        SELECT CAST(a.day AS DATE) AS day, t.event_type, coalesce(c.n, 0) AS n
        FROM axis a CROSS JOIN ty t
        LEFT JOIN c ON CAST(a.day AS DATE) = c.day AND c.event_type = t.event_type),
      lv AS (
        SELECT day, event_type, n,
          (1.0      * n
           + 0.5      * coalesce(lag(n, 1) OVER w, 0)
           + 0.25     * coalesce(lag(n, 2) OVER w, 0)
           + 0.125    * coalesce(lag(n, 3) OVER w, 0)
           + 0.0625   * coalesce(lag(n, 4) OVER w, 0)
           + 0.03125  * coalesce(lag(n, 5) OVER w, 0)
           + 0.015625 * coalesce(lag(n, 6) OVER w, 0)
           + 0.0078125* coalesce(lag(n, 7) OVER w, 0))
          /
          (1.0
           + CASE WHEN lag(n, 1) OVER w IS NULL THEN 0 ELSE 0.5 END
           + CASE WHEN lag(n, 2) OVER w IS NULL THEN 0 ELSE 0.25 END
           + CASE WHEN lag(n, 3) OVER w IS NULL THEN 0 ELSE 0.125 END
           + CASE WHEN lag(n, 4) OVER w IS NULL THEN 0 ELSE 0.0625 END
           + CASE WHEN lag(n, 5) OVER w IS NULL THEN 0 ELSE 0.03125 END
           + CASE WHEN lag(n, 6) OVER w IS NULL THEN 0 ELSE 0.015625 END
           + CASE WHEN lag(n, 7) OVER w IS NULL THEN 0 ELSE 0.0078125 END) AS level
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      fc AS (
        SELECT *, lag(level, 1) OVER (PARTITION BY event_type ORDER BY day) AS forecast
        FROM lv),
      dv AS (
        SELECT *, CASE WHEN forecast IS NOT NULL
                       THEN floor(abs(CAST(n AS DOUBLE) - forecast) * 1e4 + 0.5)/1e4 END AS dev
        FROM fc),
      mae AS (
        SELECT event_type,
          floor(CAST(sum(CAST(floor((dev) * 1e4 + 0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE) / count(*) * 1e4 + 0.5)/1e4 AS mae
        FROM dv WHERE dev IS NOT NULL GROUP BY 1)
      SELECT d.event_type, CAST(d.day AS TIMESTAMP) AS day, d.n,
        floor(d.level * 1e4 + 0.5)/1e4 AS level,
        CASE WHEN d.forecast IS NOT NULL THEN floor(d.forecast * 1e4 + 0.5)/1e4 END AS forecast,
        d.dev, m.mae,
        CAST(CASE WHEN d.dev IS NOT NULL AND d.dev > 3.0 * m.mae THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
      FROM dv d JOIN mae m USING (event_type)
      ORDER BY d.event_type, d.day"""))

  /** Two-sample Kolmogorov-Smirnov drift check per event type: the
    * month's first half vs second half of the `value` distribution.
    * D = max|F1 − F2| is carried as the exact integer numerator
    * |n2·c1 − n1·c2| over the merged order statistics (one window pass
    * over the per-(type,value) counts), divided out only at the end;
    * the α=0.05 critical value 1.358·√((n1+n2)/(n1·n2)) gates the
    * drift flag. This is the distribution-level complement to q196/q199
    * (which watch the COUNT series): a payload whose values drift at
    * constant volume only this catches.
    *
    * Scale: groupBy (type, value) first, so the window runs over
    * distinct values, not rows; at 100 TB swap the exact order
    * statistics for the q139 histogram CDF — identical comparison.
    */
  def ksDrift(events: DataFrame): DataFrame = {
    val halved = events.select(col("event_type"), col("value"),
      (dayofmonth(col("ts")) <= 15).cast("int").as("h1"))
    val perValue = halved.groupBy("event_type", "value")
      .agg(sum(col("h1")).as("c1"), sum(lit(1) - col("h1")).as("c2"))
    val run = Window.partitionBy("event_type").orderBy("value")
    val whole = Window.partitionBy("event_type")
    val scored = perValue
      .withColumn("cum1", sum("c1").over(run))
      .withColumn("cum2", sum("c2").over(run))
      .withColumn("n1", sum("c1").over(whole))
      .withColumn("n2", sum("c2").over(whole))
      .withColumn("num", abs(col("n2") * col("cum1") - col("n1") * col("cum2")))
    scored.groupBy("event_type", "n1", "n2")
      .agg(max(col("num")).as("ks_num"))
      .withColumn("ks_d",
        graft.functions.Metrics.canonRound(
          col("ks_num").cast("double") / (col("n1") * col("n2")).cast("double"), 6))
      .withColumn("d_crit",
        graft.functions.Metrics.canonRound(
          lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") / (col("n1") * col("n2")).cast("double")), 6))
      .withColumn("drifted", (col("ks_d") > col("d_crit")).cast("int"))
      .select("event_type", "n1", "n2", "ks_num", "ks_d", "d_crit", "drifted")
      .orderBy("event_type")
  }

  val q200 = GQuery(
    "q200_ks_drift",
    (s, dir) => ksDrift(Tables.events(s, dir)),
    Some("""WITH halved AS (
        SELECT event_type, value,
          CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 1 ELSE 0 END AS h1
        FROM events),
      pv AS (
        SELECT event_type, value,
          CAST(sum(h1) AS BIGINT) AS c1, CAST(sum(1 - h1) AS BIGINT) AS c2
        FROM halved GROUP BY 1, 2),
      s AS (
        SELECT event_type, value,
          sum(c1) OVER (PARTITION BY event_type ORDER BY value) AS cum1,
          sum(c2) OVER (PARTITION BY event_type ORDER BY value) AS cum2,
          sum(c1) OVER (PARTITION BY event_type) AS n1,
          sum(c2) OVER (PARTITION BY event_type) AS n2
        FROM pv),
      agg AS (
        SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
          CAST(max(abs(n2*cum1 - n1*cum2)) AS BIGINT) AS ks_num
        FROM s GROUP BY 1, 2, 3)
      SELECT event_type, n1, n2, ks_num,
        floor(CAST(ks_num AS DOUBLE) / (n1 * n2) * 1e6 + 0.5)/1e6 AS ks_d,
        floor(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)) * 1e6 + 0.5)/1e6 AS d_crit,
        CAST(CASE WHEN floor(CAST(ks_num AS DOUBLE) / (n1 * n2) * 1e6 + 0.5)/1e6
                     > floor(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2)) * 1e6 + 0.5)/1e6
             THEN 1 ELSE 0 END AS INTEGER) AS drifted
      FROM agg ORDER BY event_type"""))

  /** foreachBatch + idempotent MERGE sink (streaming.UpsertStreams): the
    * exactly-once streaming-lakehouse ingest pattern — three genuine
    * microbatches accumulate into a keyed state table, replayed batch
    * ids are no-ops, and the running sum is integer micros so batch
    * boundaries cannot perturb it. The final state is a set property of
    * the corpus, so the batch oracle verifies any microbatch layout.
    */
  val q203 = GQuery(
    "q203_stream_upsert",
    (s, dir) => graft.streaming.UpsertStreams.streamingUpsert(s, dir),
    Some("""SELECT user_id,
        count(*) AS n_events,
        floor(CAST(sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 * 1e4 + 0.5)/1e4 AS sum_value,
        max(CAST(ts AS TIMESTAMP)) AS last_ts
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Additive Holt-Winters (level + trend + weekly season) over the
    * first 28 days of the per-type daily count series, with a one-step-
    * ahead backtest — the FORECASTER the time-series family was missing
    * (STL q170 and EWMA q199 are components; neither predicts). Dyadic
    * smoothing weights α=1/2, β=γ=1/4 and the classic two-week
    * initialization (level = week-1 mean; trend = (week-2 mean − week-1
    * mean)/7; season_j = y_j − level).
    *
    * Cross-engine exactness: the recursion is evaluated SEQUENTIALLY per
    * series in both engines with the identical per-step IEEE expression
    * shapes — Spark folds a 21-step `aggregate` HOF over the dense count
    * array (interpreted per SERIES, of which there are 5 — never per
    * corpus row; the HOF-per-join-row trap does not apply), and the
    * oracle unrolls the same 21 steps as chained MATERIALIZED CTEs
    * (invariant 12: un-materialized chained CTEs inline exponentially —
    * each step references its predecessor four times). Same snapped
    * integer inputs + same expression order ⇒ identical doubles, no
    * dyadic-denominator bookkeeping needed.
    *
    * Scale shape: the only corpus-scale work is the (type, day) count
    * aggregation (map-side combinable); the fold runs on one row per
    * SERIES. Forecasting millions of series is the same plan — the
    * groupBy key carries the series id and the fold parallelizes per
    * group; state is O(season length) per series.
    */
  val q216 = GQuery(
    "q216_holt_winters",
    (s, dir) => {
      import graft.functions.Metrics
      val T = 28
      val ev = Tables.events(s, dir)
      val d0 = ev.agg(min(to_date(col("ts"))).as("d0"))
      val counts = ev.crossJoin(broadcast(d0))
        .withColumn("t", datediff(to_date(col("ts")), col("d0")))
        .filter(col("t") < T)
        .groupBy("event_type", "d0", "t").agg(count(lit(1)).as("n"))
      val series = counts.groupBy("event_type", "d0")
        .agg(map_from_entries(collect_list(struct(col("t"), col("n")))).as("mp"))
        .withColumn("ys", transform(sequence(lit(0), lit(T - 1)),
          i => coalesce(element_at(col("mp"), i), lit(0L)).cast("double")))
      def el(i: Int) = element_at(col("ys"), i + 1)
      val withInit = series
        .withColumn("l6", (0 until 7).map(el).reduce(_ + _) / lit(7.0))
        .withColumn("b6", ((7 until 14).map(el).reduce(_ + _) / lit(7.0) - col("l6")) / lit(7.0))
      val sInit = (0 until 7).map(j => (el(j) - col("l6")).as(s"x$j"))
      val st0 = struct(
        (col("l6").as("l") +: col("b6").as("b") +:
          array(sInit: _*).as("s") +:
          Seq(array().cast("array<double>").as("fs"))): _*)
      val folded = withInit.withColumn("st",
        aggregate(sequence(lit(7), lit(T - 1)), st0, (st, t) => {
          val y = element_at(col("ys"), t + 1)
          val idx = (t % 7) + 1
          val sOld = element_at(st.getField("s"), idx)
          val f = st.getField("l") + st.getField("b") + sOld
          val lN = lit(0.5) * (y - sOld) + lit(0.5) * (st.getField("l") + st.getField("b"))
          val bN = lit(0.25) * (lN - st.getField("l")) + lit(0.75) * st.getField("b")
          val sN = lit(0.25) * (y - lN) + lit(0.75) * sOld
          struct(lN.as("l"), bN.as("b"),
            transform(sequence(lit(1), lit(7)),
              j => when(j === idx, sN).otherwise(element_at(st.getField("s"), j))).as("s"),
            concat(st.getField("fs"), array(f)).as("fs"))
        }))
      folded
        .select(col("event_type"), col("d0"), col("ys"),
          posexplode(col("st").getField("fs")).as(Seq("pos", "f")))
        .select(col("event_type"),
          date_add(col("d0"), col("pos") + 7).cast("timestamp_ntz").as("day"),
          element_at(col("ys"), col("pos") + 8).cast("long").as("n"),
          Metrics.canonRound(col("f"), 4).as("forecast"),
          Metrics.canonRound(abs(element_at(col("ys"), col("pos") + 8) - col("f")), 4)
            .as("abs_err"))
        .orderBy("event_type", "day")
    },
    Some {
      val T = 28
      val yCols = (0 until T)
        .map(j => s"CAST(coalesce(sum(CASE WHEN t = $j THEN n END), 0) AS DOUBLE) AS y$j")
        .mkString(",\n          ")
      val sum1 = (0 until 7).map(j => s"y$j").mkString(" + ")
      val sum2 = (7 until 14).map(j => s"y$j").mkString(" + ")
      val carryY = (7 until T).map(j => s"y$j").mkString(", ")
      val seasonName = Array.tabulate(7)(j => s"s${j}_6")
      val sInit = (0 until 7).map(j => s"y$j - l6 AS ${seasonName(j)}").mkString(", ")
      val sb = new StringBuilder
      var prevL = "l6"; var prevB = "b6"; var prevCte = "init"
      var fCols = List.empty[String]
      for (t <- 7 until T) {
        val slot = t % 7
        val sOld = seasonName(slot)
        val (lN, bN, sN, fN) = (s"l$t", s"b$t", s"s${slot}_$t", s"f$t")
        val keepS = (0 until 7).filter(_ != slot).map(seasonName).mkString(", ")
        val keepF = if (fCols.isEmpty) "" else fCols.reverse.mkString(", ") + ","
        sb.append(s""",
      st$t AS MATERIALIZED (
        SELECT event_type, d0, $carryY, $keepF $keepS,
          $prevL + $prevB + $sOld AS $fN,
          0.5 * (y$t - $sOld) + 0.5 * ($prevL + $prevB) AS $lN,
          0.25 * ($lN - $prevL) + 0.75 * $prevB AS $bN,
          0.25 * (y$t - $lN) + 0.75 * $sOld AS $sN
        FROM $prevCte)""")
        seasonName(slot) = sN; prevL = lN; prevB = bN; prevCte = s"st$t"
        fCols = fN :: fCols
      }
      val fArms = (7 until T).map(t => s"WHEN $t THEN f$t").mkString(" ")
      val yArms = (7 until T).map(t => s"WHEN $t THEN y$t").mkString(" ")
      s"""WITH b0 AS (SELECT CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS d0 FROM events),
      c AS (
        SELECT event_type, d0,
          datediff('day', d0, CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS t, count(*) AS n
        FROM events, b0 GROUP BY 1, 2, 3),
      w AS (
        SELECT event_type, d0,
          $yCols
        FROM c WHERE t < $T GROUP BY event_type, d0),
      pre AS MATERIALIZED (
        SELECT event_type, d0, $carryY, ${(0 until 7).map(j => s"y$j").mkString(", ")},
          ($sum1) / 7.0 AS l6
        FROM w),
      init AS MATERIALIZED (
        SELECT event_type, d0, $carryY,
          l6, (($sum2) / 7.0 - l6) / 7.0 AS b6, $sInit
        FROM pre)${sb},
      melt AS (
        SELECT event_type, d0, g.t,
          CASE g.t $yArms END AS y, CASE g.t $fArms END AS f
        FROM $prevCte, (SELECT unnest(range(7, $T)) AS t) g)
      SELECT event_type, CAST(d0 + t * INTERVAL 1 DAY AS TIMESTAMP) AS day,
        CAST(y AS BIGINT) AS n,
        floor(f * 1e4 + 0.5) / 1e4 AS forecast,
        floor(abs(y - f) * 1e4 + 0.5) / 1e4 AS abs_err
      FROM melt ORDER BY event_type, day"""
    })

  /** Streaming twin of q196 (the monitoring family's first streaming
    * member): the stream maintains the watermarked tumbling hourly
    * counts — the incrementally-maintainable half, per the q162 split —
    * and the CUSUM scoring runs as the batch finisher on the sink.
    * Counts are a set property of the corpus (independent of
    * micro-batch slicing), so the report equals the batch q196 and this
    * entry reuses q196's oracle VERBATIM (the q179/q181 trick).
    */
  val q222 = GQuery(
    "q222_stream_cusum",
    (s, dir) => graft.streaming.StreamHarness.withStreamConf(s) {
      val agg = graft.streaming.EventStreams.eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val counts = graft.streaming.StreamHarness.runToMemory(agg,
        org.apache.spark.sql.streaming.OutputMode.Complete)()
      // localCheckpoint: the finisher references the counts THREE times
      // (axis, types, the dense left join) and the raw memory-sink plan
      // trips analyzer self-join dedup ("conflicting references");
      // truncating to a LogicalRDD — a few hundred rows — resolves it,
      // same as the iterative-loop lineage rule (invariant 14)
      cusumFromCounts(counts
        .select(col("w.start").as("hour_start"), col("event_type"), col("n"))
        .localCheckpoint(true))
    },
    q196.oracle)

  def all: Seq[GQuery] = Seq(q30, q31, q32, q33, q34, q35, q36, q37, q38, q39,
    q68, q76, q77, q94, q100, q118, q129, q134, q138, q154, q155, q158, q162,
    q163, q166, q171, q196, q197, q199, q200, q203, q216, q222, q224, q249,
    q250)
}
