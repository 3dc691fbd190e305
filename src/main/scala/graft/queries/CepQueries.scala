package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.cep.{Cep, Pattern, SkipPastLastEvent, SkipToLast}
import graft.streaming.EventStream.EventRow

/** CEP inventory (SURVEY §2.8): the Pattern API subset over the events
  * table, driver-verified because each pinned match semantic is expressible
  * as window SQL in DuckDB. Keyed by user_id, ordered by (ts, event_id).
  */
object CepQueries extends QuerySet {

  private def events(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.load(s, dir, "events").as[EventRow]
  }

  private def ord(e: EventRow): (Long, Long) = (e.ts.getTime, e.event_id)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // strict contiguity: click immediately followed by purchase
    "cep_strict_next" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("a")(_.event_type == "click")
        .next("b")(_.event_type == "purchase")
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("a").event_id, m.first("b").event_id)
      }.toDF("user_id", "a_id", "b_id")
    }),

    // relaxed contiguity + within: earliest purchase ≤ 30 min after a click
    "cep_followed_by_within" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("a")(_.event_type == "click")
        .followedBy("b")(_.event_type == "purchase")
        .within(30 * 60 * 1000L)
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("a").event_id, m.first("b").event_id)
      }.toDF("user_id", "a_id", "b_id")
    }),

    // times(3).consecutive: three consecutive errors (overlapping
    // candidates allowed; relaxed inner contiguity is the default, as in
    // the reference — consecutive() is the strict opt-in)
    "cep_times_consecutive" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("e")(_.event_type == "error")
        .times(3).consecutive
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("e").event_id, m.last("e").event_id)
      }.toDF("user_id", "first_id", "last_id")
    }),

    // oneOrMore.consecutive: greedy maximal consecutive view-runs of
    // length ≥ 2 (strict inner contiguity opted into, as in the reference)
    "cep_one_or_more_runs" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("v")(_.event_type == "view")
        .oneOrMore.consecutive
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m("v").length.toLong,
          m.first("v").event_id, m.last("v").event_id)
      }.toDF("user_id", "run_len", "first_id", "last_id")
        .filter(org.apache.spark.sql.functions.col("run_len") >= 2)
    }),

    // oneOrMore with the DEFAULT relaxed inner contiguity (reference
    // Pattern.java:352 / NFAITCase): the view-run SKIPS interleaved
    // non-view events and is stopped by the first purchase (until) — one
    // match per (user, purchase-delimited segment) holding every view in
    // the segment, however the other event types interleave
    "cep_one_or_more_relaxed" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("v")(_.event_type == "view")
        .oneOrMore.until(_.event_type == "purchase")
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m("v").length.toLong,
          m.first("v").event_id, m.last("v").event_id)
      }.toDF("user_id", "run_len", "first_id", "last_id")
    }),

    // notFollowedBy: click → earliest purchase with NO error in between
    "cep_not_followed_by" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("a")(_.event_type == "click")
        .notFollowedBy("n")(_.event_type == "error")
        .followedBy("b")(_.event_type == "purchase")
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("a").event_id, m.first("b").event_id)
      }.toDF("user_id", "a_id", "b_id")
    }),

    // followedByAny: EVERY purchase ≤ 30 min after a click, not just the first
    "cep_followed_by_any" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("a")(_.event_type == "click")
        .followedByAny("b")(_.event_type == "purchase")
        .within(30 * 60 * 1000L)
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("a").event_id, m.first("b").event_id)
      }.toDF("user_id", "a_id", "b_id")
    }),

    // times(2,4).consecutive: one candidate match per count k in [2,4] of
    // consecutive errors (NO_SKIP — anchors may overlap)
    "cep_times_range" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("e")(_.event_type == "error")
        .times(2, 4).consecutive
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m("e").length.toLong,
          m.first("e").event_id, m.last("e").event_id)
      }.toDF("user_id", "k", "first_id", "last_id")
    }),

    // afterMatchSkip(SKIP_PAST_LAST_EVENT): non-overlapping error pairs —
    // within each maximal error run, pairs start at even offsets only
    "cep_skip_past_last" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("e")(_.event_type == "error")
        .times(2).consecutive.afterMatchSkip(SkipPastLastEvent)
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("e").event_id, m.last("e").event_id)
      }.toDF("user_id", "first_id", "last_id")
    }),

    // afterMatchSkip(SKIP_TO_LAST e): times(2,3) candidates collapse to the
    // k=2 pair at every start — the k=3 extension starts before the
    // emitted pair's last event and is pruned
    "cep_skip_to_last" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("e")(_.event_type == "error")
        .times(2, 3).consecutive.afterMatchSkip(SkipToLast("e"))
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("e").event_id, m.last("e").event_id)
      }.toDF("user_id", "first_id", "last_id")
    }),

    // optional middle stage: click [view]? purchase — one match with the
    // view skipped (v_id = -1) plus one with the earliest view bound
    "cep_optional" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("a")(_.event_type == "click")
        .followedBy("v")(_.event_type == "view").optional
        .followedBy("b")(_.event_type == "purchase")
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("a").event_id,
          m("v").headOption.map(_.event_id).getOrElse(-1L),
          m.first("b").event_id)
      }.toDF("user_id", "a_id", "v_id", "b_id")
    }),

    // oneOrMore.consecutive.allowCombinations: every prefix of each
    // maximal consecutive view-run
    "cep_combinations" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("v")(_.event_type == "view")
        .oneOrMore.consecutive.allowCombinations
      Cep.batch(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m("v").length.toLong,
          m.first("v").event_id, m.last("v").event_id)
      }.toDF("user_id", "k", "first_id", "last_id")
    }),

    // STREAMING CEP end-to-end: the same strict-next pattern through the
    // real Structured Streaming path (file source → flatMapGroupsWithState
    // NFA state machine → memory sink, AvailableNow) — end-of-stream output
    // equals the batch matcher, so the batch oracle pins the streaming path
    "cep_stream_strict_next" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("a")(_.event_type == "click")
        .next("b")(_.event_type == "purchase")
      val stream = graft.streaming.EventStream.read(s, dir).as[EventRow]
      // finite fixture replay — the unbounded-state guard is opted out of
      val out = Cep.streaming(stream, (e: EventRow) => e.user_id, ord, p,
        unboundedState = true) {
        (k, m) => (k, m.first("a").event_id, m.first("b").event_id)
      }.toDF("user_id", "a_id", "b_id")
      graft.streaming.EventStream.runToTable(s, out, "append")
    }),

    // cross-micro-batch NFA state: the SAME pattern over the deterministic
    // 4-quarter replay — a click at the end of one quarter matching a
    // purchase at the start of the next must come out of persisted pattern
    // state; cumulative output equals the single-batch (and batch) result
    "cep_stream_multibatch" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("a")(_.event_type == "click")
        .next("b")(_.event_type == "purchase")
      val stream = graft.streaming.EventStream.readMultiBatch(s, dir)
        .as[EventRow]
      val out = Cep.streaming(stream, (e: EventRow) => e.user_id, ord, p,
        unboundedState = true) {
        (k, m) => (k, m.first("a").event_id, m.first("b").event_id)
      }.toDF("user_id", "a_id", "b_id")
      // NFA family self-sizes from replay volume (r11 ladder rule:
      // rows/125k clamped to [4, cores]) — 4 at fixture scale, the
      // measured 8/16 optima at 1M/10M events
      graft.streaming.EventStream.runToTable(s, out, "append",
        statePartitions =
          graft.streaming.EventStream.derivedStatePartitions("cep",
            graft.operators.PartitionOps.fixtureRows(s, dir, "events")))
    }),

    // timeout side output (PatternStream.select with timeout handler):
    // click → purchase within 30 min; clicks whose window provably closed
    // without a purchase emit a timeout row (b_id = -1)
    "cep_timeout_select" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("a")(_.event_type == "click")
        .followedBy("b")(_.event_type == "purchase")
        .within(30 * 60 * 1000L)
      Cep.batchWithTimeout(events(s, dir), (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("a").event_id, m.first("b").event_id, false)
      } { (k, m) => (k, m.first("a").event_id, -1L, true)
      }.toDF("user_id", "a_id", "b_id", "timed_out")
    }),

    // STREAMING timeout side output: same pattern through the real
    // Structured Streaming path — timeouts fire in the micro-batch that
    // evicts the start, so end-of-stream output equals the batch form and
    // the same oracle pins both
    "cep_stream_timeout" -> ((s, dir) => {
      import s.implicits._
      val p = Pattern.begin[EventRow]("a")(_.event_type == "click")
        .followedBy("b")(_.event_type == "purchase")
        .within(30 * 60 * 1000L)
      val stream = graft.streaming.EventStream.read(s, dir).as[EventRow]
      val out = Cep.streamingWithTimeout(stream,
        (e: EventRow) => e.user_id, ord, p) {
        (k, m) => (k, m.first("a").event_id, m.first("b").event_id, false)
      } { (k, m) => (k, m.first("a").event_id, -1L, true)
      }.toDF("user_id", "a_id", "b_id", "timed_out")
      graft.streaming.EventStream.runToTable(s, out, "append")
    })
  )

  override def oracle: Map[String, String] = Map(
    "cep_strict_next" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type,
        |    lead(event_type) OVER w AS nxt_type,
        |    lead(event_id) OVER w AS nxt_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS a_id, nxt_id AS b_id
        |FROM seq WHERE event_type = 'click' AND nxt_type = 'purchase'""".stripMargin,

    "cep_followed_by_within" ->
      """WITH pairs AS (
        |  SELECT c.user_id, c.event_id AS a_id, p.event_id AS b_id,
        |    row_number() OVER (PARTITION BY c.user_id, c.event_id
        |      ORDER BY p.ts, p.event_id) AS rn
        |  FROM events c JOIN events p
        |    ON c.user_id = p.user_id
        |   AND c.event_type = 'click' AND p.event_type = 'purchase'
        |   AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
        |   AND p.ts <= c.ts + INTERVAL 30 MINUTE)
        |SELECT user_id, a_id, b_id FROM pairs WHERE rn = 1""".stripMargin,

    "cep_times_consecutive" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type,
        |    lead(event_type, 1) OVER w AS t1, lead(event_id, 1) OVER w AS i1,
        |    lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS i2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS first_id, i2 AS last_id
        |FROM seq
        |WHERE event_type = 'error' AND t1 = 'error' AND t2 = 'error'""".stripMargin,

    // greedy left-to-right pairing inside each maximal error run: pairs at
    // even 0-based offsets with a successor in the same run
    "cep_skip_past_last" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_e,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) = 'error' THEN 1 ELSE 0 END AS prev_e
        |  FROM events),
        |grp AS (
        |  SELECT user_id, event_id, ts, is_e,
        |    SUM(CASE WHEN is_e = 1 AND prev_e = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |  FROM seq),
        |pos AS (
        |  SELECT user_id, gid, event_id,
        |    row_number() OVER pw - 1 AS p,
        |    lead(event_id) OVER pw AS nxt
        |  FROM grp WHERE is_e = 1
        |  WINDOW pw AS (PARTITION BY user_id, gid ORDER BY ts, event_id))
        |SELECT user_id, event_id AS first_id, nxt AS last_id
        |FROM pos WHERE p % 2 = 0 AND nxt IS NOT NULL""".stripMargin,

    // SKIP_TO_LAST keeps exactly the adjacent pairs (k=2 at every start)
    "cep_skip_to_last" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type,
        |    lead(event_type) OVER w AS t1, lead(event_id) OVER w AS i1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS first_id, i1 AS last_id
        |FROM seq WHERE event_type = 'error' AND t1 = 'error'""".stripMargin,

    // relaxed inner contiguity: each purchase closes the current view-run
    // (until); within a segment the run holds EVERY view, whatever other
    // event types interleave — so segments are purchase-count groups
    "cep_one_or_more_relaxed" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM events),
        |runs AS (
        |  SELECT DISTINCT user_id, seg,
        |    CAST(COUNT(*) OVER pw AS BIGINT) AS run_len,
        |    first_value(event_id) OVER pw AS first_id,
        |    last_value(event_id) OVER pw AS last_id
        |  FROM seq WHERE event_type = 'view'
        |  WINDOW pw AS (PARTITION BY user_id, seg ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, run_len, first_id, last_id FROM runs""".stripMargin,

    "cep_one_or_more_runs" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_v,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) = 'view' THEN 1 ELSE 0 END AS prev_v
        |  FROM events),
        |grp AS (
        |  SELECT user_id, event_id, ts, is_v,
        |    SUM(CASE WHEN is_v = 1 AND prev_v = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |  FROM seq),
        |runs AS (
        |  SELECT DISTINCT user_id, gid,
        |    CAST(COUNT(*) OVER pw AS BIGINT) AS run_len,
        |    first_value(event_id) OVER pw AS first_id,
        |    last_value(event_id) OVER pw AS last_id
        |  FROM grp WHERE is_v = 1
        |  WINDOW pw AS (PARTITION BY user_id, gid ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, run_len, first_id, last_id
        |FROM runs WHERE run_len >= 2""".stripMargin,

    // identical to cep_strict_next — the streaming path must converge to
    // the batch semantics at end of stream
    "cep_stream_strict_next" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type,
        |    lead(event_type) OVER w AS nxt_type,
        |    lead(event_id) OVER w AS nxt_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS a_id, nxt_id AS b_id
        |FROM seq WHERE event_type = 'click' AND nxt_type = 'purchase'""".stripMargin,

    // batching-invariant: same SQL as cep_stream_strict_next
    "cep_stream_multibatch" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type,
        |    lead(event_type) OVER w AS nxt_type,
        |    lead(event_id) OVER w AS nxt_id
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS a_id, nxt_id AS b_id
        |FROM seq WHERE event_type = 'click' AND nxt_type = 'purchase'""".stripMargin,

    "cep_not_followed_by" ->
      """WITH pairs AS (
        |  SELECT c.user_id, c.event_id AS a_id, c.ts AS a_ts,
        |    p.event_id AS b_id, p.ts AS b_ts,
        |    row_number() OVER (PARTITION BY c.user_id, c.event_id
        |      ORDER BY p.ts, p.event_id) AS rn
        |  FROM events c JOIN events p
        |    ON c.user_id = p.user_id
        |   AND c.event_type = 'click' AND p.event_type = 'purchase'
        |   AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id)))
        |SELECT user_id, a_id, b_id FROM pairs q
        |WHERE rn = 1 AND NOT EXISTS (
        |  SELECT 1 FROM events x
        |  WHERE x.user_id = q.user_id AND x.event_type = 'error'
        |    AND (x.ts > q.a_ts OR (x.ts = q.a_ts AND x.event_id > q.a_id))
        |    AND (x.ts < q.b_ts OR (x.ts = q.b_ts AND x.event_id < q.b_id)))""".stripMargin,

    "cep_followed_by_any" ->
      """SELECT c.user_id, c.event_id AS a_id, p.event_id AS b_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
        | AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin,

    "cep_times_range" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type,
        |    lead(event_type, 1) OVER w AS t1, lead(event_id, 1) OVER w AS i1,
        |    lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS i2,
        |    lead(event_type, 3) OVER w AS t3, lead(event_id, 3) OVER w AS i3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(2 AS BIGINT) AS k, event_id AS first_id, i1 AS last_id
        |FROM seq WHERE event_type = 'error' AND t1 = 'error'
        |UNION ALL
        |SELECT user_id, CAST(3 AS BIGINT), event_id, i2
        |FROM seq WHERE event_type = 'error' AND t1 = 'error' AND t2 = 'error'
        |UNION ALL
        |SELECT user_id, CAST(4 AS BIGINT), event_id, i3
        |FROM seq WHERE event_type = 'error' AND t1 = 'error' AND t2 = 'error'
        |  AND t3 = 'error'""".stripMargin,

    "cep_optional" ->
      """WITH a AS (
        |  SELECT user_id, event_id AS a_id, ts AS a_ts
        |  FROM events WHERE event_type = 'click'),
        |skipb AS (
        |  SELECT a.user_id, a.a_id, CAST(-1 AS BIGINT) AS v_id,
        |    p.event_id AS b_id,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY p.ts, p.event_id) AS rn
        |  FROM a JOIN events p ON p.user_id = a.user_id
        |    AND p.event_type = 'purchase'
        |    AND (p.ts > a.a_ts OR (p.ts = a.a_ts AND p.event_id > a.a_id))),
        |v AS (
        |  SELECT a.user_id, a.a_id, w.event_id AS v_id, w.ts AS v_ts,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY w.ts, w.event_id) AS rn
        |  FROM a JOIN events w ON w.user_id = a.user_id
        |    AND w.event_type = 'view'
        |    AND (w.ts > a.a_ts OR (w.ts = a.a_ts AND w.event_id > a.a_id))),
        |vb AS (
        |  SELECT v.user_id, v.a_id, v.v_id, p.event_id AS b_id,
        |    row_number() OVER (PARTITION BY v.user_id, v.a_id
        |      ORDER BY p.ts, p.event_id) AS rn2
        |  FROM (SELECT * FROM v WHERE rn = 1) v
        |  JOIN events p ON p.user_id = v.user_id
        |    AND p.event_type = 'purchase'
        |    AND (p.ts > v.v_ts OR (p.ts = v.v_ts AND p.event_id > v.v_id)))
        |SELECT user_id, a_id, v_id, b_id FROM skipb WHERE rn = 1
        |UNION ALL
        |SELECT user_id, a_id, v_id, b_id FROM vb WHERE rn2 = 1""".stripMargin,

    "cep_combinations" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_v,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) = 'view' THEN 1 ELSE 0 END AS prev_v
        |  FROM events),
        |grp AS (
        |  SELECT user_id, event_id, ts, is_v,
        |    SUM(CASE WHEN is_v = 1 AND prev_v = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |  FROM seq),
        |pref AS (
        |  SELECT user_id,
        |    CAST(row_number() OVER pw AS BIGINT) AS k,
        |    first_value(event_id) OVER pw AS first_id,
        |    event_id AS last_id
        |  FROM grp WHERE is_v = 1
        |  WINDOW pw AS (PARTITION BY user_id, gid ORDER BY ts, event_id))
        |SELECT user_id, k, first_id, last_id FROM pref""".stripMargin,

    "cep_timeout_select" -> timeoutOracle,

    // identical SQL: the streaming timeout path must converge to the batch
    // semantics at end of stream
    "cep_stream_timeout" -> timeoutOracle
  )

  private val timeoutOracle: String =
      """WITH lastev AS (
        |  SELECT user_id, max(ts) AS max_ts FROM events GROUP BY user_id),
        |a AS (
        |  SELECT user_id, event_id AS a_id, ts AS a_ts
        |  FROM events WHERE event_type = 'click'),
        |firstp AS (
        |  SELECT a.user_id, a.a_id, a.a_ts, p.event_id AS b_id, p.ts AS b_ts,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY p.ts, p.event_id) AS rn
        |  FROM a JOIN events p ON p.user_id = a.user_id
        |    AND p.event_type = 'purchase'
        |    AND (p.ts > a.a_ts OR (p.ts = a.a_ts AND p.event_id > a.a_id)))
        |SELECT user_id, a_id, b_id, FALSE AS timed_out
        |FROM firstp WHERE rn = 1 AND b_ts <= a_ts + INTERVAL 30 MINUTE
        |UNION ALL
        |SELECT a.user_id, a.a_id, CAST(-1 AS BIGINT), TRUE
        |FROM a JOIN lastev l ON l.user_id = a.user_id
        |WHERE l.max_ts > a.a_ts + INTERVAL 30 MINUTE
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events p
        |    WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
        |      AND (p.ts > a.a_ts OR (p.ts = a.a_ts AND p.event_id > a.a_id))
        |      AND p.ts <= a.a_ts + INTERVAL 30 MINUTE)""".stripMargin
}
