package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Event-stream analytics over the `events` table (`event_id, ts, user_id,
  * event_type, value, props`) — time-windowed aggregation, sessionization,
  * ranking/lag windows, JSON extraction, funnels. All beyond the reference
  * (its only time handling is a date-string comparison,
  * `performance_functions/query_3_phase_1.py:31-33`; it has no window
  * functions at all — SURVEY.md §2B).
  *
  * Scale notes: every query shuffles once on its natural key (user_id or
  * event_type + bucket); window frames are bounded (no unbounded
  * following); at 100 TB the `events` table would be date-partitioned and
  * each of these plans prunes to the scanned range before shuffling.
  */
object EventQueries {

  // ── Tumbling window: hourly counts and revenue per event type ──────────
  // date_trunc is the batch spelling of a 1-hour tumbling window; the
  // streaming module expresses the same query with window($"ts", "1 hour")
  // and a watermark.
  def qTumblingHourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Relational.dsum(col("value")).as("sum_value"))

  val qTumblingHourlySql: String =
    "SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n_events, " +
      s"${Relational.sqlDsum("value")} AS sum_value " +
      "FROM events GROUP BY 1, 2"

  // ── Sessionization: 30-minute inactivity gap ───────────────────────────
  // Classic two-window plan: lag to detect gaps, running sum of gap flags
  // to number sessions, then one aggregation per (user, session). Shuffles
  // once on user_id; both windows and the final groupBy reuse that
  // partitioning (no second shuffle).
  private val GapMinutes = 30

  def qSessionize(s: SparkSession, d: String): DataFrame = {
    // order by (ts, event_id) so ties cannot reorder; running sum uses an
    // explicit ROWS frame (Spark's default with orderBy is RANGE, which
    // includes peer rows — a subtle divergence from the SQL spelling).
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        // unix_micros (not cast("long"), which truncates to seconds): the
        // fixture timestamps carry sub-second precision, and a truncated
        // comparison could split sessions differently from the oracle's
        // epoch_us at a boundary.
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > GapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(running))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        Relational.dsum(col("value")).as("session_value"))
  }

  val qSessionizeSql: String =
    "WITH flagged AS (" +
      "SELECT user_id, event_id, ts, value, " +
      "CASE WHEN lag(ts) OVER w IS NULL OR " +
      s"epoch_us(ts) - epoch_us(lag(ts) OVER w) > ${GapMinutes * 60L * 1000000L} THEN 1 ELSE 0 END AS new_session " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      // CAST AS BIGINT: DuckDB types the windowed sum as HUGEINT (int128),
      // which hash-mismatches Spark's BIGINT even when values agree.
      "numbered AS (SELECT user_id, ts, value, " +
      "CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM flagged) " +
      "SELECT user_id, session_no, min(ts) AS session_start, " +
      "max(ts) AS session_end, count(*) AS n_events, " +
      s"${Relational.sqlDsum("value")} AS session_value " +
      "FROM numbered GROUP BY user_id, session_no"

  // ── Ranking / lag / moving frame in one pass ───────────────────────────
  // All three windows share (user_id, ts) ordering → one shuffle + one
  // sort serve every frame.
  def qUserActivityWindows(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val moving = byUser.rowsBetween(-3, -1)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("seq_no", row_number().over(byUser))
      .withColumn("prev_value", lag(col("value"), 1).over(byUser))
      .withColumn("avg_prev3",
        // spelled sum/count (not avg) because DuckDB's avg(DECIMAL)
        // degrades to an order-dependent double average; exact decimal
        // sum / exact count is engine-independent.
        round((sum(col("value").cast("decimal(18,2)")).over(moving).cast("double") /
          count(col("value")).over(moving)), 6))
  }

  val qUserActivityWindowsSql: String =
    "SELECT event_id, user_id, ts, value, " +
      "row_number() OVER w AS seq_no, " +
      "lag(value) OVER w AS prev_value, " +
      "round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER m AS DOUBLE) " +
      "/ count(value) OVER m, 6) AS avg_prev3 " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id), " +
      "m AS (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)"

  // ── Top-N per group over an aggregate ──────────────────────────────────
  def qTopUsersPerType(s: SparkSession, d: String): DataFrame = {
    val totals = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(Relational.dsum(col("value")).as("total_value"))
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("total_value").desc, col("user_id").asc)
    totals.withColumn("rnk", row_number().over(byType)).filter(col("rnk") <= 3)
  }

  val qTopUsersPerTypeSql: String =
    "SELECT event_type, user_id, total_value, rnk FROM (" +
      "SELECT event_type, user_id, total_value, " +
      "row_number() OVER (PARTITION BY event_type " +
      "ORDER BY total_value DESC, user_id ASC) AS rnk " +
      s"FROM (SELECT event_type, user_id, ${Relational.sqlDsum("value")} AS total_value " +
      "FROM events GROUP BY event_type, user_id) t) r WHERE rnk <= 3"

  // ── Semi-structured extraction: JSON props ─────────────────────────────
  // The reference shuffles dynamic JSON values between every stage
  // (SURVEY §1.2); here JSON appears only at the edge and is parsed once
  // into a typed column by a codegen'd path expression.
  def qJsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      // % (not pmod): C-style sign semantics, matching the oracle's %
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"))

  val qJsonExtractSql: String =
    "SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod, " +
      "count(*) AS n, max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k " +
      "FROM events GROUP BY 1"

  // ── Funnel: signup → click → purchase ordering per user ────────────────
  // Conditional min-timestamps per user, then strict ordering checks —
  // a single aggregation pass, no self-joins.
  def qFunnel(s: SparkSession, d: String): DataFrame = {
    def firstTs(t: String) = min(when(col("event_type") === t, col("ts")))
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        firstTs("signup").as("t_signup"),
        firstTs("click").as("t_click"),
        firstTs("purchase").as("t_purchase"))
      .select(col("user_id"),
        col("t_signup").isNotNull.as("did_signup"),
        // coalesce: a NULL comparison (missing step) must read as false,
        // matching the oracle's coalesce(..., FALSE)
        coalesce(col("t_signup").isNotNull && col("t_click") > col("t_signup"),
          lit(false)).as("did_click_after"),
        coalesce(col("t_signup").isNotNull && col("t_click") > col("t_signup") &&
          col("t_purchase") > col("t_click"), lit(false)).as("did_purchase_after"))
  }

  val qFunnelSql: String =
    "SELECT user_id, " +
      "t_signup IS NOT NULL AS did_signup, " +
      "coalesce(t_signup IS NOT NULL AND t_click > t_signup, FALSE) AS did_click_after, " +
      "coalesce(t_signup IS NOT NULL AND t_click > t_signup AND t_purchase > t_click, FALSE) AS did_purchase_after " +
      "FROM (SELECT user_id, " +
      "min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup, " +
      "min(CASE WHEN event_type = 'click' THEN ts END) AS t_click, " +
      "min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase " +
      "FROM events GROUP BY user_id) t"

  // ── Native session_window (streaming-unified sessionization) ───────────
  // The exact plan the streaming pipeline runs (EventStreams
  // .sessionWindows), executed in batch mode so the DuckDB oracle can
  // check it. Spark session semantics: a session ends gap after its last
  // event, end-exclusive — a gap of EXACTLY 30 min starts a new session,
  // hence >= in the oracle.
  def qSessionWindow(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStreams.sessionWindows(
      Tables.events(s, d), "30 minutes", watermark = None)

  val qSessionWindowSql: String =
    "WITH flagged AS (" +
      "SELECT user_id, event_id, ts, value, " +
      "CASE WHEN lag(ts) OVER w IS NULL OR " +
      "ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "numbered AS (SELECT user_id, ts, value, " +
      "CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM flagged) " +
      "SELECT user_id, min(ts) AS session_start, " +
      "max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events, " +
      s"${Relational.sqlDsum("value")} AS session_value " +
      "FROM numbered GROUP BY user_id, session_no"

  // ── As-of join: each purchase ⟵ most recent preceding click ───────────
  // Exercises graft.operators.AsOfJoin (union + one keyed shuffle + one
  // windowed sort — no range-join blowup). Right side is pre-aggregated
  // to one row per (user, ts) so the match is deterministic under ties.
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("click_value"))
    graft.operators.AsOfJoin.asof(purchases, clicks,
      keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
      payload = Seq("click_value"))
  }

  val qAsofJoinSql: String =
    "SELECT p.user_id, p.ts, p.event_id, p.value AS purchase_value, c.click_value " +
      "FROM (SELECT user_id, ts, event_id, value FROM events " +
      "WHERE event_type = 'purchase') p " +
      "ASOF JOIN (SELECT user_id, ts, arg_max(value, event_id) AS click_value " +
      "FROM events WHERE event_type = 'click' GROUP BY 1, 2) c " +
      "ON p.user_id = c.user_id AND p.ts >= c.ts"

  // ── Range join: errors within 15 min AFTER each click, same user ───────
  // Exercises graft.operators.RangeJoin (time-bucketed equi-join — no
  // per-key cross-product buffers).
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("error_ts"), col("event_id").as("error_id"))
    graft.operators.RangeJoin.timeRangeJoin(clicks, errors,
      keys = Seq("user_id"), leftTs = "click_ts", rightTs = "error_ts",
      lowerSec = 0, upperSec = 900)
      .select(col("user_id"), col("click_id"), col("error_id"),
        (unix_micros(col("error_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
  }

  val qRangeJoinSql: String =
    "SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id, " +
      "epoch_us(e.ts) - epoch_us(c.ts) AS gap_us " +
      "FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c " +
      "JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') e " +
      "ON c.user_id = e.user_id AND e.ts >= c.ts " +
      "AND e.ts <= c.ts + INTERVAL 900 SECONDS"

  // ── Nearest-direction as-of with tolerance (merge_asof surface) ────────
  // Each purchase takes its temporally CLOSEST click within ±10 minutes,
  // either direction, ties to the backward match — AsOfJoin.asofDirected
  // runs both carries over one exchange. The pre-aggregation of clicks
  // per (user, ts) keeps the nearest-pick deterministic; the oracle ranks
  // all in-tolerance candidates by (|Δ|, backward-first) and keeps rank 1.
  def qAsofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("click_value"))
    graft.operators.AsOfJoin.asofDirected(purchases, clicks,
      keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
      payload = Seq("click_value"),
      direction = "nearest", toleranceSec = Some(600))
  }

  val qAsofNearestSql: String =
    "WITH p AS (SELECT user_id, ts, event_id, value AS purchase_value " +
      "FROM events WHERE event_type = 'purchase'), " +
      "c AS (SELECT user_id, ts, arg_max(value, event_id) AS click_value " +
      "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
      "cand AS (SELECT p.user_id, p.ts, p.event_id, p.purchase_value, " +
      "c.click_value, abs(epoch_us(c.ts) - epoch_us(p.ts)) AS adiff, " +
      "CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS fwd " +
      "FROM p JOIN c ON p.user_id = c.user_id " +
      "AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 600000000) " +
      "SELECT user_id, ts, event_id, purchase_value, click_value FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY user_id, event_id " +
      "ORDER BY adiff, fwd) AS rk FROM cand) WHERE rk = 1"

  // ── Interval-overlap join: activity windows × incident windows ─────────
  // Exercises graft.operators.IntervalJoin (grid-bucketed, exactly-once
  // pair emission — no per-key cross product, no dedup pass): each click
  // opens a 30-minute activity interval, each error a ±5-minute incident
  // interval; pairs are same-user overlapping intervals with the exact
  // overlap duration in whole seconds (integer-µs math end to end).
  def qIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val act = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("act_id"),
        col("ts").as("a_start"),
        timestamp_micros(unix_micros(col("ts")) + 1800000000L).as("a_end"))
    val inc = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("inc_id"),
        timestamp_micros(unix_micros(col("ts")) - 300000000L).as("i_start"),
        timestamp_micros(unix_micros(col("ts")) + 300000000L).as("i_end"))
    graft.operators.IntervalJoin.overlapJoin(act, inc, Seq("user_id"),
        "a_start", "a_end", "i_start", "i_end", bucketSec = 1800)
      .select(col("user_id"), col("act_id"), col("inc_id"),
        floor((least(unix_micros(col("a_end")), unix_micros(col("i_end"))) -
          greatest(unix_micros(col("a_start")), unix_micros(col("i_start"))))
          / 1000000L).cast("long").as("overlap_sec"))
  }

  val qIntervalJoinSql: String =
    "SELECT a.user_id, a.act_id, i.inc_id, " +
      "(least(epoch_us(a.a_end), epoch_us(i.i_end)) - " +
      "greatest(epoch_us(a.a_start), epoch_us(i.i_start))) // 1000000 AS overlap_sec " +
      "FROM (SELECT user_id, event_id AS act_id, ts AS a_start, " +
      "ts + INTERVAL 30 MINUTE AS a_end FROM events WHERE event_type = 'click') a " +
      "JOIN (SELECT user_id, event_id AS inc_id, ts - INTERVAL 5 MINUTE AS i_start, " +
      "ts + INTERVAL 5 MINUTE AS i_end FROM events WHERE event_type = 'error') i " +
      "ON a.user_id = i.user_id AND a.a_start <= i.i_end AND i.i_start <= a.a_end"

  // ── Hopping (sliding) windows: 1-hour windows every 15 minutes ─────────
  // Each event lands in 4 overlapping windows; Spark's window() generator
  // expands them inline. The oracle reproduces the window set with
  // generate_series over the 4 quarter-hour offsets.
  def qSlidingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))

  val qSlidingWindowSql: String =
    "SELECT w_start, event_type, count(*) AS n FROM (" +
      "SELECT date_trunc('hour', ts - INTERVAL (q * 15) MINUTE) " +
      "+ INTERVAL (q * 15) MINUTE AS w_start, event_type " +
      "FROM events, generate_series(0, 3) AS t(q) " +
      "WHERE ts >= date_trunc('hour', ts - INTERVAL (q * 15) MINUTE) + INTERVAL (q * 15) MINUTE " +
      "AND ts < date_trunc('hour', ts - INTERVAL (q * 15) MINUTE) + INTERVAL (q * 15) MINUTE + INTERVAL 1 HOUR" +
      ") b GROUP BY 1, 2"

  // ── LOCF gap-fill (last observation carried forward) ───────────────────
  // Time-series regularization: densify each user's daily totals onto the
  // day grid, carrying the last observed value across gap days — the
  // standard prep step before feeding irregular event streams to models
  // that expect a regular cadence. Each user's grid starts at their OWN
  // first active day: at 100M users × years of history, rows for days
  // before a user existed are pure waste (and meaningless leading nulls)
  // — the filter keeps the densified output proportional to real
  // lifetimes, and guarantees every emitted cell has a carried value.
  // Plan shape: one shuffle to aggregate on (user, day), the day
  // dimension is broadcast into the grid (days are tiny even at 100 TB —
  // a year is 365 rows), and the carry-forward window reuses the user
  // hash partitioning. `last(_, ignoreNulls)` over a running ROWS frame
  // is the distributed LOCF spelling — no driver-side loop, no self-join
  // per gap.
  /** The LOCF core over any (user_id, ts, value) frame — see qGapFill. */
  def gapFillDaily(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(Relational.dsum(col("value")).as("day_value"))
      .localCheckpoint(true)
    // days and first-days derive from the (tiny) daily aggregate — the
    // corpus is scanned exactly once; min(day) == date_trunc(min(ts))
    // because date_trunc is monotone
    val days = daily.select(col("day")).distinct()
    val users = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    val carry = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    users.crossJoin(broadcast(days))
      .filter(col("day") >= col("first_day"))
      .join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_value",
        last(col("day_value"), ignoreNulls = true).over(carry))
      .select(col("user_id"), col("day"), col("filled_value"))
  }

  def qGapFill(s: SparkSession, d: String): DataFrame =
    gapFillDaily(Tables.events(s, d))

  val qGapFillSql: String =
    "WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day, " +
      s"${Relational.sqlDsum("value")} AS day_value FROM events GROUP BY 1, 2), " +
      "days AS (SELECT DISTINCT day FROM daily), " +
      "users AS (SELECT user_id, min(day) AS first_day FROM daily GROUP BY 1) " +
      "SELECT u.user_id, dy.day, " +
      "last_value(dl.day_value IGNORE NULLS) OVER (PARTITION BY u.user_id " +
      "ORDER BY dy.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value " +
      "FROM users u CROSS JOIN days dy " +
      "LEFT JOIN daily dl ON u.user_id = dl.user_id AND dy.day = dl.day " +
      "WHERE dy.day >= u.first_day"

  // ── Z-score outlier detection ──────────────────────────────────────────
  // Per-event-type anomaly flagging: events more than 3 standard
  // deviations from their type's mean. Moments come from EXACT decimal
  // sums (sum and sum-of-squares), so both engines derive bit-identical
  // doubles for mean/variance and make identical |z| > 3 decisions — the
  // usual float-aggregation nondeterminism never enters. Plan shape: one
  // tiny per-type stats aggregate (rows = #types) broadcast back onto the
  // event scan — the corpus itself is never shuffled, which is what makes
  // this viable at 100 TB.
  def qOutliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(s, d)
    val vd = col("value").cast(DecimalType(18, 2))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Relational.dsum(col("value")).as("s1"),
        sum(vd * vd).cast("double").as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("variance", col("s2") / col("n") - col("mean") * col("mean"))
      // a constant-valued type has variance 0 (or float-negative by
      // cancellation): without the guard Spark emits ±Inf z while DuckDB
      // NULLs the division — both engines compute the identical double
      // here, so the same rows drop on both sides
      .filter(col("variance") > 0.0)
      .select(col("event_type"), col("mean"), col("variance"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("value") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 6).as("z_r"))
  }

  val qOutliersSql: String =
    "WITH st AS (SELECT event_type, count(*) AS n, " +
      s"${Relational.sqlDsum("value")} AS s1, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2 " +
      "FROM events GROUP BY 1), " +
      "m AS (SELECT event_type, s1 / n AS mean, s2 / n - (s1 / n) * (s1 / n) AS variance FROM st " +
      "WHERE s2 / n - (s1 / n) * (s1 / n) > 0) " +
      "SELECT e.event_id, e.event_type, e.value, " +
      "round((e.value - m.mean) / sqrt(m.variance), 6) AS z_r " +
      "FROM events e JOIN m USING (event_type) " +
      "WHERE abs((e.value - m.mean) / sqrt(m.variance)) > 3"

  // ── Decile bucketing (ntile) ───────────────────────────────────────────
  // Per-type value deciles with per-bucket stats — the robust-stats
  // summary (winsorization bounds, drift monitoring) over a skewed
  // measure. ntile's bucket rule is SQL-standard (larger buckets first on
  // non-divisible counts) so both engines bucket identically; ordering
  // ties break on event_id so the assignment is total. event_type has a
  // handful of values, so an ntile WINDOW partitioned by it would rank
  // the whole fact table through ~|types| tasks — instead the exact rank
  // comes from the range-partitioned two-pass kernel and the decile is
  // ntile-from-rank arithmetic on (rank, per-type count).
  def qDeciles(s: SparkSession, d: String): DataFrame = {
    import graft.operators.DistributedRank.{ntileFromRank, withRowNumber}
    val slim = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"))
    withRowNumber(slim, Seq("event_type"),
      Seq(col("value").asc, col("event_id").asc), "rk", nGroupCol = Some("n_g"))
      .withColumn("decile", ntileFromRank("rk", "n_g", 10))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        Relational.dsum(col("value")).as("sum_value"))
  }

  val qDecilesSql: String =
    "SELECT event_type, decile, count(*) AS n, min(value) AS lo, max(value) AS hi, " +
      s"${Relational.sqlDsum("value")} AS sum_value " +
      "FROM (SELECT event_type, value, ntile(10) OVER (PARTITION BY event_type " +
      "ORDER BY value, event_id) AS decile FROM events) a GROUP BY 1, 2"

  // ── ARGMAX via max_by (direct spelling) ────────────────────────────────
  // The reference's phase-2/3 argmax (query_3_phase_{2,3}.py) as the
  // single-aggregate spelling — no window, no join, one partial-merging
  // aggregate. Ties on value are broken by event_id through an INTEGER
  // composite ordering key (cents·10^10 + id): both engines' arg-max
  // functions pick arbitrarily on equal keys, so determinism must be
  // built into the key itself (a struct key would do it in Spark, but
  // DuckDB's arg_max only takes scalar sort keys). max_value is the
  // dequantized max of the SAME cents the key orders by, so top_event
  // always achieves max_value even for sub-cent inputs. Key bounds:
  // |value| < ~9.2·10^6 (cents·10^10 < 2^63) and event_id < 10^10 —
  // far beyond the domain; a wider domain would move to cents·2^20-style
  // packing or a two-pass argmax.
  def qArgmax(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val key = cents * lit(10000000000L) + col("event_id")
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(max_by(col("event_id"), key).as("top_event"),
        (max(cents) / 100.0).as("max_value"))
  }

  val qArgmaxSql: String =
    "SELECT event_type, arg_max(event_id, " +
      "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000000 + event_id" +
      ") AS top_event, " +
      "max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) / 100.0 AS max_value " +
      "FROM events GROUP BY 1"

  // ── Time-weighted average (TWAP) ───────────────────────────────────────
  // Each event's value holds until the next event of its type; the mean
  // weights each value by that holding duration — the finance/telemetry
  // aggregate a plain avg() misstates whenever sampling is irregular.
  // Arithmetic is integer end to end (cents × epoch-micros; products
  // bounded well under 2^63), so the weighted sums are exact on both
  // engines and only the final division is floating point. One shuffle
  // on event_type; the lead window and the aggregate share it.
  /** The TWAP core over any (event_type, event_id, ts, value) frame. */
  def twapByType(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    ev.select(col("event_type"), col("event_id"), col("ts"), cents.as("cents"))
      .withColumn("dur_us",
        lead(unix_micros(col("ts")), 1).over(byType) - unix_micros(col("ts")))
      .filter(col("dur_us").isNotNull) // the last event has no holding span
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_spans"),
        round((sum(col("cents") * col("dur_us")).cast("double") /
          sum(col("dur_us")) / 100.0), 6).as("twap_r"))
  }

  def qTwap(s: SparkSession, d: String): DataFrame =
    twapByType(Tables.events(s, d))

  val qTwapSql: String =
    "SELECT event_type, count(*) AS n_spans, " +
      "round(CAST(sum(cents * dur_us) AS DOUBLE) / sum(dur_us) / 100.0, 6) AS twap_r " +
      "FROM (SELECT event_type, " +
      "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, " +
      "lead(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) " +
      "- epoch_us(ts) AS dur_us FROM events) a " +
      "WHERE dur_us IS NOT NULL GROUP BY 1"

  // ── Rolling window over a RANGE frame ──────────────────────────────────
  // Per-user rolling 3-day revenue via RANGE BETWEEN 2 PRECEDING — the
  // value-based frame: a user with gap days aggregates only days within
  // the range, which a ROWS frame (always 3 physical rows) gets wrong.
  // Day totals ride as integer cents so the frame sums are exact on both
  // engines; the day index is an integer so RANGE semantics are identical.
  def qRollingRange(s: SparkSession, d: String): DataFrame = {
    // cents from the DECIMAL sum directly (×100 before any double cast):
    // a double×100 could land an ulp under the integer and truncate
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
      .withColumn("day_num",
        datediff(col("day"), lit("1970-01-01").cast("date")))
    val frame = Window.partitionBy(col("user_id")).orderBy(col("day_num"))
      .rangeBetween(-2, Window.currentRow)
    daily
      .withColumn("rolling_3d", sum(col("cents")).over(frame) / 100.0)
      .select(col("user_id"), col("day"), col("rolling_3d"))
  }

  val qRollingRangeSql: String =
    "SELECT user_id, day, sum(cents) OVER (PARTITION BY user_id ORDER BY day_num " +
      "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0 AS rolling_3d " +
      "FROM (SELECT user_id, date_trunc('day', ts) AS day, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents, " +
      "datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_num " +
      "FROM events GROUP BY 1, 2) a"

  // ── Robust outliers: median / MAD ──────────────────────────────────────
  // The robust twin of q_outliers' z-score: deviation from the per-type
  // MEDIAN in units of the median absolute deviation. Unlike mean/stddev,
  // both statistics are immune to the very outliers being hunted —
  // heavy-tailed values can't inflate the yardstick and mask each other.
  // Plan shape: two tiny per-type aggregates (exact interpolated
  // percentile — the same engine-portable spelling q_percentiles pins)
  // broadcast back onto the scan; the corpus itself never shuffles.
  // Both statistics are rounded to 6 decimals BEFORE use so a last-ulp
  // interpolation difference between engines cannot flip a comparison.
  private val MadK = 8

  def qMadOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    // medians via the rank-kernel percentile_cont (Relational
    // .kernelPercentileCont) — the percentile() aggregate buffers a whole
    // event_type's values in one task, the exact-quantile OOM at 100 TB
    val med = Relational.kernelPercentileCont(
        ev.select(col("event_type"), col("value")),
        "event_type", "value", Seq(0.5))
      .select(col("event_type"), round(col("pv"), 6).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = Relational.kernelPercentileCont(
        dev.select(col("event_type"), col("adev")),
        "event_type", "adev", Seq(0.5))
      .select(col("event_type"), round(col("pv"), 6).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .filter(col("adev") > lit(MadK) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("adev") / col("mad"), 6).as("mad_score"))
  }

  val qMadOutliersSql: String =
    "WITH med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med " +
      "FROM events GROUP BY 1), " +
      "dev AS (SELECT event_id, e.event_type, value, abs(value - med) AS adev " +
      "FROM events e JOIN med USING (event_type)), " +
      "mad AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad " +
      "FROM dev GROUP BY 1) " +
      "SELECT event_id, d.event_type, value, round(adev / mad, 6) AS mad_score " +
      s"FROM dev d JOIN mad USING (event_type) WHERE adev > $MadK * mad"

  // ── Cohort retention matrix ────────────────────────────────────────────
  // The product-analytics staple: group users by their FIRST activity day
  // (the cohort) and count how many are still active k weeks later. Two
  // shuffles, both on natural keys: the per-user min rides a window on
  // user_id, the matrix aggregation groups the (cohort, offset) grid —
  // whose size is days × weeks, tiny at any corpus scale. countDistinct
  // re-shuffles internally on (grid, user) first, so heavy cohorts can't
  // hot-spot a single reducer. The week offset is derived from integer
  // day arithmetic (floor(days/7)), not engine week-truncation, so both
  // engines bucket identically regardless of their ISO-week conventions.
  def qCohort(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      .withColumn("cohort_day", min(col("day")).over(byUser))
      .withColumn("week_offset",
        floor(datediff(col("day"), col("cohort_day")) / 7).cast("long"))
      .groupBy(col("cohort_day"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        Relational.dsum(col("value")).as("sum_value"))
  }

  val qCohortSql: String =
    "WITH f AS (SELECT user_id, CAST(ts AS DATE) AS day, value, " +
      "min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day " +
      "FROM events) " +
      "SELECT cohort_day, " +
      "CAST(floor(date_diff('day', cohort_day, day) / 7) AS BIGINT) AS week_offset, " +
      "count(DISTINCT user_id) AS n_users, count(*) AS n_events, " +
      s"${Relational.sqlDsum("value")} AS sum_value " +
      "FROM f GROUP BY 1, 2"

  // ── Mode (most frequent bucket) ────────────────────────────────────────
  // The builtin mode() picks arbitrarily among tied candidates on both
  // engines, so the reproducible spelling is count + rank with an
  // explicit tiebreak (highest count, then smallest bucket) — the same
  // determinism-by-construction rule as q_argmax. Values bucket to
  // decades so the mode is meaningful over a continuous measure.
  def qMode(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") / 10).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val best = Window.partitionBy(col("event_type"))
      .orderBy(col("cnt").desc, col("bucket").asc)
    counts.withColumn("rnk", row_number().over(best))
      .filter(col("rnk") === 1)
      .select(col("event_type"), col("bucket").as("mode_bucket"),
        col("cnt").as("mode_count"))
  }

  val qModeSql: String =
    "SELECT event_type, bucket AS mode_bucket, cnt AS mode_count " +
      "FROM (SELECT event_type, bucket, cnt, row_number() OVER " +
      "(PARTITION BY event_type ORDER BY cnt DESC, bucket) AS rnk " +
      "FROM (SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket, " +
      "count(*) AS cnt FROM events GROUP BY 1, 2) a) b WHERE rnk = 1"

  // ── Activity bitmap: a 64-bit day mask per user ────────────────────────
  // The bitmap-index trick: a user's whole activity calendar collapses to
  // ONE long (bit i = active on anchor+i), built by a bit_or aggregate —
  // set algebra on user activity (retention = AND, churn = ANDNOT)
  // becomes bitwise ops on 8 bytes instead of joins on day sets. The
  // anchor is the corpus min day (scalar broadcast); bit_count gives
  // active days back without re-expanding. One long covers a 64-day
  // horizon — the fixture's span; a longer calendar shards the mask by
  // (user, 64-day epoch) and the set algebra still works per shard.
  def qActivityBitmap(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"))
    val anchor = days.agg(min(col("day_num")).as("d0"))
    days.crossJoin(broadcast(anchor))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(day_num - d0 AS INT)))")
        .as("day_mask"))
      .select(col("user_id"), col("day_mask"),
        expr("CAST(bit_count(day_mask) AS BIGINT)").as("active_days"))
  }

  val qActivityBitmapSql: String =
    "WITH days AS (SELECT user_id, " +
      "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num FROM events), " +
      "anchor AS (SELECT min(day_num) AS d0 FROM days) " +
      "SELECT user_id, bit_or(CAST(1 AS BIGINT) << CAST(day_num - d0 AS INT)) AS day_mask, " +
      "CAST(bit_count(bit_or(CAST(1 AS BIGINT) << CAST(day_num - d0 AS INT))) AS BIGINT) " +
      "AS active_days FROM days, anchor GROUP BY 1"

  // ── Revenue concentration: Gini coefficient + Lorenz points ────────────
  // How concentrated is spend? The exact Gini over per-user revenue —
  // G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n with xᵢ ascending — is pure integer
  // algebra on cents and ranks until one final division, so both engines
  // agree to the bit. Alongside: the classic Lorenz readouts (top-10%
  // revenue share, minimum user count covering 80%). Rank, prefix sum
  // and total all come from the two-pass distributed rank kernel
  // (range-partition + per-partition rank + driver prefix offsets) — no
  // global single-task Window.orderBy even at 100× the user count.
  def qGini(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg((sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val ranked = graft.operators.DistributedRank.withRowNumber(
      per, Nil, Seq(col("cents").asc, col("user_id").asc),
      rankCol = "i", sumCol = Some("cents"),
      cumCol = Some("cum"), sumGroupCol = Some("tot"))
    ranked.groupBy()
      .agg(count(lit(1)).as("n_users"),
        sum(col("cents")).cast("long").as("total_cents"),
        sum(col("i") * col("cents")).cast("long").as("weighted"),
        // users from the TOP needed to cover 80%: n − |prefix below 20%|
        sum(when(col("cum").cast("double") < col("tot") * 0.2, 1L)
          .otherwise(0L)).as("n_below20"))
      .select(col("n_users"), col("total_cents"),
        round(lit(2.0) * col("weighted") /
          (col("n_users") * col("total_cents")) -
          (col("n_users") + 1.0) / col("n_users"), 6).as("gini"),
        (col("n_users") - col("n_below20")).as("n_users_80pct"))
  }

  val qGiniSql: String =
    "WITH per AS (SELECT user_id, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents " +
      "FROM events GROUP BY 1), " +
      "ranked AS (SELECT cents, " +
      "CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS i, " +
      "CAST(sum(cents) OVER (ORDER BY cents, user_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, " +
      "CAST(sum(cents) OVER () AS BIGINT) AS tot FROM per) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_users, " +
      "CAST(sum(cents) AS BIGINT) AS total_cents, " +
      "round(2.0 * CAST(sum(i * cents) AS BIGINT) / (count(*) * CAST(sum(cents) AS BIGINT)) " +
      "- (count(*) + 1.0) / count(*), 6) AS gini, " +
      "CAST(count(*) AS BIGINT) - CAST(sum(CASE WHEN CAST(cum AS DOUBLE) < tot * 0.2 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_users_80pct FROM ranked"

  // ── Daily new vs returning actives ─────────────────────────────────────
  // The DAU split every growth dashboard leads with: per day, actives
  // partitioned into first-ever-day users and returners. First day per
  // user is one key shuffle; the daily rollup joins it back on the user —
  // no windows over event rows.
  def qNewVsReturning(s: SparkSession, d: String): DataFrame = {
    val firstDay = Tables.events(s, d)
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("first_day"))
    val actives = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    actives.join(firstDay, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("n_returning"))
  }

  val qNewVsReturningSql: String =
    "WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1), " +
      "act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events) " +
      "SELECT day, count(*) AS n_active, " +
      "CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new, " +
      "CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning " +
      "FROM act JOIN fd USING (user_id) GROUP BY 1"

  // ── Cumulative distinct adoption (running COUNT DISTINCT) ──────────────
  // Daily new + cumulative distinct users — the adoption curve. Windowed
  // COUNT(DISTINCT) doesn't exist in either engine; the scalable spelling
  // reduces each user to their FIRST activity day (one shuffle on the
  // key), rolls those up to daily grain, and prefix-sums the day series —
  // which is calendar-sized, so the lone unpartitioned window is ~365
  // rows/year whatever the event volume.
  def qRunningDistinct(s: SparkSession, d: String): DataFrame = {
    val firstDay = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
  }

  val qRunningDistinctSql: String =
    "WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1), " +
      "daily AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1) " +
      "SELECT day, new_users, CAST(sum(new_users) OVER " +
      "(ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users FROM daily"

  // ── Gaps and islands: longest consecutive-day streak per user ──────────
  // The classic islands trick: within a user's DISTINCT activity days,
  // day_num − row_number() is constant across a consecutive run, so one
  // groupBy on that difference recovers each streak. Two shuffles total
  // (distinct + the user-partitioned window; the final per-user rollup
  // reuses the window's partitioning). Day index is an epoch-day integer
  // so both engines agree on arithmetic; no date interval math in the hot
  // path.
  def qStreaks(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_num"))
    days
      .withColumn("grp", col("day_num") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).cast("long").as("n_active_days"))
  }

  val qStreaksSql: String =
    "WITH days AS (SELECT DISTINCT user_id, " +
      "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num FROM events), " +
      "g AS (SELECT user_id, day_num, " +
      "day_num - row_number() OVER (PARTITION BY user_id ORDER BY day_num) AS grp FROM days), " +
      "st AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2) " +
      "SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks, " +
      "CAST(sum(len) AS BIGINT) AS n_active_days FROM st GROUP BY 1"

  // ── Markov transitions: event-type bigram counts + probabilities ───────
  // Per-user ordered event sequence → (from, to) pairs via lead, then one
  // aggregation; the transition probability is count/row-total computed as
  // a double division of two exact longs (IEEE-identical on both engines).
  // The output is |types|² rows — driver-tiny at any corpus size; the one
  // shuffle is the user-partitioned window, and the bigram aggregation is
  // partial-aggregated map-side.
  def qTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy(col("from_type"))
    pairs.withColumn("p",
      round(col("n").cast("double") / sum(col("n")).over(byFrom), 6))
  }

  val qTransitionsSql: String =
    "WITH nx AS (SELECT user_id, event_type AS from_type, " +
      "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type " +
      "FROM events), " +
      "c AS (SELECT from_type, to_type, count(*) AS n FROM nx " +
      "WHERE to_type IS NOT NULL GROUP BY 1, 2) " +
      "SELECT from_type, to_type, n, " +
      "round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p " +
      "FROM c"

  // ── Seasonal baseline: day-of-week revenue deviation ───────────────────
  // Daily revenue vs the mean for that day-of-week — the first stage of
  // any seasonality-aware anomaly detector. dow is epoch-day mod 7 (an
  // engine-independent integer; named-weekday functions disagree across
  // engines on week start). Daily sums ride as DECIMAL so the per-dow
  // window mean is order-independent; doubles appear only at the final
  // rounded division. One shuffle to daily grain (365 rows/year — the dow
  // window is driver-tiny thereafter at any fact volume).
  def qSeasonalDow(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .as("rev_d"))
      .withColumn("dow",
        pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(7)).cast("long"))
    val w = Window.partitionBy(col("dow"))
    daily
      .withColumn("baseline",
        round(sum(col("rev_d")).over(w).cast("double") / count(lit(1)).over(w), 6))
      .withColumn("rev", col("rev_d").cast("double"))
      .select(col("day"), col("dow"), col("rev"), col("baseline"),
        round(col("rev") - col("baseline"), 6).as("deviation"))
  }

  val qSeasonalDowSql: String =
    "WITH daily AS (SELECT CAST(ts AS DATE) AS day, " +
      "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow, " +
      "sum(CAST(value AS DECIMAL(18,2))) AS rev_d FROM events GROUP BY 1, 2), " +
      "b AS (SELECT day, dow, CAST(rev_d AS DOUBLE) AS rev, " +
      "round(CAST(sum(rev_d) OVER w AS DOUBLE) / (count(*) OVER w), 6) AS baseline " +
      "FROM daily WINDOW w AS (PARTITION BY dow)) " +
      "SELECT day, dow, rev, baseline, round(rev - baseline, 6) AS deviation FROM b"

  // ── Top session paths (navigation-flow analysis) ───────────────────────
  // What do sessions LOOK like? Each session's ordered event-type
  // sequence becomes a path string ("signup>click>purchase"), counted
  // and ranked — the product-analytics flow report. Builds on the same
  // session numbering as qSessionize (one user-partitioned window);
  // the path concat is an ordered collect WITHIN a group that already
  // lives on one partition, and long sessions cap at 8 steps (the
  // analyst's horizon) so path strings stay bounded at any session
  // length. Top-15 via TakeOrdered.
  def qSessionPaths(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val numbered = Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > GapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(running))
    val paths = numbered
      .groupBy(col("user_id"), col("session_no"))
      .agg(array_join(slice(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
        x => x.getField("event_type")), 1, 8), ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(15)
  }

  val qSessionPathsSql: String =
    "WITH flagged AS (SELECT user_id, event_id, ts, event_type, " +
      "CASE WHEN lag(ts) OVER w IS NULL OR " +
      s"epoch_us(ts) - epoch_us(lag(ts) OVER w) > ${GapMinutes * 60L * 1000000L} THEN 1 ELSE 0 END AS new_session " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "numbered AS (SELECT user_id, ts, event_id, event_type, " +
      "CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM flagged), " +
      "capped AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_no " +
      "ORDER BY ts, event_id) AS rn FROM numbered), " +
      "paths AS (SELECT user_id, session_no, " +
      "string_agg(event_type, '>' ORDER BY ts, event_id) AS path " +
      "FROM capped WHERE rn <= 8 GROUP BY 1, 2) " +
      "SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1 " +
      "ORDER BY n_sessions DESC, path LIMIT 15"

  // ── Audience overlap matrix (shared users across event types) ──────────
  // For every pair of event types: how many users do both? The audience
  // cross-tab behind every "viewers who also purchase" question. The
  // input reduces to DISTINCT (type, user) first (one shuffle, tiny
  // output: |types|·|users| max), and the pair join runs on that reduced
  // frame keyed by user — never on raw events. Jaccard rides along from
  // the per-type totals (broadcast).
  def qUserOverlap(s: SparkSession, d: String): DataFrame = {
    val tu = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
    val totals = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val a = tu.select(col("event_type").as("type_a"), col("user_id"))
    val b = tu.select(col("event_type").as("type_b"), col("user_id"))
    a.join(b, Seq("user_id")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(totals.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(totals.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
        round(col("n_both").cast("double") / (col("n_a") + col("n_b") - col("n_both")), 6)
          .as("jaccard"))
  }

  val qUserOverlapSql: String =
    "WITH tu AS (SELECT DISTINCT event_type, user_id FROM events), " +
      "t AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1), " +
      "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both " +
      "FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type " +
      "GROUP BY 1, 2) " +
      "SELECT type_a, type_b, n_both, ta.n AS n_a, tb.n AS n_b, " +
      "round(CAST(n_both AS DOUBLE) / (ta.n + tb.n - n_both), 6) AS jaccard " +
      "FROM p JOIN t ta ON type_a = ta.event_type JOIN t tb ON type_b = tb.event_type"

  // ── Out-of-order arrival audit (watermark tuning input) ────────────────
  // How late does this stream actually run? Per user, an event is late
  // if its event time is behind the running high-water mark of what
  // already ARRIVED (arrival order = event_id); lateness = hwm − ts.
  // This distribution is precisely what sizes every watermark delay in
  // the streaming module — set it below the observed p-max and you drop
  // real events. One user-partitioned window; integer micros throughout.
  def qOutOfOrder(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("hwm", max(col("us")).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("hwm") > col("us"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("hwm") > col("us"), col("hwm") - col("us")).otherwise(0L))
          .as("max_late_us"))
  }

  val qOutOfOrderSql: String =
    "WITH h AS (SELECT event_type, epoch_us(ts) AS us, " +
      "max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm FROM events) " +
      "SELECT event_type, count(*) AS n_events, " +
      "CAST(sum(CASE WHEN hwm > us THEN 1 ELSE 0 END) AS BIGINT) AS n_late, " +
      "max(CASE WHEN hwm > us THEN hwm - us ELSE 0 END) AS max_late_us " +
      "FROM h GROUP BY 1"

  // ── Windowed dedup / debounce (rate limiting) ──────────────────────────
  // Keep only the FIRST event per (user, type) within each 10-minute
  // tumbling bucket — the debounce every event collector applies to
  // repeated clicks/errors. One shuffle on the compound key; the
  // min-struct aggregate (not row_number) partial-aggregates, so each
  // map task ships one candidate per live bucket, not its whole slice.
  // Output: per type, the kept/dropped split — the rate-limiting report.
  def qWindowDedup(s: SparkSession, d: String): DataFrame = {
    // `div`: true integer division — `/` on longs is double division
    val kept = Tables.events(s, d)
      .withColumn("bkt", expr("unix_micros(ts) div 600000000"))
      .groupBy(col("user_id"), col("event_type"), col("bkt"))
      .agg(count(lit(1)).as("n_in_bucket"))
    kept.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"),
        (sum(col("n_in_bucket")).cast("long") - count(lit(1))).as("n_dropped"))
  }

  val qWindowDedupSql: String =
    "WITH b AS (SELECT user_id, event_type, epoch_us(ts) // 600000000 AS bkt, " +
      "count(*) AS n_in_bucket FROM events GROUP BY 1, 2, 3) " +
      "SELECT event_type, count(*) AS n_kept, " +
      "CAST(sum(n_in_bucket) AS BIGINT) - count(*) AS n_dropped " +
      "FROM b GROUP BY 1"

  // ── Bounded-heap top-k per group (partial-agg, no window sort) ─────────
  // Top-3 events per type through the SAME TopKAggregator the knn path
  // uses — proving the bounded heap is a general operator, not a vector
  // special case. Against the window spelling (row_number ≤ k), the
  // aggregator partial-aggregates: each map task ships at most k rows per
  // group to the shuffle instead of sorting the whole partition — the
  // difference between O(k·partitions) and O(corpus) through the
  // exchange at scale. The oracle IS the window spelling, so the
  // equivalence is hash-proven, not assumed.
  def qTopkHeapGroups(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(3))
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(topk(col("event_id"), col("value")).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "n")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rnk"),
        col("n.id").as("event_id"), col("n.sim").as("value"))
  }

  val qTopkHeapGroupsSql: String =
    "SELECT event_type, rnk, event_id, value FROM (" +
      "SELECT event_type, event_id, value, " +
      "CAST(row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) " +
      "AS BIGINT) AS rnk FROM events) r WHERE rnk <= 3"

  // ── RFM segmentation (recency / frequency / monetary quartiles) ────────
  // The marketing-analytics standard: per-user recency (latest activity),
  // frequency (event count), monetary (exact cents), each cut into
  // quartiles, concatenated into the 111–444 segment code. Each quartile
  // cut is an EXACT distributed rank (two-pass range-partitioned kernel)
  // plus the SQL-standard ntile-from-rank arithmetic — identical buckets
  // to an ntile window, but no single task ever holds the user table.
  // Quartile 1 = best (most recent / most frequent / highest spend);
  // user_id tiebreaks make every cut deterministic.
  def qRfm(s: SparkSession, d: String): DataFrame = {
    import graft.operators.DistributedRank.{ntileFromRank, withRowNumber}
    val per = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("r"),
        count(lit(1)).as("f"),
        (sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
          .cast("long").as("m"))
    val cut1 = withRowNumber(per, Nil,
      Seq(col("r").desc, col("user_id").asc), "rk_r", nGroupCol = Some("n_u"))
      .withColumn("r_q", ntileFromRank("rk_r", "n_u", 4))
      .drop("rk_r", "n_u")
    val cut2 = withRowNumber(cut1, Nil,
      Seq(col("f").desc, col("user_id").asc), "rk_f", nGroupCol = Some("n_u"))
      .withColumn("f_q", ntileFromRank("rk_f", "n_u", 4))
      .drop("rk_f", "n_u")
    val cut3 = withRowNumber(cut2, Nil,
      Seq(col("m").desc, col("user_id").asc), "rk_m", nGroupCol = Some("n_u"))
      .withColumn("m_q", ntileFromRank("rk_m", "n_u", 4))
    cut3.select(col("user_id"), col("r_q"), col("f_q"), col("m_q"))
      .withColumn("rfm_code", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
  }

  val qRfmSql: String =
    "WITH per AS (SELECT user_id, max(epoch_us(ts)) AS r, count(*) AS f, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS m " +
      "FROM events GROUP BY 1), " +
      "q AS (SELECT user_id, " +
      "CAST(ntile(4) OVER (ORDER BY r DESC, user_id) AS BIGINT) AS r_q, " +
      "CAST(ntile(4) OVER (ORDER BY f DESC, user_id) AS BIGINT) AS f_q, " +
      "CAST(ntile(4) OVER (ORDER BY m DESC, user_id) AS BIGINT) AS m_q FROM per) " +
      "SELECT user_id, r_q, f_q, m_q, r_q * 100 + f_q * 10 + m_q AS rfm_code FROM q"

  // ── Multi-touch attribution with exact penny allocation ────────────────
  // Linear attribution: every click within the hour before a purchase
  // shares its revenue equally — except "equally" in floats leaks or
  // mints money. The purchase amount rides as exact integer micro-units;
  // each touch takes floor(micros/n) and the LAST touch also takes the
  // remainder (largest-remainder penny allocation), so per-purchase
  // credits sum to the purchase EXACTLY and the per-day rollup is
  // integer arithmetic in any partition order. One interval join (the
  // q_stream_join shape) + one per-purchase window + one day rollup.
  def qAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
          1000000).cast("long").as("micros"))
    val touches = purchases.join(clicks,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 60 MINUTES"))
    val byPurchase = Window.partitionBy(col("purchase_id"))
    val lastFirst = byPurchase.orderBy(col("click_ts").desc, col("click_id").desc)
    touches
      .withColumn("n", count(lit(1)).over(byPurchase))
      .withColumn("rn", row_number().over(lastFirst))
      .withColumn("credit",
        // `div` is true integer division (no double round-trip)
        expr("micros div n") +
          when(col("rn") === 1, col("micros") % col("n")).otherwise(0L))
      .groupBy(to_date(col("click_ts")).as("day"))
      .agg(count(lit(1)).as("n_touches"),
        (sum(col("credit")).cast("double") / 1000000.0).as("attributed"))
  }

  val qAttributionSql: String =
    "WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id " +
      "FROM events WHERE event_type = 'click'), " +
      "p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, " +
      "CAST(CAST(value AS DECIMAL(18,2)) * 1000000 AS BIGINT) AS micros " +
      "FROM events WHERE event_type = 'purchase'), " +
      "t AS (SELECT p.purchase_id, p.micros, c.click_ts, c.click_id FROM p JOIN c " +
      "ON c.user_id = p.user_id AND c.click_ts <= p.purchase_ts " +
      "AND c.click_ts >= p.purchase_ts - INTERVAL 60 MINUTE), " +
      "w AS (SELECT click_ts, micros, " +
      "count(*) OVER (PARTITION BY purchase_id) AS n, " +
      "row_number() OVER (PARTITION BY purchase_id " +
      "ORDER BY click_ts DESC, click_id DESC) AS rn FROM t) " +
      "SELECT CAST(click_ts AS DATE) AS day, count(*) AS n_touches, " +
      "CAST(sum(micros // n + CASE WHEN rn = 1 THEN micros % n ELSE 0 END) AS DOUBLE) " +
      "/ 1000000.0 AS attributed " +
      "FROM w GROUP BY 1"
  // ── Kaplan–Meier survival curve over session durations ─────────────────
  // The survival-analysis staple: S(t) = Π_{u≤t} (n_u − d_u)/n_u over
  // whole-minute session durations, with RIGHT CENSORING for sessions
  // still open at the horizon (ending within the session gap of the
  // corpus max — they might have continued). Engine parity: risk sets
  // and death counts are exact integers; each factor's ln goes to
  // integer MICRO-NATS immediately (the lm_score discipline), the
  // cumulative sum is exact, and exp/round fire once per output row on
  // identically-reconstructed doubles. The two unpartitioned windows run
  // on the bounded duration GRID (≤ max-session-minutes rows at any
  // fact volume), never on sessions.
  def qKaplanMeier(s: SparkSession, d: String): DataFrame = {
    val horizon = Tables.events(s, d).agg(max(col("ts")).as("hz"))
    val durs = qSessionize(s, d).crossJoin(broadcast(horizon))
      .select(
        expr("(unix_micros(session_end) - unix_micros(session_start)) div 60000000")
          .cast("long").as("t"),
        when(unix_micros(col("session_end")) >
          unix_micros(col("hz")) - GapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L).as("cens"))
    val grid = durs.groupBy(col("t")).agg(
      count(lit(1)).as("m"), sum(lit(1L) - col("cens")).as("dd"))
    val tot = durs.agg(count(lit(1)).as("tot"))
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val f = grid.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("tot") - sum(col("m")).over(wAsc) + col("m"))
      .filter(col("dd") > 0)
      .withColumn("nats", when(col("n_risk") > col("dd"),
        round(log((col("n_risk") - col("dd")).cast("double") /
          col("n_risk").cast("double")) * 1e6, 0).cast("long"))
        .otherwise(0L))
    f.withColumn("cum", sum(col("nats")).over(wAsc))
      .select(col("t"), col("n_risk"), col("dd").as("d"),
        when(col("n_risk") === col("dd"), lit(0.0))
          .otherwise(round(exp(col("cum").cast("double") / 1e6), 6))
          .as("surv_r"))
  }

  val qKaplanMeierSql: String =
    s"WITH sess AS ($qSessionizeSql), " +
      "hz AS (SELECT max(ts) AS hz FROM events), " +
      "durs AS (SELECT (epoch_us(session_end) - epoch_us(session_start)) // 60000000 AS t, " +
      s"CASE WHEN epoch_us(session_end) > epoch_us(hz) - ${GapMinutes * 60L * 1000000L} " +
      "THEN 1 ELSE 0 END AS cens FROM sess, hz), " +
      "grid AS (SELECT t, CAST(count(*) AS BIGINT) AS m, " +
      "CAST(sum(1 - cens) AS BIGINT) AS dd FROM durs GROUP BY 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM durs), " +
      "wn AS (SELECT t, dd, tot - CAST(sum(m) OVER " +
      "(ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) + m AS n_risk FROM grid, tot), " +
      "f AS (SELECT t, n_risk, dd, CASE WHEN n_risk > dd THEN " +
      "CAST(round(ln(CAST(n_risk - dd AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e6, 0) AS BIGINT) " +
      "ELSE 0 END AS nats FROM wn WHERE dd > 0) " +
      "SELECT t, CAST(n_risk AS BIGINT) AS n_risk, dd AS d, " +
      "CASE WHEN n_risk = dd THEN 0.0 ELSE " +
      "round(exp(CAST(sum(nats) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e6), 6) " +
      "END AS surv_r FROM f"

  // ── Shannon entropy of the weekday mix per event type ──────────────────
  // The diversity companion to q_chi_square: how spread is each event
  // type over the week? H = −Σ p·ln p, kept exact until the last step:
  // per-cell ln(c/n) goes to integer micro-nats, the entropy numerator
  // is the INTEGER sum Σ c·nats (weighting by the integer count keeps
  // the aggregation order-independent), and one division + rounding
  // yields nats at 6dp. Cells are ≤ |types|×7 rows.
  def qEntropy(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("c"))
    val totals = cells.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    cells.join(broadcast(totals), Seq("event_type"))
      .withColumn("nats",
        round(log(col("c").cast("double") / col("n").cast("double")) * 1e6, 0)
          .cast("long"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        count(lit(1)).as("n_cells"),
        round(-sum(col("c") * col("nats")).cast("double") /
          (max(col("n")) * lit(1000000L)).cast("double"), 6).as("entropy_r"))
  }

  val qEntropySql: String =
    "WITH cells AS (SELECT event_type, " +
      "datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) % 7 AS dow, " +
      "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1), " +
      "w AS (SELECT cells.event_type, c, n, " +
      "CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) AS nats " +
      "FROM cells JOIN t ON cells.event_type = t.event_type) " +
      "SELECT event_type, max(n) AS n_events, CAST(count(*) AS BIGINT) AS n_cells, " +
      "round(-CAST(sum(c * nats) AS DOUBLE) / CAST(max(n) * 1000000 AS DOUBLE), 6) AS entropy_r " +
      "FROM w GROUP BY 1"

  // ── Inter-arrival gap histogram (traffic-shape diagnostic) ─────────────
  // Distribution of per-user gaps between consecutive events, bucketed to
  // whole minutes and capped — the arrival-process fingerprint that sizes
  // session-gap thresholds and watermark delays. One user-partitioned
  // window (the sessionize shuffle), integer micros end to end; the
  // histogram is ≤ cap+1 rows at any fact volume.
  private val GapCapMinutes = 240L

  def qInterarrival(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("gap_us",
        lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .filter(col("gap_us").isNotNull)
      .select(least(col("gap_us") / (60L * 1000000L), lit(GapCapMinutes))
        .cast("long").as("gap_min"))
      .groupBy(col("gap_min"))
      .agg(count(lit(1)).as("n_gaps"))
  }

  val qInterarrivalSql: String =
    "WITH g AS (SELECT lead(epoch_us(ts)) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) - epoch_us(ts) AS gap_us " +
      "FROM events) " +
      s"SELECT CAST(least(gap_us // 60000000, $GapCapMinutes) AS BIGINT) AS gap_min, " +
      "CAST(count(*) AS BIGINT) AS n_gaps " +
      "FROM g WHERE gap_us IS NOT NULL GROUP BY 1"

  // ── Population stability index (distribution drift) ────────────────────
  // The drift gate a training pipeline runs before refreshing a model:
  // value distributions of a baseline period vs the rest, PSI per fixed-
  // width bucket. Fixed edges (floor(value/10), capped) — quantile edges
  // would be float-boundary-fragile across engines; counts are integers,
  // and the lone ln runs on a ratio of exact integers in the same
  // operation order on both engines, rounded at 6dp. Cell counts are
  // ≤ 10 rows; both period totals broadcast onto them.
  private val PsiSplitDay = "2024-01-16"
  private val PsiBuckets = 10

  def qPsi(s: SparkSession, d: String): DataFrame = {
    val bucket = least(floor(col("value") / 10.0), lit(PsiBuckets - 1).cast("double"))
      .cast("long").as("bucket")
    val base = col("ts") < lit(PsiSplitDay).cast("timestamp")
    val cells = Tables.events(s, d)
      .select(bucket, when(base, 1L).otherwise(0L).as("is_base"))
      .groupBy(col("bucket"))
      .agg(sum(col("is_base")).as("n1"),
        sum(lit(1L) - col("is_base")).as("n2"))
      .filter(col("n1") > 0 && col("n2") > 0)
    val tot = cells.agg(sum(col("n1")).as("nn1"), sum(col("n2")).as("nn2"))
    // Canon.qround, NOT round(x, 6): a PSI term can be a tiny NEGATIVE
    // that round() turns into -0.0 ('-0' vs '0' under %.10g); the floor
    // spelling never produces -0.0 (r16 float-canon audit)
    cells.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n1"), col("n2"),
        Canon.qround((col("n2").cast("double") / col("nn2").cast("double") -
          col("n1").cast("double") / col("nn1").cast("double")) *
          log(col("n2").cast("double") * col("nn1").cast("double") /
            (col("n1").cast("double") * col("nn2").cast("double"))), 6)
          .as("psi_term_r"))
  }

  val qPsiSql: String =
    "WITH cells AS (SELECT " +
      s"CAST(least(floor(value / 10.0), ${PsiBuckets - 1}.0) AS BIGINT) AS bucket, " +
      s"CAST(sum(CASE WHEN ts < TIMESTAMP '$PsiSplitDay' THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
      s"CAST(sum(CASE WHEN ts < TIMESTAMP '$PsiSplitDay' THEN 0 ELSE 1 END) AS BIGINT) AS n2 " +
      "FROM events GROUP BY 1 HAVING n1 > 0 AND n2 > 0), " +
      "tot AS (SELECT CAST(sum(n1) AS BIGINT) AS nn1, CAST(sum(n2) AS BIGINT) AS nn2 FROM cells) " +
      "SELECT bucket, n1, n2, " +
      "floor((CAST(n2 AS DOUBLE) / CAST(nn2 AS DOUBLE) - CAST(n1 AS DOUBLE) / CAST(nn1 AS DOUBLE)) " +
      "* ln(CAST(n2 AS DOUBLE) * CAST(nn1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(nn2 AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS psi_term_r " +
      "FROM cells, tot"

  // ── Rolling 7-day distinct users (exact WAU) ───────────────────────────
  // Exact trailing-window distinct — the metric everyone first spells as
  // a windowed COUNT(DISTINCT) that no engine supports. Scale spelling:
  // each distinct (user, active-day) pair contributes to the 7 window-end
  // days it falls inside, so the explode is a bounded 7× of the DAILY
  // ACTIVE table (already deduplicated, calendar-bounded), never of the
  // fact table; one distinct-aggregate shuffle on (window-day, user)
  // finishes it. Windows truncated at the horizon are dropped via the
  // broadcast max-day bound.
  def qRollingDistinct(s: SparkSession, d: String): DataFrame = {
    val du = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val bounds = du.agg(max(col("day")).as("d1"))
    du.withColumn("wday", explode(expr("sequence(day, date_add(day, 6))")))
      .crossJoin(broadcast(bounds))
      .filter(col("wday") <= col("d1"))
      .groupBy(col("wday").as("day"))
      .agg(countDistinct(col("user_id")).as("wau7"))
  }

  val qRollingDistinctSql: String =
    "WITH du AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events), " +
      "b AS (SELECT max(day) AS d1 FROM du) " +
      "SELECT du.day + CAST(x.i AS INTEGER) AS day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau7 " +
      "FROM du, generate_series(0, 6) AS x(i), b " +
      "WHERE du.day + CAST(x.i AS INTEGER) <= b.d1 GROUP BY 1"

  // ── Chi-squared test of independence (event_type × day-of-week) ────────
  // The categorical companion to the Welch/Mann–Whitney readouts: is
  // event mix independent of weekday? One scan builds the contingency
  // cells; row totals, column totals, and N are cell-table aggregates
  // (≤ |types|×7 rows) broadcast back onto the cells, so the fact table
  // shuffles once regardless of scale. Day-of-week is the epoch-day
  // residue mod 7 (pure integer arithmetic — named-weekday functions
  // diverge across engines). Expected counts and per-cell contributions
  // ((O−E)²/E) are computed double-for-double in the same operation
  // order on both engines and rounded at 6dp; the chi² statistic is the
  // contribution sum, left to the caller/spec so the registered result
  // keeps the full per-cell hash surface.
  def qChiSquare(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("obs"))
    val rowT = cells.groupBy(col("event_type")).agg(sum(col("obs")).as("rt"))
    val colT = cells.groupBy(col("dow")).agg(sum(col("obs")).as("ct"))
    val tot = cells.agg(sum(col("obs")).as("n"))
    val expE = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    cells.join(broadcast(rowT), Seq("event_type"))
      .join(broadcast(colT), Seq("dow"))
      .crossJoin(broadcast(tot))
      .withColumn("exp", expE)
      .select(col("event_type"), col("dow"), col("obs"),
        round(col("exp"), 6).as("exp_r"),
        round((col("obs").cast("double") - col("exp")) *
          (col("obs").cast("double") - col("exp")) / col("exp"), 6)
          .as("contrib_r"))
  }

  val qChiSquareSql: String =
    "WITH cells AS (SELECT event_type, " +
      "datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) % 7 AS dow, " +
      "CAST(count(*) AS BIGINT) AS obs FROM events GROUP BY 1, 2), " +
      "rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rt FROM cells GROUP BY 1), " +
      "ct AS (SELECT dow, CAST(sum(obs) AS BIGINT) AS ct FROM cells GROUP BY 1), " +
      "n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells) " +
      "SELECT cells.event_type, cells.dow, obs, " +
      "round(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS exp_r, " +
      "round((CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) " +
      "* (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) " +
      "/ (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS contrib_r " +
      "FROM cells, rt x, ct y, n WHERE cells.event_type = x.event_type AND cells.dow = y.dow"

  // Experiment readout per event_type: users are deterministically
  // bucketed into two arms by the salted md5 assignment hash (the same
  // engine-portable Md5Bits used by the sampling family — assignment
  // reproduces everywhere, including in the oracle), then one single-pass
  // aggregate collects both arms' exact decimal moments and the Welch
  // t-statistic assembles from them in doubles. No second scan, no
  // per-arm shuffle: conditional aggregation is the scale spelling of
  // "group by arm then pivot". Builtin stddev/avg would stream in floats
  // (order-dependent); decimal sums are exact and order-independent.
  def qAbTest(s: SparkSession, d: String): DataFrame = {
    val v = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val arm = graft.functions.Md5Bits.hash60(
      concat(lit("ab:"), col("user_id"))) % 2
    val a0 = arm === 0
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        sum(when(a0, 1L).otherwise(0L)).as("n0"),
        sum(when(!a0, 1L).otherwise(0L)).as("n1"),
        sum(when(a0, v)).cast("double").as("s0"),
        sum(when(!a0, v)).cast("double").as("s1"),
        sum(when(a0, v * v)).cast("double").as("q0"),
        sum(when(!a0, v * v)).cast("double").as("q1"))
      .filter(col("n0") > 1 && col("n1") > 1)
      .withColumn("var0",
        (col("n0") * col("q0") - col("s0") * col("s0")) / (col("n0") * (col("n0") - 1)))
      .withColumn("var1",
        (col("n1") * col("q1") - col("s1") * col("s1")) / (col("n1") * (col("n1") - 1)))
      .filter(col("var0") / col("n0") + col("var1") / col("n1") > 0.0)
      .select(col("event_type"), col("n0"), col("n1"),
        round(col("s0") / col("n0"), 6).as("mean0"),
        round(col("s1") / col("n1"), 6).as("mean1"),
        round((col("s1") / col("n1") - col("s0") / col("n0")) /
          sqrt(col("var0") / col("n0") + col("var1") / col("n1")), 6).as("welch_t"))
  }

  // ── CUPED variance-reduced experiment readout ──────────────────────────
  // Deng et al., "Improving the Sensitivity of Online Controlled
  // Experiments by Utilizing Pre-Experiment Data" (WSDM'13): adjust each
  // user's experiment-period metric Y by their PRE-period metric X,
  // Yadj = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) — same means, smaller
  // variance, faster experiments. Everything is exact integer moments
  // (cents; cross-multiplied covariance/variance numerators in
  // DECIMAL(38,0) / HUGEINT — Σx·y overflows BIGINT at real scale) until
  // the final double divisions, written with IDENTICAL operation order
  // in both engines so the rounded report agrees bit-for-bit. One
  // per-user rollup shuffle + a single-row global broadcast (Q11/Q15
  // discipline); arms are the salted-md5 assignment q_ab_test proved.
  private val CupedSplit = "2024-01-16"

  def qCuped(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val pre = col("ts") < lit(CupedSplit).cast("timestamp")
    val arm = graft.functions.Md5Bits.hash60(
      concat(lit("cuped:"), col("user_id"))) % 2
    val perUser = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(when(pre, cents).otherwise(0L)).as("x"),
        sum(when(!pre, cents).otherwise(0L)).as("y"))
      .select(col("x"), col("y"), arm.as("arm"))
    val d38 = DecimalType(38, 0)
    val g = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast(d38) * col("x")).as("sxx"),
      sum(col("x").cast(d38) * col("y")).as("sxy"))
    val byArm = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sx_v"), sum(col("y")).as("sy_v"))
    val theta = (col("n").cast(d38) * col("sxy") -
      col("sx").cast(d38) * col("sy")).cast("double") /
      (col("n").cast(d38) * col("sxx") -
        col("sx").cast(d38) * col("sx")).cast("double")
    val xbar = col("sx").cast("double") / col("n")
    val ybarV = col("sy_v").cast("double") / col("n_users")
    val xbarV = col("sx_v").cast("double") / col("n_users")
    byArm.crossJoin(broadcast(g))
      .select(col("arm"), col("n_users"),
        round(theta, 6).as("theta_r"),
        round(ybarV, 4).as("mean_y_cents_r"),
        round(ybarV - theta * (xbarV - xbar), 4).as("mean_y_adj_cents_r"))
      .orderBy(col("arm"))
  }

  val qCupedSql: String = {
    val arm = graft.functions.Md5Bits.sqlHash60(
      "'cuped:' || CAST(user_id AS VARCHAR)") + " % 2"
    val cents = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    s"WITH pu AS (SELECT user_id, " +
      s"CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplit' THEN $cents ELSE 0 END) AS BIGINT) AS x, " +
      s"CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplit' THEN 0 ELSE $cents END) AS BIGINT) AS y " +
      "FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
      s"pa AS (SELECT x, y, $arm AS arm FROM pu), " +
      "g AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
      "sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy " +
      "FROM pa), " +
      "va AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users, " +
      "CAST(sum(x) AS BIGINT) AS sx_v, CAST(sum(y) AS BIGINT) AS sy_v " +
      "FROM pa GROUP BY 1) " +
      "SELECT arm, n_users, " +
      "round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) " +
      "/ CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6) AS theta_r, " +
      "round(CAST(sy_v AS DOUBLE) / n_users, 4) AS mean_y_cents_r, " +
      "round(CAST(sy_v AS DOUBLE) / n_users - " +
      "(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) " +
      "/ CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) * " +
      "(CAST(sx_v AS DOUBLE) / n_users - CAST(sx AS DOUBLE) / n), 4) " +
      "AS mean_y_adj_cents_r " +
      "FROM va, g ORDER BY arm"
  }

  val qAbTestSql: String = {
    val arm = graft.functions.Md5Bits.sqlHash60("'ab:' || CAST(user_id AS VARCHAR)") + " % 2"
    val v = "CAST(value AS DECIMAL(18,2))"
    "SELECT event_type, n0, n1, round(s0 / n0, 6) AS mean0, round(s1 / n1, 6) AS mean1, " +
      "round((s1 / n1 - s0 / n0) / sqrt(var0 / n0 + var1 / n1), 6) AS welch_t " +
      "FROM (SELECT *, (n0 * q0 - s0 * s0) / (n0 * (n0 - 1)) AS var0, " +
      "(n1 * q1 - s1 * s1) / (n1 * (n1 - 1)) AS var1 " +
      s"FROM (SELECT event_type, " +
      s"CAST(sum(CASE WHEN $arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
      s"CAST(sum(CASE WHEN $arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
      s"CAST(sum(CASE WHEN $arm = 0 THEN $v END) AS DOUBLE) AS s0, " +
      s"CAST(sum(CASE WHEN $arm <> 0 THEN $v END) AS DOUBLE) AS s1, " +
      s"CAST(sum(CASE WHEN $arm = 0 THEN $v * $v END) AS DOUBLE) AS q0, " +
      s"CAST(sum(CASE WHEN $arm <> 0 THEN $v * $v END) AS DOUBLE) AS q1 " +
      "FROM events GROUP BY 1) a WHERE n0 > 1 AND n1 > 1) b " +
      "WHERE var0 / n0 + var1 / n1 > 0"
  }

  // ── EWMA: exact dyadic exponential smoothing (α = 1/2, depth 10) ───────
  // Per-user exponentially weighted value at their latest event. With a
  // dyadic α and a fixed depth the weighted sum is INTEGER arithmetic on
  // cents (weights 2⁹…2⁰ over the last 10 events, normalized by 2¹⁰ −
  // 2^(10−available)), so both engines agree bit-for-bit — a float
  // recurrence would be order-sensitive and engine-divergent. One
  // user-partitioned window serves the 9 lags, the row count, and the
  // is-last probe; doubles appear only at the final rounded division.
  def qEwma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withCents = Tables.events(s, d)
      .withColumn("cents",
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long"))
    val weighted = (1 to 9).map(k =>
        coalesce(lag(col("cents"), k).over(w), lit(0L)) * lit(1L << (9 - k)))
      .foldLeft(col("cents") * lit(512L))(_ + _)
    withCents
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("nxt", lead(col("event_id"), 1).over(w))
      .withColumn("wsum", weighted)
      .filter(col("nxt").isNull)
      .select(col("user_id"), col("rn").as("n_events"),
        round(col("wsum").cast("double") /
          ((lit(1024L) - pow(lit(2), lit(10L) - least(col("rn"), lit(10L))).cast("long")) *
            100L).cast("double"), 6).as("ewma10"))
  }

  val qEwmaSql: String = {
    val wsum = (1 to 9).map(k => s"COALESCE(lag(cents, $k) OVER w, 0) * ${1L << (9 - k)}")
      .mkString("cents * 512 + ", " + ", "")
    "WITH c AS (SELECT user_id, ts, event_id, " +
      "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events), " +
      s"l AS (SELECT user_id, row_number() OVER w AS rn, " +
      s"lead(event_id) OVER w AS nxt, $wsum AS wsum " +
      "FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
      "SELECT user_id, CAST(rn AS BIGINT) AS n_events, " +
      "round(CAST(wsum AS DOUBLE) / CAST((1024 - CAST(pow(2, 10 - least(rn, 10)) AS BIGINT)) * 100 AS DOUBLE), 6) AS ewma10 " +
      "FROM l WHERE nxt IS NULL"
  }

  // ── Holt-Winters (additive triple exponential smoothing) backtest ──────
  // The model upgrade over q_forecast_eval's seasonal-naive: level +
  // trend + 7-slot seasonal state, walked forward over the day-grain
  // revenue series with one-step-ahead forecasts scored against the
  // actuals, reported next to the seasonal-naive MAE (skill = 1 −
  // MAE_hw/MAE_naive — negative means the model loses to the baseline,
  // which the fixture's structureless 30-day series legitimately shows).
  // Dyadic smoothing (α=1/2, β=1/4, γ=1/2) with FLOOR-DIV integer state
  // on cents — the qEwma discipline taken to a full recurrence: no float
  // ever enters the state, so both engines replay the walk bit-for-bit
  // (floor division is spelled portably as (a − ((a%d)+d)%d)/d; Spark
  // pmod and DuckDB % disagree on negatives, and level/trend/seasonal
  // all go negative). The sequential fold runs as ONE Catalyst
  // `aggregate` HOF over the collected |days| array — the documented
  // bounded-frame discipline (the day series is calendar-sized no matter
  // the fact volume; the daily rollup itself is a distributed shuffle).
  // Init: l₀ = floor-mean of week 1, b₀ = 0, s_j = c_j − l₀; forecasts
  // start at day 8. Day indexes are the 2024-01-01 epoch (non-negative,
  // continuous — qDecompose's anchoring); the oracle replays the walk as
  // a recursive CTE carrying the 7 seasonal slots as columns.
  def qHoltWinters(s: SparkSession, d: String): DataFrame = {
    def fdiv(a: Column, dd: Long): Column =
      ((a - pmod(a, lit(dd))) / lit(dd)).cast("long")
    val daily = Tables.events(s, d)
      .groupBy(datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
        .cast("long").as("x"))
      .agg(sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("c"))
    val naive = daily
      .join(daily.select((col("x") + 7L).as("x"), col("c").as("pc")), Seq("x"))
      .agg(count(lit(1)).as("n_naive"),
        sum(abs(col("c") - col("pc"))).as("sum_naive"))
    val folded = daily
      .agg(sort_array(collect_list(struct(col("x"), col("c")))).as("arr"))
      .select(col("arr"), slice(col("arr"), 1, 7).as("h7"))
      .select(col("arr"), col("h7"),
        fdiv(aggregate(col("h7"), lit(0L), (a, e) => a + e.getField("c")), 7L)
          .as("l0"))
      .select(col("arr"), col("l0"),
        transform(col("h7"), e => e.getField("c") - col("l0")).as("sin"))
      .select(aggregate(
        slice(col("arr"), lit(8), greatest(size(col("arr")) - 7, lit(0))),
        struct(col("l0").as("l"), lit(0L).as("b"), col("sin").as("s"),
          lit(0L).as("sabs"), lit(0L).as("n")),
        (acc, e) => {
          val ix = pmod(e.getField("x"), lit(7L)).cast("int")
          val sold = element_at(acc.getField("s"), ix + 1)
          val fc = acc.getField("l") + acc.getField("b") + sold
          val lnew = fdiv(e.getField("c") - sold +
            acc.getField("l") + acc.getField("b"), 2L)
          val bnew = fdiv(lnew - acc.getField("l") +
            lit(3L) * acc.getField("b"), 4L)
          val snew = fdiv(e.getField("c") - lnew + sold, 2L)
          struct(lnew.as("l"), bnew.as("b"),
            transform(acc.getField("s"),
              (v, i) => when(i === ix, snew).otherwise(v)).as("s"),
            (acc.getField("sabs") + abs(e.getField("c") - fc)).as("sabs"),
            (acc.getField("n") + 1L).as("n"))
        }).as("st"))
    folded.crossJoin(broadcast(naive))
      .select(col("st.n").as("n_days"),
        round(col("st.sabs").cast("double") / col("st.n"), 6)
          .as("mae_hw_cents_r"),
        round(col("sum_naive").cast("double") / col("n_naive"), 6)
          .as("mae_naive_cents_r"),
        round(lit(1.0) -
          (col("st.sabs").cast("double") / col("st.n")) /
            (col("sum_naive").cast("double") / col("n_naive")), 6)
          .as("skill_r"))
  }

  val qHoltWintersSql: String = {
    def fd(a: String, dd: Int) = s"((($a) - ((($a) % $dd) + $dd) % $dd) // $dd)"
    // ((x % 7) + 7) % 7, not raw %: DuckDB % is negative for day indexes
    // before the 2024-01-01 epoch, which would match no WHEN and poison
    // the recursive state with NULLs (Spark-side pmod is always >= 0)
    val sold = "CASE ((d.x % 7) + 7) % 7 " +
      (0 until 7).map(j => s"WHEN $j THEN r.s$j").mkString(" ") + " END"
    // helper layers (sold → lnew → bnew/snew) so each sub-expression is
    // spelled once; the recursive member may reference `rec` only once,
    // which the innermost derived table does
    val recInner =
      s"SELECT w2.*, ${fd("c - lnew + sold", 2)} AS snew, " +
        s"${fd("lnew - l + 3 * b", 4)} AS bnew FROM (" +
        s"SELECT w1.*, ${fd("c - sold + l + b", 2)} AS lnew FROM (" +
        "SELECT r.nxt, r.l, r.b, r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6, " +
        s"r.sabs, r.n, d.c, ((d.x % 7) + 7) % 7 AS ix, $sold AS sold " +
        "FROM rec r JOIN dr d ON d.rn = r.nxt + 1) w1) w2"
    val supd = (0 until 7)
      .map(j => s"CASE WHEN ix = $j THEN snew ELSE s$j END").mkString(", ")
    "WITH RECURSIVE daily AS (" +
      "SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x, " +
      "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c " +
      "FROM events GROUP BY 1), " +
      "dr AS (SELECT x, c, row_number() OVER (ORDER BY x) AS rn FROM daily), " +
      s"l0t AS (SELECT ${fd("sum(c)", 7)} AS l0 FROM dr WHERE rn <= 7), " +
      "init AS (SELECT CAST(7 AS BIGINT) AS nxt, l0 AS l, CAST(0 AS BIGINT) AS b, " +
      (0 until 7).map(j => s"(SELECT c FROM dr WHERE rn = ${j + 1}) - l0 AS s$j")
        .mkString(", ") + ", " +
      "CAST(0 AS BIGINT) AS sabs, CAST(0 AS BIGINT) AS n FROM l0t), " +
      "rec AS (SELECT * FROM init UNION ALL " +
      s"SELECT nxt + 1, lnew, bnew, $supd, " +
      "sabs + abs(c - (l + b + sold)), n + 1 " +
      s"FROM ($recInner) z), " +
      "hw AS (SELECT sabs, n FROM rec ORDER BY nxt DESC LIMIT 1), " +
      "nv AS (SELECT CAST(count(*) AS BIGINT) AS n_naive, " +
      "CAST(sum(abs(a.c - f.c)) AS BIGINT) AS sum_naive " +
      "FROM daily a JOIN daily f ON f.x = a.x - 7) " +
      "SELECT n AS n_days, round(CAST(sabs AS DOUBLE) / n, 6) AS mae_hw_cents_r, " +
      "round(CAST(sum_naive AS DOUBLE) / n_naive, 6) AS mae_naive_cents_r, " +
      "round(1.0 - (CAST(sabs AS DOUBLE) / n) / " +
      "(CAST(sum_naive AS DOUBLE) / n_naive), 6) AS skill_r " +
      "FROM hw, nv"
  }

  // ── Interval concurrency: peak simultaneous sessions per day ───────────
  // Sweep-line over session endpoints (+1 start / −1 end), but partitioned
  // by DAY rather than one global ordered pass: a global running sum needs
  // a single-partition window (the classic sweep-line scale-killer). Here
  // each day sweeps independently and sessions that span midnight
  // contribute a per-day carry-in, generated by exploding each spanning
  // session's crossed boundaries (a 30-min-gap session spans at most a
  // handful of days, so the explode is bounded). Ties at one instant
  // release ends before starts (delta sorts ascending), so back-to-back
  // sessions never double-count. Peak = carry + max(0, running) — the
  // max(0,·) covers the initial segment of a day where only ends occur.
  def qConcurrency(s: SparkSession, d: String): DataFrame = {
    val sess = qSessionize(s, d)
      .select(col("user_id"), col("session_no"),
        col("session_start").as("st"), col("session_end").as("en"))
    val endpoints = sess.select(to_date(col("st")).as("day"), col("st").as("ts"),
        lit(1L).as("delta"), col("user_id"), col("session_no"))
      .unionAll(sess.select(to_date(col("en")).as("day"), col("en").as("ts"),
        lit(-1L).as("delta"), col("user_id"), col("session_no")))
    val carry = sess
      .filter(to_date(col("en")) > to_date(col("st")))
      .select(explode(sequence(date_add(to_date(col("st")), 1), to_date(col("en"))))
        .as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("ts"), col("delta"), col("user_id"), col("session_no"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    endpoints
      .withColumn("run", sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(max(col("run")).as("peak_in_day"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("starts"))
      .join(carry, Seq("day"), "full_outer")
      .select(col("day"),
        (coalesce(col("c"), lit(0L)) +
          greatest(lit(0L), coalesce(col("peak_in_day"), lit(0L)))).as("peak"),
        coalesce(col("starts"), lit(0L)).as("n_starts"))
  }

  val qConcurrencySql: String =
    s"WITH sess AS (SELECT user_id, session_no, session_start AS st, session_end AS en " +
      s"FROM ($qSessionizeSql) z), " +
      "ep AS (SELECT CAST(st AS DATE) AS day, st AS ts, 1 AS delta, user_id, session_no FROM sess " +
      "UNION ALL SELECT CAST(en AS DATE), en, -1, user_id, session_no FROM sess), " +
      "runs AS (SELECT day, delta, CAST(sum(delta) OVER (PARTITION BY day " +
      "ORDER BY ts, delta, user_id, session_no ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM ep), " +
      "agg AS (SELECT day, max(run) AS peak_in_day, " +
      "CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS starts FROM runs GROUP BY 1), " +
      "carry AS (SELECT CAST(g AS DATE) AS day, count(*) AS c FROM " +
      "(SELECT unnest(generate_series(CAST(st AS DATE) + 1, CAST(en AS DATE), INTERVAL 1 DAY)) AS g " +
      "FROM sess WHERE CAST(en AS DATE) > CAST(st AS DATE)) u GROUP BY 1) " +
      "SELECT COALESCE(agg.day, carry.day) AS day, " +
      "CAST(COALESCE(c, 0) + GREATEST(0, COALESCE(peak_in_day, 0)) AS BIGINT) AS peak, " +
      "CAST(COALESCE(starts, 0) AS BIGINT) AS n_starts " +
      "FROM agg FULL OUTER JOIN carry ON agg.day = carry.day"

  // ── Distribution position: percent_rank + cume_dist per type ───────────
  // Where each event's value sits within its type's distribution — the
  // normalized-score building block (feature scaling, percentile
  // flagging). The ordering carries event_id as a tiebreak so every row
  // has a unique rank — which also means percent_rank ≡ (rn−1)/(n−1)
  // and cume_dist ≡ rn/n, pure arithmetic on the distributed rank. A
  // window PARTITION BY event_type would funnel the fact table through
  // ~|types| tasks; the two-pass kernel spreads the same total order
  // over all range partitions. Same IEEE double division as the window
  // functions, so the rounded values match bit-for-bit.
  def qValueRanks(s: SparkSession, d: String): DataFrame = {
    import graft.operators.DistributedRank.withRowNumber
    val slim = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    withRowNumber(slim, Seq("event_type"),
      Seq(col("value").asc, col("event_id").asc), "rk", nGroupCol = Some("n_g"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(when(col("n_g") === 1L, lit(0.0))
          .otherwise((col("rk") - 1L).cast("double") / (col("n_g") - 1L)), 6).as("pr"),
        round(col("rk").cast("double") / col("n_g"), 6).as("cd"))
  }

  val qValueRanksSql: String =
    "SELECT event_id, event_type, value, " +
      "round(percent_rank() OVER w, 6) AS pr, " +
      "round(cume_dist() OVER w, 6) AS cd " +
      "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)"

  // ── Theil–Sen robust trend: median of pairwise slopes ──────────────────
  // The estimator survives up to ~29% outlier days where OLS (q_regression)
  // breaks down. Two stages: (1) aggregate to DAY grain — one key shuffle,
  // and the point set stays ~365/year PER GROUP at any fact volume, which
  // is what makes stage (2) safe at 100 TB; (2) all-pairs slopes WITHIN
  // each group (bounded quadratic on the day grain, the same per-group-
  // bounded expansion as the market-basket pairs) and an exact interpolated
  // median via `percentile`. Sums ride as DECIMAL so both engines hand the
  // division identical doubles.
  def qTheilSen(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("x"))
      .agg(sum(col("value").cast(DecimalType(18, 6))).cast("double").as("y"))
    val a = daily.select(col("event_type"), col("x").as("x1"), col("y").as("y1"))
    val b = daily.select(col("event_type"), col("x").as("x2"), col("y").as("y2"))
    a.join(b, Seq("event_type"))
      .filter(col("x2") > col("x1"))
      .select(col("event_type"),
        ((col("y2") - col("y1")) / (col("x2") - col("x1"))).as("slope"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("ts_slope"))
  }

  val qTheilSenSql: String =
    "WITH daily AS (SELECT event_type, " +
      "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x, " +
      "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y " +
      "FROM events GROUP BY 1, 2), " +
      "p AS (SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS slope " +
      "FROM daily a JOIN daily b ON a.event_type = b.event_type AND b.x > a.x) " +
      "SELECT event_type, count(*) AS n_pairs, " +
      "round(quantile_cont(slope, 0.5), 6) AS ts_slope FROM p GROUP BY 1"

  // ── Kendall rank correlation (tau-a) between daily volume and value ────
  // "Do busier days bring more revenue?" answered on RANKS — concordant
  // minus discordant day pairs, so the statistic is integer-exact until
  // the single final division (no floating-point accumulation anywhere).
  // Same day-grain-then-bounded-pairs shape as Theil–Sen.
  def qKendall(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("x"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 6))).as("y"))
    val a = daily.select(col("event_type"), col("x").as("x1"),
      col("cnt").as("c1"), col("y").as("y1"))
    val b = daily.select(col("event_type"), col("x").as("x2"),
      col("cnt").as("c2"), col("y").as("y2"))
    val sgn = signum(col("c2") - col("c1")) * signum(col("y2") - col("y1"))
    a.join(b, Seq("event_type"))
      .filter(col("x2") > col("x1"))
      .groupBy(col("event_type"))
      .agg(sum(when(sgn > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(sgn < 0, 1L).otherwise(0L)).as("discordant"),
        count(lit(1)).as("n_pairs"))
      .select(col("event_type"), col("concordant"), col("discordant"),
        col("n_pairs"),
        round((col("concordant") - col("discordant")).cast("double") /
          col("n_pairs"), 6).as("tau"))
  }

  val qKendallSql: String =
    "WITH daily AS (SELECT event_type, " +
      "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x, " +
      "count(*) AS cnt, sum(CAST(value AS DECIMAL(18,6))) AS y " +
      "FROM events GROUP BY 1, 2), " +
      "p AS (SELECT a.event_type, " +
      "sign(b.cnt - a.cnt) * sign(b.y - a.y) AS s " +
      "FROM daily a JOIN daily b ON a.event_type = b.event_type AND b.x > a.x) " +
      "SELECT event_type, " +
      "CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant, " +
      "CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant, " +
      "count(*) AS n_pairs, " +
      "round(CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) - " +
      "sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS tau " +
      "FROM p GROUP BY 1"

  // ── Difference-in-differences experiment readout ───────────────────────
  // The observational companion to q_ab_test/q_cuped: treatment = odd
  // user_id, intervention at 2024-01-16; the DiD estimate subtracts the
  // control group's pre→post drift from the treatment group's. ONE
  // aggregation pass — the four cell means are conditional sums, so the
  // plan is a single partial-aggregated shuffle per event_type regardless
  // of fact volume; sums ride as DECIMAL, means become doubles only at
  // the final division.
  def qDid(s: SparkSession, d: String): DataFrame = {
    val v = col("value").cast(DecimalType(18, 6))
    val treat = col("user_id") % 2 === 1
    val post = to_date(col("ts")) >= to_date(lit("2024-01-16"))
    def cell(p: Column, c: Column): (Column, Column) =
      (sum(when(p, c).otherwise(lit(null))).cast("double"),
        sum(when(p, 1L).otherwise(0L)))
    val (st1, nt1) = cell(treat && post, v)
    val (st0, nt0) = cell(treat && !post, v)
    val (sc1, nc1) = cell(!treat && post, v)
    val (sc0, nc0) = cell(!treat && !post, v)
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(st1.as("st1"), nt1.as("nt1"), st0.as("st0"), nt0.as("nt0"),
        sc1.as("sc1"), nc1.as("nc1"), sc0.as("sc0"), nc0.as("nc0"))
      .select(col("event_type"),
        col("nt1"), col("nt0"), col("nc1"), col("nc0"),
        round(col("st1") / col("nt1") - col("st0") / col("nt0"), 6)
          .as("treat_delta"),
        round(col("sc1") / col("nc1") - col("sc0") / col("nc0"), 6)
          .as("control_delta"),
        round((col("st1") / col("nt1") - col("st0") / col("nt0")) -
          (col("sc1") / col("nc1") - col("sc0") / col("nc0")), 6).as("did"))
  }

  val qDidSql: String = {
    def cellS(p: String) =
      s"CAST(sum(CASE WHEN $p THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)"
    def cellN(p: String) = s"CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT)"
    val t = "user_id % 2 = 1"
    val p = "CAST(ts AS DATE) >= DATE '2024-01-16'"
    "SELECT event_type, nt1, nt0, nc1, nc0, " +
      "round(st1 / nt1 - st0 / nt0, 6) AS treat_delta, " +
      "round(sc1 / nc1 - sc0 / nc0, 6) AS control_delta, " +
      "round((st1 / nt1 - st0 / nt0) - (sc1 / nc1 - sc0 / nc0), 6) AS did " +
      "FROM (SELECT event_type, " +
      s"${cellS(s"$t AND $p")} AS st1, ${cellN(s"$t AND $p")} AS nt1, " +
      s"${cellS(s"$t AND NOT ($p)")} AS st0, ${cellN(s"$t AND NOT ($p)")} AS nt0, " +
      s"${cellS(s"NOT ($t) AND $p")} AS sc1, ${cellN(s"NOT ($t) AND $p")} AS nc1, " +
      s"${cellS(s"NOT ($t) AND NOT ($p)")} AS sc0, ${cellN(s"NOT ($t) AND NOT ($p)")} AS nc0 " +
      "FROM events GROUP BY 1) cells"
  }

  // ── Mutual information between event type and day-of-week ──────────────
  // The feature-selection staple: how much knowing the weekday tells you
  // about the event mix, MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))). One shuffle
  // to the |types|×7 contingency table; marginals broadcast back onto the
  // cells. Each cell's log-ratio is quantized to integer micro-nats
  // BEFORE the final sum (the q_entropy discipline), so no floating-point
  // accumulation order can flip the hash on either engine.
  def qMutualInfo(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("c"))
    val mx = cells.groupBy(col("event_type")).agg(sum(col("c")).as("cx"))
    val my = cells.groupBy(col("dow")).agg(sum(col("c")).as("cy"))
    val n = cells.agg(sum(col("c")).as("n"))
    cells.join(broadcast(mx), Seq("event_type"))
      .join(broadcast(my), Seq("dow"))
      .crossJoin(broadcast(n))
      .withColumn("lnq",
        round(log((col("c") * col("n")).cast("double") /
          (col("cx") * col("cy")).cast("double")) * 1e6, 0).cast("long"))
      .agg(max(col("n")).as("n_events"), count(lit(1)).as("n_cells"),
        sum(col("c") * col("lnq")).as("mi_micro"))
      .select(col("n_events"), col("n_cells"),
        round(col("mi_micro").cast("double") /
          (col("n_events").cast("double") * 1e6), 6).as("mi_nats"))
  }

  val qMutualInfoSql: String =
    "WITH cells AS (SELECT event_type, " +
      "datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) % 7 AS dow, " +
      "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
      "mx AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1), " +
      "my AS (SELECT dow, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1), " +
      "t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells), " +
      "w AS (SELECT c, n, CAST(round(ln(CAST(c * n AS DOUBLE) / " +
      "CAST(cx * cy AS DOUBLE)) * 1e6, 0) AS BIGINT) AS lnq " +
      "FROM cells JOIN mx USING (event_type) JOIN my USING (dow) CROSS JOIN t) " +
      "SELECT max(n) AS n_events, count(*) AS n_cells, " +
      "round(CAST(CAST(sum(c * lnq) AS BIGINT) AS DOUBLE) / " +
      "(CAST(max(n) AS DOUBLE) * 1e6), 6) AS mi_nats FROM w"

  // ── Rolling 7-day regression slope per event type ──────────────────────
  // Trend detection with a bounded RANGE frame: for every day, the OLS
  // slope of daily revenue over the trailing week. The window runs on the
  // DAY-grain frame (≤366 rows/year per type at any fact volume — the
  // same "aggregate first, window the small frame" shape as q_seasonal_
  // dow), and every windowed sum is INTEGER (cents / day indexes), so
  // the slope's inputs are exact on both engines; doubles appear only at
  // the final division.
  def qRollingSlope(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("x"))
      .agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
        .as("y_c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y_c")).over(w))
      .withColumn("sxy", sum(col("x") * col("y_c")).over(w))
      .withColumn("sx2", sum(col("x") * col("x")).over(w))
      .withColumn("vx", col("n") * col("sx2") - col("sx") * col("sx"))
      .filter(col("n") > 1 && col("vx") > 0L)
      .select(col("event_type"), col("x").as("day"), col("n").as("n_days"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          col("vx").cast("double"), 6).as("slope_cents"))
  }

  val qRollingSlopeSql: String =
    "WITH daily AS (SELECT event_type, " +
      "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x, " +
      "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y_c " +
      "FROM events GROUP BY 1, 2), " +
      "w AS (SELECT event_type, x, " +
      "count(*) OVER win AS n, " +
      "CAST(sum(x) OVER win AS BIGINT) AS sx, " +
      "CAST(sum(y_c) OVER win AS BIGINT) AS sy, " +
      "CAST(sum(x * y_c) OVER win AS BIGINT) AS sxy, " +
      "CAST(sum(x * x) OVER win AS BIGINT) AS sx2 " +
      "FROM daily WINDOW win AS (PARTITION BY event_type ORDER BY x " +
      "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) " +
      "SELECT event_type, x AS day, n AS n_days, " +
      "round(CAST(n * sxy - sx * sy AS DOUBLE) / " +
      "CAST(n * sx2 - sx * sx AS DOUBLE), 6) AS slope_cents " +
      "FROM w WHERE n > 1 AND n * sx2 - sx * sx > 0"

  // ── Two-sample Kolmogorov–Smirnov statistic ────────────────────────────
  // Are click values and purchase values drawn from the same distribution?
  // D = max |F₁(v) − F₂(v)| computed EXACTLY: values quantize to integer
  // cents (their native grid), per-cent counts aggregate in one shuffle,
  // and the sup runs over the cross-multiplied integer |n₂·cum₁ −
  // n₁·cum₂| so no float CDF accumulates. The lone unpartitioned window
  // orders the per-cent count table — bounded by the value grid (≤49 k
  // rows at ANY fact volume), the same bounded-series discipline as
  // q_drawdown/q_changepoint.
  def qKsTest(s: SparkSession, d: String): DataFrame = {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val counts = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(cents.as("cents"), col("event_type"))
      .groupBy(col("cents"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
    val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .crossJoin(broadcast(tot))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("n2") * col("cum1") - col("n1") * col("cum2")))
          .as("d_num"))
      .select(col("n1"), col("n2"),
        round(col("d_num").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")), 6)
          .as("d_stat"))
  }

  val qKsTestSql: String =
    "WITH counts AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, " +
      "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
      "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2 " +
      "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1), " +
      "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM counts), " +
      "cum AS (SELECT cents, " +
      "CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS cum1, " +
      "CAST(sum(c2) OVER (ORDER BY cents) AS BIGINT) AS cum2 FROM counts) " +
      "SELECT max(n1) AS n1, max(n2) AS n2, " +
      "round(CAST(max(abs(n2 * cum1 - n1 * cum2)) AS DOUBLE) / " +
      "(CAST(max(n1) AS DOUBLE) * CAST(max(n2) AS DOUBLE)), 6) AS d_stat " +
      "FROM cum CROSS JOIN t"

  // ── Burstiness of per-user event arrivals ──────────────────────────────
  // Goh & Barabási burstiness B = (σ−μ)/(σ+μ) of the inter-arrival gaps
  // (B→−1 periodic, 0 Poisson, →+1 bursty) per event type. Gaps are
  // integer microseconds from a per-(user, type) lag window (fine-grained
  // partitions, scale-safe); moments accumulate as exact integers —
  // Σgap² rides DECIMAL(38,0), micro-gaps square past BIGINT — and the
  // n-scaled identity B = (√(nΣg²−(Σg)²) − Σg)/(√(nΣg²−(Σg)²) + Σg)
  // feeds both engines the same exact integers into one sqrt.
  def qBurstiness(s: SparkSession, d: String): DataFrame = {
    val byUserType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, d)
      .withColumn("gap",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUserType))
      .filter(col("gap").isNotNull)
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("gap")).as("sg"),
        sum(col("gap").cast(DecimalType(38, 0)) * col("gap")).as("sg2"))
      .filter(col("n") > 1 && col("sg") > 0L)
      .select(col("event_type"), col("n"),
        round((sqrt((col("n") * col("sg2") - col("sg").cast(DecimalType(38, 0))
          * col("sg")).cast("double")) - col("sg").cast("double")) /
          (sqrt((col("n") * col("sg2") - col("sg").cast(DecimalType(38, 0))
            * col("sg")).cast("double")) + col("sg").cast("double")), 6)
          .as("burstiness"))
  }

  val qBurstinessSql: String =
    "WITH gaps AS (SELECT event_type, " +
      "epoch_us(ts) - lag(epoch_us(ts)) OVER " +
      "(PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap " +
      "FROM events), " +
      "m AS (SELECT event_type, count(*) AS n, " +
      "CAST(sum(gap) AS BIGINT) AS sg, " +
      "sum(CAST(gap AS DECIMAL(38,0)) * gap) AS sg2 " +
      "FROM gaps WHERE gap IS NOT NULL GROUP BY 1) " +
      "SELECT event_type, n, " +
      "round((sqrt(CAST(n * sg2 - CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE)) - " +
      "CAST(sg AS DOUBLE)) / " +
      "(sqrt(CAST(n * sg2 - CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE)) + " +
      "CAST(sg AS DOUBLE)), 6) AS burstiness " +
      "FROM m WHERE n > 1 AND sg > 0"

  // ── Quantile normalization (cross-group distribution alignment) ────────
  // The ML-preprocessing transform that forces every group's metric onto
  // the POOLED distribution: a row at within-group relative rank q takes
  // the pooled quantile at q (linear interpolation) — after it, every
  // event type's value distribution is identical, only the ordering
  // differs. Ranks come from the DistributedRank kernel on BOTH levels
  // (per-type and pooled global) — no Window node anywhere, so neither
  // the ~|types| fan-in nor the single global partition ever exists. The
  // interpolation index is exact integer arithmetic — lo = 1 +
  // (rk−1)(N−1) div (n−1), frac = the mod — and the two pooled-value
  // probes are equi-joins on the unique pooled rank. Registered result:
  // per-type moments of the normalized metric (micro-quantized sums, the
  // q_entropy discipline), which pin every interpolated value.
  def qQuantileNorm(s: SparkSession, d: String): DataFrame = {
    val slim = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"))
    val ranked = graft.operators.DistributedRank.withRowNumber(
      slim, Seq("event_type"),
      Seq(col("value").asc, col("event_id").asc), "rk",
      nGroupCol = Some("n"))
    val pooled = graft.operators.DistributedRank.withRowNumber(
      slim.select(col("value"), col("event_id")), Seq.empty,
      Seq(col("value").asc, col("event_id").asc), "p")
      .select(col("p"), col("value").as("pv"))
    val nTot = slim.agg(count(lit(1)).as("nn"))
    val j = ranked.filter(col("n") > 1)
      .crossJoin(broadcast(nTot))
      .select(col("event_type"), col("n"),
        // DIV, not `/`: long / long is DOUBLE division in Spark, and a
        // 1-ulp-low quotient would truncate to the wrong pooled index
        expr("1L + ((rk - 1L) * (nn - 1L)) DIV (n - 1L)").as("lo"),
        pmod((col("rk") - 1L) * (col("nn") - 1L), col("n") - 1L).as("fn"))
    val v = j
      .join(pooled.select(col("p").as("lo"), col("pv").as("vlo")), Seq("lo"))
      .join(pooled.select((col("p") - 1L).as("lo"), col("pv").as("vhi")),
        Seq("lo"), "left")
      .select(col("event_type"),
        round((col("vlo") + (coalesce(col("vhi"), col("vlo")) - col("vlo")) *
          col("fn") / (col("n") - 1L)) * 1e6, 0).cast("long").as("um"))
    v.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("um")).cast("double") / 1e6, 2).as("sum_norm"),
        round(min(col("um")).cast("double") / 1e6, 6).as("min_norm"),
        round(max(col("um")).cast("double") / 1e6, 6).as("max_norm"))
  }

  val qQuantileNormSql: String =
    "WITH s AS (SELECT event_type, value, event_id FROM events), " +
      "r AS (SELECT event_type, value, event_id, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk, " +
      "count(*) OVER (PARTITION BY event_type) AS n FROM s), " +
      "p AS (SELECT value AS pv, " +
      "row_number() OVER (ORDER BY value, event_id) AS p FROM s), " +
      "t AS (SELECT count(*) AS nn FROM s), " +
      "j AS (SELECT event_type, n, " +
      "1 + (rk - 1) * (nn - 1) // (n - 1) AS lo, " +
      "(rk - 1) * (nn - 1) % (n - 1) AS fn " +
      "FROM r CROSS JOIN t WHERE n > 1), " +
      "v AS (SELECT j.event_type, CAST(round((plo.pv + " +
      "(coalesce(phi.pv, plo.pv) - plo.pv) * fn / (j.n - 1)) * 1e6, 0) AS BIGINT) AS um " +
      "FROM j JOIN p plo ON plo.p = j.lo " +
      "LEFT JOIN p phi ON phi.p = j.lo + 1) " +
      "SELECT event_type, count(*) AS n_rows, " +
      "round(CAST(sum(um) AS DOUBLE) / 1e6, 2) AS sum_norm, " +
      "round(CAST(min(um) AS DOUBLE) / 1e6, 6) AS min_norm, " +
      "round(CAST(max(um) AS DOUBLE) / 1e6, 6) AS max_norm " +
      "FROM v GROUP BY 1"

  // ── Seasonal-trend decomposition (STL-lite) ────────────────────────────
  // Classical additive decomposition of the daily revenue series:
  // trend = centered 7-day moving average (RANGE frame on the integer
  // day index, so calendar gaps cannot shift the window), seasonal =
  // per-day-of-week mean of the detrended series, residual = the rest.
  // All three components stay exact integers until ONE final division
  // each: detrended×7 = 7c − Σ7 (interior days only, where the full
  // window exists), seasonal numerator = Σ_dow detrended×7 over n_dow
  // days, residual numerator = detrended×7·n_dow − Σ_dow. Windows run on
  // the |days|-row day-grain frame AFTER the partial aggregate — the
  // rolling-slope discipline — never on event rows.
  def qDecompose(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val daily = Tables.events(s, d)
      .groupBy(datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
        .cast("long").as("x"))
      .agg(sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("c"))
    val w7 = W.orderBy(col("x")).rangeBetween(-3, 3)
    val trended = daily
      .withColumn("s7", sum(col("c")).over(w7))
      .withColumn("n7", count(lit(1)).over(w7))
      .filter(col("n7") === 7)
      .withColumn("det7", col("c") * 7 - col("s7"))
      .withColumn("dow", pmod(col("x"), lit(7)))
    val seasonal = trended.groupBy(col("dow"))
      .agg(sum(col("det7")).as("sdet"), count(lit(1)).as("ndow"))
    trended.join(seasonal, Seq("dow"))
      .select(col("x"), col("c"),
        round(col("s7").cast("double") / 700.0, 6).as("trend_r"),
        round(col("sdet").cast("double") / (col("ndow") * 700.0), 6)
          .as("seasonal_r"),
        round((col("det7") * col("ndow") - col("sdet")).cast("double") /
          (col("ndow") * 700.0), 6).as("resid_r"))
  }

  val qDecomposeSql: String =
    "WITH daily AS (SELECT CAST(date_diff('day', DATE '2024-01-01', " +
      "CAST(ts AS DATE)) AS BIGINT) AS x, " +
      "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c " +
      "FROM events GROUP BY 1), " +
      "t AS (SELECT x, c, " +
      "CAST(sum(c) OVER (ORDER BY x RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7, " +
      "CAST(count(*) OVER (ORDER BY x RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS n7 " +
      "FROM daily), " +
      // ((x%7)+7)%7, not x%7: Spark's pmod is non-negative while DuckDB %
      // keeps the sign, so the two diverge for days before the 2024-01-01
      // epoch — this spelling is pmod on both engines
      "i AS (SELECT x, c, s7, c * 7 - s7 AS det7, ((x % 7) + 7) % 7 AS dow FROM t WHERE n7 = 7), " +
      "se AS (SELECT dow, CAST(sum(det7) AS BIGINT) AS sdet, " +
      "CAST(count(*) AS BIGINT) AS ndow FROM i GROUP BY 1) " +
      "SELECT x, c, round(CAST(s7 AS DOUBLE) / 700.0, 6) AS trend_r, " +
      "round(CAST(sdet AS DOUBLE) / (ndow * 700.0), 6) AS seasonal_r, " +
      "round(CAST(det7 * ndow - sdet AS DOUBLE) / (ndow * 700.0), 6) AS resid_r " +
      "FROM i JOIN se USING (dow)"

  // ── Conversion latency (as-of attribution + kernel percentiles) ────────
  // "How long after the last click does a purchase land?" — each purchase
  // takes its user's LATEST prior click within one hour (the proven
  // backward as-of join with tolerance: nearest-prior semantics make
  // "within tolerance" exact, since any other prior click is older), and
  // the matched lags reduce to the conversion report: counts, rate, and
  // p50/p90/max latency in whole seconds. Percentiles ride the
  // DistributedRank kernel (rank filter, no value buffering); the lag
  // stays exact integers (µs difference, one integer division to
  // seconds). The oracle replays DuckDB's native ASOF join + the same
  // rank formula.
  def qConversionLag(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        col("ts").as("click_at"))
    val joined = graft.operators.AsOfJoin.asofDirected(
      purchases, clicks, Seq("user_id"), "p_ts", "c_ts",
      payload = Seq("click_at"), direction = "backward",
      toleranceSec = Some(3600L), inner = false)
    val lags = joined.select(col("event_id"),
      when(col("click_at").isNotNull,
        expr("(unix_micros(p_ts) - unix_micros(click_at)) div 1000000"))
        .as("lag_s"))
      .localCheckpoint(true) // consumed by the census AND the rank pass
    val conv = lags.filter(col("lag_s").isNotNull)
    val ranked = graft.operators.DistributedRank.withRowNumber(
      conv.withColumn("gk", lit(0)), Seq("gk"),
      Seq(col("lag_s").asc, col("event_id").asc), "rk",
      nGroupCol = Some("n_g"))
    val pcts = ranked
      .select(col("lag_s"), col("rk"), col("n_g"),
        explode(array(lit(50), lit(90))).as("p"))
      .filter(col("rk") === expr("(p * n_g + 99) div 100"))
      .groupBy()
      .agg(max(when(col("p") === 50, col("lag_s"))).as("p50_lag_s"),
        max(when(col("p") === 90, col("lag_s"))).as("p90_lag_s"))
    val census = lags.agg(count(lit(1)).as("n_purchases"),
      sum(when(col("lag_s").isNotNull, 1L).otherwise(0L)).as("n_converted"),
      max(col("lag_s")).as("max_lag_s"))
    census.crossJoin(broadcast(pcts))
      .select(col("n_purchases"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_purchases"), 6)
          .as("conv_rate_r"),
        col("p50_lag_s"), col("p90_lag_s"), col("max_lag_s"))
  }

  val qConversionLagSql: String =
    "WITH p AS (SELECT user_id, ts AS p_ts, event_id FROM events " +
      "WHERE event_type = 'purchase'), " +
      "c AS (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'), " +
      "m AS (SELECT p.event_id, " +
      "CASE WHEN c.c_ts IS NOT NULL AND " +
      "epoch_us(p.p_ts) - epoch_us(c.c_ts) <= CAST(3600000000 AS BIGINT) " +
      "THEN (epoch_us(p.p_ts) - epoch_us(c.c_ts)) // 1000000 END AS lag_s " +
      "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.p_ts >= c.c_ts), " +
      "conv AS (SELECT event_id, lag_s FROM m WHERE lag_s IS NOT NULL), " +
      "r AS (SELECT lag_s, CAST(row_number() OVER (ORDER BY lag_s, event_id) AS BIGINT) AS rk, " +
      "CAST(count(*) OVER () AS BIGINT) AS n_g FROM conv), " +
      "pc AS (SELECT max(CASE WHEN p = 50 THEN lag_s END) AS p50_lag_s, " +
      "max(CASE WHEN p = 90 THEN lag_s END) AS p90_lag_s " +
      "FROM r CROSS JOIN (SELECT unnest([50, 90]) AS p) q " +
      "WHERE rk = (p * n_g + 99) // 100), " +
      "cs AS (SELECT count(*) AS n_purchases, " +
      "CAST(sum(CASE WHEN lag_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted, " +
      "max(lag_s) AS max_lag_s FROM m) " +
      "SELECT n_purchases, n_converted, " +
      "round(CAST(n_converted AS DOUBLE) / n_purchases, 6) AS conv_rate_r, " +
      "p50_lag_s, p90_lag_s, max_lag_s FROM cs, pc"

  // ── Sequential pattern support (A-then-later-B) ────────────────────────

  /** Ordered-pair sequence mining: for every ordered event-type pair
    * (a, b), the number of users with an `a` event STRICTLY before some
    * `b` event — the gap-tolerant "did A then eventually B" support that
    * q_transitions' adjacent bigrams cannot see. The fact stream reduces
    * to one (user, type, min_ts, max_ts) row per pair — |users|·|types|
    * rows, orders of magnitude below the event count — and the pair
    * expansion self-joins THAT reduction per user (≤ |types|² rows each),
    * so no event-level pairwise stage exists at any scale. */
  def qSeqPatterns(s: SparkSession, d: String): DataFrame = {
    val spans = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val a = spans.select(col("user_id"), col("event_type").as("from_type"),
      col("first_ts"))
    val b = spans.select(col("user_id"), col("event_type").as("to_type"),
      col("last_ts"))
    a.join(b, Seq("user_id"))
      .filter(col("from_type") =!= col("to_type") &&
        col("first_ts") < col("last_ts"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_users"))
  }

  val qSeqPatternsSql: String =
    "WITH s AS (SELECT user_id, event_type, min(ts) AS first_ts, " +
      "max(ts) AS last_ts FROM events GROUP BY 1, 2) " +
      "SELECT a.event_type AS from_type, b.event_type AS to_type, " +
      "count(*) AS n_users FROM s a JOIN s b ON a.user_id = b.user_id " +
      "AND a.event_type <> b.event_type AND a.first_ts < b.last_ts " +
      "GROUP BY 1, 2"

  // ── Markov-chain attribution with removal effects ──────────────────────
  // The data-driven attribution model (Anderl et al. 2016) that replaces
  // last-click: user journeys become a first-order Markov chain over
  // channel states (START → view/click/signup/error → CONV|NULL; a
  // converter's journey is everything strictly before their first
  // purchase, a non-converter's is everything), and each channel's
  // credit is its REMOVAL EFFECT — how much the START→CONV absorption
  // probability drops when that channel's transitions redirect to NULL.
  // Exactness: the transition matrix is exact integer counts off one
  // per-user window pass; the absorption solve is 24 Jacobi iterations
  // in ppm fixed point (num = cnt·p sums, ONE truncating division by the
  // unchanged row total per state per round), run on the driver over the
  // BOUNDED 6-state matrix (collected like PCA's d×d Gram — state count,
  // not data, bounds it) and replayed CTE-for-CTE by the oracle for all
  // five variants (full + 4 removals). Counts are BIGINT-safe to ~9·10¹²
  // journeys per state.
  private val AttrChannels = Seq("view", "click", "signup", "error")
  private val AttrIters = 24

  def qAttributionMarkov(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
    val j = ev.join(firstP, Seq("user_id"), "left")
      .filter(col("event_type") =!= "purchase" &&
        (col("fp").isNull || struct(col("ts"), col("event_id")) < col("fp")))
    val w = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq = j.select(col("user_id"), col("event_type").as("st"),
      row_number().over(w).as("rn"),
      lead(col("event_type"), 1).over(w).as("nxt"), col("fp"))
    val mid = seq.select(col("st"), coalesce(col("nxt"),
      when(col("fp").isNotNull, lit("CONV")).otherwise(lit("NULL"))).as("nx"))
    val firstCh = seq.filter(col("rn") === 1)
      .select(lit("START").as("st"), col("st").as("nx"))
    val emptyConv = firstP
      .join(seq.select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
      .select(lit("START").as("st"), lit("CONV").as("nx"))
    val cnt = mid.unionAll(firstCh).unionAll(emptyConv)
      .groupBy(col("st"), col("nx")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap.withDefaultValue(0L)
    val states = "START" +: AttrChannels
    val total = states.map(st =>
      st -> cnt.collect { case ((a, _), v) if a == st => v }.sum).toMap
    def solve(removed: Option[String]): Long = {
      var p = states.map(_ -> 0L).toMap
      for (_ <- 1 to AttrIters)
        p = states.map { st =>
          val tot = total(st)
          st -> (if (tot == 0L) 0L
          else {
            val acc = AttrChannels.filterNot(removed.contains)
              .map(c => cnt((st, c)) * p(c)).sum
            (cnt((st, "CONV")) * 1000000L + acc) / tot
          })
        }.toMap
      p("START")
    }
    val pFull = solve(None)
    val removals = AttrChannels.map(c => (c, solve(Some(c))))
    val totRem = removals.map { case (_, pr) => pFull - pr }.sum
    def tdiv(x: Long, k: Long): Long = if (x < 0) -((-x) / k) else x / k
    import s.implicits._
    removals.map { case (c, pr) =>
      val rem = pFull - pr
      (c, pFull, pr, rem,
        if (totRem == 0L) null
        else long2Long(tdiv(rem * 1000000L, totRem)))
    }.toDF("channel", "p_full_ppm", "p_removed_ppm", "removal_ppm",
      "share_ppm")
      .select(col("channel"), col("p_full_ppm"), col("p_removed_ppm"),
        col("removal_ppm"), col("share_ppm").cast("long"))
  }

  val qAttributionMarkovSql: String = {
    val chans = AttrChannels
    def steps(v: String, removed: Option[String]): String = {
      val excl = ("'CONV'" :: "'NULL'" ::
        removed.map(c => s"'$c'").toList).mkString(", ")
      (1 to AttrIters).map { t =>
        val prev = if (t == 1) s"p${v}0" else s"p$v${t - 1}"
        s"p$v$t AS MATERIALIZED (SELECT s.st, " +
          "CASE WHEN s.tot = 0 THEN CAST(0 AS HUGEINT) " +
          "ELSE (s.c6 + COALESCE(x.acc, 0)) // s.tot END AS p " +
          "FROM stot s LEFT JOIN (SELECT tr.st, SUM(tr.cnt * p.p) AS acc " +
          s"FROM tr JOIN $prev p ON p.st = tr.nx " +
          s"WHERE tr.nx NOT IN ($excl) GROUP BY tr.st) x ON x.st = s.st)"
      }.mkString(", ")
    }
    val variants = ("full", None) +: chans.map(c => (s"rm_$c", Some(c)))
    "WITH fp AS MATERIALIZED (SELECT user_id, min(ROW(ts, event_id)) AS f " +
      "FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
      "j AS MATERIALIZED (SELECT e.user_id, e.ts, e.event_id, " +
      "e.event_type AS st, f.f IS NOT NULL AS conv FROM events e " +
      "LEFT JOIN fp f ON f.user_id = e.user_id " +
      "WHERE e.event_type <> 'purchase' " +
      "AND (f.f IS NULL OR ROW(e.ts, e.event_id) < f.f)), " +
      "sq AS MATERIALIZED (SELECT st, conv, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, " +
      "lead(st) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt " +
      "FROM j), " +
      "tr AS MATERIALIZED (SELECT st, nx, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM (SELECT st, COALESCE(nxt, CASE WHEN conv THEN 'CONV' " +
      "ELSE 'NULL' END) AS nx FROM sq " +
      "UNION ALL SELECT 'START', st FROM sq WHERE rn = 1 " +
      "UNION ALL SELECT 'START', 'CONV' FROM fp WHERE user_id NOT IN " +
      "(SELECT DISTINCT user_id FROM j)) z GROUP BY 1, 2), " +
      "stot AS MATERIALIZED (SELECT st, SUM(cnt) AS tot, " +
      "CAST(1000000 AS HUGEINT) * " +
      "COALESCE(SUM(CASE WHEN nx = 'CONV' THEN cnt END), 0) AS c6 " +
      "FROM tr GROUP BY 1), " +
      variants.map { case (v, _) =>
        s"p${v}0 AS (SELECT st, CAST(0 AS HUGEINT) AS p FROM stot)"
      }.mkString(", ") + ", " +
      variants.map { case (v, r) => steps(v, r) }.mkString(", ") + ", " +
      variants.map { case (v, _) =>
        s"s$v AS (SELECT p FROM p$v$AttrIters WHERE st = 'START')"
      }.mkString(", ") + ", " +
      "rems AS MATERIALIZED (" +
      chans.map(c =>
        s"SELECT '$c' AS channel, sfull.p AS pf, srm_$c.p AS pr " +
          s"FROM sfull, srm_$c").mkString(" UNION ALL ") + "), " +
      "trem AS (SELECT SUM(pf - pr) AS t FROM rems) " +
      "SELECT channel, CAST(pf AS BIGINT) AS p_full_ppm, " +
      "CAST(pr AS BIGINT) AS p_removed_ppm, " +
      "CAST(pf - pr AS BIGINT) AS removal_ppm, " +
      "CAST(CASE WHEN t = 0 THEN NULL WHEN pf - pr < 0 " +
      "THEN -(((pr - pf) * 1000000) // t) " +
      "ELSE ((pf - pr) * 1000000) // t END AS BIGINT) AS share_ppm " +
      "FROM rems, trem"
  }

  val queries: Seq[(String, Query)] = Seq(
    "q_attribution_markov" -> Query(qAttributionMarkov, qAttributionMarkovSql),
    "q_seq_patterns"       -> Query(qSeqPatterns, qSeqPatternsSql),
    "q_conversion_lag"     -> Query(qConversionLag, qConversionLagSql),
    "q_decompose"          -> Query(qDecompose, qDecomposeSql),
    "q_quantile_norm"      -> Query(qQuantileNorm, qQuantileNormSql),
    "q_ks_test"            -> Query(qKsTest, qKsTestSql),
    "q_burstiness"         -> Query(qBurstiness, qBurstinessSql),
    "q_mutual_info"        -> Query(qMutualInfo, qMutualInfoSql),
    "q_rolling_slope"      -> Query(qRollingSlope, qRollingSlopeSql),
    "q_theil_sen"          -> Query(qTheilSen, qTheilSenSql),
    "q_kendall"            -> Query(qKendall, qKendallSql),
    "q_did"                -> Query(qDid, qDidSql),
    "q_streaks"            -> Query(qStreaks, qStreaksSql),
    "q_running_distinct"   -> Query(qRunningDistinct, qRunningDistinctSql),
    "q_activity_bitmap"    -> Query(qActivityBitmap, qActivityBitmapSql),
    "q_concurrency"        -> Query(qConcurrency, qConcurrencySql),
    "q_ab_test"            -> Query(qAbTest, qAbTestSql),
    "q_chi_square"         -> Query(qChiSquare, qChiSquareSql),
    "q_interarrival"       -> Query(qInterarrival, qInterarrivalSql),
    "q_kaplan_meier"       -> Query(qKaplanMeier, qKaplanMeierSql),
    "q_entropy"            -> Query(qEntropy, qEntropySql),
    "q_psi"                -> Query(qPsi, qPsiSql),
    "q_rolling_distinct"   -> Query(qRollingDistinct, qRollingDistinctSql),
    "q_attribution"        -> Query(qAttribution, qAttributionSql),
    "q_topk_heap_groups"   -> Query(qTopkHeapGroups, qTopkHeapGroupsSql),
    "q_window_dedup"       -> Query(qWindowDedup, qWindowDedupSql),
    "q_out_of_order"       -> Query(qOutOfOrder, qOutOfOrderSql),
    "q_session_paths"      -> Query(qSessionPaths, qSessionPathsSql),
    "q_user_overlap"       -> Query(qUserOverlap, qUserOverlapSql),
    "q_gini"               -> Query(qGini, qGiniSql),
    "q_new_vs_returning"   -> Query(qNewVsReturning, qNewVsReturningSql),
    "q_rfm"                -> Query(qRfm, qRfmSql),
    "q_ewma"               -> Query(qEwma, qEwmaSql),
    "q_holt_winters"       -> Query(qHoltWinters, qHoltWintersSql),
    "q_transitions"        -> Query(qTransitions, qTransitionsSql),
    "q_seasonal_dow"       -> Query(qSeasonalDow, qSeasonalDowSql),
    "q_value_ranks"        -> Query(qValueRanks, qValueRanksSql),
    "q_mad_outliers"       -> Query(qMadOutliers, qMadOutliersSql),
    "q_cohort"             -> Query(qCohort, qCohortSql),
    "q_mode"               -> Query(qMode, qModeSql),
    "q_rolling_range"      -> Query(qRollingRange, qRollingRangeSql),
    "q_twap"               -> Query(qTwap, qTwapSql),
    "q_argmax"             -> Query(qArgmax, qArgmaxSql),
    "q_deciles"            -> Query(qDeciles, qDecilesSql),
    "q_gap_fill"           -> Query(qGapFill, qGapFillSql),
    "q_outliers"           -> Query(qOutliers, qOutliersSql),
    "q_sliding_window"     -> Query(qSlidingWindow, qSlidingWindowSql),
    "q_range_join"         -> Query(qRangeJoin, qRangeJoinSql),
    "q_interval_join"      -> Query(qIntervalJoin, qIntervalJoinSql),
    "q_asof_nearest"       -> Query(qAsofNearest, qAsofNearestSql),
    "q_cuped"              -> Query(qCuped, qCupedSql),
    "q_asof_join"          -> Query(qAsofJoin, qAsofJoinSql),
    "q_session_window"     -> Query(qSessionWindow, qSessionWindowSql),
    "q_tumbling_hourly"    -> Query(qTumblingHourly, qTumblingHourlySql),
    "q_sessionize"         -> Query(qSessionize, qSessionizeSql),
    "q_activity_windows"   -> Query(qUserActivityWindows, qUserActivityWindowsSql),
    "q_top_users"          -> Query(qTopUsersPerType, qTopUsersPerTypeSql),
    "q_json_extract"       -> Query(qJsonExtract, qJsonExtractSql),
    "q_funnel"             -> Query(qFunnel, qFunnelSql),
  )
}
