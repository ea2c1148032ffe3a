package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Event-stream analytics over the `events` table — the batch analogues of
  * the reference's streaming surface (`G016HW3.java`): exact frequent items
  * with a phi·n threshold, time-windowed aggregation, and gap-based
  * sessionization. The true streaming versions (Structured Streaming into
  * a driver sink that folds each micro-batch into sketches) live in
  * graft.streaming; these batch forms share the same aggregation logic and
  * are what the DuckDB oracle checks.
  *
  * Timestamps are compared in epoch milliseconds (unix_millis/epoch_ms):
  * the parquet column is ns-precision, Spark reads µs — both truncate
  * toward zero on the positive axis, so ms values agree across engines.
  */
object Events {

  /** T3 analogue: items (user_id) with frequency >= phi·n (`G016HW3.java:148-172`).
    *
    * The corpus total n is NOT a second `count()` action over events — it
    * cascades from the per-user counts themselves (Σ freq = n), so the
    * events table is scanned exactly once. `counts` feeds both the
    * threshold aggregate and the filter, and Catalyst re-derives self-join
    * subtrees, so it goes through [[graft.core.InternalCaches]] like the
    * other twice-consumed internal frames; the single-row threshold joins
    * back via broadcast (the q77 minTok pattern). */
  def qFrequentItems(s: SparkSession, dir: String): DataFrame = {
    val counts = graft.core.InternalCaches.persist(
      Tables.events(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("freq")))
    val thr = counts.agg(ceil(lit(0.008) * sum(col("freq"))).as("thr"))
    counts.crossJoin(broadcast(thr))
      .filter(col("freq") >= col("thr"))
      .select(col("user_id"), col("freq"))
  }

  /** Tumbling 1-day event-time windows per event type. */
  def qTumblingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        year(col("ts")).as("yr"),
        dayofyear(col("ts")).as("doy"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_v"))

  /** Gap-based sessionization (30-min inactivity) per user: session count
    * and event count — a lag + running-sum window cascade, fully
    * distributed (partitioned by user). */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 30L * 60 * 1000, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).cast(LongType).as("n_sessions"),
           count(lit(1)).as("n_events"))
  }

  /** Top event per user by value (argmax via window). */
  def qArgmax(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_id").as("top_event"), col("value").as("top_value"))
  }

  /** Backward as-of join: for each left row, the latest right row with
    * rightTs <= leftTs and matching key — the canonical time-series
    * enrichment operator Spark lacks natively. Implemented as a tagged
    * union + per-key window carry (last non-null over the time-ordered
    * stream): one shuffle on the key, no range join, no cartesian — at
    * scale this beats an inequality join by orders of magnitude because the
    * window pass is linear per key. Timestamps compared in epoch ms. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, leftId: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = left.select(col(key).as("k"), unix_millis(col(leftTs)).as("ms"),
      col(leftId).as("lid"), lit(1).as("tag"), lit(null).cast(LongType).as("rms"))
    val r = right.select(col(key).as("k"), unix_millis(col(rightTs)).as("ms"),
      lit(null).cast(left.schema(leftId).dataType).as("lid"), lit(0).as("tag"),
      unix_millis(col(rightTs)).as("rms"))
    // right rows sort before left rows at equal ms → the join is inclusive
    val w = Window.partitionBy(col("k")).orderBy(col("ms").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("matched_ms", last(col("rms"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("lid"), col("k"), col("ms").as("l_ms"), col("matched_ms"))
  }

  /** As-of enrichment: each click matched to the user's latest prior (or
    * simultaneous) purchase. */
  def qAsOf(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    asOfJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"),
      key = "user_id", leftTs = "ts", rightTs = "ts", leftId = "event_id")
      .select(col("lid").as("click_id"), col("k").as("user_id"),
              col("l_ms").as("click_ms"), col("matched_ms").as("purchase_ms"))
  }

  /** Cohort retention: users bucketed by their FIRST activity week, then
    * distinct-user counts per (cohort week, weeks-since-cohort) — the
    * standard product-analytics retention triangle. Weeks are pure integer
    * arithmetic on epoch ms (ms // 1000 // 604800), no calendar functions,
    * so the bucketing is identical on every engine and timezone-free.
    *
    * Scale shape (plan-dumped in PLANS.md): the first-week aggregate —
    * one row per user — broadcasts into a BroadcastHashJoin, so the
    * events side never shuffles for the join; the remaining exchanges
    * belong to the distinct-count aggregation on (cohort, offset) pairs
    * whose cardinality is weeks², not rows. At billions of users the
    * dimension outgrows the broadcast and AQE degrades the join to
    * sort-merge on user_id (the q78/q79 degrade contract). */
  def qCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_millis(ts) div 1000 div 604800").as("wk"))
    val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Ordered funnel: per user, the earliest view / click / purchase
    * timestamps, then how many users progressed through each stage IN
    * ORDER (first view before first click before first purchase). ONE
    * conditional aggregation over one scan — the min-per-type frame is 3
    * columns × users, and stage membership is a projection over it; no
    * window, no self-join per stage (the naive formulation joins events
    * to itself once per funnel step, which is 3 scans and 3 shuffles at
    * 100 TB). Timestamps compare as epoch ms — exact integers. */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val mins = ev.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "view", col("ms"))).as("v"),
      min(when(col("event_type") === "click", col("ms"))).as("c"),
      min(when(col("event_type") === "purchase", col("ms"))).as("p"))
    mins.agg(
      count(lit(1)).as("n_users"),
      count(col("v")).as("n_view"),
      sum(when(col("v") < col("c"), 1L).otherwise(0L)).cast(LongType).as("n_view_click"),
      sum(when(col("v") < col("c") && col("c") < col("p"), 1L).otherwise(0L))
        .cast(LongType).as("n_full_funnel"))
  }

  /** Range-frame rolling aggregates — each event's trailing-hour activity
    * (count + exact decimal sum) per user: rate limiting, anomaly
    * baselines, engagement velocity. The frame is defined by the VALUE
    * range on epoch ms (RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW),
    * so simultaneous events include each other symmetrically on every
    * engine — no row-order ambiguity for the aggregate. Partitioning is
    * per user: bounded by one user's activity, shuffled once. A single
    * pathological user (bot firehose) is the known skew risk; the
    * standard mitigation — pre-aggregating into fixed time buckets before
    * the window — composes with q51's tumbling aggregation directly. */
  def qRolling(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      unix_millis(col("ts")).as("ms"), col("value").cast(DecimalType(18, 2)).as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-3600000L, Window.currentRow)
    e.select(col("user_id"), col("event_id"),
      count(lit(1)).over(w).as("n_1h"),
      sum(col("v")).over(w).cast(DoubleType).as("sum_1h"))
  }

  /** Per-user hourly activity anomalies in PURE INTEGER arithmetic — the
    * bot/abuse spike detector a telemetry pipeline runs continuously: an
    * hour is flagged when its event count exceeds the user's own
    * mean + 3σ over their active hours. The 3σ test is evaluated on the
    * algebraically cleared form, (c·H − S)² > 9·(H·SS − S²) with
    * c·H > S, where H/S/SS are the user's hour count and count
    * sums/sum-of-squares — no division, no sqrt, no doubles anywhere, so
    * the flag set is bit-identical on every engine and partitioning.
    *
    * Overflow is LOUD, not silent (round 11): Java Long arithmetic wraps
    * where an ANSI engine raises, so the exact bot/service accounts the
    * detector targets would otherwise diverge silently from the oracle.
    * A `raise_error` guard fails the query when any per-user total nears
    * the cleared-form Long bound — sufficient conditions S < 3·10⁹,
    * c·H ≤ 3·10⁹ and H·SS ≤ 10¹⁸, each checked in division form so the
    * guard itself cannot wrap (SS = Σc² ≤ S² < 9·10¹⁸ needs no guard of
    * its own once S is bounded). Comfortably inside for any real
    * per-user volume — the quantities are PER USER — so the guard costs
    * one predicate on the already-hourly frame and never fires in
    * practice; when it does fire, both engines now fail loudly instead
    * of one wrapping.
    *
    * Sample-z caveat (asserted in spec): ONE spike among H hours has
    * z = √(H−1) no matter how large the spike, so a user needs ≥ 11
    * active hours before any single hour can clear 3σ — the statistic's
    * own guard against flagging short-lived users.
    *
    * Shape: one (user, hour) pre-aggregation (combine-friendly — the raw
    * event volume collapses map-side), one per-user stats rollup over the
    * ALREADY-hourly frame (≤ hours-in-window rows per user, so no hot-user
    * skew survives the first agg), and an equi-join of stats back onto the
    * hourly frame. */
  def hourlyAnomalies(events: DataFrame): DataFrame = {
    val hourly = events
      .select(col("user_id"), expr("unix_millis(ts) div 3600000").as("hr"))
      .groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).as("cnt"))
    val stats = hourly.groupBy(col("user_id"))
      .agg(count(lit(1)).as("h"), sum(col("cnt")).as("s"),
        sum(col("cnt") * col("cnt")).as("ss"))
    // raise_error when the cleared-form products could exceed Long range
    // (see scaladoc); division form keeps the guard itself wrap-free, and
    // referencing the guard column in the filter keeps Catalyst from
    // pruning the never-consumed branch away
    val guard = when(
      col("s") >= lit(3000000000L) ||
        col("cnt") > lit(3000000000L) / greatest(col("h"), lit(1L)) ||
        col("ss") > lit(1000000000000000000L) / greatest(col("h"), lit(1L)),
      raise_error(concat(
        lit("graft hourlyAnomalies: per-user totals exceed the cleared-form "),
        lit("Long-overflow bound (user_id="), col("user_id").cast("string"),
        lit(") — pre-aggregate into coarser buckets or shard the user"))))
      .otherwise(lit(0L))
    hourly.join(stats, "user_id")
      .withColumn("_ofguard", guard)
      .filter(col("_ofguard") === 0L &&
        col("cnt") * col("h") > col("s") &&
        (col("cnt") * col("h") - col("s")) * (col("cnt") * col("h") - col("s")) >
          lit(9L) * (col("h") * col("ss") - col("s") * col("s")))
      .select(col("user_id"), col("hr"), col("cnt"))
  }

  def qAnomalies(s: SparkSession, dir: String): DataFrame =
    hourlyAnomalies(Tables.events(s, dir))

  /** Interval-overlap join — the range-join family member beside the
    * as-of join (q56): user activity SESSIONS (gap-based intervals, the
    * q52 build carried through to full [start, end] extents) joined
    * against per-(event_type, day) activity WINDOWS on the overlap
    * predicate `max(starts) <= min(ends)`, reporting per (user,
    * event_type) how many daily windows each user's sessions touched and
    * for how long. This is the "which incident windows did this user's
    * activity intersect" primitive behind on-call forensics and
    * exposure/attribution joins.
    *
    * Scale shape — the classic interval-join decomposition: a naive
    * interval join is a cross product with a range predicate (Spark
    * would BNLJ it); instead each session EXPLODES into the UTC days it
    * covers (fan-out = session length in days, ~1) and equi-joins on the
    * day key. Windows are keyed by (type, day) and bounded within one
    * day BY CONSTRUCTION, so a (session, window) pair meets in exactly
    * one bucket — no post-join dedup. The window table is
    * calendar×types-bounded (not corpus-bounded) and broadcast; with two
    * corpus-sized interval sets the same day-bucket explode turns the
    * range join into a shuffle equi-join on the day key — the shape
    * survives either way. Sessionization windows partition by user_id
    * (bounded per user, no global sort). All arithmetic in integer
    * epoch-ms; both engines order the lag by the TRUNCATED ms (not the
    * µs timestamp) + event_id, so session boundaries agree exactly. */
  def intervalOverlap(events: DataFrame, gapMs: Long = 30L * 60 * 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(col("user_id"), col("event_id"), col("event_type"),
      unix_millis(col("ts")).as("ms"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    val sessions = ev
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("ns",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ms")).as("s_ms"), max(col("ms")).as("e_ms"))
    // Day buckets use FLOOR division in exact integer arithmetic — Spark's
    // `div` truncates toward zero where the DuckDB oracle's `//` floors, so
    // pre-epoch (negative-ms) timestamps would land one day apart. The
    // `div`+negative-remainder adjustment is bit-exact at any magnitude
    // (no double rounding near exact-midnight multiples of 86400000).
    def dayFloor(c: String): String =
      s"(($c div 86400000) + (CASE WHEN $c % 86400000 < 0 THEN -1 ELSE 0 END))"
    val windows = ev
      .withColumn("day", expr(dayFloor("ms")))
      .groupBy(col("event_type"), col("day"))
      .agg(min(col("ms")).as("w_s"), max(col("ms")).as("w_e"))
    sessions
      .withColumn("day",
        explode(sequence(expr(dayFloor("s_ms")), expr(dayFloor("e_ms")))))
      .join(broadcast(windows), "day")
      .filter(greatest(col("s_ms"), col("w_s")) <= least(col("e_ms"), col("w_e")))
      .withColumn("ov",
        least(col("e_ms"), col("w_e")) - greatest(col("s_ms"), col("w_s")))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n_windows"),
        sum(col("ov")).cast(LongType).as("overlap_ms"),
        max(col("ov")).cast(LongType).as("max_overlap_ms"))
  }

  def qIntervalOverlap(s: SparkSession, dir: String): DataFrame =
    intervalOverlap(Tables.events(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q163_interval_overlap" -> (qIntervalOverlap _),
    "q111_anomalies"     -> (qAnomalies _),
    "q56_asof_join"      -> (qAsOf _),
    "q97_cohorts"        -> (qCohorts _),
    "q98_funnel"         -> (qFunnel _),
    "q101_rolling"       -> (qRolling _),
    "q50_frequent_items" -> (qFrequentItems _),
    "q51_tumbling_window"-> (qTumblingWindow _),
    "q52_sessionize"     -> (qSessionize _),
    "q53_argmax"         -> (qArgmax _),
  )

  val oracles: Map[String, String] = Map(
    // q163: sessions rebuilt by the identical lag/running-sum cascade
    // (ordered by truncated ms + event_id on BOTH engines), windows by
    // (type, day) group-by, the range predicate after a day-bucket
    // equi-join; range(a, b+1) ≡ Spark's inclusive sequence(a, b)
    "q163_interval_overlap" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
                     FROM events),
         lg AS (SELECT user_id, ms,
                  CASE WHEN lag(ms) OVER (PARTITION BY user_id
                         ORDER BY ms, event_id) IS NULL
                         OR ms - lag(ms) OVER (PARTITION BY user_id
                              ORDER BY ms, event_id) > 1800000
                       THEN 1 ELSE 0 END AS ns,
                  event_id
                FROM ev),
         sess AS (SELECT user_id, sid, min(ms) AS s_ms, max(ms) AS e_ms FROM (
             SELECT user_id, ms, CAST(sum(ns) OVER (PARTITION BY user_id
                 ORDER BY ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
             FROM lg) GROUP BY user_id, sid),
         win AS (SELECT event_type, ms // 86400000 AS day,
                   min(ms) AS w_s, max(ms) AS w_e
                 FROM ev GROUP BY event_type, day),
         sd AS (SELECT user_id, s_ms, e_ms,
                  unnest(range(s_ms // 86400000, e_ms // 86400000 + 1)) AS day
                FROM sess),
         j AS (SELECT user_id, event_type,
                 least(e_ms, w_e) - greatest(s_ms, w_s) AS ov
               FROM sd JOIN win USING (day)
               WHERE greatest(s_ms, w_s) <= least(e_ms, w_e))
         SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(ov) AS BIGINT) AS overlap_ms,
           CAST(max(ov) AS BIGINT) AS max_overlap_ms
         FROM j GROUP BY user_id, event_type""",
    // q111: the cleared-form 3-sigma test — every quantity a BIGINT
    "q111_anomalies" ->
      """WITH hourly AS (SELECT user_id, epoch_ms(ts) // 3600000 AS hr, count(*) AS cnt
                         FROM events GROUP BY 1, 2),
         st AS (SELECT user_id, count(*) AS h, CAST(sum(cnt) AS BIGINT) AS s,
                  CAST(sum(cnt * cnt) AS BIGINT) AS ss FROM hourly GROUP BY 1)
         SELECT hourly.user_id, hr, cnt FROM hourly JOIN st USING (user_id)
         WHERE cnt * h > s
           AND (cnt * h - s) * (cnt * h - s) > 9 * (h * ss - s * s)""",
    // q97/q98: week buckets and stage comparisons are integer epoch-ms
    // arithmetic — `//`/`div` truncation agrees for the positive axis
    "q97_cohorts" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) // 1000 // 604800 AS wk FROM events),
         f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id)
         SELECT f.cohort_wk, ev.wk - f.cohort_wk AS offset_wk,
                count(DISTINCT ev.user_id) AS n_users
         FROM ev JOIN f ON ev.user_id = f.user_id
         GROUP BY 1, 2""",
    "q101_rolling" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
                      CAST(value AS DECIMAL(18,2)) AS v FROM events)
         SELECT user_id, event_id,
           count(*) OVER w AS n_1h,
           CAST(sum(v) OVER w AS DOUBLE) AS sum_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ms
                      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)""",
    "q98_funnel" ->
      """WITH m AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS v,
             min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS c,
             min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS p
           FROM events GROUP BY user_id)
         SELECT count(*) AS n_users, count(v) AS n_view,
           CAST(sum(CASE WHEN v < c THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN v < c AND c < p THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
         FROM m""",
    "q56_asof_join" ->
      """SELECT c.event_id AS click_id, c.user_id, c.cms AS click_ms, p.pms AS purchase_ms
         FROM (SELECT event_id, user_id, epoch_ms(ts) AS cms FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id, epoch_ms(ts) AS pms FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.cms >= p.pms""",
    "q50_frequent_items" ->
      """SELECT user_id, count(*) AS freq FROM events GROUP BY user_id
         HAVING count(*) >= ceil(0.008 * (SELECT count(*) FROM events))""",
    "q51_tumbling_window" ->
      """SELECT CAST(year(ts) AS INTEGER) AS yr, CAST(dayofyear(ts) AS INTEGER) AS doy, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events GROUP BY 1, 2, 3""",
    "q52_sessionize" ->
      """WITH t AS (
           SELECT user_id, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ms
           FROM events)
         SELECT user_id,
           CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events
         FROM t GROUP BY user_id""",
    "q53_argmax" ->
      """SELECT user_id, event_id AS top_event, value AS top_value FROM (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rk
           FROM events) t
         WHERE rk = 1""",
  )
}
