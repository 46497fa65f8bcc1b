package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{QueryDef, Sql}

/** User-behavior analytics over the `events` feed — the product-facing
  * rung next to TimeSeries' monitoring rung: cohort retention (how many
  * of the users first seen in week W are still active k weeks later)
  * and the ordered conversion funnel (how many users progress through
  * view → click → purchase IN ORDER). Both are exact, engine-identical
  * relational shapes, so they carry full DuckDB oracles.
  */
object Behavior {

  /** q63 — weekly cohort retention. A user's cohort is the Monday-start
    * week (`date_trunc('week', …)` — Monday in both Spark and DuckDB)
    * of their first event; for every (cohort_week, week_offset) cell we
    * count the cohort's users active in that week. `week_offset` is
    * exact integer arithmetic: both timestamps are week-truncated, so
    * the day difference is a multiple of 7 on any engine.
    *
    * Scale posture: ONE user-keyed aggregate collapses raw events to
    * each user's active-week SET — collect_set partial-aggregates
    * map-side, so the single shuffle moves distinct (user, week) pairs
    * (|users| × |active weeks|, ~10⁴× smaller than the event stream),
    * and the per-user array is bounded by the CALENDAR, not the data
    * (~52 entries per year of history). Cohort = array_min, no second
    * shuffle, no window, no self-join; the final cell count is a
    * plain aggregate over the collapsed relation. Two shuffles total
    * plus the presentation sort.
    */
  def retention(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      // null user/ts rows belong to no cohort — same up-front filter
      // as TimeSeries.hourlyMeans
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("w")).as("ws"))
      .select(explode(col("ws")).as("w"), array_min(col("ws")).as("cw"))
      // datediff casts the week-truncated timestamps to DATE (session
      // TZ is pinned UTC, both are midnight Monday): exact multiple of
      // 7, so the double division below is exact before the int cast
      .groupBy(col("cw").as("cohort_week"),
        (datediff(col("w"), col("cw")) / lit(7)).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** q64 — ordered conversion funnel: users whose first `view` is
    * followed (>=, microsecond timestamps) by a `click`, whose first
    * such click is followed by a `purchase`. Step k's population is
    * always a subset of step k−1's. The tie rule is pinned by SHAPE,
    * not by sort order: each step is `min(ts)` over events at-or-after
    * the previous step's pick — the identical three-level conditional-
    * min chain is written in the DuckDB oracle, so no engine-specific
    * ordering of equal timestamps can diverge (both compare the same
    * microsecond values with the same `>=`).
    *
    * Scale posture: one pass over events per step, each probe side
    * filtered to ONE event type before its join, each join and
    * aggregate keyed on user_id (co-partitioned — AQE reuses the
    * exchange), and the step relations are one row per surviving user.
    * No window over raw events, no collect, no per-user array.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val (v, c, p) = funnelChain(s, dir)

    def stepCount(ord: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(ord).as("step"), lit(name).as("event_type"),
          col("n_users"))

    stepCount(1, "view", v)
      .unionAll(stepCount(2, "click", c))
      .unionAll(stepCount(3, "purchase", p))
      .orderBy(col("step"))
  }

  /** The shared conditional-min chain: per-user first view, first
    * click at-or-after it, first purchase at-or-after that. Used
    * verbatim by q64 (counts) and q65 (lag stats) so the two can
    * never disagree on who converted.
    */
  private def funnelChain(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_type"))

    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") >= col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") >= col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    (v, c, p)
  }

  /** q65 — conversion lag: how long the full view→…→purchase journey
    * takes for converted users. The lag is an exact INTEGER number of
    * microseconds (timestamp difference — no float until the final
    * presentation divide), so the sum is engine-exact regardless of
    * partial-aggregation merge order — the q58 double-sum-drift class
    * avoided by construction rather than by a decimal cast. The mean
    * divides once, in the same literal order on both engines.
    *
    * Scale posture: q64's chain plus one user-keyed join of two
    * one-row-per-user relations and a single-row global aggregate.
    */
  def conversionLag(s: SparkSession, dir: String): DataFrame = {
    val (v, _, p) = funnelChain(s, dir)
    v.join(p, "user_id")
      .select((unix_micros(col("p_ts")) - unix_micros(col("v_ts")))
        .as("lag_us"))
      .agg(count(lit(1)).as("n_converted"),
        (sum(col("lag_us")).cast("double") / count(lit(1)).cast("double")
          / lit(1000000.0)).as("mean_lag_sec"),
        (min(col("lag_us")).cast("double") / lit(1000000.0)).as("min_lag_sec"),
        (max(col("lag_us")).cast("double") / lit(1000000.0)).as("max_lag_sec"))
  }

  /** q66 — DAU / trailing-7-day WAU / stickiness per day. The sliding
    * DISTINCT count that naively needs a per-day 7-day window over raw
    * events is restated as a CONTRIBUTION explode: each collapsed
    * (user, day) row contributes the user to the seven target days
    * d..d+6, so trailing WAU(td) is a plain distinct count — no range
    * join, no window, no re-scan per day.
    *
    * Scale posture: one DISTINCT collapse of raw events to
    * (user, day) (the 10⁴×-smaller relation, cached for its two
    * consumers), then a bounded 7× explode of the COLLAPSED relation
    * and two hash aggregates; the final DAU⋈WAU join is
    * days-sized. Stickiness divides two exact integers once,
    * identically on both engines.
    */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      // two consumers (DAU, the WAU explode) — d12's lifecycle
      // contract: the session owner clears the cache between queries
      .cache()
    val dau = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), col("d"),
        explode(sequence(lit(0), lit(6))).as("i"))
      .select(col("user_id"), date_add(col("d"), col("i")).as("td"))
      .distinct()
      .groupBy(col("td")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("d") === col("td"))
      .select(col("d").as("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** w9 (batch form) — inactivity report: every user's last-seen time,
    * hours of silence against the corpus cutoff (the feed's max event
    * time), and the inactive verdict at `gapHours` — churn-risk
    * triage, and the batch mirror of the streaming timeout-timer
    * alerts ([[graft.streaming.InactivityStream]]): the stream raises
    * an alert the moment the watermark passes a user's last event +
    * gap; this report is the same verdict computed retrospectively.
    *
    * Exactness: silence is measured in integer epoch-millisecond
    * arithmetic ((cutoff_ms − last_ms) div 3 600 000) and the verdict
    * derives from THAT integer, so both engines cut the boundary on
    * the same value — no interval arithmetic, no double durations.
    *
    * Scale posture: one user-keyed max aggregate (map-side combined)
    * plus a broadcast 1-row cutoff; no window, no join against the
    * fact stream.
    */
  def inactiveUsers(s: SparkSession, dir: String,
      gapHours: Int = 24): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"))
    val cutoff = e.agg(max(col("ts")).as("cutoff"))
    e.groupBy(col("user_id")).agg(max(col("ts")).as("last_seen"))
      .crossJoin(broadcast(cutoff))
      .select(col("user_id"), col("last_seen"),
        expr("(unix_millis(cutoff) - unix_millis(last_seen)) div 3600000")
          .as("silent_hours"))
      .withColumn("is_inactive", col("silent_hours") >= gapHours)
      .orderBy(col("user_id"))
  }
}

/** The registered queries that call [[Behavior]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object BehaviorQueries {
  import Behavior._

  def queries: Seq[QueryDef] = Seq(
    // Weekly cohort retention: DISTINCT (user, week) collapse first,
    // then a window-min cohort assignment — no countDistinct expansion
    QueryDef("q63_retention", retention(_, _),
      // q63: same DISTINCT-first collapse and week arithmetic; both
      // engines truncate weeks to Monday, so the day difference is an
      // exact multiple of 7 (`//` in DuckDB, exact double div in Spark)
      Sql("""WITH uw AS (SELECT DISTINCT user_id,
        |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS w
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |wc AS (SELECT user_id, w,
        |    min(w) OVER (PARTITION BY user_id) AS cw
        |  FROM uw)
        |SELECT cw AS cohort_week,
        |  CAST(date_diff('day', cw, w) // 7 AS INT) AS week_offset,
        |  count(*) AS n_users
        |FROM wc GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Ordered view→click→purchase funnel: three-level conditional-min
    // chain, identical relational shape on both engines (tie-rule by
    // shape, not by sort order)
    QueryDef("q64_funnel", funnel(_, _),
      // q64: the identical three-level conditional-min chain as the
      // Spark side — step k is min(ts) at-or-after step k-1's pick, so
      // equal-timestamp ties resolve the same way on both engines
      Sql("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id, min(ts) AS v_ts FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM ev e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM ev e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1)
        |SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM v
        |UNION ALL SELECT 2, 'click', count(*) FROM c
        |UNION ALL SELECT 3, 'purchase', count(*) FROM p
        |ORDER BY step""")),

    // Conversion lag over q64's chain: integer-microsecond sums (exact
    // regardless of merge order), one presentation divide
    QueryDef("q65_conversion_lag", conversionLag(_, _),
      // q65: q64's chain verbatim, then integer-microsecond lags (the
      // sum is exact — no merge-order drift to guard against) and one
      // presentation divide in the same literal order as the Spark side
      Sql("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id, min(ts) AS v_ts FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM ev e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM ev e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1),
        |lag AS (SELECT date_diff('microseconds', v.v_ts, p.p_ts) AS lag_us
        |  FROM v JOIN p USING (user_id))
        |SELECT count(*) AS n_converted,
        |  CAST(sum(lag_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000.0 AS mean_lag_sec,
        |  CAST(min(lag_us) AS DOUBLE) / 1000000.0 AS min_lag_sec,
        |  CAST(max(lag_us) AS DOUBLE) / 1000000.0 AS max_lag_sec
        |FROM lag""")),

    // DAU / trailing-7d WAU / stickiness: sliding distinct restated as
    // a bounded contribution explode of the collapsed (user, day) set
    QueryDef("q66_stickiness", stickiness(_, _),
      // q66: the same contribution-explode restatement — each distinct
      // (user, day) row feeds target days d..d+6, so trailing WAU is a
      // plain distinct count; stickiness divides the two exact integers
      Sql("""WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d),
        |contrib AS (SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS td
        |  FROM ud, range(0, 7) r(i)),
        |wau AS (SELECT td, count(*) AS wau FROM contrib GROUP BY td)
        |SELECT d AS day, dau, wau,
        |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau ON d = td ORDER BY day""")),

    // Inactivity report (churn triage): batch mirror of the streaming
    // timeout-timer alerts — integer epoch-hour silence arithmetic
    QueryDef("w9_inactive_users", inactiveUsers(_, _),
      // w9: silence measured in integer epoch-ms arithmetic; the verdict
      // derives from the SAME integer on both engines.
      Sql("""WITH e AS (SELECT user_id, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT max(ts) AS cutoff FROM e),
        |u AS (SELECT user_id, max(ts) AS last_seen FROM e GROUP BY 1)
        |SELECT user_id, last_seen,
        |  (epoch_ms(c.cutoff) - epoch_ms(u.last_seen)) // 3600000
        |    AS silent_hours,
        |  ((epoch_ms(c.cutoff) - epoch_ms(u.last_seen)) // 3600000) >= 24
        |    AS is_inactive
        |FROM u, c ORDER BY user_id""")),
  )
}
