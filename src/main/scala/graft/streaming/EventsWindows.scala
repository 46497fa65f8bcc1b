package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{QueryDef, Sql}

/** Event-time window operators over the `events` stream table. The
  * reference has no streaming surface at all (SURVEY.md §2.3) — this is
  * the Structured-Streaming-shaped extension, expressed so the SAME
  * aggregation runs identically in batch (these oracle-checked queries)
  * and under `readStream` (StreamingSpec drives the genuine streaming
  * path with a watermark + memory sink and asserts equality with the
  * batch result).
  *
  * Scale posture: tumbling/sliding aggs shuffle once on (window, type);
  * session windows shuffle on user_id — Spark's native session_window
  * merges per-key in the aggregation, no per-event state explosion.
  */
object EventsWindows {

  /** Tumbling 1-hour counts/sums per event_type.
    * Output: (win_start, event_type, n, total).
    */
  def tumbling(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy(col("win_start"), col("event_type"))

  /** Sliding 1-hour windows hopping every 30 minutes. */
  def sliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      // total sums DECIMAL(18,6)-cast values (q58's merge-order
      // lesson): exact associative addition makes the per-window sum
      // independent of the partial-agg schedule on both engines
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy(col("win_start"), col("event_type"))

  /** w4 — first event per (user, type): the batch mirror of streaming
    * `dropDuplicatesWithinWatermark` keyed on (user_id, event_type)
    * (StreamingStateSpec drives the genuine streaming path). Expressed
    * as a rank-1 filter so Spark plans WindowGroupLimit — per-partition
    * first-row, then a tiny merge; state is one row per live key, the
    * same bound the streaming operator keeps.
    * Output: (user_id, event_type, first_ts, event_id, value).
    */
  def firstEvents(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts").as("first_ts"),
        col("event_id"), col("value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** w5 — conversion funnel: each click joined to the same user's
    * purchases within the following 10 minutes (the batch mirror of the
    * watermarked stream-stream interval join in StreamingSpec). The
    * equi key (user_id) bounds the join groups, so the time predicate
    * filters within per-user sorted runs — never a nested loop over
    * the corpus; in streaming the same [0, 10 min] bound is exactly
    * what lets both sides' state age out with the watermark.
    * Output: (user_id, click_id, purchase_id, click_ts, purchase_ts).
    */
  def clickToPurchase(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    clicks.join(buys,
        col("user_id") === col("b_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** w7 — click attribution with abandonment (LEFT OUTER funnel): every
    * click with its FIRST purchase in the following 10 minutes, or NULL
    * columns when no purchase came — the rows w5's inner join cannot
    * express, and in streaming the semantics that actually exercises
    * watermark-driven state eviction: a watermarked stream-stream LEFT
    * OUTER join may emit the null-extended row ONLY once the watermark
    * proves no matching purchase can still arrive (StreamingSpec drives
    * the genuine path, advancing the watermark with a sentinel batch so
    * the abandoned clicks flush).
    *
    * Scale posture: same bounded join groups as w5 (equi key user_id +
    * a 10-minute interval); the first-purchase pick is a rank-1 filter
    * per click → WindowGroupLimit, and within a click group either all
    * purchase columns are non-null or the group is the single
    * null-extended row, so the rank needs no explicit null ordering on
    * either engine.
    * Output: (user_id, click_id, click_ts, purchase_id, purchase_ts,
    * converted).
    */
  def clickAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val joined = clicks.join(buys,
      col("user_id") === col("b_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 10 MINUTES"),
      "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("click_id"))
      .orderBy(col("purchase_ts"), col("purchase_id"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"),
        col("purchase_id").isNotNull.as("converted"))
      .orderBy(col("user_id"), col("click_id"))
  }

  /** Gap-based session windows per user (5-minute inactivity gap).
    * Spark semantics: a session's end is last-event + gap; an event at
    * exactly prev_ts + gap starts a NEW session.
    * Output: (user_id, session_start, session_end, n_events).
    */
  def sessions(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** w6 — windowed top-k ("trending"): the k most frequent event types
    * per tumbling hour. The streaming decomposition is the standard
    * one — the windowed COUNT is the incremental (watermarked) part,
    * the rank-k filter runs over the materialized window results as
    * they close (ranking is not incrementally maintainable per se, and
    * pretending otherwise just hides a complete-mode sink); the batch
    * form here composes both halves, and StreamingSpec drives the
    * streaming agg + post-rank and asserts equality. The rank-1..k
    * filter plans as WindowGroupLimit over the per-window counts —
    * #windows × #types rows, nothing corpus-sized.
    * Output: (win_start, rank, event_type, n).
    */
  def windowTopK(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w")).orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("w.start").as("win_start"), col("rank").cast("int").as("rank"),
        col("event_type"), col("n"))
      .orderBy(col("win_start"), col("rank"))
  }

  /** w8 — windowed unique visitors: distinct users per tumbling hour.
    * The batch form is EXACT (count_distinct shuffles (window, user)
    * pairs with map-side dedup — the oracle-checked truth); the
    * streaming mirror below is the HLL± form, because exact streaming
    * distinct would hold every user id per open window in state —
    * unbounded in the user universe — where the sketch holds a fixed
    * few KB per window regardless of cardinality. The spec gates the
    * sketch against this exact batch within relative error.
    * Output: (win_start, uniques).
    */
  def windowUniques(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count_distinct(col("user_id")).as("uniques"))
      .select(col("w.start").as("win_start"), col("uniques"))
      .orderBy(col("win_start"))

  /** w10 — multi-touch (linear) attribution: every purchase's value is
    * split EQUALLY over the same user's clicks in the preceding
    * `window` (w7 answers "did this click convert?"; w10 answers the
    * budget question "which hours' engagement earned this revenue?").
    * Output: per click-hour (n_touches, attributed_revenue).
    *
    * FP discipline: the per-click credit is ONE divide of the raw
    * value by an exact integer touch count (engine-identical); the
    * hourly SUM runs over DECIMAL(18,6)-cast credits (the q58 rule —
    * double→decimal of identical doubles is deterministic, decimal
    * addition is order-free), cast to double only at presentation.
    *
    * Scale posture: the interval join keys on user_id with the
    * 30-minute residual — bounded per-user groups, the w5/w7
    * argument; the touch count is one window over the purchase key
    * (pairs of one purchase co-reside after the join's user shuffle —
    * no extra exchange at the purchase grain); the hourly rollup is a
    * tiny aggregate. Nothing quadratic, no driver state.
    */
  def multiTouchAttribution(s: SparkSession, dir: String,
      window: String = "30 minutes"): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    val buys = e.filter(col("event_type") === "purchase" &&
        col("value").isNotNull)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val pairs = buys.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr(s"INTERVAL $window"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("purchase_id"))
    pairs
      .withColumn("n_touch", count(lit(1)).over(w))
      .withColumn("credit",
        (col("value") / col("n_touch").cast("double"))
          .cast("decimal(18,6)"))
      .groupBy(date_trunc("hour", col("c_ts")).as("click_hour"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).cast("double").as("attributed_revenue"))
      .orderBy(col("click_hour"))
  }

  /** w8's streaming form: watermarked tumbling windows with
    * `approx_count_distinct` (HyperLogLog++) — per-window state is the
    * fixed-size sketch, evicted on watermark advance; Append mode
    * emits each window once, closed. rsd 0.02 ≈ ~1.5 KB of sketch per
    * open window.
    */
  def windowUniquesStream(streamEvents: DataFrame,
      delay: String = "1 hour", rsd: Double = 0.02): DataFrame =
    streamEvents
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("uniques"))
      .select(col("w.start").as("win_start"), col("uniques"))
}

/** The registered queries that call [[EventsWindows]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object EventsWindowsQueries {
  import EventsWindows._

  def queries: Seq[QueryDef] = Seq(
    QueryDef("w1_tumbling_window", tumbling(_, _),
      Sql("""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start,
        |  event_type, count(*) AS n, sum(value) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("w2_sliding_window", sliding(_, _),
      Sql("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |x AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start, event_type, value FROM e
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value FROM e)
        |SELECT win_start, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("w3_session_window", sessions(_, _),
      // Gaps-and-islands mirror of Spark session_window: break when the
      // gap from the previous event is >= 5 minutes; session end is
      // last event + gap.
      Sql("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |d AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM d)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '5 minutes' AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""")),

    // Batch mirror of watermarked dropDuplicates (keyed first event)
    QueryDef("w4_first_event", firstEvents(_, _),
      Sql("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type, value FROM events),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS INT)
        |      AS rn
        |  FROM e)
        |SELECT user_id, event_type, ts AS first_ts, event_id, value
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""")),

    // Batch mirror of the watermarked stream-stream interval join
    QueryDef("w5_funnel_join", clickToPurchase(_, _),
      Sql("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM e WHERE event_type = 'click'),
        |b AS (SELECT user_id AS b_user, event_id AS purchase_id,
        |    ts AS purchase_ts
        |  FROM e WHERE event_type = 'purchase')
        |SELECT user_id, click_id, purchase_id, click_ts, purchase_ts
        |FROM c JOIN b ON user_id = b_user
        |  AND purchase_ts >= click_ts
        |  AND purchase_ts < click_ts + INTERVAL '10 minutes'
        |ORDER BY user_id, click_id, purchase_id""")),

    // Windowed top-k (trending): streaming agg + rank over closed windows
    QueryDef("w6_window_topk", windowTopK(_, _),
      Sql("""WITH c AS (
        |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY win_start ORDER BY n DESC, event_type) AS INT) AS rank
        |  FROM c)
        |SELECT win_start, rank, event_type, n FROM r
        |WHERE rank <= 3 ORDER BY win_start, rank""")),

    // Batch mirror of the watermarked LEFT OUTER stream-stream join:
    // first purchase per click, null-extended abandonment rows
    QueryDef("w7_click_attribution", clickAttribution(_, _),
      Sql("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM e WHERE event_type = 'click'),
        |b AS (SELECT user_id AS b_user, event_id AS purchase_id,
        |    ts AS purchase_ts
        |  FROM e WHERE event_type = 'purchase'),
        |j AS (SELECT c.user_id, c.click_id, c.click_ts,
        |    b.purchase_id, b.purchase_ts
        |  FROM c LEFT JOIN b ON c.user_id = b.b_user
        |    AND b.purchase_ts >= c.click_ts
        |    AND b.purchase_ts < c.click_ts + INTERVAL '10 minutes'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY click_id
        |    ORDER BY purchase_ts, purchase_id) AS rn FROM j)
        |SELECT user_id, click_id, click_ts, purchase_id, purchase_ts,
        |  purchase_id IS NOT NULL AS converted
        |FROM r WHERE rn = 1 ORDER BY user_id, click_id""")),

    // Windowed unique visitors: exact batch truth; the streaming mirror
    // is the HLL sketch form, error-gated vs this in StreamingSpec
    QueryDef("w8_window_uniques", windowUniques(_, _),
      Sql("""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
        |    AS win_start,
        |  count(DISTINCT user_id) AS uniques
        |FROM events GROUP BY 1 ORDER BY 1""")),

    // Multi-touch linear attribution: reverse interval join + equal
    // split + drift-safe decimal hourly sums
    QueryDef("w10_multi_touch", multiTouchAttribution(_, _),
      // w7: within a click's rank partition either every purchase column
      // is non-null or the single row is the null-extended one, so the
      // rank-1 pick needs no explicit NULLS ordering on either engine.
      // w10: the per-click credit is value / exact-int touch count (one
      // IEEE divide), summed as DECIMAL(18,6) per hour — no merge-order
      // drift (the q58 rule); presentation cast to double.
      Sql("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type, value FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |b AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts, value
        |  FROM e WHERE event_type = 'purchase' AND value IS NOT NULL),
        |c AS (SELECT user_id AS c_user, event_id AS click_id, ts AS c_ts
        |  FROM e WHERE event_type = 'click'),
        |p AS (SELECT purchase_id, value, c_ts
        |  FROM b JOIN c ON user_id = c_user
        |    AND c_ts <= p_ts AND c_ts > p_ts - INTERVAL '30 minutes'),
        |n AS (SELECT *, count(*) OVER (PARTITION BY purchase_id) AS n_touch
        |  FROM p),
        |cr AS (SELECT c_ts,
        |    CAST(value / CAST(n_touch AS DOUBLE) AS DECIMAL(18,6)) AS credit
        |  FROM n)
        |SELECT date_trunc('hour', c_ts) AS click_hour,
        |  count(*) AS n_touches,
        |  CAST(sum(credit) AS DOUBLE) AS attributed_revenue
        |FROM cr GROUP BY 1 ORDER BY 1""")),
  )
}
