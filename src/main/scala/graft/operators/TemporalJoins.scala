package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{QueryDef, Sql}

/** Temporal join operators — the join categories the reference lacks
  * entirely (SURVEY.md §2.3: range joins, as-of joins), built Spark-
  * first:
  *
  *  - rangeJoin: event pairs within a time window, via LOSSLESS
  *    interval blocking — both sides bucket to fixed-width time cells;
  *    a pair within `maxGap` spans at most adjacent cells, so
  *    replicating one side to (cell, cell+1) and equi-joining on
  *    (user, cell) finds every qualifying pair without the quadratic
  *    theta-join. The equi-join shuffles on (user, cell) — scalable.
  *
  *  - asOfJoin: most-recent-prior match per row, with NO join at all —
  *    one window pass per user ordered by (ts, event_id) carrying the
  *    last qualifying timestamp forward (rows-frame ending at
  *    1 PRECEDING = strictly prior rows). This is the linear-scan
  *    formulation: one shuffle on user_id, no candidate explosion.
  *
  * Timestamps are compared at microsecond precision (Spark's
  * TimestampType); the DuckDB oracles cast their nanosecond column
  * down identically.
  */
object TemporalJoins {

  /** Pairs of same-user events where 0 < ts_b - ts_a <= maxGapSec,
    * aggregated per user. Interval blocking with 1-minute cells.
    */
  def rangeJoin(s: SparkSession, dir: String, maxGapSec: Int = 60): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("ts").cast("double").as("sec"))
    val cell = (c: org.apache.spark.sql.Column) =>
      floor(c / lit(maxGapSec.toDouble)).cast("long")
    // left side replicated to its own cell and the next one
    val a = e.select(col("user_id"), col("event_id").as("id_a"),
        col("sec").as("sec_a"),
        explode(array(cell(col("sec")), cell(col("sec")) + 1)).as("cell"))
    val b = e.select(col("user_id"), col("event_id").as("id_b"),
      col("sec").as("sec_b"), cell(col("sec")).as("cell"))
    a.join(b, Seq("user_id", "cell"))
      .filter(col("sec_b") > col("sec_a") &&
        col("sec_b") - col("sec_a") <= maxGapSec)
      .select(col("user_id"), col("id_a"), col("id_b"),
        (col("sec_b") - col("sec_a")).as("gap_s"))
      // no distinct needed: cell_b is one value, the two replicas are
      // distinct cells — each qualifying pair matches exactly once
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), avg(col("gap_s")).as("avg_gap_s"))
      .orderBy(col("user_id"))
  }

  /** As-of join: for every purchase event, the user's most recent
    * strictly-prior click (by (ts, event_id) order), as a window
    * carry-forward — no join.
    * Output: (event_id, user_id, purchase_ts, last_click_ts).
    */
  def asOfJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .withColumn("last_click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("last_click_ts"))
      .orderBy(col("event_id"))
  }

  /** Native as-of join between TWO relations through the custom
    * Catalyst operator ([[org.apache.spark.sql.graft.AsOfJoinPlan]] →
    * `AsOfJoinExec`, injected by GraftExtensions): for every left row,
    * the LAST right row of the same key with rightTs <= leftTs
    * (inclusive), LEFT OUTER. Columns are addressed by name against
    * each side's analyzed output; sides must not share column names.
    */
  def asOfJoinNative(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    def attr(df: DataFrame, name: String) =
      df.queryExecution.analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asOfJoinNative: no column '$name' in ${df.columns.mkString(",")}"))
    org.apache.spark.sql.graft.Shims.ofRows(left.sparkSession,
      org.apache.spark.sql.graft.AsOfJoinPlan(
        left.queryExecution.analyzed, right.queryExecution.analyzed,
        attr(left, leftKey), attr(right, rightKey),
        attr(left, leftTs), attr(right, rightTs),
        direction, tolerance))
  }

  /** q77 — q35's question through the NATIVE as-of join: each purchase
    * joined to the user's last click at-or-before it, as a genuine
    * two-relation join (purchases ⟕asof clicks) instead of the q35
    * union-and-carry window. Inclusive semantics (a click at exactly
    * the purchase timestamp matches) — q35 keeps its strictly-prior
    * contract; both are standard as-of variants. Output carries only
    * the matched TIMESTAMP, so same-ts click ties (which an as-of join
    * resolves arbitrarily among equal keys) cannot make the result
    * nondeterministic. Oracle: DuckDB's own `ASOF LEFT JOIN` — the
    * rare case where the oracle engine has the operator natively.
    *
    * Scale posture (why the native operator earns its place): the
    * window form sorts the UNION of both relations on one (key, ts)
    * axis; the native exec co-partitions each side on its key and
    * sorts each side separately — so a right side that is already
    * bucketed/sorted (the 100 TB quotes-table layout) skips its sort
    * and shuffle entirely, and the merge is O(|L|+|R|) with one
    * buffered row of state. Design A/B record (r14, standalone
    * min-of-3 at sf0.1 events ×100 — a historical decision record,
    * not a current-artifact claim; current numbers live in the bench
    * artifact): the native exec beat the window form ~1.4× — the
    * per-side sorts beat the union sort even with NEITHER side
    * pre-laid-out — and the unsafe-projected key path (AsOfJoinExec,
    * r13 verdict #3) was worth a further ~12% over the interpreted
    * eval it replaced, before any layout help.
    */
  def asOfNativeEvents(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    asOfJoinNative(purchases, clicks, "user_id", "c_user", "ts", "c_ts")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("c_ts").as("last_click_ts"))
      .orderBy(col("event_id"))
  }

  /** q80 — the FORWARD + TOLERANCE variant through the same native
    * operator: each click joined to the user's NEXT purchase, but only
    * if it lands within 2 hours (the conversion-attribution window) —
    * pandas `merge_asof(direction="forward", tolerance=...)` semantics
    * as one O(|L|+|R|) co-partitioned merge. Inclusive at equality on
    * both engines; only the matched TIMESTAMP is emitted, so same-ts
    * purchase ties stay deterministic (q77's convention). Oracle:
    * DuckDB's native forward ASOF (`c.ts <= p.p_ts` picks the smallest
    * p_ts ≥ c.ts) with the tolerance applied as a CASE on the matched
    * timestamp — null-extending beyond-window matches exactly like the
    * exec's tolerance check.
    */
  def asOfForwardEvents(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    asOfJoinNative(clicks, buys, "user_id", "p_user", "ts", "p_ts",
        direction = "forward", tolerance = Some(2L * 3600 * 1000000))
      .select(col("event_id"), col("user_id"), col("ts").as("click_ts"),
        col("p_ts").as("next_purchase_ts"))
      .orderBy(col("event_id"))
  }

  /** q60 — time-series resample + gap-fill: each user's `value` series
    * regularized onto a dense hourly grid between that user's first
    * and last observed hour, with missing hours FORWARD-FILLED from
    * the last observed hourly mean (last-observation-carried-forward —
    * the standard irregular-to-regular preprocessing before any
    * sliding-window feature or sequence model sees the data; the
    * category SURVEY §2.3 lists as absent from the reference alongside
    * range/as-of joins). `filled` marks interpolated rows so
    * downstream can weight or drop them. Output: (user_id, hour,
    * value, filled).
    *
    * Scale posture: the hourly pre-aggregate is one (user, hour)
    * shuffle with map-side combine; the dense grid comes from
    * `sequence()` exploded off each user's 2-timestamp span row — grid
    * size is span-bounded per user, never corpus-quadratic — and joins
    * back on the SAME (user, hour) key (AQE reuses the
    * co-partitioning). The carry-forward is one per-user window pass
    * ordered by hour — per-key linear scan, same shape as asOfJoin,
    * parallel across users. Nothing global: a million users fan out; a
    * single user's series is one task's sequential scan, which is the
    * algorithm's inherent order dependence.
    */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(avg(col("value")).as("v"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        last(col("v"), ignoreNulls = true).over(w).as("value"),
        col("v").isNull.as("filled"))
      .orderBy(col("user_id"), col("hour"))
  }
}

/** The registered queries that call [[TemporalJoins]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object TemporalJoinsQueries {
  import TemporalJoins._

  def queries: Seq[QueryDef] = Seq(
    // Temporal joins (absent categories in the reference, §2.3)
    QueryDef("q34_range_join", rangeJoin(_, _),
      Sql("""WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS sec
        |  FROM events)
        |SELECT a.user_id, count(*) AS n_pairs, avg(b.sec - a.sec) AS avg_gap_s
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND b.sec > a.sec AND b.sec - a.sec <= 60
        |GROUP BY a.user_id ORDER BY a.user_id""")),

    QueryDef("q35_asof_join", asOfJoin(_, _),
      Sql("""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
        |  last_click_ts
        |FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click'
        |                    THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY CAST(ts AS TIMESTAMP), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click_ts
        |  FROM events)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""")),

    // The NATIVE two-relation as-of join (custom LogicalPlan +
    // SparkStrategy + SparkPlan via SparkSessionExtensions)
    QueryDef("q77_asof_native", asOfNativeEvents(_, _),
      // q77: DuckDB runs its NATIVE ASOF LEFT JOIN — the rare oracle
      // where the reference engine has the operator built in. Inclusive
      // (p.ts >= c.ts); only the matched timestamp is emitted, so
      // same-ts tie resolution cannot differ between engines.
      Sql("""WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |p AS (SELECT event_id, user_id, ts FROM e
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, ts AS c_ts FROM e
        |  WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
        |  c.c_ts AS last_click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.c_user AND p.ts >= c.c_ts
        |ORDER BY event_id""")),

    // Its forward+tolerance variant (pandas merge_asof parity)
    QueryDef("q80_asof_forward", asOfForwardEvents(_, _),
      // q80: DuckDB's native FORWARD asof (`c.ts <= p.p_ts` = smallest
      // p_ts >= c.ts); the 2h tolerance nulls the match via CASE exactly
      // as the exec's tolerance check does.
      Sql("""WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT event_id, user_id, ts FROM e
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, ts AS p_ts FROM e
        |  WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |  CASE WHEN p.p_ts <= c.ts + INTERVAL 2 HOUR THEN p.p_ts
        |  END AS next_purchase_ts
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.p_user AND c.ts <= p.p_ts
        |ORDER BY event_id""")),

    // Time-series resample: dense hourly grid + forward-fill (LOCF)
    QueryDef("q60_gap_fill", gapFill(_, _),
      Sql("""WITH hourly AS (SELECT user_id,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    avg(value) AS v
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |  FROM hourly GROUP BY user_id),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM spans),
        |j AS (SELECT g.user_id, g.hour, h.v
        |  FROM grid g LEFT JOIN hourly h USING (user_id, hour))
        |SELECT user_id, hour,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  v IS NULL AS filled
        |FROM j ORDER BY user_id, hour""")),
  )
}
