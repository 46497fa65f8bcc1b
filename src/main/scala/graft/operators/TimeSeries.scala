package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{QueryDef, Sql, SqlFn}

/** Time-series analytics over the `events` feed — the monitoring rung
  * of a training-data pipeline (ingest volumes, per-source quality
  * trends, drift alarms all reduce to these two shapes): sequential
  * smoothing (EWMA) and rolling-statistic anomaly detection.
  *
  * Both build on q60's hourly-mean series (one (user, hour) shuffle);
  * both are oracle-checkable EXACTLY because every arithmetic step is
  * shaped to be engine-identical — the EWMA is a left fold in a fixed
  * order with the same literal coefficients on both sides, and the
  * z-score is derived from explicit frame sums with the same
  * expression tree, not from an engine's built-in stddev (whose
  * internal algorithm is not pinned).
  */
object TimeSeries {

  private def hourlyMeans(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      // null user/ts rows have no series to belong to — dropped up
      // front, matching the STREAMING forms' null filter (and keeping a
      // null hour out of the sort, where Spark and DuckDB disagree on
      // null placement: sort_array nulls-first vs list_sort nulls-last)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(avg(col("value")).as("v"))
      // an hour whose only events carry null values has no usable
      // sample — q60 keeps it as a grid point to LOCF over; a
      // smoothing/statistic series must skip it
      .filter(col("v").isNotNull)

  /** q61 — per-user EWMA over the hourly mean series:
    * ewma_0 = x_0, ewma_i = α·x_i + (1−α)·ewma_{i−1}, reported at the
    * series end (the "current smoothed level" a monitoring dashboard
    * holds per key). One fold per user in hour order — collect_list +
    * sort_array + the `aggregate` HOF, folding left exactly like the
    * oracle's `list_reduce`, so the IEEE operation sequence is
    * identical on both engines (same seed, same coefficient literals,
    * same order).
    *
    * Scale posture: one (user, hour) aggregate shuffle + one per-user
    * aggregate; the per-user array holds that user's HOURLY MEANS (one
    * double per active hour — a year of history is 8.8 KB), not raw
    * events. The sequential recursion is inherent to EWMA; holding it
    * per key in one task is the only order-preserving evaluation that
    * does not serialize the whole relation.
    */
  def ewma(s: SparkSession, dir: String, alpha: Double = 0.3): DataFrame = {
    val beta = 1.0 - alpha
    hourlyMeans(s, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("hour"), col("v")))).as("xs"))
      .select(col("user_id"),
        size(col("xs")).as("n_hours"),
        element_at(col("xs"), -1).getField("hour").as("last_hour"),
        aggregate(
          slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
          element_at(col("xs"), 1).getField("v"),
          (acc, x) => lit(alpha) * x.getField("v") + lit(beta) * acc)
          .as("ewma"))
      .orderBy(col("user_id"))
  }

  /** q62 — rolling z-score anomaly detection: flag hours whose mean
    * deviates more than `z` sample standard deviations from the
    * trailing `lookback`-hour window (current hour EXCLUDED — the
    * baseline must not contain the point under test), requiring at
    * least `minN` baseline points. The variance comes from explicit
    * frame sums — n, Σx, Σx² — with the textbook
    * (Σx² − n·mean²)/(n−1) expression written identically in the
    * oracle, NOT from a built-in stddev: the built-ins' internal
    * update algorithms (Welford vs two-pass) differ between engines in
    * the last ulps, and the 9-digit gate would see it.
    *
    * Scale posture: one (user, hour) shuffle then a single sorted
    * window pass per user — three running sums over a bounded frame,
    * no second scan, no self-join. The |z| > threshold cut happens
    * after the 9-digit-stable arithmetic; a value landing within
    * float noise of the threshold could flip membership between
    * engines in principle, but requires |z| within ~1e-12 of the
    * threshold on continuous data.
    */
  /** EXACTNESS (r14, ex-allowlist): the r12 drift here was the window
    * FRAME SUMS — Spark's sliding accumulation and DuckDB's segment
    * tree add the same doubles in DIFFERENT ORDERS, so `sum(v) OVER w`
    * drifted a few ulp per frame (the r12 audit blamed "the EWMA
    * recurrence", but q61's actual recurrence is a pinned-order fold
    * and has been bit-exact throughout; the frame sums were the real
    * source — a decimal-cast repair was tried first and still drifted,
    * because the engines' double→decimal conversions themselves round
    * differently at sub-double scales). Fix = q61's own trick lifted
    * to frames: collect each frame IN WINDOW ORDER and fold it
    * sequentially with the `aggregate` HOF — the identical IEEE
    * operation sequence as the oracle's `list_reduce`, so s and s2
    * are bit-identical without changing the statistic's semantics at
    * all. Every downstream double (mean, sd, z) is then a fixed tree
    * over bit-identical inputs — full hash oracle, removed from
    * ULP_DRIFT_ALLOWED. Cost: O(frame) adds per row instead of O(1)
    * sliding updates — a documented constant factor (24 here) bought
    * for cross-engine bit-exactness; the frame list is bounded by
    * `lookback`, never corpus-sized. */
  def anomalies(s: SparkSession, dir: String, lookback: Int = 24,
      minN: Int = 12, z: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(-lookback, -1)
    hourlyMeans(s, dir)
      .select(col("user_id"), col("hour"), col("v"),
        collect_list(col("v")).over(w).as("fr"))
      .select(col("user_id"), col("hour"), col("v"),
        size(col("fr")).as("n"),
        aggregate(col("fr"), lit(0.0), (a, x) => a + x).as("s"),
        aggregate(col("fr"), lit(0.0), (a, x) => a + x * x).as("s2"))
      .filter(col("n") >= minN)
      // try_divide, not `/`: without the old window barrier the
      // optimizer collapses these projects into the filter conjunction
      // and common-subexpression elimination evaluates the divides
      // BEFORE the n >= minN guard — ANSI `/` then throws on the
      // n = 0 rows the filter was about to drop. try_divide yields
      // null there; every null row is dropped by the existing
      // n/sd/|z| filters on BOTH engines, and surviving rows get the
      // bit-identical quotient (divisors are nonzero where kept).
      .withColumn("mean", try_divide(col("s"), col("n")))
      // greatest(…, 0): a near-constant frame can yield a tiny NEGATIVE
      // variance from floating rounding — Spark's sqrt would give NaN
      // (silently dropped by sd > 0) but DuckDB's sqrt THROWS on
      // negatives, so clamp identically on both sides
      .withColumn("sd", sqrt(greatest(
        try_divide(col("s2") - col("n") * col("mean") * col("mean"),
          col("n") - 1),
        lit(0.0))))
      .filter(col("sd") > 0)
      .withColumn("zscore", try_divide(col("v") - col("mean"), col("sd")))
      .filter(abs(col("zscore")) > z)
      .select(col("user_id"), col("hour"), col("v").as("value"),
        col("zscore"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** q73 — Z-order (Morton) clustering statistics: normalize user_id
    * and the event's epoch hour each to a 16-bit coordinate by an
    * exact integer affine over the observed domain
    * ((x − min)·65535 div (max − min) — the standard recipe; raw low
    * bits would put this corpus's 11-bit user range and 10-bit hour
    * window entirely inside bucket 0), interleave the bits, cut the
    * 32-bit z range into 32 equal buckets (top 5 bits), and report
    * each bucket's row count and min/max of BOTH dimensions. This is
    * the write-side layout decision for 100 TB event data: a table
    * file-split by z keeps per-file min/max ranges tight on user_id
    * AND time simultaneously, so parquet zone-map skipping prunes
    * point-user queries and time-range queries from the same layout —
    * a single-column sort prunes only its own dimension
    * (TemporalJoinsSpec quantifies both spans on this corpus). d27 is
    * the read-side ordering counterpart; this is the storage-
    * clustering one.
    *
    * Exactness: the affine and the interleave are pure bigint
    * div/mod/multiply with literal powers of two — identical in
    * DuckDB, so the gate is a full hash oracle.
    *
    * Scale posture: one 2-value global aggregate broadcasts the
    * domain bounds; then a shuffle-free projection + a 32-group
    * aggregate with map-side combine. Writing the layout is
    * `repartitionByRange(z)` + `sortWithinPartitions(z)` — the q71
    * range-exchange shape, no single-partition stage.
    */
  def zorderStats(s: SparkSession, dir: String): DataFrame = {
    val zTerms = (0 until 16).map { i =>
      s"((u16 div ${1L << i}) % 2) * ${1L << (2 * i + 1)}L" +
        s" + ((h16 div ${1L << i}) % 2) * ${1L << (2 * i)}L"
    }.mkString(" + ")
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        expr("unix_millis(ts) div 3600000").as("epoch_hour"))
    val bounds = ev.agg(
      min(col("user_id")).as("min_u"), max(col("user_id")).as("max_u"),
      min(col("epoch_hour")).as("min_h"), max(col("epoch_hour")).as("max_h"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("u16", expr(
        "(user_id - min_u) * 65535L div greatest(max_u - min_u, 1L)"))
      .withColumn("h16", expr(
        "(epoch_hour - min_h) * 65535L div greatest(max_h - min_h, 1L)"))
      .withColumn("z", expr(zTerms))
      .withColumn("bucket", expr(s"CAST(z div ${1L << 27}L AS INT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("user_id")).as("min_user"),
        max(col("user_id")).as("max_user"),
        min(col("epoch_hour")).as("min_hour"),
        max(col("epoch_hour")).as("max_hour"))
      .orderBy(col("bucket"))
  }
}

/** The registered queries that call [[TimeSeries]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object TimeSeriesQueries {
  import TimeSeries._

  def queries: Seq[QueryDef] = Seq(
    // Per-user EWMA over the hourly mean series: a left fold in hour
    // order, identical IEEE op sequence to the oracle's list_reduce
    QueryDef("q61_ewma", ewma(_, _),
      // q61: list_reduce seeds with the first element and folds left —
      // the same op sequence as Spark's aggregate(slice(xs,2,n-1), x0, f)
      // with the same coefficient literals, so the doubles are identical.
      Sql("""WITH hourly AS (SELECT user_id,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    avg(value) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2 HAVING avg(value) IS NOT NULL),
        |ser AS (SELECT user_id,
        |    list_sort(list({'hour': hour, 'v': v})) AS xs
        |  FROM hourly GROUP BY user_id)
        |SELECT user_id, CAST(len(xs) AS INT) AS n_hours,
        |  xs[len(xs)].hour AS last_hour,
        |  list_reduce(list_transform(xs, e -> e.v),
        |    (a, x) -> 0.3::DOUBLE * x + 0.7::DOUBLE * a) AS ewma
        |FROM ser ORDER BY user_id""")),

    // Rolling z-score anomalies from explicit frame sums (no built-in
    // stddev — engines' internal algorithms differ in the last ulps)
    QueryDef("q62_anomaly", anomalies(_, _),
      // q62: variance from explicit frame sums with the identical
      // expression tree as the Spark side — never a built-in stddev.
      // q62 (r14): frame stats fold the WINDOW-ORDERED frame list
      // sequentially on both engines (q61's pinned-fold trick lifted to
      // frames) — Spark's aggregate HOF and this list_reduce run the
      // identical IEEE add sequence, so s/s2 are bit-identical;
      // ex-ULP_DRIFT_ALLOWED.
      Sql("""WITH hourly AS (SELECT user_id,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    avg(value) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2 HAVING avg(value) IS NOT NULL),
        |fr AS (SELECT user_id, hour, v, list(v) OVER w AS fr
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |st AS (SELECT user_id, hour, v,
        |    len(fr) AS n,
        |    list_reduce(list_prepend(0.0, fr), (a, x) -> a + x) AS s,
        |    list_reduce(list_prepend(0.0, [x * x for x in fr]),
        |      (a, x) -> a + x) AS s2
        |  FROM fr),
        |m AS (SELECT user_id, hour, v, n, s / n AS mean, s2
        |  FROM st WHERE n >= 12),
        |sd AS (SELECT user_id, hour, v, mean,
        |    sqrt(greatest((s2 - n * mean * mean) / (n - 1), 0)) AS sd
        |  FROM m)
        |SELECT user_id, hour, v AS value, (v - mean) / sd AS zscore
        |FROM sd WHERE sd > 0 AND abs((v - mean) / sd) > 3
        |ORDER BY user_id, hour""")),

    // Z-order clustering stats: per-z-bucket min/max of BOTH dims —
    // the write-side multi-dimensional data-skipping layout
    QueryDef("q73_zorder_stats", zorderStats(_, _),
      // q73: exact integer affine to 16-bit coordinates, unrolled bigint
      // bit interleave — the Spark expression's literal twin
      SqlFn(() => {
        val z = (0 until 16).map { i =>
          s"((u16 // ${1L << i}) % 2) * ${1L << (2 * i + 1)}" +
            s" + ((h16 // ${1L << i}) % 2) * ${1L << (2 * i)}"
        }.mkString(" + ")
        s"""WITH ev AS (SELECT user_id,
          |    epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000 AS epoch_hour
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |b AS (SELECT min(user_id) AS min_u, max(user_id) AS max_u,
          |    min(epoch_hour) AS min_h, max(epoch_hour) AS max_h FROM ev),
          |n AS (SELECT user_id, epoch_hour,
          |    (user_id - min_u) * 65535 // greatest(max_u - min_u, 1) AS u16,
          |    (epoch_hour - min_h) * 65535 // greatest(max_h - min_h, 1) AS h16
          |  FROM ev CROSS JOIN b),
          |zz AS (SELECT user_id, epoch_hour, ($z) AS z FROM n)
          |SELECT CAST(z // ${1L << 27} AS INT) AS bucket,
          |  count(*) AS n_rows,
          |  min(user_id) AS min_user, max(user_id) AS max_user,
          |  min(epoch_hour) AS min_hour, max(epoch_hour) AS max_hour
          |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin
      })),
  )
}
