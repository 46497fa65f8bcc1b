package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{Approx, AtMost, Bound, QueryDef, Sql}

/** Round-13 relational battery: the three TPC-H shapes still missing
  * from the sweep (Q6 / Q11 / Q12 — with them every one of the 22
  * query shapes has a registered, hash-gated adaptation) plus the
  * robust-statistics anomaly detector (median / MAD), the
  * order-statistic alternative to q62's EWMA z-score.
  *
  * Shape-faithful adaptation rules (same as q53–q72): the corpus has
  * no `partsupp`, no ship modes and no commit/receipt dates, so Q11
  * runs on lineitem revenue as the value measure and Q12 buckets the
  * shipdate−orderdate lag into fulfilment-speed classes — the GROUP
  * BY / EXISTS / scalar-subquery skeletons are the reference shapes,
  * the measures are what the corpus carries.
  *
  * Exactness contract (the q58/q74 convention): every summed measure
  * folds as DECIMAL — doubles only multiply/compare pointwise (single
  * correctly-rounded IEEE ops, engine-identical) or appear after a
  * final decimal→double cast. Medians are selected ORDER STATISTICS
  * (lower median = k-th smallest at k = ⌈n/2⌉), never interpolated:
  * interpolation is `lo + (hi−lo)·f` in one engine and `(lo+hi)/2` in
  * another — a last-ulp trap of exactly the t32 class — while "the
  * k-th smallest element" is the same bit pattern everywhere.
  */
object RelationalQueries4 {

  /** q83 — forecast revenue change (the TPC-H Q6 shape): total
    * discount revenue `Σ price·discount` over one shipdate year for
    * lines in a discount band below a quantity cap — the classic
    * single-table scan-filter-aggregate probe. No join, no window:
    * the value of the query is what the PLAN shows — both filters and
    * the 3-column projection reach the parquet scan (PushedFilters +
    * pruned ReadSchema), and the one-row aggregate map-side combines,
    * so at 100 TB the cost is exactly one selective columnar scan.
    *
    * Exactness: price and discount are generated at 2 dp, so the
    * decimal(18,2)/decimal(4,2) casts are value-exact on both engines
    * (nearest-double of a 2 dp value rounds back to itself); their
    * product and sum are exact decimal arithmetic, cast to double
    * once. The discount band compares the RAW doubles against the
    * same literals on both engines — identical bit patterns, no
    * boundary straddle.
    */
  def revenueForecast(s: SparkSession, dir: String,
      from: String = "1997-01-01", until: String = "1998-01-01",
      discLo: Double = 0.04, discHi: Double = 0.06,
      qtyMax: Double = 24.0): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(from).cast("date") &&
        col("l_shipdate") < lit(until).cast("date") &&
        col("l_discount") >= lit(discLo) && col("l_discount") <= lit(discHi) &&
        col("l_quantity") < lit(qtyMax))
      .select((col("l_extendedprice").cast("decimal(18,2)") *
        col("l_discount").cast("decimal(4,2)")).as("rev"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev")).cast("double").as("revenue"))

  /** q84 — important parts (the TPC-H Q11 shape): per-part revenue
    * restricted to a supplier-nation range, keeping parts whose share
    * exceeds a threshold of the global total — the grouped-aggregate
    * vs scalar-subquery-over-the-same-aggregate skeleton. Q11's
    * literal fraction is 1/SF-scaled by the TPC spec (a fixed share
    * can't survive a growing part count); here the threshold is
    * MEAN-RELATIVE for the same reason — keep parts above
    * `num/den × mean share` — and DIVISION-FREE (the q68 convention):
    * `value · n_parts · den > total · num` is exact decimal×bigint
    * arithmetic, so the cut is bit-identical across engines even for
    * parts sitting exactly on the boundary.
    *
    * Scale posture: the nation probe is a two-hop broadcast
    * (nation→supplier, both dimension-sized) into the fact scan; the
    * per-part aggregate map-side combines; the global total REUSES
    * the per-part aggregate (group-cardinality-sized, parts not
    * lines) and broadcasts one row back over it. Nothing rescans the
    * fact, nothing shuffles twice.
    */
  def importantParts(s: SparkSession, dir: String,
      maxNationKey: Int = 13, num: Int = 3, den: Int = 2): DataFrame = {
    // a nation-RANGE rather than Q11's single nation: the synthetic
    // corpus spreads so few suppliers per nation at small SF that one
    // nation can be empty — the range keeps the same dimension-probe
    // shape at every scale factor
    val natKeys = Tables.nation(s, dir)
      .filter(col("n_nationkey") < lit(maxNationKey))
      .select(col("n_nationkey"))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(natKeys), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("price")).as("val_dec"))
    val total = perPart.agg(sum(col("val_dec")).as("total_dec"),
      count(lit(1)).as("n_parts"))
    // Overflow envelope (r13 advice): the naive `val_dec * n_parts *
    // den` is decimal(28,2)×bigint×int — Spark caps the result TYPE at
    // decimal(38,2) and non-ANSI overflow returns null, silently
    // dropping the part from the filter. Instead both sides are built
    // so their result precision is EXACTLY 38 with no cap adjustment:
    //   left  = decimal(18,2) × decimal(19,0) → decimal(38,2)
    //   right = decimal(34,2) × decimal(3,0)  → decimal(38,2)
    // and every narrowing cast has a documented value envelope —
    //   val_dec  < 1e16: lineitems/part is scale-free (~30) in the
    //            generator, so per-part revenue stays ~1e6 at EVERY SF;
    //   n_parts·den < 9.2e18 (bigint): parts ≈ 2e5·SF — safe past
    //            SF 1e12 for den < 1000 (guarded below);
    //   total_dec < 1e32: 1e30 dollars of revenue — unreachable.
    // Within those envelopes the comparison is exact decimal
    // arithmetic, bit-identical to the oracle's wider decimals even
    // for parts sitting exactly on the boundary.
    require(num > 0 && num < 1000 && den > 0 && den < 1000,
      s"num/den must be in (0, 1000): got $num/$den")
    perPart.crossJoin(broadcast(total))
      .filter(col("val_dec").cast("decimal(18,2)") *
        (col("n_parts") * lit(den)).cast("decimal(19,0)") >
        col("total_dec").cast("decimal(34,2)") *
          lit(num).cast("decimal(3,0)"))
      .select(col("l_partkey"), col("val_dec").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** q85 — fulfilment-speed priority counts (the TPC-H Q12 shape):
    * join lineitem→orders over one shipdate year, bucket each line's
    * fulfilment lag (shipdate − orderdate, in days) into
    * FAST/MEDIUM/SLOW classes, and count high-priority (1-URGENT /
    * 2-HIGH) vs lower-priority orders per class — Q12's conditional
    * two-way aggregate, with the lag bucket standing in for the
    * missing ship-mode column.
    *
    * All-integer arithmetic (day diffs, CASE counts) — nothing can
    * drift. Scale posture: the year filter prunes the fact scan
    * before the join; the orderkey join is the natural co-partitioned
    * shuffle (neither side broadcastable at 100 TB — a constant
    * fraction of both survives the filter); the 3-group aggregate
    * map-side combines to nothing.
    */
  def fulfilmentPriority(s: SparkSession, dir: String,
      from: String = "1997-01-01", until: String = "1998-01-01",
      fastDays: Int = 15, mediumDays: Int = 45): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(from).cast("date") &&
        col("l_shipdate") < lit(until).cast("date"))
      .select(col("l_orderkey"), col("l_shipdate"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        when(datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) <= fastDays, "FAST")
          .when(datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")) <= mediumDays, "MEDIUM")
          .otherwise("SLOW").as("speed_class"),
        col("o_orderpriority"))
      .groupBy(col("speed_class"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("speed_class"))
  }

  /** q86 — robust anomaly detection by median / MAD: per event type,
    * flag the days whose total value sits more than `k` median
    * absolute deviations from the type's median day — the
    * order-statistic robust alternative to q62's EWMA z-score (one
    * outlier day inflates a mean+stddev gate enough to mask a second
    * outlier; the median/MAD gate doesn't move).
    *
    * Exactness scheme: daily totals fold as DECIMAL(18,6) (exact,
    * merge-order-free); `median` and `MAD` are LOWER MEDIANS — the
    * ⌈n/2⌉-th smallest element selected by row_number, a value that
    * EXISTS in the data, not an interpolation (see the object doc for
    * why interpolated medians are a t32-class cross-engine trap).
    * Deviations and the `k·MAD` threshold stay in exact decimal;
    * doubles appear only in the final presentation casts.
    *
    * Scale posture: one (type, day) aggregate with map-side combine,
    * then two window passes PARTITIONED BY TYPE over per-type series
    * that are calendar-bounded (days, not events — ~365 rows/key/year
    * regardless of corpus size), then a group-cardinality-sized
    * median relation broadcast back. No global sort, no
    * single-partition window.
    */
  def madAnomaly(s: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("dv"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("dv"), col("day"))
    val med = daily
      .select(col("event_type"), col("dv"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("event_type"))).as("n"))
      // lower median: ⌈n/2⌉ = floor((n+1)/2) — Column `/` is double
      // division, so floor() it back to the integer rank
      .filter(col("rn") === floor((col("n") + 1) / 2))
      .select(col("event_type"), col("dv").as("med"))
    val dev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("dv") - col("med")))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("adev"), col("day"))
    val mad = dev
      .select(col("event_type"), col("adev"),
        row_number().over(wd).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("event_type"))).as("n"))
      .filter(col("rn") === floor((col("n") + 1) / 2))
      .select(col("event_type"), col("adev").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .filter(col("adev") > col("mad") * lit(k))
      .select(col("event_type"), col("day"),
        col("dv").cast("double").as("day_value"),
        col("med").cast("double").as("median_value"),
        col("mad").cast("double").as("mad_value"))
      .orderBy(col("event_type"), col("day"))
  }

  /** q87's default sketch accuracy: rank error ≤ n / accuracy. */
  val QuantileAccuracy = 10000

  /** q87 — approximate quantiles by mergeable sketch: per-event-type
    * p50/p95/p99 of `value` via `percentile_approx` (Spark's
    * KLL-family quantile summary). The 100 TB path next to q25's
    * EXACT percentiles: the exact form needs every group's values
    * gathered (sort-or-collect state proportional to the group), the
    * sketch is a bounded-size mergeable summary with map-side
    * combine — the same exact-vs-sketch pairing as q25/q27 and
    * t14/t25. Approximate by design → NO SQL oracle (sketch collapse
    * rules are engine-specific); the published guarantee is rank
    * error ≤ 1/accuracy, the registered accuracy contract (measured
    * against the exact ranks and published by the bench as
    * `q87_rank_err_ratio`).
    */
  def approxQuantiles(s: SparkSession, dir: String,
      accuracy: Int = QuantileAccuracy): DataFrame =
    Tables.events(s, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(accuracy)).as("p95"),
        percentile_approx(col("value"), lit(0.99), lit(accuracy)).as("p99"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
}

/** The registered queries that call [[RelationalQueries4]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object RelationalQueries4Queries {
  import RelationalQueries4._

  def queries: Seq[QueryDef] = Seq(
    // TPC-H Q6 shape: single-table scan-filter-aggregate; both
    // filters + 3-col projection pushed to the scan
    QueryDef("q83_revenue_forecast", revenueForecast(_, _),
      // q83: TPC-H Q6 shape — decimal(18,2)×decimal(4,2) products (2 dp
      // generated values cast exactly), exact decimal sum, one double cast.
      Sql("""SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06
        |  AND l_quantity < 24.0""")),

    // TPC-H Q11 shape: grouped agg vs division-free global-fraction
    // threshold (the scalar subquery reuses the grouped agg)
    QueryDef("q84_important_parts", importantParts(_, _),
      // q84: TPC-H Q11 shape — division-free mean-relative threshold
      // (val·n·2 > total·3, i.e. 1.5× mean share — Q11's 1/SF scaling
      // built in) in exact decimal; the scalar total reuses the
      // grouped aggregate.
      Sql("""WITH sup AS (SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_nationkey < 13),
        |pp AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val_dec
        |  FROM lineitem JOIN sup ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |tot AS (SELECT sum(val_dec) AS total_dec, count(*) AS n_parts FROM pp)
        |SELECT l_partkey, CAST(val_dec AS DOUBLE) AS part_value
        |FROM pp, tot WHERE val_dec * n_parts * 2 > total_dec * 3
        |ORDER BY part_value DESC, l_partkey""")),

    // TPC-H Q12 shape: fulfilment-lag buckets × two-way conditional
    // priority counts — all-integer arithmetic
    QueryDef("q85_fulfilment_priority", fulfilmentPriority(_, _),
      // q85: TPC-H Q12 shape — all-integer lag buckets + conditional
      // counts; sums cast BIGINT (DuckDB sum(int) is HUGEINT).
      Sql("""SELECT CASE
        |    WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) <= 15 THEN 'FAST'
        |    WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) <= 45 THEN 'MEDIUM'
        |    ELSE 'SLOW' END AS speed_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""")),

    // Robust anomaly gate: median/MAD as exact lower-median ORDER
    // STATISTICS over decimal daily sums (no interpolation, no stddev)
    QueryDef("q86_mad_anomaly", madAnomaly(_, _),
      // q86: median/MAD as LOWER-MEDIAN order statistics (rank
      // ⌈n/2⌉ via row_number — never interpolated, the t32 lesson) over
      // exact DECIMAL(18,6) daily sums; doubles only in the final casts.
      Sql("""WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(18,6))) AS dv
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |rmed AS (SELECT event_type, dv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dv, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |med AS (SELECT event_type, dv AS med FROM rmed WHERE rn = (n + 1) // 2),
        |dev AS (SELECT d.event_type, d.day, d.dv, m.med,
        |    abs(d.dv - m.med) AS adev
        |  FROM daily d JOIN med m ON d.event_type = m.event_type),
        |rmad AS (SELECT event_type, day, adev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY adev, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev),
        |mad AS (SELECT event_type, adev AS mad FROM rmad WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, d.day, CAST(d.dv AS DOUBLE) AS day_value,
        |  CAST(d.med AS DOUBLE) AS median_value,
        |  CAST(x.mad AS DOUBLE) AS mad_value
        |FROM dev d JOIN mad x ON d.event_type = x.event_type
        |WHERE d.adev > x.mad * 4
        |ORDER BY d.event_type, d.day""")),

    // Mergeable quantile sketch (p50/p95/p99): approximate tier — no
    // SQL oracle. Contract: every (event_type, p) cell within the
    // sketch's rank-error guarantee, n/accuracy + 2 ranks.
    QueryDef("q87_approx_quantiles", approxQuantiles(_, _),
      Approx(Bound("q87_rank_err_ratio", quantileRankErrRatio, AtMost(1.0)))),
  )

  /** q87: the worst (event_type, p) cell's rank error as a share of the
    * sketch's guarantee, |rank − p·n| / (⌊n / accuracy⌋ + 2), where rank
    * counts the type's values ≤ the approximate quantile.
    */
  private def quantileRankErrRatio(s: SparkSession, dir: String): Double = {
    val cells = approxQuantiles(s, dir)
      .select(col("event_type"), col("n_events"), explode(array(
        Seq(0.5 -> "p50", 0.95 -> "p95", 0.99 -> "p99").map { case (p, c) =>
          struct(lit(p).as("p"), col(c).as("q")) }: _*)).as("cell"))
      .select(col("event_type"), col("n_events"), col("cell.p"), col("cell.q"))
    val values = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("value"))
    val slack = floor(col("n_events") / QuantileAccuracy) + 2
    cells.join(values, "event_type")
      .groupBy(col("event_type"), col("n_events"), col("p"), col("q"))
      .agg(count_if(col("value") <= col("q")).as("rank"))
      .agg(coalesce(max(abs(col("rank") - col("p") * col("n_events")) / slack), lit(0.0)))
      .head().getDouble(0)
  }
}
