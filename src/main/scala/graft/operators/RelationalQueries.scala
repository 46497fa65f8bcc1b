package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{QueryDef, Sql}

/** Core relational operator battery (SURVEY.md §7.2 step 1-2).
  *
  * The reference has exactly one hard-coded pipeline (SURVEY.md §2.3
  * lists joins/windows/sorts/set-ops as absent), so "same capabilities,
  * generalized" means a complete relational surface. Each query here is
  * a thin, deliberately-shaped Spark plan over the TPC-H-ish tables,
  * paired with DuckDB oracle SQL in SparkEntry for the t2 gate.
  *
  * Scale posture notes (100 TB):
  *   - `nation`/`region` are bounded dimension tables (25/5 rows at any
  *     SF) — always broadcast, never shuffled.
  *   - fact⋈fact joins (orders⋈lineitem, customer⋈orders) shuffle on
  *     the join key and rely on AQE for skew/plan fixes; no collects.
  *   - every aggregation is a plain groupBy → partial+final hash agg.
  *   - top-k uses orderBy+limit → TakeOrderedAndProject (no full sort
  *     materialization, per-partition heaps + single small merge).
  */
object RelationalQueries {

  // ── Aggregation (S4/M5/R1 generalized) ────────────────────────────────
  /** Pricing summary: filtered scan, two-key group-by, sums and means
    * of the line prices.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= expr("TIMESTAMP '1998-09-02 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum("l_extendedprice").as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        avg("l_quantity").as("avg_qty"),
        avg("l_extendedprice").as("avg_price"),
        avg("l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // ── Filters & projection (F2/S4 generalized) ──────────────────────────
  /** Pushed-down predicate + column pruning: the parquet scan should
    * read 4 columns and carry both filters as PushedFilters.
    */
  def filterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate") >= expr("TIMESTAMP '2000-01-01 00:00:00'"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // ── Joins ─────────────────────────────────────────────────────────────
  /** Two fact-fact shuffle joins + group + top-k (TPC-H Q3 shape). */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
    val l = Tables.lineitem(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(l("l_orderkey"), o("o_orderdate"))
      // revenue sums DECIMAL(18,4)-cast terms (q58's merge-order
      // lesson): the per-item double product is engine-identical,
      // decimal addition is exact and associative, final cast to
      // double is deterministic — bit-exact under any agg schedule
      .agg(sum((l("l_extendedprice") * (lit(1.0) - l("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Star join through broadcast dimensions: lineitem⋈supplier⋈nation⋈
    * region. nation/region are size-bounded → explicit broadcast hints;
    * supplier joins by key (AQE may still broadcast it at small SF).
    */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    l.join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Left-semi join: customers with at least one URGENT open order. */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join: customers with no orders placed in 2001. */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(year(col("o_orderdate")) === 2001)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** Left-outer join with zero-fill: every nation, its customer count
    * and balance sum (0 for nations with no customers — same dense-key
    * pattern as the reference's zero-filled day vector, Sample.cs:197).
    */
  def leftOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val c = Tables.customer(s, dir)
    // Aggregate the fact side BEFORE the join: the dimension join then
    // touches 25 rows, not every customer row.
    val perNation = c.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("c_acctbal")).as("bal"))
    n.join(perNation, n("n_nationkey") === perNation("c_nationkey"), "left")
      .select(col("n_name"),
        coalesce(col("cnt"), lit(0L)).as("n_customers"),
        coalesce(col("bal"), lit(0.0)).as("total_acctbal"))
      .orderBy(col("n_name"))
  }

  /** Full-outer join: customer-count vs supplier-count per nation key. */
  def fullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).groupBy(col("c_nationkey").as("nk_c"))
      .agg(count(lit(1)).as("n_customers"))
    val sup = Tables.supplier(s, dir).groupBy(col("s_nationkey").as("nk_s"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(sup, col("nk_c") === col("nk_s"), "full_outer")
      .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy(col("nationkey"))
  }

  // ── Aggregation variants ─────────────────────────────────────────────
  /** Distinct aggregates: per order-status, distinct customers/priorities. */
  def distinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        countDistinct(col("o_orderpriority")).as("n_prios"),
        sum_distinct(col("o_custkey")).as("sum_distinct_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  /** ROLLUP over (region, nation): subtotals + grand total. NULL group
    * labels are disambiguated with grouping() so the oracle compare is
    * exact.
    */
  def rollupRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(col("c_acctbal")).as("total_bal"), count(lit(1)).as("n_custs"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("total_bal"), col("n_custs"))
      .orderBy(col("region"), col("nation"))
  }

  /** Explicit GROUPING SETS: ((status), (priority), ()). */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.createOrReplaceTempView("orders_gs")
    s.sql("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             sum(o_totalprice) AS total_price,
             count(*) AS n_orders
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority""")
  }

  /** HAVING: nations whose customer balance sum exceeds a threshold. */
  def havingFilter(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey"))
      .agg(sum(col("c_acctbal")).as("total_bal"), count(lit(1)).as("n_custs"))
      .filter(col("total_bal") > 10000.0)
      .orderBy(col("c_nationkey"))

  /** Conditional aggregation (manual pivot on order priority class). */
  def casePivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice"))
          .otherwise(lit(0.0))).as("urgent_total"),
        sum(when(col("o_orderpriority") === "2-HIGH", col("o_totalprice"))
          .otherwise(lit(0.0))).as("high_total"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          col("o_totalprice")).otherwise(lit(0.0))).as("other_total"),
        count(when(col("o_orderpriority") === "1-URGENT", lit(1))).as("n_urgent"))
      .orderBy(col("o_orderstatus"))

  // ── Windows ──────────────────────────────────────────────────────────
  /** Ranking windows: top-3 orders per customer by price (rank with a
    * deterministic key tiebreak), plus dense_rank and a running count
    * frame.
    */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        dense_rank().over(w).as("drk"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Analytic windows over the event stream: running sum and lag delta
    * per user. Frame = rows unbounded-preceding..current; ordering has a
    * deterministic event_id tiebreak (and the oracle casts DuckDB's
    * nanosecond ts down to microseconds to match Spark's TimestampType).
    */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // the running sum folds DECIMAL(18,6)-cast terms (q58's merge-
    // order lesson, applied to window frames: DuckDB evaluates frame
    // sums through a segment tree whose association differs from
    // Spark's streaming fold — decimal addition is associative, so
    // both yield the identical total); double→decimal quantization of
    // each term is the same IEEE-defined rounding on both engines
    e.select(col("user_id"), col("event_id"), col("value"),
        sum(col("value").cast("decimal(18,6)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_value"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta_prev"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // ── Sort / limit ─────────────────────────────────────────────────────
  /** Global top-k: TakeOrderedAndProject, not a full sort. */
  def topkOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)

  // ── Set operations ───────────────────────────────────────────────────
  /** UNION ALL / INTERSECT / EXCEPT of customer-key sets, tagged.
    *
    * Evaluated as ONE membership aggregate (r16, guide §2.4): the
    * intersect/except formulation re-planned each year's distinct set
    * once per set-op consumer — six orders scans and a join per op in
    * the before-plan. A custkey's tag is a pure function of its
    * (has-1995, has-1996) membership pair, so one scan + one groupBy
    * computes all three partitions of the union: both = 11, only95 =
    * 10, only96 = 01. Same rows (set ops on distinct sets = exactly
    * one row per qualifying custkey), same tags; the oracle SQL keeps
    * the INTERSECT/EXCEPT form and the gate re-proved equality.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val y = year(col("o_orderdate"))
    Tables.orders(s, dir)
      .filter(y === 1995 || y === 1996)
      .select(col("o_custkey"), y.as("yr"))
      .groupBy(col("o_custkey"))
      .agg(max(when(col("yr") === 1995, 1).otherwise(0)).as("h95"),
        max(when(col("yr") === 1996, 1).otherwise(0)).as("h96"))
      .select(
        when(col("h95") === 1 && col("h96") === 1, lit("both"))
          .when(col("h95") === 1, lit("only95"))
          .otherwise(lit("only96")).as("tag"),
        col("o_custkey"))
      .orderBy(col("tag"), col("o_custkey"))
  }

  // ── Scalar function batteries ────────────────────────────────────────
  /** String functions over part: upper/lower/substring/length/concat/
    * regexp/replace/trim — all codegen'd built-ins.
    */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_name")).as("upper_name"),
        lower(col("p_brand")).as("lower_brand"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_pfx"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_type"), " ", "_").as("type_snake"),
        trim(col("p_name")).as("trimmed"),
        col("p_name").contains("a").as("has_a"))
      .orderBy(col("p_partkey"))

  /** Date/time functions over orders (ms-precision timestamps). */
  def dateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("total"))
      .orderBy(col("yr"), col("mo"))

  /** Math functions aggregated over lineitem. */
  def mathFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(
      sum(abs(col("l_discount") - lit(0.05))).as("sum_abs"),
      sum(sqrt(col("l_quantity"))).as("sum_sqrt"),
      sum(log(col("l_extendedprice") + lit(1.0))).as("sum_ln"),
      sum(pow(col("l_discount"), 2)).as("sum_sq"),
      max(greatest(col("l_tax"), col("l_discount"))).as("max_rate"),
      min(least(col("l_tax"), col("l_discount"))).as("min_rate"))

  /** Decorrelated scalar subquery: customers above their nation's mean
    * balance (expressed as agg + broadcast-joinable derived dim).
    */
  def aboveNationAvg(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val perNation = c.groupBy(col("c_nationkey").as("nk"))
      .agg(avg(col("c_acctbal")).as("nation_avg"))
    c.join(broadcast(perNation), c("c_nationkey") === col("nk"))
      .filter(col("c_acctbal") > col("nation_avg"))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }
}

/** The registered queries that call [[RelationalQueries]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object RelationalQueriesQueries {
  import RelationalQueries._

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", pricingSummary(_, _),
      Sql("""SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
        |  sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)) AS sum_charge,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_extendedprice) AS avg_price,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""")),

    QueryDef("q2_filter_project", filterProject(_, _),
      Sql("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""")),

    QueryDef("q3_shipping_priority", shippingPriority(_, _),
      Sql("""SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue, o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""")),

    QueryDef("q4_star_broadcast", revenueByNation(_, _),
      Sql("""SELECT r_name, n_name,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem, supplier, nation, region
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""")),

    QueryDef("q5_semi_join", semiJoin(_, _),
      Sql("""SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
        |ORDER BY c_custkey""")),

    QueryDef("q6_anti_join", antiJoin(_, _),
      Sql("""SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 2001)
        |ORDER BY c_custkey""")),

    QueryDef("q7_left_outer", leftOuterJoin(_, _),
      Sql("""SELECT n_name,
        |  coalesce(cnt, 0) AS n_customers,
        |  coalesce(bal, 0.0) AS total_acctbal
        |FROM nation LEFT JOIN (
        |  SELECT c_nationkey, count(*) AS cnt, sum(c_acctbal) AS bal
        |  FROM customer GROUP BY c_nationkey
        |) c ON n_nationkey = c_nationkey
        |ORDER BY n_name""")),

    QueryDef("q8_full_outer", fullOuterJoin(_, _),
      Sql("""SELECT coalesce(nk_c, nk_s) AS nationkey,
        |  coalesce(n_customers, 0) AS n_customers,
        |  coalesce(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nk_c, count(*) AS n_customers
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk_s, count(*) AS n_suppliers
        |      FROM supplier GROUP BY 1) s
        |ON nk_c = nk_s
        |ORDER BY nationkey""")),

    QueryDef("q9_distinct_agg", distinctAgg(_, _),
      Sql("""SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_custs,
        |  count(DISTINCT o_orderpriority) AS n_prios,
        |  CAST(sum(DISTINCT o_custkey) AS BIGINT) AS sum_distinct_cust,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""")),

    QueryDef("q10_rollup", rollupRevenue(_, _),
      Sql("""SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(n_name, 'ALL') AS nation,
        |  sum(c_acctbal) AS total_bal, count(*) AS n_custs
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""")),

    QueryDef("q11_grouping_sets", groupingSets(_, _),
      Sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  sum(o_totalprice) AS total_price, count(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""")),

    QueryDef("q12_having", havingFilter(_, _),
      Sql("""SELECT c_nationkey, sum(c_acctbal) AS total_bal, count(*) AS n_custs
        |FROM customer GROUP BY c_nationkey
        |HAVING sum(c_acctbal) > 10000.0
        |ORDER BY c_nationkey""")),

    QueryDef("q13_case_pivot", casePivot(_, _),
      Sql("""SELECT o_orderstatus,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0.0 END) AS urgent_total,
        |  sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice ELSE 0.0 END) AS high_total,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN o_totalprice ELSE 0.0 END) AS other_total,
        |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""")),

    QueryDef("q14_window_rank", windowRank(_, _),
      Sql("""SELECT o_custkey, o_orderkey, o_totalprice, rn, drk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER w AS INT) AS rn,
        |    CAST(dense_rank() OVER w AS INT) AS drk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 3
        |ORDER BY o_custkey, rn""")),

    QueryDef("q15_window_running", windowRunning(_, _),
      Sql("""SELECT user_id, event_id, value,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_value,
        |  value - lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS delta_prev
        |FROM events
        |ORDER BY user_id, event_id""")),

    QueryDef("q16_topk", topkOrders(_, _),
      Sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""")),

    QueryDef("q17_set_ops", setOps(_, _),
      Sql("""WITH w95 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1995),
        |     w96 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1996)
        |SELECT 'both' AS tag, o_custkey
        |  FROM (SELECT * FROM w95 INTERSECT SELECT * FROM w96)
        |UNION ALL
        |SELECT 'only95' AS tag, o_custkey
        |  FROM (SELECT * FROM w95 EXCEPT SELECT * FROM w96)
        |UNION ALL
        |SELECT 'only96' AS tag, o_custkey
        |  FROM (SELECT * FROM w96 EXCEPT SELECT * FROM w95)
        |ORDER BY tag, o_custkey""")),

    QueryDef("q18_string_funcs", stringFuncs(_, _),
      Sql("""SELECT p_partkey,
        |  upper(p_name) AS upper_name,
        |  lower(p_brand) AS lower_brand,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  substring(p_name, 1, 5) AS name_pfx,
        |  concat_ws('/', p_brand, p_type) AS brand_type,
        |  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
        |  regexp_replace(p_type, ' ', '_', 'g') AS type_snake,
        |  trim(p_name) AS trimmed,
        |  contains(p_name, 'a') AS has_a
        |FROM part ORDER BY p_partkey""")),

    QueryDef("q19_date_funcs", dateFuncs(_, _),
      Sql("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  count(*) AS n_orders, sum(o_totalprice) AS total
        |FROM orders GROUP BY 1, 2
        |ORDER BY yr, mo""")),

    QueryDef("q20_math_funcs", mathFuncs(_, _),
      Sql("""SELECT
        |  sum(abs(l_discount - 0.05)) AS sum_abs,
        |  sum(sqrt(l_quantity)) AS sum_sqrt,
        |  sum(ln(l_extendedprice + 1.0)) AS sum_ln,
        |  sum(pow(l_discount, 2)) AS sum_sq,
        |  max(greatest(l_tax, l_discount)) AS max_rate,
        |  min(least(l_tax, l_discount)) AS min_rate
        |FROM lineitem""")),

    QueryDef("q21_above_avg", aboveNationAvg(_, _),
      Sql("""SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        |JOIN (SELECT c_nationkey AS nk, avg(c_acctbal) AS nation_avg
        |      FROM customer GROUP BY 1) a
        |ON c.c_nationkey = a.nk
        |WHERE c_acctbal > nation_avg
        |ORDER BY c_custkey""")),
  )
}
