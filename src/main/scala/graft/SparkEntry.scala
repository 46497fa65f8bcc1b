package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{TaxiCsv, TaxiDataGen}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `registry` entry is one operator from SURVEY.md §2 (or a §7
  * extension op): its name, its Spark-first builder, and the ANSI-SQL
  * equivalent DuckDB runs on the same parquet tables for the t2
  * correctness gate. `queries` and `oracleSql` are the two views of it
  * that Verify, Bench and the gate read.
  *
  * The taxi CSV pipeline itself (graft.sources.TaxiCsv + TaxiSpeed) is
  * exercised against generated fixture CSVs in the test suite (the TLC
  * CSVs are not on disk); here the same two-level-mean semantics run on
  * the `events` table (ts/value stand in for pickup/speed, and
  * user_id % 4 stands in for the per-file grouping — SURVEY.md §7.1).
  */
object SparkEntry {

  private def ev(s: SparkSession, dir: String) = Tables.events(s, dir)
  private def li(s: SparkSession, dir: String) = Tables.lineitem(s, dir)

  /** Scale-factor name the taxi oracles read their CSV corpus from.
    * Verify sets this to the basename of the sfDir it was invoked with
    * BEFORE dumping oracle_sql.json, so the DuckDB side always reads
    * the same generated corpus the Spark side did (TaxiDataGen keys the
    * corpus directory by sfDir basename). Defaults to the driver's
    * verify scale (TESTDATA.md convention) for direct oracleSql reads.
    */
  @volatile var oracleSfName: String = "sf0.01"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The registered `events_speed_faithful`: the reference's FULL
    * faithful semantics (two-level zero-filled avg-of-averages by
    * day-of-week, Sunday=0 — SURVEY.md §2.2) on the events table,
    * user_id%4 standing in for the per-file grouping.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("events_speed_faithful")(spark, "/root/testdata/sf0.001")

  type Build = (SparkSession, String) => DataFrame

  /** How the correctness gate checks a query's output. An oracle's SQL
    * is built each time `oracleSql` is read and never on the `queries`
    * path: it sees an `oracleSfName` set after start-up (the taxi and
    * JSONL oracles interpolate it), and the ~200 K chars of text cost
    * nothing to a caller that only runs queries.
    */
  sealed trait Oracle

  /** ANSI SQL DuckDB runs on the same parquet tables, as a margin-form
    * literal (`|` opens each continuation line) stripped when read.
    */
  final case class Sql(margin: String) extends Oracle

  /** Oracle SQL computed when read: interpolated text and generated
    * CTEs. Literals use [[Sql]] instead: a function per entry costs one
    * lambda linkage on the `queries` path, and 233 of them made the
    * first `queries` call in a cold JDK 17 JVM ~20 % slower (4-CPU host).
    */
  final case class SqlFn(build: () => String) extends Oracle

  /** No exact oracle: the query is approximate by design, engines
    * legitimately differ, and the gate records a rows-only check. Its
    * correctness is the accuracy contract `bounds`, declared here once:
    * Bench publishes each bound's metric ([[Bench.accuracy]]) and the
    * specs assert each limit at sf0.001.
    */
  final case class Approx(bounds: Bound*) extends Oracle {
    require(bounds.nonEmpty, "an approximate query declares at least one bound")
  }

  /** A measure of one query's accuracy over an sf dir. */
  type Measure = (SparkSession, String) => Double

  /** One accuracy bound: the metric's published name, how to measure
    * it, and the limit it must meet.
    */
  final case class Bound(metric: String, measure: Measure, limit: Limit)

  sealed trait Limit { def holds(v: Double): Boolean }
  final case class AtLeast(x: Double) extends Limit { def holds(v: Double): Boolean = v >= x }
  final case class AtMost(x: Double) extends Limit { def holds(v: Double): Boolean = v <= x }

  /** One registered query: its unique name, the Spark builder over an
    * sf dir, and the oracle the correctness gate checks it against.
    * Column names and ordering are aligned between builder and SQL on
    * purpose — the gate hashes values after sorting columns by name.
    */
  final case class QueryDef(name: String, build: Build, oracle: Oracle)

  /** `defs`, after checking that no name is declared twice. */
  private[graft] def checkedRegistry(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }

  /** Every registered query, in declaration order: the operators from
    * SURVEY.md §2 and the §7 extensions.
    */
  lazy val registry: Seq[QueryDef] = checkedRegistry(Seq(
    // ── Flagship analogs (SURVEY.md §2.2 semantics on `events`) ──────────
    // Faithful mode: unweighted mean of zero-filled per-group means;
    // user_id % 4 plays the reference's one-mapper-per-file grouping.
    // The group domain 0..3 is KNOWN up front (as the reference's file
    // listing is) — the faithful zero-fill collapses algebraically to
    // sum/N and the plan scans `events` exactly once.
    QueryDef("events_speed_faithful", (s, dir) =>
      TwoLevelMean.faithful(
        ev(s, dir).select((col("user_id") % 4).as("grp"),
          (dayofweek(col("ts")) - 1).cast("int").as("day"), col("value")),
        col("grp"), col("day"), col("value"), 0 to 6,
        0 to 3, keyName = "day", outName = "avg_value"
      ).orderBy("day"),
      // group domain is the fixed 0..3 (mirrors the Spark side's — the
      // reference's "listing-known" file set, not data-derived). As on
      // the Spark side, the per-group means are taken before the
      // zero-fill join (a join ahead of the avg reorders its sum) and
      // are summed in ascending grp order.
      Sql("""WITH base AS (
        |  SELECT user_id % 4 AS grp, CAST(dayofweek(ts) AS INT) AS day, value
        |  FROM events
        |), groups AS (SELECT * FROM (VALUES (0),(1),(2),(3)) g(grp)),
        |days AS (SELECT * FROM (VALUES (CAST(0 AS INT)),(1),(2),(3),(4),(5),(6)) d(day)),
        |means AS (SELECT grp, day, avg(value) AS m FROM base GROUP BY grp, day),
        |per_grp AS (
        |  SELECT g.grp, d.day, coalesce(m.m, 0.0) AS per_grp_avg
        |  FROM groups g CROSS JOIN days d
        |  LEFT JOIN means m ON m.grp = g.grp AND m.day = d.day
        |)
        |SELECT day, avg(per_grp_avg ORDER BY grp) AS avg_value
        |FROM per_grp GROUP BY day ORDER BY day""")),

    // Weighted (corrected) mode: plain global mean per day.
    QueryDef("events_speed_weighted", (s, dir) =>
      TwoLevelMean.weighted(
        ev(s, dir), (dayofweek(col("ts")) - 1).cast("int"), col("value"),
        keyName = "day", outName = "avg_value"
      ).orderBy("day"),
      Sql("""SELECT CAST(dayofweek(ts) AS INT) AS day, avg(value) AS avg_value
        |FROM events GROUP BY day ORDER BY day""")),

    // ── The reference's ACTUAL pipeline, end-to-end on CSV (S2→R1) ───────
    // 12-file taxi corpus derived deterministically from `events`
    // (TaxiDataGen): real text-scan ingest with the 17-field/int-probe
    // accept rule, try-parse timestamps, speed derivation and both §2.2
    // reduce modes. Month 12 is header-only, so faithful mode's
    // listing-derived group domain (a zero-accepted-rows file still
    // contributes a zero vector, Sample.cs:196-199) is exercised for real.
    QueryDef("taxi_avg_speed_faithful", (s, dir) =>
      TaxiSpeed.faithfulAvgByDowListed(s, TaxiDataGen.ensure(s, dir))
        .orderBy("day"),
      // Re-reads the SAME generated CSV bytes (read_text → line split) and
      // re-applies only the accept/speed/aggregation semantics — the gate
      // checks the pipeline, not the generator. The corpus path is keyed
      // by oracleSfName, the scale Verify ran the Spark side on. As on
      // the Spark side, each file's means are taken in line order before
      // the zero-fill join (a join ahead of the avg reorders its sum) and
      // are summed in filename order, the Spark side's listing order.
      SqlFn(() => s"""WITH $taxiKept,
        |files AS (SELECT DISTINCT filename FROM raw),
        |days AS (SELECT * FROM (VALUES (CAST(0 AS INT)),(1),(2),(3),(4),(5),(6)) d(day)),
        |means AS (SELECT filename, day, avg(speed_mph) AS m FROM kept GROUP BY filename, day),
        |per_file AS (
        |  SELECT fi.filename, d.day, coalesce(m.m, 0.0) AS pf
        |  FROM files fi CROSS JOIN days d
        |  LEFT JOIN means m ON m.filename = fi.filename AND m.day = d.day)
        |SELECT day, avg(pf ORDER BY filename) AS avg_speed_mph
        |FROM per_file GROUP BY day ORDER BY day""".stripMargin)),

    QueryDef("taxi_avg_speed_weighted", (s, dir) =>
      TaxiSpeed.weightedAvgByDow(TaxiCsv.trips(s, TaxiDataGen.ensure(s, dir)))
        .orderBy("day"),
      SqlFn(() => s"""WITH $taxiKept
        |SELECT day, avg(speed_mph) AS avg_speed_mph
        |FROM kept GROUP BY day ORDER BY day""".stripMargin)),

    // JSONL corpus ingest (the LLM-corpus exchange format): permissive
    // per-line parse, null-keyed/corrupt lines dropped identically on
    // both engines, md5 text digest proving decode fidelity
    QueryDef("docs_jsonl_ingest", (s, dir) => sources.JsonlCorpus.ingest(s, dir),
      // JSONL ingest: DuckDB reads the same generated bytes; its
      // ignore_errors skips what PERMISSIVE nulls out, and the shared
      // doc_id IS NOT NULL keeps the survivor sets identical
      SqlFn(() => s"""SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM read_json('${sources.JsonlCorpus.BaseDir}/$oracleSfName/*.json',
        |  format='newline_delimited', ignore_errors=true,
        |  columns={doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
        |           source: 'VARCHAR', n_chars: 'BIGINT'})
        |WHERE doc_id IS NOT NULL
        |ORDER BY doc_id""".stripMargin)),

    // ORC write→read round-trip reduced to an order-free content
    // checksum (DuckDB reads no ORC; the oracle recomputes the
    // checksum from the source-of-truth parquet)
    QueryDef("docs_orc_roundtrip", (s, dir) => sources.OrcCorpus.roundTrip(s, dir),
      // ORC round-trip: DuckDB has no ORC reader, so the oracle computes
      // the identical order-free reduction from the parquet documents
      // table the files were generated from — counts, char totals, and
      // a bit_xor content checksum over the corpus-standard md5 hash of
      // every (doc_id|text); any dropped/dup/corrupt row flips it.
      Sql("""SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(CAST(CAST('0x' || substr(md5(
        |      coalesce(CAST(doc_id AS VARCHAR), 'null') || '|'
        |        || coalesce(text, 'null')), 1, 15) AS BIGINT) AS BIGINT))
        |    AS content_xor
        |FROM documents GROUP BY lang ORDER BY lang""")),

    // ── Core relational: aggregation (S4/M5/R1 generalized) ──────────────
    QueryDef("q1_pricing_summary", (s, dir) =>
      li(s, dir)
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
        .orderBy("l_returnflag", "l_linestatus"),
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

    // ── Core relational battery (SURVEY.md §7.2; absent in reference §2.3,
    //    required for "same capabilities, generalized") ───────────────────
    QueryDef("q2_filter_project", RelationalQueries.filterProject(_, _),
      Sql("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""")),

    QueryDef("q3_shipping_priority", RelationalQueries.shippingPriority(_, _),
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

    QueryDef("q4_star_broadcast", RelationalQueries.revenueByNation(_, _),
      Sql("""SELECT r_name, n_name,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem, supplier, nation, region
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""")),

    QueryDef("q5_semi_join", RelationalQueries.semiJoin(_, _),
      Sql("""SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
        |ORDER BY c_custkey""")),

    QueryDef("q6_anti_join", RelationalQueries.antiJoin(_, _),
      Sql("""SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 2001)
        |ORDER BY c_custkey""")),

    QueryDef("q7_left_outer", RelationalQueries.leftOuterJoin(_, _),
      Sql("""SELECT n_name,
        |  coalesce(cnt, 0) AS n_customers,
        |  coalesce(bal, 0.0) AS total_acctbal
        |FROM nation LEFT JOIN (
        |  SELECT c_nationkey, count(*) AS cnt, sum(c_acctbal) AS bal
        |  FROM customer GROUP BY c_nationkey
        |) c ON n_nationkey = c_nationkey
        |ORDER BY n_name""")),

    QueryDef("q8_full_outer", RelationalQueries.fullOuterJoin(_, _),
      Sql("""SELECT coalesce(nk_c, nk_s) AS nationkey,
        |  coalesce(n_customers, 0) AS n_customers,
        |  coalesce(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nk_c, count(*) AS n_customers
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk_s, count(*) AS n_suppliers
        |      FROM supplier GROUP BY 1) s
        |ON nk_c = nk_s
        |ORDER BY nationkey""")),

    QueryDef("q9_distinct_agg", RelationalQueries.distinctAgg(_, _),
      Sql("""SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_custs,
        |  count(DISTINCT o_orderpriority) AS n_prios,
        |  CAST(sum(DISTINCT o_custkey) AS BIGINT) AS sum_distinct_cust,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""")),

    QueryDef("q10_rollup", RelationalQueries.rollupRevenue(_, _),
      Sql("""SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(n_name, 'ALL') AS nation,
        |  sum(c_acctbal) AS total_bal, count(*) AS n_custs
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""")),

    QueryDef("q11_grouping_sets", RelationalQueries.groupingSets(_, _),
      Sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  sum(o_totalprice) AS total_price, count(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""")),

    QueryDef("q12_having", RelationalQueries.havingFilter(_, _),
      Sql("""SELECT c_nationkey, sum(c_acctbal) AS total_bal, count(*) AS n_custs
        |FROM customer GROUP BY c_nationkey
        |HAVING sum(c_acctbal) > 10000.0
        |ORDER BY c_nationkey""")),

    QueryDef("q13_case_pivot", RelationalQueries.casePivot(_, _),
      Sql("""SELECT o_orderstatus,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0.0 END) AS urgent_total,
        |  sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice ELSE 0.0 END) AS high_total,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN o_totalprice ELSE 0.0 END) AS other_total,
        |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""")),

    QueryDef("q14_window_rank", RelationalQueries.windowRank(_, _),
      Sql("""SELECT o_custkey, o_orderkey, o_totalprice, rn, drk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER w AS INT) AS rn,
        |    CAST(dense_rank() OVER w AS INT) AS drk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 3
        |ORDER BY o_custkey, rn""")),

    QueryDef("q15_window_running", RelationalQueries.windowRunning(_, _),
      Sql("""SELECT user_id, event_id, value,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_value,
        |  value - lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS delta_prev
        |FROM events
        |ORDER BY user_id, event_id""")),

    QueryDef("q16_topk", RelationalQueries.topkOrders(_, _),
      Sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""")),

    QueryDef("q17_set_ops", RelationalQueries.setOps(_, _),
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

    QueryDef("q18_string_funcs", RelationalQueries.stringFuncs(_, _),
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

    QueryDef("q19_date_funcs", RelationalQueries.dateFuncs(_, _),
      Sql("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  count(*) AS n_orders, sum(o_totalprice) AS total
        |FROM orders GROUP BY 1, 2
        |ORDER BY yr, mo""")),

    QueryDef("q20_math_funcs", RelationalQueries.mathFuncs(_, _),
      Sql("""SELECT
        |  sum(abs(l_discount - 0.05)) AS sum_abs,
        |  sum(sqrt(l_quantity)) AS sum_sqrt,
        |  sum(ln(l_extendedprice + 1.0)) AS sum_ln,
        |  sum(pow(l_discount, 2)) AS sum_sq,
        |  max(greatest(l_tax, l_discount)) AS max_rate,
        |  min(least(l_tax, l_discount)) AS min_rate
        |FROM lineitem""")),

    QueryDef("q21_above_avg", RelationalQueries.aboveNationAvg(_, _),
      Sql("""SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        |JOIN (SELECT c_nationkey AS nk, avg(c_acctbal) AS nation_avg
        |      FROM customer GROUP BY 1) a
        |ON c.c_nationkey = a.nk
        |WHERE c_acctbal > nation_avg
        |ORDER BY c_custkey""")),

    QueryDef("q22_multiset_ops", RelationalQueries2.multisetOps(_, _),
      Sql("""WITH c95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |     c96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT 'except_all' AS tag, o_custkey
        |  FROM (SELECT * FROM c95 EXCEPT ALL SELECT * FROM c96)
        |UNION ALL
        |SELECT 'intersect_all' AS tag, o_custkey
        |  FROM (SELECT * FROM c95 INTERSECT ALL SELECT * FROM c96)
        |ORDER BY tag, o_custkey""")),

    QueryDef("q23_pivot", RelationalQueries2.pivotPriorities(_, _),
      Sql("""SELECT o_orderstatus,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END) AS "1-URGENT",
        |  sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END) AS "2-HIGH",
        |  sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END) AS "3-MEDIUM",
        |  sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END) AS "4-NOT SPECIFIED",
        |  sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END) AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""")),

    QueryDef("q24_hash_sample", RelationalQueries2.hashSample(_, _),
      Sql("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE CAST('0x' || substr(md5(l_orderkey || '_' || l_linenumber), 1, 15) AS BIGINT) % 100 < 10
        |ORDER BY l_orderkey, l_linenumber""")),

    QueryDef("q25_percentiles", RelationalQueries2.percentiles(_, _),
      Sql("""SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""")),

    QueryDef("q26_stats", RelationalQueries2.stats(_, _),
      // Two-pass deviation form mirrored from RelationalQueries2.stats:
      // both engines sum identical same-sign deviation products, so the
      // results agree to near-ulp (single-pass moment aggregates diverge
      // past ~9 significant digits from merge-order cancellation).
      Sql("""WITH mu AS (
        |  SELECT l_returnflag,
        |    avg(l_quantity) AS mu_qty, avg(l_extendedprice) AS mu_price,
        |    avg(l_discount) AS mu_disc, avg(l_tax) AS mu_tax
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag,
        |  sqrt(sum((l_quantity - mu_qty) * (l_quantity - mu_qty))
        |       / (count(*) - 1)) AS sd_qty,
        |  sum((l_extendedprice - mu_price) * (l_extendedprice - mu_price))
        |       / (count(*) - 1) AS var_price,
        |  sum((l_quantity - mu_qty) * (l_extendedprice - mu_price))
        |    / sqrt(sum((l_quantity - mu_qty) * (l_quantity - mu_qty))
        |           * sum((l_extendedprice - mu_price) * (l_extendedprice - mu_price)))
        |    AS corr_qty_price,
        |  sum((l_discount - mu_disc) * (l_tax - mu_tax))
        |       / (count(*) - 1) AS cov_disc_tax
        |FROM lineitem l JOIN mu USING (l_returnflag)
        |GROUP BY l.l_returnflag
        |ORDER BY l_returnflag""")),

    // HLL sketches are engine-specific — Spark's and DuckDB's
    // approx_count_distinct disagree within their error bounds, so a hash
    // compare is meaningless. Contract: the sketch's distinct order count
    // within 5 % of the exact one.
    QueryDef("q27_approx_distinct", RelationalQueries2.approxDistinct(_, _),
      Approx(Bound("q27_hll_rel_err", hllRelErr, AtMost(0.05)))),

    // Skew join, production shape: only DETECTED hot keys are salted
    // (none at this key cardinality → runtime tracks the plain join);
    // result equals the PLAIN join oracle by design. The full-salt
    // variant (saltedJoinRevenue) stays as the spec's reference.
    // CAVEAT: the DuckDB oracle below is the plain join — salting is
    // oracle-INVISIBLE by construction (it changes only shuffle layout,
    // never the join result), so edits to the salt path must keep that
    // invariant or the oracle will not catch a salt-induced bug; the
    // PlanChecksSpec construction/broadcast assertions are the guard.
    QueryDef("q28_skew_join", RelationalQueries2.hotKeySaltedJoinRevenue(_, _),
      Sql("""SELECT o_orderstatus,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""")),

    QueryDef("q29_json_extract", RelationalQueries2.jsonExtract(_, _),
      Sql("""SELECT event_type,
        |  CAST(sum(json_extract(props, '$.k')::INT) AS BIGINT) AS sum_k,
        |  avg(json_extract(props, '$.k')::INT) AS avg_k,
        |  count(json_extract(props, '$.k')) AS n_with_k
        |FROM events GROUP BY event_type
        |ORDER BY event_type""")),

    QueryDef("q30_string_agg", RelationalQueries2.stringAgg(_, _),
      Sql("""SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  count(DISTINCT o_custkey) AS n_custs
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""")),

    QueryDef("q31_explode_words", RelationalQueries2.explodeWords(_, _),
      Sql("""SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(lower(p_name), ' ')) AS word FROM part)
        |WHERE word <> '' GROUP BY word ORDER BY word""")),

    QueryDef("q32_arg_max", RelationalQueries2.argMax(_, _),
      Sql("""WITH r AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |  row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders)
        |SELECT o_orderstatus,
        |  max(CASE WHEN rmax = 1 THEN o_orderkey END) AS top_orderkey,
        |  max(o_totalprice) AS top_price,
        |  max(CASE WHEN rmin = 1 THEN o_orderkey END) AS bottom_orderkey
        |FROM r GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""")),

    QueryDef("q33_date_arith", RelationalQueries2.dateArith(_, _),
      Sql("""SELECT o_orderstatus,
        |  avg(lag_days) AS avg_lag_days,
        |  max(lag_days) AS max_lag_days,
        |  min(lag_days) AS min_lag_days
        |FROM (SELECT o_orderstatus,
        |    CAST(datediff('day', o_orderdate::DATE, l_shipdate::DATE) AS INT) AS lag_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Temporal joins (absent categories in the reference, §2.3)
    QueryDef("q34_range_join", TemporalJoins.rangeJoin(_, _),
      Sql("""WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS sec
        |  FROM events)
        |SELECT a.user_id, count(*) AS n_pairs, avg(b.sec - a.sec) AS avg_gap_s
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND b.sec > a.sec AND b.sec - a.sec <= 60
        |GROUP BY a.user_id ORDER BY a.user_id""")),

    QueryDef("q35_asof_join", TemporalJoins.asOfJoin(_, _),
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
    QueryDef("q77_asof_native", TemporalJoins.asOfNativeEvents(_, _),
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
    QueryDef("q80_asof_forward", TemporalJoins.asOfForwardEvents(_, _),
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
    QueryDef("q60_gap_fill", TemporalJoins.gapFill(_, _),
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

    // Per-user EWMA over the hourly mean series: a left fold in hour
    // order, identical IEEE op sequence to the oracle's list_reduce
    QueryDef("q61_ewma", TimeSeries.ewma(_, _),
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
    QueryDef("q62_anomaly", TimeSeries.anomalies(_, _),
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

    // Weekly cohort retention: DISTINCT (user, week) collapse first,
    // then a window-min cohort assignment — no countDistinct expansion
    QueryDef("q63_retention", Behavior.retention(_, _),
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
    QueryDef("q64_funnel", Behavior.funnel(_, _),
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
    QueryDef("q65_conversion_lag", Behavior.conversionLag(_, _),
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
    QueryDef("q66_stickiness", Behavior.stickiness(_, _),
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

    // TPC-H Q2 shape: argmax supplier over the derived part↔supplier
    // junction, region-pruned, heap-k presentation
    QueryDef("q59_best_supplier", RelationalQueries3.bestSupplierPerPart(_, _),
      Sql("""WITH junction AS (SELECT DISTINCT l_partkey, l_suppkey, p_name
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'SMALL'),
        |supp AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  WHERE r_name = 'EUROPE'),
        |ranked AS (SELECT j.l_partkey AS p_partkey, j.p_name,
        |    s.s_acctbal, s.s_suppkey, s.s_name, s.n_name,
        |    row_number() OVER (PARTITION BY j.l_partkey
        |      ORDER BY s.s_acctbal DESC, s.s_suppkey) AS rn
        |  FROM junction j JOIN supp s ON j.l_suppkey = s.s_suppkey)
        |SELECT p_partkey, p_name, s_acctbal, s_suppkey, s_name, n_name
        |FROM ranked WHERE rn = 1
        |ORDER BY s_acctbal DESC, p_partkey LIMIT 100""")),

    QueryDef("q36_window_range", RelationalQueries2.windowRangeFrame(_, _),
      Sql("""SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
        |    AS rolling_1k,
        |  count(*) OVER w AS n_within_1k
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""")),

    QueryDef("q37_window_dist", RelationalQueries2.windowDistributions(_, _),
      Sql("""SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(o_orderkey) OVER w AS cheapest_orderkey,
        |  nth_value(o_orderkey, 2) OVER wf AS second_cheapest_orderkey,
        |  last_value(o_orderkey) OVER wf AS priciest_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_orderstatus
        |         ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""")),

    // Same SQL text runs on both engines (spark.sql surface demo).
    QueryDef("q38_scalar_subquery", RelationalQueries2.scalarSubquery(_, _),
      SqlFn(() => RelationalQueries2.ScalarSubquerySql)),

    QueryDef("q39_unpivot", RelationalQueries2.unpivotRevenue(_, _),
      // unpivot(pivot(x)) with null cells dropped == the plain long-form
      // aggregation over the SAME fixed value list the pivot declares
      // (the IN mirrors pivot's explicit-values contract: an out-of-list
      // priority is excluded on both engines, not just by the pivot).
      Sql("""SELECT o_orderstatus, o_orderpriority AS priority,
        |  sum(o_totalprice) AS total
        |FROM orders
        |WHERE o_orderpriority IN
        |  ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, priority""")),

    QueryDef("q40_cube", RelationalQueries2.cubeRevenue(_, _),
      Sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  sum(o_totalprice) AS total_price, count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""")),

    // ── Round-3 battery: subquery shapes, star joins, scan batteries ─────
    QueryDef("q41_exists", RelationalQueries3.existsLateShip(_, _),
      Sql("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""")),

    QueryDef("q42_not_exists", RelationalQueries3.noBigOrderCustomers(_, _),
      Sql("""SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_acctbal
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""")),

    QueryDef("q43_cust_dist", RelationalQueries3.custOrderDistribution(_, _),
      Sql("""SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY c_count""")),

    QueryDef("q44_promo_share", RelationalQueries3.promoRevenueShare(_, _),
      Sql("""SELECT date_trunc('month', l_shipdate) AS ship_month,
        |  sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |    AS promo_revenue,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS total_revenue,
        |  100.0 * sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1.0 - l_discount)) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
        |GROUP BY date_trunc('month', l_shipdate)
        |ORDER BY ship_month""")),

    QueryDef("q45_small_qty", RelationalQueries3.smallQtyRevenue(_, _),
      // Decorrelated two-phase form on BOTH engines: identical row set,
      // identical arithmetic (a correlated subquery would re-aggregate
      // per row — same value, but the point is matched semantics).
      Sql("""WITH pa AS (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT sum(l_extendedprice) AS total_price, count(*) AS n_items
        |FROM lineitem JOIN pa ON l_partkey = ap_partkey
        |WHERE l_quantity < 0.5 * avg_qty""")),

    QueryDef("q46_regex", RelationalQueries3.regexBattery(_, _),
      Sql("""SELECT doc_id,
        |  regexp_extract(text, 'sp\w+') AS first_sp_word,
        |  length(regexp_replace(text, '[aeiou]', '', 'g')) AS len_no_vowels,
        |  CAST(regexp_matches(text, 'join\s+order') AS INT) AS has_join_order,
        |  len(string_split_regex(text, '\bscan\b')) - 1 AS n_scan
        |FROM documents ORDER BY doc_id""")),

    QueryDef("q47_array_funcs", RelationalQueries3.arrayBattery(_, _),
      Sql("""SELECT doc_id,
        |  len(w) AS n_words,
        |  len(list_distinct(w)) AS n_distinct,
        |  array_to_string(list_sort(list_distinct(w))[1:3], ',')
        |    AS first3_sorted,
        |  w[-1] AS last_word,
        |  CAST(list_contains(w, 'spark') AS INT) AS has_spark
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""")),

    QueryDef("q48_histogram", RelationalQueries3.priceHistogram(_, _),
      Sql("""SELECT bucket, n_orders, bucket_value,
        |  100.0 * n_orders / sum(n_orders) OVER () AS pct_orders
        |FROM (
        |  SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |    count(*) AS n_orders, sum(o_totalprice) AS bucket_value
        |  FROM orders GROUP BY 1)
        |ORDER BY bucket""")),

    QueryDef("q49_local_supplier", RelationalQueries3.localSupplierRevenue(_, _),
      Sql("""SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""")),

    QueryDef("q50_top_supplier", RelationalQueries3.topSupplier(_, _),
      Sql("""WITH rev AS (
        |  SELECT l_suppkey, sum(l_extendedprice * (1.0 - l_discount))
        |    AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '2000-07-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""")),

    // TPC-H Q21 shape: EXISTS + NOT EXISTS on the same fact, same key
    QueryDef("q53_sole_late_supplier", RelationalQueries3.soleLateSupplier(_, _),
      Sql("""WITH late AS (
        |  SELECT l_orderkey, l_suppkey, o_orderstatus
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL '30 days')
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""")),

    // Bilateral trade volume by ship year (TPC-H Q7's shape): nation
    // pair broadcast-pruned onto supplier/customer before the facts
    QueryDef("q54_volume_shipping", RelationalQueries3.volumeShipping(_, _),
      Sql("""SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INT) AS l_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
        |      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
        |    AND l_shipdate BETWEEN '1995-01-01' AND '1996-12-31')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""")),

    // National market share in a region (TPC-H Q8's shape):
    // conditional-sum share over a fully dimension-pruned star
    QueryDef("q55_market_share", RelationalQueries3.marketShare(_, _),
      Sql("""SELECT o_year,
        |  CAST(sum(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
        |      AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
        |FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume,
        |    n2.n_name AS nation
        |  FROM part, supplier, lineitem, orders, customer,
        |    nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND c_nationkey = n1.n_nationkey
        |    AND n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |    AND s_nationkey = n2.n_nationkey
        |    AND o_orderdate BETWEEN '1995-01-01' AND '1996-12-31'
        |    AND p_type = 'ECONOMY')
        |GROUP BY o_year ORDER BY o_year""")),

    // Returned-item revenue top-20 (TPC-H Q10): heap-k, no total sort
    QueryDef("q56_returned_revenue", RelationalQueries3.returnedRevenue(_, _),
      Sql("""SELECT c_custkey, c_name, c_acctbal, n_name,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // Disjunctive bracket revenue (TPC-H Q19): OR'd brand/size/qty
    // brackets over one broadcast probe, zero fact shuffles
    QueryDef("q57_bracket_revenue", RelationalQueries3.bracketRevenue(_, _),
      Sql("""SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""")),

    // Product-line profit by nation and year (TPC-H Q9 shape, cost
    // proxied off p_retailprice): selective part probe FIRST
    QueryDef("q58_profit", RelationalQueries3.profitByNationYear(_, _),
      Sql("""SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, o_year
        |ORDER BY n_name, o_year DESC""")),

    // Large-volume orders (TPC-H Q18 shape): HAVING on the pre-join
    // aggregate, co-partitioned orderkey join, TakeOrdered top-100
    QueryDef("q67_big_orders", RelationalQueries3.bigOrders(_, _),
      Sql("""WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250.0)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // Dormant customers (TPC-H Q22 shape): above-average balance, no
    // orders since the cutoff; division-free exact-decimal threshold
    QueryDef("q68_dormant_customers", RelationalQueries3.lostCustomers(_, _),
      // q68: no division, no double in the threshold decision — the
      // 2-dp balances cast EXACTLY to DECIMAL(12,2) and `bal > avg` is
      // evaluated as `bal·N > S` in decimal×bigint arithmetic, so both
      // engines flip the same boundary customers. Only the final per-
      // nation total casts to double.
      Sql("""WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer),
        |st AS (SELECT sum(bal) AS s, count(*) AS n FROM c WHERE bal > 0),
        |q AS (SELECT c.c_custkey, c.c_nationkey, c.bal FROM c, st
        |  WHERE c.bal * st.n > st.s
        |    AND NOT EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_custkey = c.c_custkey
        |        AND o.o_orderdate >= DATE '2000-01-01'))
        |SELECT n.n_name AS nation, count(*) AS n_custs,
        |  CAST(sum(q.bal) AS DOUBLE) AS total_acctbal
        |FROM q JOIN nation n ON q.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q16 shape: distinct-supplier counts per surviving part
    // spec, NOT-IN supplier blacklist as a broadcast anti join
    QueryDef("q69_supplier_counts", RelationalQueries3.supplierCounts(_, _),
      // q69: integer count per group; NOT IN is safe here (s_suppkey is
      // the non-null key), mirrored as the same anti-membership filter.
      Sql("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |SELECT p.p_brand, p.p_type, p.p_size,
        |  count(DISTINCT ps.l_suppkey) AS supplier_cnt
        |FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#45'
        |  AND p.p_type NOT LIKE 'PROMO%'
        |  AND p.p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        |  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // TPC-H Q20 shape: excess-stock suppliers via the flattened
    // part-filter -> pair availability-vs-demand -> membership chain
    QueryDef("q70_excess_stock", RelationalQueries3.excessStockSuppliers(_, _),
      // q70: avail is a bigint count, demand an exact DECIMAL(12,2) sum
      // (q58's merge-order lesson), the threshold compare exact on both.
      Sql("""WITH rp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
        |ps AS (SELECT l_partkey, l_suppkey, count(*) AS avail,
        |    sum(CASE WHEN year(l_shipdate) = 1998
        |      THEN CAST(l_quantity AS DECIMAL(12,2))
        |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS demand
        |  FROM lineitem JOIN rp ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |q AS (SELECT l_suppkey, count(*) AS n_excess_parts
        |  FROM ps WHERE 2 * avail > demand GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, q.n_excess_parts
        |FROM q JOIN supplier s ON q.l_suppkey = s.s_suppkey
        |ORDER BY s_name""")),

    // Customer-value deciles via the DISTRIBUTED global rank (range
    // partition + per-partition offsets — no single-partition window)
    QueryDef("q71_value_tiles", RelationalQueries3.customerValueTiles(_, _),
      // q71: the oracle states the SEMANTICS as a plain global
      // row_number; the Spark side computes the identical rank via the
      // distributed offset formulation. Decimal spend sums are exact, so
      // ranks and tile cuts are engine-identical integers.
      Sql("""WITH c AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS spend
        |  FROM orders GROUP BY 1),
        |r AS (SELECT spend,
        |    row_number() OVER (ORDER BY spend DESC, o_custkey) AS rk,
        |    (SELECT count(*) FROM c) AS n FROM c)
        |SELECT CAST((rk - 1) * 10 // n AS INT) AS tile,
        |  count(*) AS n_customers,
        |  CAST(sum(spend) AS DOUBLE) AS total_spend,
        |  CAST(min(spend) AS DOUBLE) AS min_spend,
        |  CAST(max(spend) AS DOUBLE) AS max_spend
        |FROM r GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q4 shape: EXISTS-per-order late-line check as a residual-
    // predicate LEFT SEMI join on the natural key
    QueryDef("q72_late_priority", RelationalQueries3.latePriorityOrders(_, _),
      // q72: timestamp-vs-timestamp interval compare — integer
      // microsecond arithmetic in both engines, no float in the decision
      Sql("""SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1 ORDER BY 1""")),

    // Z-order clustering stats: per-z-bucket min/max of BOTH dims —
    // the write-side multi-dimensional data-skipping layout
    QueryDef("q73_zorder_stats", TimeSeries.zorderStats(_, _),
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

    // Incremental aggregate maintenance: answer computed THROUGH the
    // base⊕delta partial merge; the full-recompute oracle proves it
    QueryDef("q74_incremental_agg", RelationalQueries3.incrementalAgg(_, _),
      // q74: the oracle is the FULL recompute — hash equality against
      // the Spark side's base⊕delta merge path is the mergeability
      // proof; decimal partials make both exact.
      Sql("""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) AS avg_price
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""")),

    // SCD-2 dimension versioning: the nightly MERGE INTO shape
    QueryDef("q75_scd2_history", RelationalQueries3.scd2History(_, _),
      // q75: attributes ride unchanged (one engine-identical double add);
      // dates and versions are literals — the MERGE membership is pure
      // integer modulus, identical on both engines.
      Sql("""WITH dim AS (SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |  FROM customer),
        |changes AS (SELECT c_custkey, c_name,
        |    'MACHINERY' AS c_mktsegment, c_acctbal + 100.0 AS c_acctbal
        |  FROM dim WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0),
        |touched AS (SELECT c_custkey FROM dim
        |  WHERE c_custkey % 7 = 0 OR c_custkey % 13 = 0)
        |SELECT d.c_custkey, d.c_name, d.c_mktsegment, d.c_acctbal,
        |  1 AS version, DATE '2024-01-01' AS valid_from,
        |  CASE WHEN t.c_custkey IS NOT NULL THEN DATE '2024-06-01' END
        |    AS valid_to,
        |  t.c_custkey IS NULL AS is_current
        |FROM dim d LEFT JOIN touched t ON d.c_custkey = t.c_custkey
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
        |  2 AS version, DATE '2024-06-01' AS valid_from,
        |  CAST(NULL AS DATE) AS valid_to, true AS is_current
        |FROM changes
        |ORDER BY c_custkey, version""")),

    // Point-in-time reconstruction over the SCD-2 history (as-of walk
    // vs an independent modulus-rule oracle)
    QueryDef("q76_asof_dimension", RelationalQueries3.asOfDimension(_, _),
      // q76: each probe date's membership derived DIRECTLY from the
      // modulus rules — independent of the history walk the Spark side
      // does, so agreement audits the whole SCD-2 pipeline.
      Sql("""WITH dim AS (SELECT c_custkey, c_mktsegment, c_acctbal
        |  FROM customer),
        |mar AS (SELECT DATE '2024-03-01' AS as_of, c_mktsegment,
        |    c_acctbal FROM dim),
        |jul AS (SELECT DATE '2024-07-01' AS as_of, c_mktsegment,
        |    c_acctbal FROM dim
        |  WHERE c_custkey % 7 <> 0 AND c_custkey % 13 <> 0
        |  UNION ALL
        |  SELECT DATE '2024-07-01', 'MACHINERY', c_acctbal + 100.0
        |  FROM dim WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0),
        |u AS (SELECT * FROM mar UNION ALL SELECT * FROM jul)
        |SELECT as_of, c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |    AS total_acctbal
        |FROM u GROUP BY 1, 2 ORDER BY as_of, c_mktsegment""")),

    // Per-event point-in-time enrichment against the SCD-2 history
    // (two probes per event cover v1, v2, and churned-NULL regimes)
    QueryDef("q90_pit_enrich", RelationalQueries3.pointInTimeEnrich(_, _),
      // q90: the q75 history rebuilt inline, each event probed at its
      // own date and +8 months; CAST(... AS DATE) keeps the shifted
      // probe a DATE on both engines (DuckDB date+interval yields a
      // timestamp), and both engines clamp month-ends identically
      // (moot here: January days shift into September losslessly).
      Sql("""WITH dim AS (SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |  FROM customer),
        |changes AS (SELECT c_custkey, c_name,
        |    'MACHINERY' AS c_mktsegment, c_acctbal + 100.0 AS c_acctbal
        |  FROM dim WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0),
        |touched AS (SELECT c_custkey FROM dim
        |  WHERE c_custkey % 7 = 0 OR c_custkey % 13 = 0),
        |hist AS (
        |  SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal,
        |    1 AS version, DATE '2024-01-01' AS valid_from,
        |    CASE WHEN t.c_custkey IS NOT NULL THEN DATE '2024-06-01' END
        |      AS valid_to
        |  FROM dim d LEFT JOIN touched t ON d.c_custkey = t.c_custkey
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    2 AS version, DATE '2024-06-01' AS valid_from,
        |    CAST(NULL AS DATE) AS valid_to
        |  FROM changes),
        |ev AS (SELECT event_id, user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d0 FROM events),
        |pr AS (SELECT event_id, user_id, 'asis' AS probe, d0 AS event_date
        |    FROM ev
        |  UNION ALL
        |  SELECT event_id, user_id, 'shifted',
        |    CAST(d0 + INTERVAL 8 MONTH AS DATE) FROM ev)
        |SELECT p.event_id, p.probe, p.user_id, p.event_date,
        |  h.c_mktsegment AS mktsegment, h.c_acctbal AS acctbal,
        |  CAST(h.version AS INT) AS dim_version
        |FROM pr p LEFT JOIN hist h ON p.user_id = h.c_custkey
        |  AND h.valid_from <= p.event_date
        |  AND (h.valid_to IS NULL OR h.valid_to > p.event_date)
        |ORDER BY event_id, probe""")),

    // Bucketed-layout fact⋈fact join: scan-satisfied SMJ, zero
    // Exchange/Sort below the join (the write-once-shuffle-never path)
    QueryDef("q78_bucketed_join", BucketedLayout.revenueByPriority(_, _),
      // q78: the oracle runs the logically identical join/agg over the
      // PLAIN parquet views — bucketing changes the plan, not the answer.
      // Revenue folds as DECIMAL(18,4) on both engines (q58 convention);
      // only the exact total casts to double.
      Sql("""SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""")),

    // Date-partitioned layout: the week filter resolves at directory-
    // listing time (PartitionFilters, 7 of ~30 dirs read — spec-pinned)
    QueryDef("q79_partition_pruning", PartitionedLayout.weekSummary(_, _),
      // q79: the oracle runs the same week filter/agg over the PLAIN
      // events parquet — partitioning changes the I/O, not the answer.
      // value folds as DECIMAL(18,6) on both engines; final cast to
      // double (the q58 convention).
      Sql("""WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
        |    event_type, CAST(value AS DECIMAL(18,6)) AS v FROM events)
        |SELECT event_date, event_type, count(*) AS n,
        |  CAST(sum(v) AS DOUBLE) AS sum_value
        |FROM e
        |WHERE event_date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1, 2 ORDER BY 1, 2""")),

    // DYNAMIC partition pruning: the dates come from filtering a dim
    // table; DPP injects the runtime IN-subquery into the scan
    QueryDef("q81_dynamic_pruning", PartitionedLayout.campaignSummary(_, _),
      // q81: the campaign dim is deterministic, so the oracle REBUILDS
      // it (generate_series) and joins the plain events parquet — DPP
      // changes which directories get read, not the answer.
      Sql("""WITH cal AS (SELECT DATE '2024-01-01' + CAST(d - 1 AS INTEGER)
        |    AS cal_date,
        |    CASE WHEN d BETWEEN 5 AND 9 THEN 'A'
        |         WHEN d BETWEEN 20 AND 22 THEN 'B' END AS flight
        |  FROM generate_series(1, 31) t(d)),
        |e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
        |    event_type, CAST(value AS DECIMAL(18,6)) AS v FROM events)
        |SELECT event_date, event_type, count(*) AS n,
        |  CAST(sum(v) AS DOUBLE) AS sum_value
        |FROM e JOIN cal ON e.event_date = cal.cal_date
        |WHERE cal.flight IN ('A', 'B')
        |GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Small-files compaction (64 fragments → right-sized range-
    // clustered files); the oracle proves the rewrite is physical-only
    QueryDef("d33_compact_shards", Compaction.compactedContent(_, _),
      // d33: content fingerprint of the ORIGINAL table — the compaction
      // path (fragment 64-way, rewrite range-clustered) must be a
      // physical-only rewrite, so its output rows equal the source's.
      Sql("""SELECT doc_id, lang, source, n_chars, md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""")),

    // Content-defined chunking dedup: rolling-hash boundaries,
    // cross-corpus repeated-chunk groups (the rsync/LBFS shape)
    QueryDef("d34_cdc_chunks", Dedup.cdcChunkDedup(_, _),
      // d34: the identical rolling-hash boundary rule (init-free
      // list_reduce == Spark's 0-seeded fold, first step < P), char-
      // array slicing for reassembly (never substring), md5 group keys.
      Sql("""WITH d AS (SELECT doc_id, string_split(text, '') AS chars,
        |    CAST(length(text) AS INT) AS n
        |  FROM documents WHERE length(text) > 0),
        |cd AS (SELECT doc_id, chars, n,
        |    [CAST(ascii(x) AS BIGINT) for x in chars] AS codes FROM d),
        |b AS (SELECT doc_id, chars, n,
        |    CASE WHEN n >= 8 THEN
        |      [i for i in range(8, n + 1) if
        |        list_reduce(codes[i-7:i],
        |          (a, c) -> (a * 1000003 + c) % 2147483647) % 64 = 0]
        |    ELSE CAST([] AS BIGINT[]) END AS bnd
        |  FROM cd),
        |sp AS (SELECT doc_id, chars,
        |    list_prepend(CAST(0 AS BIGINT), bnd) AS ss,
        |    list_append(bnd, CAST(n AS BIGINT)) AS ee
        |  FROM b),
        |ch AS (SELECT doc_id,
        |    unnest([array_to_string(chars[CAST(ss[k] + 1 AS INT):
        |        CAST(ee[k] AS INT)], '')
        |      for k in range(1, len(ss) + 1) if ee[k] > ss[k]]) AS chunk
        |  FROM sp)
        |SELECT md5(chunk) AS chunk_md5, count(*) AS n_copies,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(min(length(chunk)) AS BIGINT) AS chunk_len,
        |  min(doc_id) AS keep_doc
        |FROM ch GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_copies DESC, chunk_md5""")),

    // Per-channel normalization stats (interleaved RGB stand-in):
    // exact integer moments, one divide + one IEEE sqrt
    QueryDef("m15_channel_stats", Multimodal.channelStats(_, _),
      // m15: exact integer channel moments (strided list comprehension
      // mirrors Spark's strided sequence walk); the derived doubles are
      // one divide + one sqrt — both correctly-rounded IEEE ops.
      Sql("""WITH d AS (SELECT doc_id,
        |    [CAST(ascii(x) AS BIGINT) for x in string_split(text, '')]
        |      AS codes,
        |    CAST(length(text) AS BIGINT) AS n
        |  FROM documents WHERE length(text) >= 3),
        |ch AS (SELECT doc_id, unnest(range(0, 3)) AS channel, codes, n FROM d),
        |v AS (SELECT doc_id, CAST(channel AS INT) AS channel,
        |    [codes[CAST(i AS INT)] for i in range(1 + channel, n + 1, 3)]
        |      AS xs
        |  FROM ch),
        |agg AS (SELECT doc_id, channel,
        |    CAST(len(xs) AS BIGINT) AS n_samples,
        |    CAST(list_sum(xs) AS BIGINT) AS sum_x,
        |    CAST(list_sum([x * x for x in xs]) AS BIGINT) AS sum_x2
        |  FROM v)
        |SELECT doc_id, channel, n_samples, sum_x, sum_x2,
        |  CAST(sum_x AS DOUBLE) / CAST(n_samples AS DOUBLE) AS mean,
        |  sqrt(CAST(n_samples * sum_x2 - sum_x * sum_x AS DOUBLE)
        |    / CAST(n_samples * n_samples AS DOUBLE)) AS stddev
        |FROM agg ORDER BY doc_id, channel""")),

    // Patch-pool embedding bridge: m11's plane pooled to an integer
    // patch-sum vector, probes ranked by exact-arithmetic cosine
    QueryDef("m16_patch_embed_topk", Multimodal.patchEmbedTopK(_, _),
      // m16: integer patch-sum embeddings (exact in any fold order),
      // explicit cosine dot/(sqrt(na)*sqrt(nb)) with the same tree as
      // the Spark side — never list_cosine_similarity, whose internal
      // op order is unspecified.
      Sql("""WITH d AS (SELECT doc_id,
        |    [CAST(ascii(x) AS BIGINT)
        |      for x in string_split(text, '')[1:256]] AS codes
        |  FROM documents WHERE length(text) >= 256),
        |e AS (SELECT doc_id,
        |    list_transform(range(0, 16), kk ->
        |      list_sum(list_transform(range(0, 16), j ->
        |        codes[CAST(((kk // 4) * 4 + (j // 4)) * 16
        |          + (kk % 4) * 4 + (j % 4) + 1 AS INT)]))) AS emb
        |  FROM d),
        |v AS (SELECT doc_id, emb,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> emb[CAST(i AS INT)] * emb[CAST(i AS INT)])) AS BIGINT)
        |      AS n2
        |  FROM e),
        |pairs AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> q.emb[CAST(i AS INT)] * c.emb[CAST(i AS INT)]))
        |      AS BIGINT) AS dot,
        |    q.n2 AS na, c.n2 AS nb
        |  FROM v q JOIN v c ON q.doc_id % 50 = 0
        |    AND q.doc_id <> c.doc_id),
        |sc AS (SELECT query_id, neighbor_id,
        |    CAST(dot AS DOUBLE)
        |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |      AS cos
        |  FROM pairs),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM sc)
        |SELECT query_id, rank, neighbor_id, cos FROM rk
        |WHERE rank <= 3 ORDER BY query_id, rank""")),

    // Storage-novelty scoring from a PERSISTED chunk store (build →
    // append → load → membership join; byte-weighted known fraction)
    QueryDef("d35_chunk_novelty", IndexStore.persistedChunkNovelty(_, _),
      // d35: both slices' chunks recomputed from first principles (the
      // d34 CTEs, emitted per slice), membership replayed as a LEFT
      // join; counts/bytes exact longs, known_frac ONE double divide.
      SqlFn(() => s"""WITH ${cdcChunkCte("st_", "doc_id % 3 <> 0")},
         |${cdcChunkCte("in_", "doc_id % 3 = 0")},
         |store AS (SELECT DISTINCT md5(chunk) AS chunk_md5 FROM st_ch),
         |inc AS (SELECT doc_id, md5(chunk) AS chunk_md5,
         |    CAST(length(chunk) AS BIGINT) AS chunk_len FROM in_ch)
         |SELECT i.doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN s.chunk_md5 IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_known,
         |  CAST(sum(chunk_len) AS BIGINT) AS n_bytes,
         |  CAST(sum(CASE WHEN s.chunk_md5 IS NOT NULL THEN chunk_len
         |    ELSE 0 END) AS BIGINT) AS n_known_bytes,
         |  CAST(sum(CASE WHEN s.chunk_md5 IS NOT NULL THEN chunk_len
         |    ELSE 0 END) AS DOUBLE) / CAST(sum(chunk_len) AS DOUBLE)
         |    AS known_frac
         |FROM inc i LEFT JOIN store s ON i.chunk_md5 = s.chunk_md5
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The fourth join strategy: SHUFFLED HASH (both sides fact-sized,
    // per-partition build fits memory — no broadcast, no sorts)
    QueryDef("q82_shuffle_hash", RelationalQueries3.shuffleHashSegments(_, _),
      // q82: plain join/agg — the SHUFFLE_HASH hint changes the physical
      // strategy, not the answer. DuckDB count(DISTINCT) is BIGINT like
      // Spark's; price folds as DECIMAL(18,4), final cast to double.
      Sql("""SELECT c_mktsegment, count(*) AS n_orders,
        |  count(DISTINCT c_custkey) AS n_buyers,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total_price
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""")),

    // Gopher repetition signal: per-doc duplicate word-3-gram fraction
    QueryDef("t33_dup_ngrams", TextAnalysis.dupNgramFraction(_, _),
      // t33: exact string 3-grams (no hashing), integer counts, ONE
      // double division; 1-based DuckDB list indexing vs 0-based Spark.
      Sql("""WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |     for i in range(1, len(ws) - 1)] AS gs
        |  FROM w WHERE len(ws) >= 3)
        |SELECT doc_id, len(gs) AS n_ngrams,
        |  len(gs) - len(list_distinct(gs)) AS n_dup,
        |  CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE)
        |    / CAST(len(gs) AS DOUBLE) AS dup_frac
        |FROM g ORDER BY doc_id""")),

    // TPC-H Q6 shape: single-table scan-filter-aggregate; both
    // filters + 3-col projection pushed to the scan
    QueryDef("q83_revenue_forecast", RelationalQueries4.revenueForecast(_, _),
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
    QueryDef("q84_important_parts", RelationalQueries4.importantParts(_, _),
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
    QueryDef("q85_fulfilment_priority", RelationalQueries4.fulfilmentPriority(_, _),
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
    QueryDef("q86_mad_anomaly", RelationalQueries4.madAnomaly(_, _),
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
    QueryDef("q87_approx_quantiles", RelationalQueries4.approxQuantiles(_, _),
      Approx(Bound("q87_rank_err_ratio", quantileRankErrRatio, AtMost(1.0)))),

    // Write-audit-publish MERGE into a versioned persisted table:
    // base publish + delta merge + conservation audit, read through
    // the manifest head; oracled against a full recompute
    QueryDef("q88_upsert_publish", LakehouseMerge.upsertOrdersSummary(_, _),
      // q88: the oracle recomputes the summary over ALL orders directly —
      // the engine side must conserve mass through base publish + merge
      // publish + manifest-head read for the hashes to agree. Decimal
      // sums exact on both sides; the one double is the final cast.
      Sql("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  max(CAST(o_orderdate AS DATE)) AS last_orderdate
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // Time travel: concurrent read of two published versions, exact
    // per-customer insert/update deltas (snapshot diff on the store)
    QueryDef("q89_version_diff", LakehouseMerge.versionDiff(_, _),
      // q89: the oracle derives the diff from the raw slices — insert =
      // no base-slice order, update = both slices present; deltas are
      // the delta-slice masses exactly (decimal-exact through the
      // engine's two publishes).
      Sql("""WITH delta AS (SELECT o_custkey, count(*) AS d_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS d_price
        |  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_custkey),
        |base AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderkey % 3 <> 0)
        |SELECT d.o_custkey,
        |  CASE WHEN b.o_custkey IS NULL THEN 'insert' ELSE 'update' END
        |    AS change,
        |  CAST(d.d_orders AS BIGINT) AS n_orders_delta,
        |  CAST(d.d_price AS DOUBLE) AS price_delta
        |FROM delta d LEFT JOIN base b USING (o_custkey)
        |ORDER BY d.o_custkey""")),

    // Right-to-be-forgotten erasure by partition-targeted copy-on-
    // write: only hit partitions rewrite; manifest maps each partition
    // to its owning version; read resolves the mixed-ownership head
    QueryDef("q91_erase_cow", CowErasure.erasedSummary(_, _),
      // q91: post-erasure summary recomputed with the deletion predicate
      // anti-applied; owner_version falls out as "partition had any
      // hit". The engine side must conserve rows through base publish +
      // copy-on-write rewrite + mixed-ownership manifest read for the
      // hashes to agree. All-integer: bit-exact. (Envelope: a partition
      // with EVERY row erased would drop from the engine's summary while
      // the oracle keeps a zero row — impossible under the registered
      // mod-50 list at 25+ docs/partition, and documented at the
      // operator.)
      Sql("""SELECT source,
        |  CAST(CASE WHEN max(CASE WHEN doc_id % 50 = 7 THEN 1 ELSE 0 END)
        |    = 1 THEN 2 ELSE 1 END AS INT) AS owner_version,
        |  CAST(sum(CASE WHEN doc_id % 50 = 7 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 50 = 7 THEN 0 ELSE n_chars END)
        |    AS BIGINT) AS n_chars
        |FROM documents GROUP BY source ORDER BY source""")),

    // DESCRIBE HISTORY: the versioned table's audit log straight from
    // the append-only manifests (metadata-only; conservation ledger)
    QueryDef("q92_table_history", LakehouseMerge.tableHistory(_, _),
      // q92: every version's masses recomputed from the raw slices (v1 =
      // the base slice, v2 = all orders) — the manifests' conservation
      // ledger must match a from-scratch recount for the hashes to
      // agree. version is the INT literal both sides.
      Sql("""WITH v1 AS (SELECT count(DISTINCT o_custkey) AS n_rows,
        |    count(*) AS om, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS pm
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |v2 AS (SELECT count(DISTINCT o_custkey) AS n_rows, count(*) AS om,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS pm FROM orders)
        |SELECT 1 AS version, n_rows, om AS orders_mass,
        |  CAST(pm AS DOUBLE) AS price_mass FROM v1
        |UNION ALL
        |SELECT 2 AS version, n_rows, om AS orders_mass,
        |  CAST(pm AS DOUBLE) AS price_mass FROM v2
        |ORDER BY version""")),

    // Declarative constraint suite: per-table checks folded into one
    // conditional aggregate per scan; RI as a broadcast anti probe
    QueryDef("q93_quality_constraints", DataQuality.constraintReport(_, _),
      // q93: each check restated as plain SQL over the raw tables; the
      // verdict is count = 0. NULL status rows count as non-violations
      // in both engines (CASE WHEN NULL → ELSE). All-integer: bit-exact.
      Sql("""WITH o AS (SELECT
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS null_custkey,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
        |    count(*) - count(DISTINCT o_orderkey) AS dup_orderkey
        |  FROM orders),
        |l AS (SELECT
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_quantity,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount
        |  FROM lineitem),
        |ri AS (SELECT count(*) AS orphan_custkey FROM orders o
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL),
        |tc AS (SELECT CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
        |    THEN 1 ELSE 0 END) AS BIGINT) AS ship_before_order
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |rows_ AS (
        |  SELECT 'orders.o_custkey not_null' AS constraint_name,
        |    null_custkey AS n_violations FROM o
        |  UNION ALL SELECT 'orders.o_orderstatus accepted_values',
        |    bad_status FROM o
        |  UNION ALL SELECT 'orders.o_orderkey unique', dup_orderkey FROM o
        |  UNION ALL SELECT 'lineitem.l_quantity range_1_50',
        |    bad_quantity FROM l
        |  UNION ALL SELECT 'lineitem.l_discount range_0_0.1',
        |    bad_discount FROM l
        |  UNION ALL SELECT 'orders.o_custkey references customer',
        |    orphan_custkey FROM ri
        |  UNION ALL SELECT 'lineitem.l_shipdate >= orders.o_orderdate',
        |    ship_before_order FROM tc)
        |SELECT constraint_name, n_violations, n_violations = 0 AS pass
        |FROM rows_ ORDER BY constraint_name""")),

    // VACUUM/retention: expire pre-head manifests, physically remove
    // unreferenced partition files — the erasure's bytes are GONE;
    // the v1_files_present witness column is probed from the FS
    QueryDef("q94_vacuum_retention", CowErasure.vacuumedSummary(_, _),
      // q94: q91's post-erasure summary, plus the physical-deletion
      // witness — after vacuum, v1 partition files exist iff the
      // partition had no deletion hit (owner stayed 1). The engine
      // probes the FILESYSTEM for the witness; the oracle derives it
      // from the predicate — a missed (or over-eager) vacuum deletion
      // hash-mismatches.
      Sql("""SELECT source,
        |  CAST(CASE WHEN max(CASE WHEN doc_id % 50 = 7 THEN 1 ELSE 0 END)
        |    = 1 THEN 2 ELSE 1 END AS INT) AS owner_version,
        |  CAST(sum(CASE WHEN doc_id % 50 = 7 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 50 = 7 THEN 0 ELSE n_chars END)
        |    AS BIGINT) AS n_chars,
        |  max(CASE WHEN doc_id % 50 = 7 THEN 1 ELSE 0 END) = 0
        |    AS v1_files_present
        |FROM documents GROUP BY source ORDER BY source""")),

    // Schema evolution: v3's delta adds a nullable column; untouched
    // rows read as NULL (no backfill), time travel null-fills
    QueryDef("q95_schema_evolution", LakehouseMerge.evolvedOrdersSummary(_, _),
      // q95: the evolved head recomputed from raw orders. n_urgent is
      // NULL for customers the post-evolution slice (keys ≡0 mod 3)
      // never touched — the no-backfill semantic is IN the oracle.
      // Masses decimal-exact; the one double is the output cast.
      Sql("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  max(CAST(o_orderdate AS DATE)) AS last_orderdate,
        |  CASE WHEN sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) > 0
        |    THEN CAST(sum(CASE WHEN o_orderkey % 3 = 0
        |      AND o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END) AS BIGINT)
        |    ELSE NULL END AS n_urgent
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // Version diff ACROSS the evolution boundary: the pre-evolution
    // side is read under the evolved schema (read-schema-merge)
    QueryDef("q96_evolution_diff", LakehouseMerge.evolutionDiff(_, _),
      // q96: the diff across the evolution boundary is exactly the
      // evolved slice's per-customer masses; insert = customer absent
      // from the two pre-evolution slices. n_urgent_delta counts the
      // slice's urgent orders (the null-filled old side is zero mass).
      Sql("""WITH delta AS (SELECT o_custkey, count(*) AS d_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS d_price,
        |    sum(CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
        |      AS d_urgent
        |  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_custkey),
        |pre AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderkey % 3 <> 0)
        |SELECT d.o_custkey,
        |  CASE WHEN p.o_custkey IS NULL THEN 'insert' ELSE 'update' END
        |    AS change,
        |  CAST(d.d_orders AS BIGINT) AS n_orders_delta,
        |  CAST(d.d_price AS DOUBLE) AS price_delta,
        |  CAST(d.d_urgent AS BIGINT) AS n_urgent_delta
        |FROM delta d LEFT JOIN pre p USING (o_custkey)
        |ORDER BY d.o_custkey""")),

    // OPTIMIZE: compaction + range-clustering as an audited version
    // publish (data-preserving by the mass audit; layout spec-pinned)
    QueryDef("q97_optimize_compact", LakehouseMerge.optimizedSummary(_, _),
      // q97: OPTIMIZE must be invisible in the data — the post-compact
      // reader view equals the full per-customer recompute exactly (the
      // q88 oracle); the layout change (file count, clustering) is
      // spec-pinned, not SQL-observable.
      Sql("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  max(CAST(o_orderdate AS DATE)) AS last_orderdate
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // Per-file min/max statistics + metadata-pruned range read on the
    // range-clustered store (Delta data-skipping / Iceberg manifest
    // pruning): the scan opens only files whose stats intersect the
    // predicate — O(files) planning, never O(rows)
    QueryDef("q98_stats_skipping", DataSkipping.skippingRead(_, _),
      // q98: skipping must be invisible in the data — the pruned-path
      // read equals the plain filtered recompute exactly; the file-
      // count witness (scanned < total, skipped ranges disjoint from
      // the predicate) is spec-pinned, not SQL-observable.
      Sql("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  max(CAST(o_orderdate AS DATE)) AS last_orderdate
        |FROM orders WHERE o_custkey BETWEEN 100 AND 220
        |GROUP BY o_custkey ORDER BY o_custkey""")),

    // Z-ORDER clustering (Morton over normalized range-ranks) + the
    // same stats tier: predicates on EITHER dimension prune, which
    // linear clustering can't do (spec-witnessed)
    QueryDef("q99_zorder_skipping", DataSkipping.zorderRead(_, _),
      // q99: same contract on the Z-ordered store's date dimension —
      // the curve layout must not change a single row.
      Sql("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  max(CAST(o_orderdate AS DATE)) AS last_orderdate
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01'
        |  AND DATE '1995-03-31'
        |GROUP BY o_custkey ORDER BY o_custkey""")),

    // CHANGE DATA FEED: the row-level change log of the whole version
    // chain (insert/update + exact deltas per version), read under the
    // head schema across the q95 evolution boundary
    QueryDef("q100_change_feed", LakehouseMerge.changeFeed(_, _),
      // q100: the oracle rebuilds the whole feed from the raw mod-3
      // slices — per (version, custkey) the slice masses are the
      // deltas, first-appearance = insert, and the evolved column's
      // delta is zero before v3 (null-filled history reads as zero
      // mass). Conservation must hold through all three publishes for
      // the hashes to agree; all-integer + exact decimal: bit-exact.
      Sql("""WITH s AS (
        |  SELECT CASE CAST(o_orderkey % 3 AS INT) WHEN 1 THEN 1
        |      WHEN 2 THEN 2 ELSE 3 END AS version,
        |    o_custkey, count(*) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS p,
        |    sum(CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
        |      AS u
        |  FROM orders GROUP BY 1, 2)
        |SELECT CAST(version AS INT) AS version, o_custkey,
        |  CASE WHEN row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY version) = 1
        |    THEN 'insert' ELSE 'update' END AS change,
        |  CAST(n AS BIGINT) AS n_orders_delta,
        |  CAST(p AS DOUBLE) AS price_delta,
        |  CAST(CASE WHEN version = 3 THEN u ELSE 0 END AS BIGINT)
        |    AS n_urgent_delta
        |FROM s ORDER BY version, o_custkey""")),

    // Per-file bloom bitsets over the UNclustered key: point lookups
    // prune files where min/max is useless; no false negatives by
    // construction
    QueryDef("q101_bloom_lookup", DataSkipping.bloomLookup(_, _),
      // q101: bloom pruning has NO false negatives by construction, so
      // the point-lookup equals the IN-list recompute row-for-row;
      // false-positive file opens are invisible here (the residual
      // filter drops their rows) and only measurable in the spec's
      // file-count witness.
      Sql("""SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |    AS total_price,
        |  CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders
        |WHERE o_orderkey IN (1, 7, 32, 321, 888, 1203, 1497)
        |ORDER BY o_orderkey""")),

    // Full tri-modal MERGE DML (matched-delete / matched-update /
    // not-matched-insert) as one audited version publish; the action
    // counts land in the manifest as a DML ledger
    QueryDef("q102_merge_dml", MergeDml.mergedCustomers(_, _),
      // q102: MERGE semantics collapse to one closed-form SELECT — kept
      // odd keys unchanged, surviving even keys revised (+100), closed
      // even keys gone (deleted if they existed, no-op if not). The
      // engine must reproduce it through classify→stage→audit→publish.
      // Exact decimal arithmetic on both sides: bit-exact.
      Sql("""SELECT c_custkey, c_name, c_nationkey,
        |  CAST(CASE WHEN c_custkey % 2 = 0
        |    THEN CAST(c_acctbal AS DECIMAL(18,2)) + 100
        |    ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS DOUBLE)
        |    AS acctbal
        |FROM customer
        |WHERE NOT (c_custkey % 2 = 0 AND c_acctbal < 0)
        |ORDER BY c_custkey""")),

    // The DML merge's change feed: insert/update/delete events
    // (deletes carry the pre-image — the event type q100's additive
    // feed can never produce)
    QueryDef("q103_dml_feed", MergeDml.dmlChangeFeed(_, _),
      // q103: the event classification in closed form — every source
      // key (even) emits exactly one event unless it is a
      // never-existed closed account (the MERGE no-op).
      Sql("""SELECT c_custkey,
        |  CASE WHEN c_custkey % 4 = 0 THEN 'insert'
        |       WHEN c_acctbal < 0 THEN 'delete'
        |       ELSE 'update' END AS change,
        |  CAST(CASE WHEN c_custkey % 4 <> 0 AND c_acctbal < 0
        |    THEN CAST(c_acctbal AS DECIMAL(18,2))
        |    ELSE CAST(c_acctbal AS DECIMAL(18,2)) + 100 END AS DOUBLE)
        |    AS acctbal
        |FROM customer
        |WHERE c_custkey % 2 = 0
        |  AND NOT (c_custkey % 4 = 0 AND c_acctbal < 0)
        |ORDER BY c_custkey""")),

    // The DML feed in the FULL CDF vocabulary (update events as
    // pre+post image pairs) — what makes a downstream SUM maintainable
    // from the feed alone (streaming MV spec rides on it)
    QueryDef("q105_dml_feed_cdf", MergeDml.dmlChangeFeedCdf(_, _),
      // q105: the 4-type vocabulary in closed form — update keys emit
      // BOTH images (pre = raw balance, post = revised), inserts the
      // post only, deletes the pre only.
      Sql("""WITH e AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS pre,
        |    CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS post,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'insert'
        |         WHEN c_acctbal < 0 THEN 'delete'
        |         ELSE 'update' END AS action
        |  FROM customer
        |  WHERE c_custkey % 2 = 0
        |    AND NOT (c_custkey % 4 = 0 AND c_acctbal < 0))
        |SELECT c_custkey, change, c_nationkey,
        |  CAST(acctbal AS DOUBLE) AS acctbal
        |FROM (
        |  SELECT c_custkey, 'insert' AS change, c_nationkey,
        |    post AS acctbal FROM e WHERE action = 'insert'
        |  UNION ALL
        |  SELECT c_custkey, 'delete', c_nationkey, pre
        |  FROM e WHERE action = 'delete'
        |  UNION ALL
        |  SELECT c_custkey, 'update_preimage', c_nationkey, pre
        |  FROM e WHERE action = 'update'
        |  UNION ALL
        |  SELECT c_custkey, 'update_postimage', c_nationkey, post
        |  FROM e WHERE action = 'update')
        |ORDER BY c_custkey, change""")),

    // Metadata-only COUNT: wholly-covered files answer from manifest
    // row counts, only boundary files are opened (count-from-manifests)
    QueryDef("q106_metadata_count", DataSkipping.metadataCount(_, _),
      // q106: the number must be identical whether it came from
      // manifest metadata or a scan — the shortcut is unobservable in
      // SQL; which files were opened is the spec's witness.
      Sql("""SELECT CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders WHERE o_custkey BETWEEN 64 AND 640""")),

    // JOIN-driven runtime file pruning: the filtered dim's key range
    // prunes fact files through the stats manifest before the scan
    // (dynamic pruning on unpartitioned files)
    QueryDef("q107_join_pruned", DataSkipping.joinPrunedRead(_, _),
      // q107: runtime pruning must be invisible — the join equals the
      // plain recompute; which fact files were opened is the spec's
      // witness, not SQL-observable.
      Sql("""SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |    AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_nationkey = 7 AND c.c_acctbal > 5000.0
        |ORDER BY c.c_custkey, o.o_orderkey""")),

    // PARTITION-SPEC EVOLUTION: history stays under the coarse spec
    // (year), new data lands under the finer one (year, month); one
    // read spans both — directory pruning on each version's own spec,
    // residual row filter where the spec predates the column
    QueryDef("q104_partition_evolution", PartitionEvolution.monthlyRead(_, _),
      // q104: evolution must be invisible in the data — the two-spec
      // union read equals the plain monthly recompute. All-integer +
      // exact decimal: bit-exact.
      Sql("""SELECT CAST(month(CAST(o_orderdate AS DATE)) AS INT)
        |    AS o_month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders
        |WHERE year(CAST(o_orderdate AS DATE)) = 1998
        |  AND month(CAST(o_orderdate AS DATE)) BETWEEN 1 AND 3
        |GROUP BY 1 ORDER BY 1""")),

    // Token-sort-invariant dedup: word-reordered docs collapse at
    // d1's one-shuffle cost (the pre-shingle gate)
    QueryDef("d38_token_sort_dedup", Dedup.tokenSortDedup(_, _),
      // d38: identical string algebra — regex tokenize, lexicographic
      // list sort, md5 of the space-joined sorted tokens (the d34 md5
      // group-key convention).
      Sql("""WITH t AS (SELECT doc_id, text,
        |    md5(array_to_string(list_sort(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> x <> '')), ' '))
        |      AS sig
        |  FROM documents)
        |SELECT sig, min(doc_id) AS keeper_id, count(*) AS n_docs,
        |  count(DISTINCT text) AS n_distinct_texts
        |FROM t GROUP BY sig ORDER BY sig""")),

    // Stratified per-language hash sampling (training-mix rebalance)
    QueryDef("q51_stratified_sample", CorpusOps.stratifiedSample(_, _),
      // Same md5-hash-predicate idiom as q24, applied to the salted
      // stratified key with the per-language rate from CorpusOps.
      Sql("""SELECT doc_id, lang, source FROM documents
        |WHERE CAST('0x' || substr(md5('strat_' || doc_id), 1, 15) AS BIGINT) % 1000 <
        |  CASE WHEN lang = 'en' THEN 200 ELSE 600 END
        |ORDER BY doc_id""")),

    // Mix rates as a broadcast config TABLE, not plan literals
    QueryDef("q52_weighted_mix", CorpusOps.weightedMix(_, _),
      Sql("""WITH w(lang, keep_permille) AS (
        |  VALUES ('en', 150), ('de', 800), ('zh', 400))
        |SELECT d.doc_id, d.lang, d.source,
        |  CAST(coalesce(w.keep_permille, 600) AS BIGINT) AS keep_permille
        |FROM documents d LEFT JOIN w USING (lang)
        |WHERE CAST('0x' || substr(md5('mix_' || d.doc_id), 1, 15) AS BIGINT) % 1000 <
        |  coalesce(w.keep_permille, 600)
        |ORDER BY d.doc_id""")),

    // ── Text analysis (north-star extension ops over `documents`) ────────
    QueryDef("t1_token_stats", TextAnalysis.tokenStats(_, _),
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS INT) AS n_wordpieces,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mean_token_len
        |FROM t ORDER BY doc_id""")),

    QueryDef("t2_lang_id", TextAnalysis.langId(_, _),
      Sql("""WITH t AS (SELECT doc_id, lang AS labeled_lang,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, labeled_lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS INT) AS hits_en,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS INT) AS hits_de,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','es','un'))) AS INT) AS hits_es,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','est','une'))) AS INT) AS hits_fr,
        |  CAST(len(list_filter(toks, x -> x IN ('的','是','了','在','和'))) AS INT) AS hits_zh
        |  FROM t)
        |SELECT doc_id, labeled_lang,
        |  CASE
        |    WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        |    WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
        |    WHEN hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        |    WHEN hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
        |    ELSE 'zh' END AS predicted_lang,
        |  hits_en, hits_de, hits_es, hits_fr, hits_zh
        |FROM h ORDER BY doc_id""")),

    QueryDef("t3_quality", TextAnalysis.qualityScore(_, _),
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(len(toks) AS DOUBLE) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text) AS punct_ratio,
        |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / length(text) AS upper_ratio,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks) AS stopword_ratio,
        |  0.5 * (CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks))
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
        |   + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality_score
        |FROM t ORDER BY doc_id""")),

    QueryDef("t4_fingerprint", TextAnalysis.fingerprints(_, _),
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
        |  CAST('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15) AS BIGINT) AS fp_hash64,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(toks, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 2147483647)),
        |    (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fp_rolling
        |FROM t ORDER BY doc_id""")),

    QueryDef("t5_repetition", TextAnalysis.repetition(_, _),
      Sql("""WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) >= 2
        |    THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
        |    ELSE [] END AS g2
        |  FROM t),
        |base AS (SELECT doc_id,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
        |    g2,
        |    CAST(len(g2) AS INT) AS n_2grams,
        |    CAST(len(list_distinct(g2)) AS INT) AS n_distinct_2grams
        |  FROM g),
        |top AS (SELECT doc_id, max(c) AS top_2gram_count FROM (
        |    SELECT doc_id, gr, count(*) AS c
        |    FROM (SELECT doc_id, unnest(g2) AS gr FROM base)
        |    GROUP BY doc_id, gr)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, n_tokens,
        |  1.0 - CAST(n_distinct_tokens AS DOUBLE) / nullif(n_tokens, 0) AS dup_token_ratio,
        |  n_2grams,
        |  1.0 - CAST(n_distinct_2grams AS DOUBLE) / nullif(n_2grams, 0) AS dup_2gram_ratio,
        |  top_2gram_count,
        |  CAST(top_2gram_count AS DOUBLE) / nullif(n_2grams, 0) AS top_2gram_frac
        |FROM base b LEFT JOIN top USING (doc_id)
        |ORDER BY doc_id""")),

    // r13 verdict #1: registered form is the rational-idf companion
    // (exact arithmetic, full hash oracle); ln idf drifts in the last ulp
    QueryDef("t6_tfidf", TextAnalysis.tfidfTopKLin(_, _),
      // t6 (rational-idf registered form): tfidf_lin is one double
      // divide of two exact bigint products — bit-identical; the exact
      // integer evidence columns hash trivially.
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |tfw AS (SELECT *,
        |    count(*) OVER (PARTITION BY term) AS dfr,
        |    sum(cnt) OVER (PARTITION BY doc_id) AS n_tok
        |  FROM tf),
        |n AS (SELECT count(*) AS nd FROM documents),
        |scored AS (SELECT doc_id, term, cnt, dfr, n_tok, nd,
        |    CAST(cnt * nd AS DOUBLE) / CAST(n_tok * dfr AS DOUBLE)
        |      AS tfidf_lin
        |  FROM tfw CROSS JOIN n),
        |rk AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf_lin DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(dfr AS BIGINT) AS dfr, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(nd AS BIGINT) AS nd, tfidf_lin FROM rk
        |WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // Corpus n-gram statistics: top-k bigrams per language
    QueryDef("t7_bigram_topk", TextAnalysis.bigramTopK(_, _),
      // Bigram counts are fully deterministic (non-distinct grams, count
      // tie broken on the bigram text), so the top-k mirrors exactly.
      Sql("""WITH toks AS (SELECT lang,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |bg AS (SELECT lang, unnest(CASE WHEN len(w) >= 2
        |    THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |    ELSE [] END) AS bigram
        |  FROM toks),
        |cnt AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |rk AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY cnt DESC, bigram) AS INT) AS rank
        |  FROM cnt)
        |SELECT lang, rank, bigram, cnt FROM rk WHERE rank <= 5
        |ORDER BY lang, rank""")),

    // Per-language median quality gate (keep the top half per stratum)
    QueryDef("t8_quality_filter", TextAnalysis.qualityFilter(_, _),
      // Score formula identical to the hash-green t3 oracle (both sides
      // share qualityExpr on the Spark side); Spark exact `percentile`
      // interpolates the same way DuckDB quantile_cont does, and the
      // strict > gate excludes exact-median rows in both engines.
      Sql("""WITH t AS (SELECT doc_id, lang, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |scored AS (SELECT doc_id, lang,
        |  0.5 * (CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks))
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
        |   + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality_score
        |  FROM t),
        |med AS (SELECT lang, quantile_cont(quality_score, 0.5) AS lang_median
        |  FROM scored GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.quality_score, m.lang_median
        |FROM scored s JOIN med m USING (lang)
        |WHERE s.quality_score > m.lang_median
        |ORDER BY s.doc_id""")),

    // Corpus mix table: per-(lang, source) doc/token/char mass + share
    QueryDef("t9_mix_stats", TextAnalysis.mixStats(_, _),
      // DuckDB sum(BIGINT) widens to HUGEINT — cast back so the schema
      // compare sees int64 on both sides.
      Sql("""WITH per AS (SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY lang, source)
        |SELECT lang, source, n_docs, n_tokens, n_chars,
        |  CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM per) AS token_share
        |FROM per ORDER BY lang, source""")),

    // Unigram-LM quality proxy, registered as the EXACT arithmetic-mean
    // probability companion (r13 verdict #1); -ln form is spec-gated
    QueryDef("t10_unigram_logprob", TextAnalysis.unigramMeanProb(_, _),
      // t10 (exact registered form): the sums are exact integers and
      // mean_token_prob is one double divide — bit-identical.
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |tot AS (SELECT count(*) AS n,
        |    (SELECT count(*) FROM cnt) AS v FROM toks)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  CAST(sum(c + 1) AS BIGINT) AS sum_cp1,
        |  CAST(sum(c + 1) AS DOUBLE) / CAST(count(*) * (n + v) AS DOUBLE)
        |    AS mean_token_prob
        |FROM toks JOIN cnt USING (t) CROSS JOIN tot
        |GROUP BY doc_id, n, v ORDER BY doc_id""")),

    // PII scrub: email/IPv4/phone -> typed placeholders, per-class counts
    QueryDef("t11_pii_redact", TextAnalysis.piiRedact(_, _),
      // t11: the raw column is derived identically on both engines so the
      // oracle checks Java-regex-vs-RE2 agreement on real matches; the
      // patterns stay inside the two dialects' intersection.
      Sql("""WITH raw AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com from 10.0.'
        |      || (doc_id % 256) || '.7 call +1 415 555 0' || (doc_id % 100)
        |      AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(raw,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d ]{6,}\d')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d ]{6,}\d', '<PHONE>', 'g') AS redacted
        |FROM raw ORDER BY doc_id""")),

    // Token-budget sequence packing: per-shard cumulative-count bins
    QueryDef("t12_sequence_pack", TextAnalysis.sequencePack(_, _),
      Sql("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, CAST(shard AS INT) AS shard, CAST(n_tok AS INT) AS n_tok,
        |  CAST(floor((cum - n_tok) / 256) AS INT) AS bin,
        |  CAST((cum - n_tok) % 256 AS INT) AS bin_offset
        |FROM c ORDER BY doc_id""")),

    // Gopher-rule bundle: fixed-threshold prose filters + keep verdict
    QueryDef("t13_gopher_quality", TextAnalysis.gopherQuality(_, _),
      // t13: every count is length-difference or list arithmetic (no
      // regex alternation, whose overlapping-match semantics differ by
      // engine); DuckDB's divide-by-zero -> NULL matches try_divide.
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
        |  string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_words,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |    / len(toks) AS mean_word_len,
        |  ((length(text) - length(replace(text, '#', '')))
        |    + (length(text) - length(replace(text, '...', ''))) / 3)
        |    / len(toks) AS symbol_ratio,
        |  CAST(len(list_filter(lines, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
        |    / len(lines) AS bullet_frac,
        |  CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS DOUBLE)
        |    / len(lines) AS ellipsis_frac,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |    / len(toks) AS alpha_frac,
        |  CAST(len(list_filter(['the','a','and','of','to','in','is'],
        |    w -> list_contains(toks, w))) AS INT) AS stop_kinds
        |  FROM t)
        |SELECT *, COALESCE(
        |  n_words >= 50 AND n_words <= 100000
        |  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |  AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |  AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |  AND stop_kinds >= 2, FALSE) AS keep
        |FROM m ORDER BY doc_id""")),

    // Exact heavy hitters: Misra-Gries candidate sketch + exact recount
    QueryDef("t14_heavy_hitters", TextAnalysis.heavyHitters(_, _),
      // t14: the MG sketch only generates candidates — the registered
      // result is exactly this HAVING query (threshold n/(k+1), k=64),
      // so the oracle is plain SQL despite the custom aggregate.
      Sql("""WITH tok AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT token, count(*) AS cnt,
        |  CAST(count(*) AS DOUBLE) / (SELECT n FROM tot) AS share
        |FROM tok GROUP BY token
        |HAVING count(*) * 65 > (SELECT n FROM tot)
        |ORDER BY cnt DESC, token""")),

    // Context-window chunking: overlapping token windows per doc
    QueryDef("t21_chunk", TextAnalysis.chunk(_, _),
      Sql("""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sz AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
        |st AS (SELECT doc_id, n, w,
        |    unnest(range(1, n + 1, 48)) AS start
        |  FROM sz)
        |SELECT doc_id, CAST((start - 1) // 48 AS INT) AS chunk_idx,
        |  CAST(start AS INT) AS start_tok,
        |  CAST(least(64, n - start + 1) AS INT) AS n_tok,
        |  array_to_string(w[start : least(start + 63, n)], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_idx""")),

    // Vocabulary OOV rate vs the corpus top-k vocab (tokenizer coverage)
    QueryDef("t22_vocab_oov", TextAnalysis.vocabOov(_, _),
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |vocab AS (SELECT t FROM (
        |    SELECT t, count(*) AS cnt FROM toks GROUP BY t)
        |  ORDER BY cnt DESC, t LIMIT 512),
        |sel AS (SELECT k.doc_id, v.t AS vt
        |  FROM toks k LEFT JOIN vocab v ON k.t = v.t)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  CAST(count(*) FILTER (vt IS NULL) AS INT) AS n_oov,
        |  CAST(count(*) FILTER (vt IS NULL) AS DOUBLE) / count(*) AS oov_rate
        |FROM sel GROUP BY doc_id ORDER BY doc_id""")),

    // Token-ID encoding against the deterministic top-k vocab (the
    // training encode step), flattened to (doc_id, pos, token_id)
    QueryDef("t23_encode", TextAnalysis.encode(_, _),
      Sql("""WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |ix AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM w),
        |toks AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |    w[CAST(i AS INT)] AS t
        |  FROM ix),
        |vocab AS (SELECT t,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, t) - 1 AS INT) AS token_id
        |  FROM (SELECT t, count(*) AS cnt FROM toks GROUP BY t
        |    ORDER BY cnt DESC, t LIMIT 512))
        |SELECT k.doc_id, k.pos,
        |  CAST(coalesce(v.token_id, 512) AS INT) AS token_id
        |FROM toks k LEFT JOIN vocab v ON k.t = v.t
        |ORDER BY doc_id, pos""")),

    // Per-doc shingle novelty vs everything ingested before it (window
    // min over the hashed shingle — one shuffle, no self-join)
    QueryDef("t24_novelty", TextAnalysis.noveltyScores(_, _),
      // t24: the d2-standard shingle sets, hashed with the SAME md5
      // 60-bit rule as the Spark side (so even a hash collision cannot
      // diverge the engines), first-occurrence via a window min
      SqlFn(() => s"""$shingleSets,
        |ex AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(unnest(t)), 1, 15) AS BIGINT) AS g
        |  FROM sz),
        |fd AS (SELECT doc_id, g,
        |    min(doc_id) OVER (PARTITION BY g) AS first_doc FROM ex)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
        |FROM fd GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Count-Min frequency sketch — deterministic hashes, so unlike the
    // HLL (q27) it carries a full bit-identical DuckDB oracle
    QueryDef("t25_countmin", TextAnalysis.countMin(_, _),
      // t25: the sketch is pure integer arithmetic over deterministic
      // md5-convention hashes — cells, estimates, and overcounts are
      // bit-identical across engines. Built from the (token, count)
      // aggregate on both sides (cell sums are identical either way).
      Sql("""WITH toks AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
        |rows_ AS (SELECT unnest(range(4)) AS r),
        |cells AS (SELECT r,
        |    CAST(CAST('0x' || substr(md5('cm' || r || '_' || tok), 1, 15)
        |      AS BIGINT) % 512 AS INT) AS cell,
        |    sum(n) AS cn
        |  FROM counts CROSS JOIN rows_ GROUP BY 1, 2),
        |q AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 20),
        |qc AS (SELECT tok, n, r,
        |    CAST(CAST('0x' || substr(md5('cm' || r || '_' || tok), 1, 15)
        |      AS BIGINT) % 512 AS INT) AS cell
        |  FROM q CROSS JOIN rows_)
        |SELECT qc.tok AS tok, CAST(qc.n AS BIGINT) AS exact_n,
        |  CAST(min(cn) AS BIGINT) AS cm_est,
        |  CAST(min(cn) - qc.n AS BIGINT) AS overcount
        |FROM qc JOIN cells ON qc.r = cells.r AND qc.cell = cells.cell
        |GROUP BY qc.tok, qc.n ORDER BY exact_n DESC, tok""")),

    // Flesch / Flesch–Kincaid readability: integer counts + one double
    // formula per doc — engine-identical, shuffle-free scan
    QueryDef("t26_readability", TextAnalysis.readability(_, _),
      // t26: the three counts are integers (tokens / [.!?]+ runs /
      // per-word [aeiouy]+ vowel groups, each floored at 1) and each
      // score is one double expression over them — engine-identical.
      Sql("""WITH d AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(toks) AS INT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS INT) AS n_sentences,
        |    CAST(list_sum(list_transform(toks, x ->
        |      greatest(1, len(regexp_extract_all(x, '[aeiouy]+')))))
        |      AS BIGINT) AS n_syllables
        |  FROM d WHERE len(toks) >= 1)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch,
        |  0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
        |    - 15.59 AS fk_grade
        |FROM c ORDER BY doc_id""")),

    // Sentence-aware soft-cap chunking (RAG/context prep); packing is
    // integer arithmetic so chunks + text are engine-identical
    QueryDef("t27_sentence_chunks", TextAnalysis.sentenceChunks(_, _),
      // t27: sentence split + integer soft-cap packing — chunk ids,
      // counts, and the ORDER-BY-rebuilt chunk text are all
      // engine-identical.
      Sql("""WITH parts AS (SELECT doc_id,
        |    string_split_regex(text, '[.!?]+') AS ps FROM documents),
        |s0 AS (SELECT doc_id, i AS sidx, trim(ps[i]) AS sent
        |  FROM parts, LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i)),
        |s1 AS (SELECT doc_id, sidx, sent,
        |    len(list_filter(string_split_regex(lower(sent), '\s+'),
        |      x -> x <> '')) AS ntok
        |  FROM s0),
        |s2 AS (SELECT doc_id, sidx, sent, ntok,
        |    coalesce(sum(ntok) OVER (PARTITION BY doc_id ORDER BY sidx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM s1 WHERE ntok > 0),
        |s3 AS (SELECT doc_id, sidx, sent, ntok,
        |    CAST(cum // 48 AS INT) AS chunk_id FROM s2)
        |SELECT doc_id, chunk_id,
        |  CAST(count(*) AS INT) AS n_sentences,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  string_agg(sent, ' ' ORDER BY sidx) AS chunk_text
        |FROM s3 GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""")),

    // Collocation mining by lift (phrase detection): bigint counts +
    // one exact-integer division — hash-gated, no transcendental
    QueryDef("t28_collocations", TextAnalysis.collocations(_, _),
      // t28: all counts bigint; N·c₂ and cₐ·c_b are exact doubles, the
      // one division IEEE-rounds identically — full hash gate.
      Sql("""WITH base AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT unnest(w) AS t FROM base),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |tot AS (SELECT count(*) AS n FROM toks),
        |pairs AS (SELECT
        |    unnest(w[1:len(w)-1]) AS wa, unnest(w[2:len(w)]) AS wb
        |  FROM base WHERE len(w) >= 2),
        |bcnt AS (SELECT wa, wb, count(*) AS n_pair FROM pairs
        |  GROUP BY wa, wb HAVING count(*) >= 5)
        |SELECT wa, wb, n_pair,
        |  CAST(n * n_pair AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE) AS lift
        |FROM bcnt
        |  JOIN cnt ca ON bcnt.wa = ca.t
        |  JOIN cnt cb ON bcnt.wb = cb.t
        |  CROSS JOIN tot
        |ORDER BY lift DESC, wa, wb LIMIT 30""")),

    // BPE merge learning (Sennrich 2016): the tokenizer-training
    // primitive — integer pair counts + deterministic argmax + an
    // exact boundary-wrapped replace, unrolled-CTE hash oracle
    QueryDef("t29_bpe_merges", TextAnalysis.bpeMerges(_, _),
      // t29: pure integer counts, deterministic (pc desc, l, r) argmax,
      // and the SAME boundary-wrapped replace as Spark's — unrolled CTE
      // per merge step, full hash gate.
      SqlFn(() => bpeOracle(steps = 6))),

    // BPE ENCODE: apply t29's learned merges corpus-wide (the
    // learn->encode tokenizer loop closed); per-doc piece accounting
    QueryDef("t35_bpe_encode", TextAnalysis.bpeEncode(_, _),
      SqlFn(() => bpeEncodeOracle(steps = 6))),

    // Per-language token-budget report: tokenizer fertility + packing
    // efficiency at a fixed sequence length (pre-run cost estimate)
    QueryDef("t30_token_budget", TextAnalysis.tokenBudgetReport(_, _),
      // t30: bigint masses + integer ceils; fertility and padding are
      // each ONE division of exact integers (IEEE-identical).
      Sql("""WITH d AS (SELECT lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS nw,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS np
        |  FROM documents),
        |a AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(nw) AS BIGINT) AS n_words,
        |    CAST(sum(np) AS BIGINT) AS n_wordpieces,
        |    CAST(sum((np + 511) // 512) AS BIGINT) AS n_seqs_doc_packed
        |  FROM d GROUP BY lang)
        |SELECT lang, n_docs, n_words, n_wordpieces,
        |  CASE WHEN n_words > 0
        |    THEN CAST(n_wordpieces AS DOUBLE) / CAST(n_words AS DOUBLE)
        |  END AS fertility,
        |  n_seqs_doc_packed,
        |  (n_wordpieces + 511) // 512 AS n_seqs_ideal,
        |  CASE WHEN n_seqs_doc_packed > 0
        |    THEN CAST(n_seqs_doc_packed * 512 - n_wordpieces AS DOUBLE)
        |      / CAST(n_seqs_doc_packed * 512 AS DOUBLE)
        |  END AS padding_frac
        |FROM a ORDER BY lang""")),

    // fastText-shape linear classifier inference: feature-hash +
    // integer-milli weight fold, decision and logit engine-exact
    QueryDef("t31_classifier_filter", TextAnalysis.classifierFilter(_, _),
      // t31: integer-milli weights from the shared md5 hash convention
      // (hash64 is in [0, 2^60), so plain % equals pmod); the logit is
      // an exact BIGINT sum, mean_logit ONE bigint/double divide, and
      // the keep decision a pure integer compare — nothing drifts.
      Sql("""WITH t AS (SELECT doc_id,
        |    coalesce(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''), []) AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(list_sum(list_transform(toks, x ->
        |      CAST('0x' || substr(md5('cfw_' ||
        |        CAST(CAST('0x' || substr(md5('cf_' || x), 1, 15) AS BIGINT)
        |          % 4096 AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000)),
        |      0) AS BIGINT) AS logit_milli
        |  FROM t)
        |SELECT doc_id, n_tokens, logit_milli,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(logit_milli AS DOUBLE) / (1000.0 * CAST(n_tokens AS DOUBLE))
        |  END AS mean_logit,
        |  logit_milli > 0 AS keep
        |FROM s ORDER BY doc_id""")),

    // Per-source JSD drift vs the corpus unigram distribution —
    // token-sorted folds + absent-token closed form, no vocab cross
    QueryDef("t32_mixture_drift", TextAnalysis.mixtureDrift(_, _),
      // t32: exact-count divides, transcendental-free |p−q| terms (r12:
      // ln differs in the last ulp between JVM and DuckDB libm, so the
      // hash-gated statistic is TVD; JSD lives in mixtureDriftJsd under
      // an epsilon spec), TOKEN-SORTED list_reduce folds (left fold from
      // the first element equals Spark's 0.0-seeded fold exactly since
      // 0.0 + x == x), and the absent-token mass 0.5·(1 − Σ_present q).
      Sql("""WITH toks AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS token
        |  FROM documents),
        |cst AS (SELECT source, token, count(*) AS c_st FROM toks GROUP BY 1, 2),
        |ns AS (SELECT source, sum(c_st) AS n_s FROM cst GROUP BY 1),
        |ct AS (SELECT token, sum(c_st) AS c_t FROM cst GROUP BY 1),
        |tot AS (SELECT sum(c_t) AS n_tot FROM ct),
        |pq AS (SELECT source, token,
        |    CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE) AS p,
        |    CAST(c_t AS DOUBLE) / CAST(n_tot AS DOUBLE) AS q
        |  FROM cst JOIN ct USING (token) JOIN ns USING (source)
        |  CROSS JOIN tot),
        |terms AS (SELECT source, token, q, abs(p - q) AS term FROM pq),
        |g AS (SELECT source, max(n_s) AS n_tokens,
        |    list_sort(list(struct_pack(token := token, term := term,
        |      q := q))) AS xs
        |  FROM terms JOIN ns USING (source) GROUP BY source)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(len(xs) AS INT) AS vocab_source,
        |  0.5 * list_reduce(list_transform(xs, x -> x.term), (a, b) -> a + b)
        |    + 0.5 * (1.0 -
        |      list_reduce(list_transform(xs, x -> x.q), (a, b) -> a + b))
        |    AS tvd
        |FROM g ORDER BY source""")),

    // Okapi BM25 ranking for a fixed query term set (lexical
    // retrieval), registered with the ln-free RSJ-odds idf variant
    // (r13 verdict #1); classic ln idf is spec-gated
    QueryDef("t15_bm25_rank", TextAnalysis.bm25RankLin(_, _),
      // t15: per-term BM25 contributions summed in FIXED query-term order
      // (table, scan, join) on BOTH engines — see bm25Rank's determinism
      // note; all constant arithmetic is written with the same literal
      // ops ((1.2 + 1.0), not 2.2) so the doubles are bit-identical.
      // t15 (RSJ-odds registered form): w's expression tree is written
      // with the same parenthesization as the Spark Column tree — every
      // op is a correctly-rounded IEEE basic op over deterministic
      // inputs, so the scores are bit-identical (no ln anywhere). The
      // ::DOUBLE casts on every fractional literal matter: DuckDB parses
      // bare 1.2/0.5 as DECIMAL and routes the adjacent ops through
      // decimal arithmetic — a DIFFERENT tree that landed 1 ulp off on 4
      // rows at sf0.01 (caught by the bit-exact local gate, r14).
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |tfw AS (SELECT *, sum(cnt) OVER (PARTITION BY doc_id) AS n_tok FROM tf),
        |n AS (SELECT count(*) AS nd FROM documents),
        |st AS (SELECT sum(cnt) * 1.0::DOUBLE / count(DISTINCT doc_id)
        |  AS avgdl FROM tf),
        |hits AS (SELECT *, count(*) OVER (PARTITION BY term) AS dfr
        |  FROM tfw WHERE term IN ('table', 'scan', 'join')),
        |wv AS (SELECT doc_id, term,
        |    (((nd - dfr + 0.5::DOUBLE) / (dfr + 0.5::DOUBLE))
        |      * (cnt * (1.2::DOUBLE + 1.0::DOUBLE)))
        |      / (cnt + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
        |        + 0.75::DOUBLE * n_tok / avgdl)) AS w
        |  FROM hits CROSS JOIN n CROSS JOIN st),
        |sc AS (SELECT doc_id,
        |    coalesce(sum(CASE WHEN term = 'table' THEN w END), 0.0)
        |      + coalesce(sum(CASE WHEN term = 'scan' THEN w END), 0.0)
        |      + coalesce(sum(CASE WHEN term = 'join' THEN w END), 0.0)
        |      AS bm25_lin
        |  FROM wv GROUP BY doc_id),
        |rk AS (SELECT doc_id, bm25_lin, CAST(row_number() OVER (
        |    ORDER BY bm25_lin DESC, doc_id) AS INT) AS rank FROM sc)
        |SELECT doc_id, rank, bm25_lin FROM rk WHERE rank <= 20
        |ORDER BY rank""")),

    // Bigram fluency signal, registered as the exact count-moment +
    // ratio-of-sums companion (r13 verdict #1), free of per-pair -ln
    // drift
    QueryDef("t16_bigram_logprob", TextAnalysis.bigramMoments(_, _),
      // t16 (count-moment registered form): zipped double-unnest of the
      // shifted token-list slices builds the adjacent pairs; the sums
      // are exact integers whatever the merge order, and the pooled
      // scores are the same fixed divide/multiply trees on both sides.
      Sql("""WITH base AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(w) AS t FROM base),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |tot AS (SELECT count(*) AS n,
        |    (SELECT count(*) FROM cnt) AS v FROM toks),
        |pairs AS (SELECT doc_id,
        |    unnest(w[1:len(w)-1]) AS wp, unnest(w[2:len(w)]) AS wc
        |  FROM base WHERE len(w) >= 2),
        |bcnt AS (SELECT wp, wc, count(*) AS c2 FROM pairs GROUP BY wp, wc)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
        |  CAST(sum(c2) AS BIGINT) AS sum_c2,
        |  CAST(sum(cp.c) AS BIGINT) AS sum_cp,
        |  CAST(sum(cc.c) AS BIGINT) AS sum_cc,
        |  CAST(sum(c2) AS DOUBLE) / CAST(sum(cp.c) AS DOUBLE) AS pooled_cond,
        |  CAST(sum(cc.c) + count(*) AS DOUBLE)
        |    / CAST(count(*) * (n + v) AS DOUBLE) AS pooled_backoff,
        |  0.7 * (CAST(sum(c2) AS DOUBLE) / CAST(sum(cp.c) AS DOUBLE))
        |    + 0.3 * (CAST(sum(cc.c) + count(*) AS DOUBLE)
        |      / CAST(count(*) * (n + v) AS DOUBLE)) AS pooled_interp
        |FROM pairs JOIN bcnt USING (wp, wc)
        |  JOIN cnt cp ON pairs.wp = cp.t
        |  JOIN cnt cc ON pairs.wc = cc.t
        |  CROSS JOIN tot
        |GROUP BY doc_id, n, v ORDER BY doc_id""")),

    // Zipf health check, registered as the exact rank-octave histogram
    // (r13 verdict #1), free of the ln-ln OLS fit's amplified ulp drift
    QueryDef("t17_zipf_fit", TextAnalysis.zipfOctaves(_, _),
      // t17 (octave-histogram registered form): ⌊log₂ rank⌋ via the same
      // integer CASE ladder as the Spark side — exact at power-of-two
      // boundaries where floor(ln/ln2) sits one ulp away; all outputs
      // exact integers.
      Sql("""WITH toks AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |top AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 1000),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rank
        |  FROM top),
        |oc AS (SELECT c, CAST(CASE
        |    WHEN rank < 2 THEN 0 WHEN rank < 4 THEN 1 WHEN rank < 8 THEN 2
        |    WHEN rank < 16 THEN 3 WHEN rank < 32 THEN 4 WHEN rank < 64 THEN 5
        |    WHEN rank < 128 THEN 6 WHEN rank < 256 THEN 7
        |    WHEN rank < 512 THEN 8 WHEN rank < 1024 THEN 9
        |    WHEN rank < 2048 THEN 10 WHEN rank < 4096 THEN 11
        |    ELSE 12 END AS INT) AS octave FROM rk)
        |SELECT octave, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(c) AS BIGINT) AS sum_count,
        |  CAST(min(c) AS BIGINT) AS min_count,
        |  CAST(max(c) AS BIGINT) AS max_count
        |FROM oc GROUP BY octave ORDER BY octave""")),

    // Heaps'-law growth curve: cumulative tokens vs cumulative distinct
    // vocabulary, via per-term first-bucket (no ordered scan)
    QueryDef("t18_heaps_curve", TextAnalysis.heapsCurve(_, _),
      // t18: both engines' `/` on integers is double division, but their
      // double→INT casts DIFFER — Spark truncates, DuckDB rounds — so the
      // bucket floor is explicit; the cumulative sums are the same
      // triangular self-join, no window.
      Sql("""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |toks AS (SELECT CAST(floor(doc_id * 10 / (mx + 1)) AS INT) AS bucket,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents, mx),
        |th AS (SELECT bucket, count(*) AS n_tokens FROM toks GROUP BY bucket),
        |fs AS (SELECT t, min(bucket) AS bucket FROM toks GROUP BY t),
        |vh AS (SELECT bucket, count(*) AS n_new_terms FROM fs GROUP BY bucket),
        |h AS (SELECT coalesce(th.bucket, vh.bucket) AS bucket,
        |    coalesce(n_tokens, 0) AS n_tokens,
        |    coalesce(n_new_terms, 0) AS n_new_terms
        |  FROM th FULL JOIN vh ON th.bucket = vh.bucket)
        |SELECT a.bucket, CAST(sum(b.n_tokens) AS BIGINT) AS cum_tokens,
        |  CAST(sum(b.n_new_terms) AS BIGINT) AS cum_vocab
        |FROM h a JOIN h b ON b.bucket <= a.bucket
        |GROUP BY a.bucket ORDER BY a.bucket""")),

    // CCNet-style per-language perplexity terciles (head/middle/tail)
    QueryDef("t19_ccnet_buckets", TextAnalysis.ccnetBuckets(_, _),
      // t19: t10's scoring CTE verbatim, rounded to 6 decimals on BOTH
      // sides before the tercile compare (see ccnetBuckets scaladoc);
      // quantile_cont mirrors Spark's exact linear-interpolated
      // `percentile` at position p*(n-1).
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |tot AS (SELECT count(*) AS n,
        |    (SELECT count(*) FROM cnt) AS v FROM toks),
        |scored AS (SELECT doc_id,
        |    round(avg(-ln((c + 1.0) / (n + v))), 6) AS score
        |  FROM toks JOIN cnt USING (t) CROSS JOIN tot GROUP BY doc_id),
        |sl AS (SELECT s.doc_id, d.lang, s.score
        |  FROM scored s JOIN documents d USING (doc_id)),
        |cuts AS (SELECT lang,
        |    quantile_cont(score, CAST(1 AS DOUBLE) / 3) AS t1,
        |    quantile_cont(score, CAST(2 AS DOUBLE) / 3) AS t2
        |  FROM sl GROUP BY lang)
        |SELECT sl.doc_id, sl.lang, sl.score,
        |  CASE WHEN score <= t1 THEN 'head'
        |       WHEN score <= t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sl JOIN cuts USING (lang) ORDER BY sl.doc_id""")),

    // DSIR importance weights: per-token mean log ratio of a target-
    // slice unigram LM over the raw-corpus LM (data-selection score)
    QueryDef("t20_dsir_weights", TextAnalysis.dsirWeights(_, _),
      Sql("""WITH toks AS (SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |raw AS (SELECT t, count(*) AS cr FROM toks GROUP BY t),
        |tgt AS (SELECT t, count(*) AS ct FROM toks
        |  WHERE lang = 'en' GROUP BY t),
        |tot AS (SELECT (SELECT count(*) FROM toks) AS nr,
        |  (SELECT count(*) FROM raw) AS v,
        |  (SELECT count(*) FROM toks WHERE lang = 'en') AS nt)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  avg(ln((coalesce(ct, 0) + 1.0) / (nt + v))
        |    - ln((cr + 1.0) / (nr + v))) AS avg_log_ratio
        |FROM toks JOIN raw USING (t) LEFT JOIN tgt USING (t)
        |CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""")),

    // ── Deduplication suite (north-star extension ops) ───────────────────
    QueryDef("d1_exact_dedup", Dedup.exactDedup(_, _),
      Sql("""SELECT min(doc_id) AS keep_doc_id, fp, count(*) AS n_copies FROM (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |GROUP BY fp ORDER BY keep_doc_id""")),

    QueryDef("d2_jaccard_pairs", Dedup.jaccardPairs(_, _),
      SqlFn(() => jaccardPairsOracle)),

    // LSH prunes candidates; exact verify makes output == d2's oracle
    QueryDef("d3_minhash_pairs", Dedup.minhashLshPairs(_, _),
      // The MinHash-LSH operator verifies candidates with exact Jaccard;
      // with 64 bands x 2 rows the miss probability at the J>=0.9 data
      // pairs is ~1e-46, so its output equals the exact-pairs oracle.
      SqlFn(() => jaccardPairsOracle)),

    QueryDef("d7_chargram_pairs", Dedup.charGramPairs(_, _),
      Sql("""WITH s AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN length(t) >= 5
        |      THEN [substr(t, i, 5) for i in range(1, length(t) - 3)]
        |      ELSE [] END) AS g
        |  FROM s),
        |sz AS (SELECT doc_id, g, len(g) AS n FROM sh WHERE len(g) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.g, b.g)) * 1.0 / (a.n + b.n - len(list_intersect(a.g, b.g))) AS jaccard
        |FROM sz a JOIN sz b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.g, b.g)) * 1.0 / (a.n + b.n - len(list_intersect(a.g, b.g))) >= 0.7
        |ORDER BY doc_a, doc_b""")),

    QueryDef("d4_simhash", Dedup.simhashSignatures(_, _),
      SqlFn(() => s"""WITH bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM ($simhashTokenHashes)
        |  CROSS JOIN (SELECT unnest(range(60)) AS i)
        |  GROUP BY doc_id, i)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("d5_simhash_pairs", Dedup.simhashPairs(_, _),
      SqlFn(() => s"""WITH bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM ($simhashTokenHashes)
        |  CROSS JOIN (SELECT unnest(range(60)) AS i)
        |  GROUP BY doc_id, i),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    QueryDef("d6_embedding_dedup", Dedup.embeddingNearDupPairs(_, _),
      SqlFn(() => s"""$embPairsOracle
        |ORDER BY vec_a, vec_b""".stripMargin)),

    // Overlap-coefficient (sub-document) dedup, lossless prefix blocking
    QueryDef("d8_containment_pairs", Dedup.containmentPairs(_, _),
      SqlFn(() => s"""$shingleSets
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.t, b.t)) * 1.0 / least(a.n, b.n) AS containment
        |FROM sz a JOIN sz b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.t, b.t)) * 1.0 / least(a.n, b.n) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Edit-distance pairs: Ed-Join constant-length prefix filter +
    // banded short-doc block + threshold-bandwidth levenshtein verify
    QueryDef("d29_edit_distance_pairs", Dedup.editDistancePairs(_, _),
      // d29: exact integer edit distance — the engines' levenshtein DPs
      // agree exactly; the oracle brute-forces with the lossless length
      // filter standing in for the Spark side's prefix blocking
      Sql("""WITH s AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.t, b.t) AS INT) AS edit_dist
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  AND abs(length(a.t) - length(b.t)) <= 10
        |WHERE levenshtein(a.t, b.t) <= 10
        |ORDER BY doc_a, doc_b""")),

    // Pair graph → canonical keeper per cluster (iterative min-label CC)
    QueryDef("d9_dedup_clusters", Dedup.dedupClusters(_, _),
      // Transitive closure over the (small) pair graph via a recursive
      // CTE, then min reachable id per doc — every doc not in a pair is
      // its own component. Mirrors the Spark min-label fixpoint exactly.
      SqlFn(() => s"""WITH RECURSIVE
        |p AS (SELECT doc_a, doc_b FROM ($jaccardPairsOracle)),
        |edges(src, dst) AS (
        |  SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src)
        |SELECT d.doc_id,
        |  CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT) AS component
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // Quality-keeper consolidation: each near-dup cluster keeps its
    // highest-t3-quality member, not the min id
    QueryDef("d36_quality_keeper", Dedup.qualityKeeperDedup(_, _),
      // d36: d9's closure + t3's quality expression + the keeper window
      // (score desc, doc_id) — exact-dup cluster members carry equal
      // scores and resolve on id identically on both engines.
      SqlFn(() => s"""WITH RECURSIVE
        |p AS (SELECT doc_a, doc_b FROM ($jaccardPairsOracle)),
        |edges(src, dst) AS (
        |  SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src),
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |tq AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |q AS (SELECT doc_id,
        |  0.5 * (CAST(len(list_filter(toks,
        |      x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
        |    / len(toks))
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]'))
        |      AS DOUBLE) / length(text))
        |   + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |    AS quality_score
        |  FROM tq),
        |r AS (SELECT l.doc_id, l.component, q.quality_score,
        |    row_number() OVER (PARTITION BY l.component
        |      ORDER BY q.quality_score DESC, l.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY l.component) AS cs
        |  FROM lab l JOIN q USING (doc_id))
        |SELECT doc_id, component, CAST(cs AS BIGINT) AS cluster_size,
        |  quality_score, rn = 1 AS keep
        |FROM r ORDER BY doc_id""".stripMargin)),

    // URL-canonicalization dedup: tracking-param scrub, host lowering,
    // param sort — the cheapest (pre-content) web-corpus dedup tier
    QueryDef("d37_url_canonical", Dedup.urlCanonicalDedup(_, _),
      // d37: same synthetic URL derivation, same normalization algebra —
      // anchored regexp splits, substr prefix tests (no LIKE
      // metacharacters), lexicographic param sort. Pure string ops:
      // bit-exact.
      Sql("""WITH u AS (SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END ||
        |    '.example.com/articles/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&b=2&a=1'
        |         WHEN doc_id % 5 = 1 THEN '?a=1&ref=home&b=2'
        |         WHEN doc_id % 5 = 2 THEN '?b=2&a=1' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END
        |      AS raw_url
        |  FROM documents),
        |nf AS (SELECT doc_id, raw_url,
        |    regexp_replace(raw_url, '#.*$', '') AS nofrag FROM u),
        |parts AS (SELECT doc_id, raw_url,
        |    lower(regexp_extract(nofrag, '^(https?://[^/?]*)', 1)) AS sh,
        |    regexp_replace(regexp_extract(nofrag,
        |      '^https?://[^/?]*([^?]*)', 1), '/+$', '') AS path,
        |    regexp_extract(nofrag, '\?(.*)$', 1) AS query
        |  FROM nf),
        |canon AS (SELECT doc_id, raw_url,
        |    sh || path || CASE WHEN len(kept) = 0 THEN ''
        |      ELSE '?' || array_to_string(kept, '&') END AS canonical_url
        |  FROM (SELECT *, list_sort(list_filter(string_split(query, '&'),
        |      p -> p <> '' AND substr(p, 1, 4) <> 'utm_'
        |        AND substr(p, 1, 4) <> 'ref=')) AS kept
        |    FROM parts))
        |SELECT canonical_url, min(doc_id) AS keeper_id,
        |  count(*) AS n_dups,
        |  CAST(sum(CASE WHEN raw_url <> canonical_url THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_noisy
        |FROM canon GROUP BY 1 ORDER BY 1""")),

    // The deduplicated corpus: one representative per cluster + size
    QueryDef("d10_dedup_corpus", Dedup.dedupCorpus(_, _),
      // Same component relation as d9, aggregated to the kept corpus:
      // the representative IS the component label (min id), so grouping
      // the d9 closure by component yields (kept doc, cluster size).
      SqlFn(() => s"""WITH RECURSIVE
        |p AS (SELECT doc_a, doc_b FROM ($jaccardPairsOracle)),
        |edges(src, dst) AS (
        |  SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src),
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        |SELECT component AS doc_id, count(*) AS cluster_size
        |FROM lab GROUP BY component ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: broadcast the held-out shingle set
    QueryDef("d11_decontaminate", CorpusOps.decontaminate(_, _),
      // d11: the same word-3-gram shingle derivation as d2/d3, split on
      // doc_id % 20 — bench side's distinct shingles probed by the corpus
      // side (the Spark plan broadcasts the bench set; semantics are this
      // plain join+group).
      Sql("""WITH words AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) >= 3
        |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |      ELSE [] END) AS t
        |  FROM words),
        |bench AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(t) AS g FROM sh WHERE doc_id % 20 = 0) u),
        |corpus AS (SELECT doc_id, len(t) AS n_shingles, unnest(t) AS g
        |  FROM sh WHERE doc_id % 20 <> 0)
        |SELECT c.doc_id, CAST(c.n_shingles AS BIGINT) AS n_shingles,
        |  count(*) AS n_shared,
        |  CAST(count(*) AS DOUBLE) / c.n_shingles AS contamination
        |FROM corpus c JOIN bench b USING (g)
        |GROUP BY c.doc_id, c.n_shingles
        |ORDER BY c.doc_id""")),

    // End-to-end curation: dedup → quality gate → stratified sample,
    // one declarative plan (single scan, two data shuffles)
    QueryDef("d12_curate", CorpusOps.curate(_, _),
      // Composition of the d1 fingerprint, t8 score/median, and q51
      // hash-sample idioms — each already hash-proven individually.
      Sql("""WITH t AS (SELECT doc_id, lang, source, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |scored AS (SELECT doc_id, lang, source, fp,
        |  0.5 * (CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks))
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
        |   + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality_score
        |  FROM t),
        |dedup AS (SELECT doc_id, lang, source, quality_score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM scored) WHERE rn = 1),
        |med AS (SELECT lang, quantile_cont(quality_score, 0.5) AS lang_median
        |  FROM dedup GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.source, d.quality_score, m.lang_median
        |FROM dedup d JOIN med m USING (lang)
        |WHERE d.quality_score > m.lang_median
        |  AND CAST('0x' || substr(md5('curate_' || d.doc_id), 1, 15) AS BIGINT) % 1000 <
        |      CASE WHEN d.lang = 'en' THEN 500 ELSE 900 END
        |ORDER BY d.doc_id""")),

    // d9's CC fixpoint over the d6 embedding pair graph (semantic dups)
    QueryDef("d13_embedding_clusters", Dedup.embeddingClusters(_, _),
      // d9's recursive-CTE closure over the d6 pair graph instead of the
      // jaccard one — the Spark side shares one CC fixpoint the same way.
      SqlFn(() => s"""WITH RECURSIVE
        |p AS (SELECT vec_a, vec_b FROM ($embPairsOracle)),
        |edges(src, dst) AS (
        |  SELECT vec_a, vec_b FROM p UNION SELECT vec_b, vec_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS vid, min(dst) AS mn FROM reach GROUP BY src)
        |SELECT v.vec_id,
        |  CAST(coalesce(least(c.vid, c.mn), v.vec_id) AS BIGINT) AS component
        |FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.vid
        |ORDER BY v.vec_id""".stripMargin)),

    // Bloom-filter decontamination (bounded broadcast). The sketch bytes
    // are engine-specific (Spark's bloom_filter_agg), so no cross-engine
    // result equality exists. Contract: flags are a SUPERSET of exact
    // d11's (no false negatives) with bounded false-positive inflation —
    // this corpus's distinct bench shingles sit far under the 1.6M-bit
    // filter's 100k design capacity, so bloom-only flags stay a sliver.
    QueryDef("d14_decontaminate_bloom", CorpusOps.decontaminateBloom(_, _),
      Approx(
        Bound("d14_false_negatives", bloomFalseNegatives, AtMost(0)),
        Bound("d14_extra_flag_frac", bloomExtraFlagFrac, AtMost(0.05)))),

    // Per-doc duplicated word-8-gram span fraction (exact-substring
    // dedup detection, Lee et al. 2022)
    QueryDef("d15_ngram_spans", Dedup.ngramSpanStats(_, _),
      // d15: both engines split on a single space and build word-8-grams
      // positionally (DuckDB 1-based inclusive slice == Spark slice(ws,i,8)),
      // so the gram groups are string-identical; dup_frac is explicit
      // double division on both sides.
      Sql("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |g AS (SELECT doc_id,
        |    array_to_string(words[CAST(i AS INT):CAST(i+7 AS INT)], ' ') AS gram
        |  FROM w, UNNEST(generate_series(1, len(words)-7)) AS t(i)
        |  WHERE len(words) >= 8),
        |df AS (SELECT gram FROM g GROUP BY gram
        |       HAVING count(DISTINCT doc_id) > 1),
        |pd AS (SELECT g.doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN df.gram IS NOT NULL THEN 1 ELSE 0 END) AS dup_grams
        |  FROM g LEFT JOIN df USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(pd.dup_grams, 0) AS BIGINT) AS dup_grams,
        |  CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0.0
        |       ELSE CAST(pd.dup_grams AS DOUBLE) / CAST(pd.n_grams AS DOUBLE)
        |  END AS dup_frac
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""")),

    // Exact-substring span REMOVAL (keep-first): merged duplicate
    // intervals cut from the text — the consumer of d15's detection
    QueryDef("d16_ngram_span_removal", Dedup.ngramSpanRemoval(_, _),
      // d16: same gram formation as d15; keep-first via row_number over
      // (doc_id, pos) per gram; gaps-and-islands interval merge; the cut
      // is NOT EXISTS containment; text rebuilt as kept words joined —
      // both engines rebuild from the same split, so spacing normalizes
      // identically.
      Sql("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |g AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(words[CAST(i AS INT):CAST(i+7 AS INT)], ' ') AS gram
        |  FROM w, UNNEST(generate_series(1, len(words)-7)) AS t(i)
        |  WHERE len(words) >= 8),
        |m AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM
        |    (SELECT doc_id, pos, row_number() OVER (
        |       PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g)
        |  WHERE rn > 1),
        |i AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
        |    ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS pme FROM m),
        |i2 AS (SELECT doc_id, s, e, sum(CASE WHEN pme IS NULL OR s > pme + 1
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM i),
        |mi AS (SELECT doc_id, island, min(s) AS s, max(e) AS e
        |  FROM i2 GROUP BY 1, 2),
        |wp AS (SELECT doc_id, CAST(i AS INT) AS idx, words[CAST(i AS INT)] AS word
        |  FROM w, UNNEST(generate_series(1, len(words))) AS t(i)),
        |kept AS (SELECT wp.* FROM wp WHERE NOT EXISTS
        |  (SELECT 1 FROM mi WHERE mi.doc_id = wp.doc_id
        |     AND wp.idx BETWEEN mi.s AND mi.e)),
        |rb AS (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS text_clean
        |  FROM kept GROUP BY 1),
        |st AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS cut_words
        |  FROM mi GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(st.cut_words, 0) AS BIGINT) AS cut_words,
        |  coalesce(rb.text_clean, '') AS text_clean
        |FROM documents d LEFT JOIN st USING (doc_id) LEFT JOIN rb USING (doc_id)
        |ORDER BY doc_id""")),

    // SemDeDup-style semantic dedup: cluster-bounded near-dup drop
    // (keep-min within cluster; cross-cluster pairs out of scope by
    // design — the approximation that bounds the quadratic)
    QueryDef("d17_semantic_dedup", Similarity.semanticDedup(_, _),
      // d17: s6's assignment CTEs verbatim, then the keep-min rule as an
      // anti-join on within-cluster smaller-id cosine partners — cosine
      // via list_cosine_similarity on the same DOUBLE[] arithmetic.
      Sql("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        |  WHERE len(embedding) = 64),
        |cd AS (SELECT label AS c_label, i AS dim, avg(emb[i]) AS c
        |  FROM e, range(1, 65) r(i) GROUP BY label, i),
        |cent AS (SELECT c_label, list(c ORDER BY dim) AS cvec FROM cd GROUP BY c_label),
        |d AS (SELECT e.vec_id, c.c_label,
        |    list_reduce(list_prepend(0.0,
        |      [ (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]) for i in range(1, 65) ]),
        |      (a, v) -> a + v) AS dist
        |  FROM e CROSS JOIN cent c),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist, c_label) AS rn FROM d),
        |asg AS (SELECT a.vec_id, a.c_label, e.emb FROM rk a
        |  JOIN e ON a.vec_id = e.vec_id WHERE a.rn = 1),
        |drp AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
        |  ON a.c_label = b.c_label AND a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.emb, b.emb) >= 0.4)
        |SELECT a.vec_id, a.c_label, (d.vec_id IS NULL) AS kept
        |FROM asg a LEFT JOIN drp d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""")),

    // Quality-representative fuzzy dedup: keep the best-quality member
    // of each d9 cluster (ties to smaller id), not the lowest id
    QueryDef("d18_quality_dedup", CorpusOps.qualityDedup(_, _),
      // d18: d9's component closure + t3's quality formula, argmax per
      // component as a rank-1 window (quality DESC with a -1e18 NULL
      // sentinel in the ORDER — matching the Spark struct-min sort key —
      // then doc_id ASC; the emitted kept_quality is the UN-coalesced
      // score, so unscoreable winners stay NULL on both engines).
      SqlFn(() => s"""WITH RECURSIVE
        |p AS (SELECT doc_a, doc_b FROM ($jaccardPairsOracle)),
        |edges(src, dst) AS (
        |  SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src),
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |q AS (SELECT doc_id,
        |    0.5 * (CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks))
        |     + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
        |     + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality_score
        |  FROM (SELECT doc_id, text,
        |      list_filter(string_split_regex(lower(text), '\\s+'),
        |        x -> x <> '') AS toks
        |    FROM documents)),
        |r AS (SELECT component, l.doc_id, quality_score,
        |    row_number() OVER (PARTITION BY component
        |      ORDER BY coalesce(quality_score, -1e18) DESC, l.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY component) AS cluster_size
        |  FROM lab l JOIN q ON l.doc_id = q.doc_id)
        |SELECT component, doc_id AS kept_doc_id,
        |  quality_score AS kept_quality, cluster_size
        |FROM r WHERE rn = 1 ORDER BY component""".stripMargin)),

    // Leakage-safe split assignment: near-dup clusters, not docs, are
    // the split unit — fuzzy copies can never straddle train/test
    QueryDef("d19_split_assign", CorpusOps.leakageSafeSplit(_, _),
      // d19: d9's component closure + the engine's md5-derived 60-bit
      // hash convention on the salted component id — the same per-mille
      // predicate the q51/q52 oracles mirror.
      SqlFn(() => s"""WITH RECURSIVE
        |p AS (SELECT doc_a, doc_b FROM ($jaccardPairsOracle)),
        |edges(src, dst) AS (
        |  SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src),
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |h AS (SELECT doc_id, component,
        |    CAST('0x' || substr(md5('split_' || component), 1, 15) AS BIGINT)
        |      % 1000 AS hv
        |  FROM lab)
        |SELECT doc_id, component,
        |  CASE WHEN hv < 100 THEN 'test'
        |       WHEN hv < 200 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM h ORDER BY doc_id""".stripMargin)),

    // Per-source doc cap (C4-style anti-domination), WindowGroupLimit
    QueryDef("d20_domain_cap", CorpusOps.domainCap(_, _),
      Sql("""SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source, CAST(ROW_NUMBER() OVER (
        |      PARTITION BY source
        |      ORDER BY CAST('0x' || substr(md5('cap_' || doc_id), 1, 15)
        |        AS BIGINT), doc_id) AS INT) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""")),

    // Duplicate-aware down-weighting: 1/cluster_size training weights
    QueryDef("d21_soft_dedup", CorpusOps.softDedupWeights(_, _),
      SqlFn(() => s"""WITH RECURSIVE
        |p AS (SELECT doc_a, doc_b FROM ($jaccardPairsOracle)),
        |edges(src, dst) AS (
        |  SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src),
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        |SELECT doc_id, component,
        |  count(*) OVER (PARTITION BY component) AS cluster_size,
        |  CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY component)
        |    AS weight
        |FROM lab ORDER BY doc_id""".stripMargin)),

    // The full curation sequence as ONE plan: dedup -> quality gate ->
    // decontaminate -> domain cap -> split (the corpus manifest)
    QueryDef("d22_curation_pipeline", CorpusOps.curationPipeline(_, _),
      // d22: the stage CTEs are the verbatim oracles of the pieces —
      // d1's keep-first window, t8's score + per-lang median, d11's
      // shingle/bench join, d20's cap window, d19's split rule on doc_id.
      Sql("""WITH base AS (SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS toks,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |scored AS (SELECT doc_id, lang, source, toks, fp,
        |    0.5 * (CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
        |      / len(toks))
        |     + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]'))
        |        AS DOUBLE) / length(text))
        |     + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |      AS quality_score
        |  FROM base),
        |dedup AS (SELECT * FROM (SELECT s.*, ROW_NUMBER() OVER (
        |    PARTITION BY fp ORDER BY doc_id) AS rn FROM scored s)
        |  WHERE rn = 1),
        |med AS (SELECT lang, quantile_cont(quality_score, 0.5)
        |    AS lang_median FROM dedup GROUP BY lang),
        |quality AS (SELECT d.* FROM dedup d JOIN med m USING (lang)
        |  WHERE d.quality_score > m.lang_median),
        |benchsh AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_distinct(CASE WHEN len(w) >= 3
        |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |        for i in range(1, len(w) - 1)] ELSE [] END)) AS g
        |  FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS w
        |    FROM documents WHERE doc_id % 20 = 0)) u),
        |contaminated AS (SELECT c.doc_id FROM (
        |  SELECT doc_id, len(t) AS n_shingles, unnest(t) AS g FROM (
        |    SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |        THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |          for i in range(1, len(toks) - 1)] ELSE [] END) AS t
        |    FROM quality WHERE doc_id % 20 <> 0)) c
        |  JOIN benchsh b USING (g)
        |  GROUP BY c.doc_id, c.n_shingles
        |  HAVING CAST(count(*) AS DOUBLE) / c.n_shingles > 0.2),
        |clean AS (SELECT q.* FROM quality q
        |  WHERE q.doc_id % 20 <> 0
        |    AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |capped AS (SELECT * FROM (SELECT c.*, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY
        |      CAST('0x' || substr(md5('cap_' || doc_id), 1, 15) AS BIGINT),
        |      doc_id) AS rk FROM clean c)
        |  WHERE rk <= 20)
        |SELECT doc_id, lang, source, quality_score,
        |  CASE WHEN hv < 100 THEN 'test'
        |       WHEN hv < 200 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM (SELECT *, CAST('0x' || substr(md5('split_' || doc_id), 1, 15)
        |    AS BIGINT) % 1000 AS hv FROM capped)
        |ORDER BY doc_id""")),

    // Incremental ingest: dedup the incoming batch against itself,
    // then anti-join the existing corpus's fingerprints
    QueryDef("d23_cross_dedup", Dedup.crossDedup(_, _),
      Sql("""WITH f AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |inc AS (SELECT doc_id, fp FROM (
        |  SELECT f.*, ROW_NUMBER() OVER (PARTITION BY fp
        |      ORDER BY doc_id) AS rn
        |  FROM f WHERE doc_id % 3 = 0) WHERE rn = 1),
        |ex AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 <> 0)
        |SELECT doc_id, fp FROM inc
        |WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.fp = inc.fp)
        |ORDER BY doc_id""")),

    // d23 answered from a PERSISTED fingerprint index (parquet +
    // manifest round trip) — equal output, full d23 oracle
    QueryDef("d28_persisted_cross_dedup", IndexStore.persistedCrossDedup(_, _),
      // d28: identical semantics to d23 — the existing-corpus side just
      // routes through the persisted parquet+manifest index, which the
      // round-trip spec proves equal to the direct build. Same oracle.
      Sql("""WITH f AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |inc AS (SELECT doc_id, fp FROM (
        |  SELECT f.*, ROW_NUMBER() OVER (PARTITION BY fp
        |      ORDER BY doc_id) AS rn
        |  FROM f WHERE doc_id % 3 = 0) WHERE rn = 1),
        |ex AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 <> 0)
        |SELECT doc_id, fp FROM inc
        |WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.fp = inc.fp)
        |ORDER BY doc_id""")),

    // LSH near-dup admission from a persisted banding index (save +
    // incremental append + load in the query path; exact verify)
    QueryDef("d30_persisted_lsh_dedup", IndexStore.persistedLshPairs(_, _),
      // d30: same word-3-gram Jaccard truth as d2/d3, restricted to
      // (increment × existing-corpus) pairs — the banding only PRUNES
      // (exact verify after), so the persisted-index path answers the
      // plain cross-pairs relation exactly.
      SqlFn(() => s"""$shingleSets
        |SELECT a.doc_id AS doc_id, b.doc_id AS corpus_doc_id,
        |  len(list_intersect(a.t, b.t)) * 1.0
        |    / (a.n + b.n - len(list_intersect(a.t, b.t))) AS jaccard
        |FROM sz a JOIN sz b
        |  ON a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
        |WHERE len(list_intersect(a.t, b.t)) * 1.0
        |    / (a.n + b.n - len(list_intersect(a.t, b.t))) >= 0.5
        |ORDER BY doc_id, corpus_doc_id""".stripMargin)),

    // Snapshot diff: added/removed/changed/unchanged audit between two
    // corpus versions via one co-partitioned full-outer fp join
    QueryDef("d31_snapshot_diff", CorpusOps.snapshotDiff(_, _),
      // d31: both snapshots and the revision are the same deterministic
      // construction; fingerprints share the md5(normalized) convention
      // with a 'null' sentinel for null texts on BOTH engines.
      Sql("""WITH old AS (SELECT doc_id,
        |    coalesce(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
        |      'null') AS fp_old
        |  FROM documents WHERE doc_id % 4 <> 3),
        |neu AS (SELECT doc_id,
        |    coalesce(md5(trim(regexp_replace(lower(
        |      CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END),
        |      '\s+', ' ', 'g'))), 'null') AS fp_new
        |  FROM documents WHERE doc_id % 9 <> 8)
        |SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
        |  CASE WHEN fp_old IS NULL THEN 'added'
        |    WHEN fp_new IS NULL THEN 'removed'
        |    WHEN fp_old <> fp_new THEN 'changed'
        |    ELSE 'unchanged' END AS status
        |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
        |ORDER BY doc_id""")),

    // Winnowing (MOSS) local-overlap fingerprint pairs: window-min
    // k-gram hashes + inverted-index join, boilerplate df-cap
    QueryDef("d32_winnow_pairs", Dedup.winnowPairs(_, _),
      // d32: the identical winnowing comprehension over the identical
      // md5-convention gram hashes; slice h[i : i+w-1] (inclusive) is
      // Spark's slice(h, i, w); df-cap and minShared mirrored.
      Sql("""WITH wds AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    [CAST(CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' '
        |        || w[i+2]), 1, 15) AS BIGINT) AS BIGINT)
        |      for i in range(1, len(w) - 1)] AS h
        |  FROM wds WHERE len(w) >= 6),
        |fp AS (SELECT doc_id, unnest(list_distinct(
        |    [list_min(h[i:i+3]) for i in range(1, len(h) - 2)])) AS fp
        |  FROM h),
        |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50),
        |kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY doc_a, doc_b""")),

    // Output shard manifest: deterministic hash sharding + per-shard
    // doc/byte totals (the write-side planning step)
    QueryDef("d24_shard_manifest", CorpusOps.shardManifest(_, _),
      // d24: the d19 hash rule ('0x' + 15 md5 hex chars → 60-bit
      // nonnegative BIGINT, so plain % equals pmod) on the salted doc
      // key, then per-shard totals
      Sql("""WITH h AS (SELECT
        |    CAST(CAST('0x' || substr(md5('shard_' || doc_id), 1, 15)
        |      AS BIGINT) % 64 AS INT) AS shard_id,
        |    n_chars
        |  FROM documents)
        |SELECT shard_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM h GROUP BY shard_id ORDER BY shard_id""")),

    // Deterministic per-epoch training order: salted-hash permutation,
    // per-shard rank — reproducible without any global sort
    QueryDef("d27_epoch_shuffle", CorpusOps.epochShuffle(_, _),
      // d27: the hash key is the shared md5 convention, the rank is a
      // total order (key, doc_id) — positions identical on both engines.
      Sql("""WITH h AS (SELECT doc_id,
        |    CAST('0x' || substr(md5('epoch1_' || doc_id), 1, 15)
        |      AS BIGINT) AS k
        |  FROM documents),
        |s AS (SELECT doc_id, k,
        |    CAST(k % 64 AS INT) AS shard_id FROM h)
        |SELECT doc_id, shard_id,
        |  CAST(row_number() OVER (PARTITION BY shard_id
        |    ORDER BY k, doc_id) AS INT) AS pos
        |FROM s ORDER BY shard_id, pos""")),

    // Eval-side contamination report: per benchmark doc, the fraction
    // of its shingles found in the training corpus (zero rows kept)
    QueryDef("d25_contamination_report", CorpusOps.contaminationReport(_, _),
      // d25: same shingle convention as d11, reversed direction — report
      // rows for EVERY eval doc, zero-overlap included.
      Sql("""WITH words AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) >= 3
        |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |      ELSE [] END) AS t
        |  FROM words),
        |train AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(t) AS g FROM sh WHERE doc_id % 20 <> 0) u),
        |ex AS (SELECT doc_id, unnest(t) AS g FROM sh WHERE doc_id % 20 = 0),
        |hits AS (SELECT doc_id, count(*) AS n_hit
        |  FROM ex JOIN train USING (g) GROUP BY doc_id)
        |SELECT e.doc_id, CAST(len(e.t) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CASE WHEN len(e.t) = 0 THEN 0.0
        |    ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / len(e.t)
        |  END AS contamination
        |FROM sh e LEFT JOIN hits h USING (doc_id)
        |WHERE e.doc_id % 20 = 0
        |ORDER BY e.doc_id""")),

    // Temperature-sampled domain mixture (p_d ∝ √n_d): integer-exact
    // per-doc repeat factors, hash-gated fractional epochs
    QueryDef("d26_temperature_mix", CorpusOps.temperatureMix(_, _),
      // d26: floor(sqrt) is the exact integer square root for bigint
      // counts (IEEE sqrt correctly rounded, n < 2^52); // and % on
      // non-negatives truncate identically to Spark's div/%; the extra-
      // epoch gate rides the corpus-standard salted md5 hash.
      Sql("""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents
        |  GROUP BY lang),
        |w AS (SELECT lang, n_lang,
        |    CAST(floor(sqrt(n_lang)) AS BIGINT) AS w_lang FROM c),
        |t AS (SELECT CAST(sum(w_lang) AS BIGINT) AS tw,
        |    CAST(sum(n_lang) AS BIGINT) AS tn FROM w),
        |s AS (SELECT lang, n_lang, w_lang,
        |    (tn * w_lang) // tw AS target_docs FROM w, t)
        |SELECT d.doc_id, d.lang, s.n_lang, s.w_lang, s.target_docs,
        |  s.target_docs // s.n_lang AS base_epochs,
        |  s.target_docs // s.n_lang + CASE WHEN
        |      CAST('0x' || substr(md5('tmix_' || d.doc_id), 1, 15) AS BIGINT)
        |        % s.n_lang < s.target_docs % s.n_lang
        |    THEN 1 ELSE 0 END AS repeats
        |FROM documents d JOIN s USING (lang)
        |ORDER BY doc_id""")),

    // Perceptual (average-hash) payload signature — integer-exact
    // mean-threshold bits, full DuckDB oracle (m6's positional style)
    QueryDef("m7_media_phash", Multimodal.mediaPHash(_, _),
      // m7: every bit decision is integer arithmetic (sb·ct > st·cb), so
      // the DuckDB mirror is bit-identical by construction — the same
      // bucket partition floor(pos·60/n) over [0, n) sample positions.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS pos, text FROM d),
        |sc AS (SELECT doc_id,
        |    CAST(pos * 60 // n AS INT) AS bk,
        |    ascii(substr(text, CAST(pos + 1 AS INT), 1)) AS c
        |  FROM s),
        |b AS (SELECT doc_id, bk, sum(c) AS sb, count(*) AS cb
        |  FROM sc GROUP BY doc_id, bk),
        |t AS (SELECT doc_id, sum(sb) AS st, sum(cb) AS ct
        |  FROM b GROUP BY doc_id)
        |SELECT b.doc_id AS doc_id,
        |  CAST(sum(CASE WHEN sb * ct > st * cb
        |    THEN (1::BIGINT << bk) ELSE 0 END) AS BIGINT) AS phash
        |FROM b JOIN t ON b.doc_id = t.doc_id
        |GROUP BY b.doc_id ORDER BY b.doc_id""")),

    // Near-duplicate payloads by aHash hamming radius, via the lossless
    // multi-probe pigeonhole join (radius 12; all-pairs DuckDB oracle)
    QueryDef("m8_media_phash_pairs", Multimodal.mediaPHashPairs(_, _),
      // m8: exact all-pairs hamming in the oracle; the Spark side's
      // multi-probe pigeonhole blocking is lossless for the radius, so
      // the two must agree exactly.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS pos, text FROM d),
        |sc AS (SELECT doc_id,
        |    CAST(pos * 60 // n AS INT) AS bk,
        |    ascii(substr(text, CAST(pos + 1 AS INT), 1)) AS c
        |  FROM s),
        |b AS (SELECT doc_id, bk, sum(c) AS sb, count(*) AS cb
        |  FROM sc GROUP BY doc_id, bk),
        |t AS (SELECT doc_id, sum(sb) AS st, sum(cb) AS ct
        |  FROM b GROUP BY doc_id),
        |p AS (SELECT b.doc_id AS doc_id,
        |    CAST(sum(CASE WHEN sb * ct > st * cb
        |      THEN (1::BIGINT << bk) ELSE 0 END) AS BIGINT) AS phash
        |  FROM b JOIN t ON b.doc_id = t.doc_id GROUP BY b.doc_id)
        |SELECT a.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, y.phash)) AS INT) AS hamming
        |FROM p a JOIN p y ON a.doc_id < y.doc_id
        |WHERE bit_count(xor(a.phash, y.phash)) <= 12
        |ORDER BY doc_a, doc_b""")),

    // Shot-boundary detection: per-frame integer-exact aHash, lag
    // window, hamming-threshold cuts (full DuckDB oracle)
    QueryDef("m9_shot_boundaries", Multimodal.shotBoundaries(_, _),
      // m9: same integer-exact bit rule as m7, but per NON-OVERLAPPING
      // 64-byte frame with 16 contiguous 4-sample buckets; consecutive
      // frames' signatures xor'd, boundary at hamming >= 9. Frame
      // offsets are 1-based (fi*64 + 1), matching m6's convention.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) >= 64),
        |f AS (SELECT doc_id, unnest(range(0, (n - 64) // 64 + 1)) AS fi,
        |    text FROM d),
        |s AS (SELECT doc_id, fi, unnest(range(0, 64)) AS j, text FROM f),
        |sc AS (SELECT doc_id, fi, j // 4 AS bk,
        |    ascii(substr(text, CAST(fi * 64 + j + 1 AS INT), 1)) AS c
        |  FROM s),
        |b AS (SELECT doc_id, fi, bk, sum(c) AS sb
        |  FROM sc GROUP BY doc_id, fi, bk),
        |t AS (SELECT doc_id, fi, sum(sb) AS st
        |  FROM b GROUP BY doc_id, fi),
        |sig AS (SELECT b.doc_id, b.fi,
        |    CAST(sum(CASE WHEN sb * 16 > st
        |      THEN (1::BIGINT << CAST(bk AS INT)) ELSE 0 END) AS BIGINT) AS sig
        |  FROM b JOIN t ON b.doc_id = t.doc_id AND b.fi = t.fi
        |  GROUP BY b.doc_id, b.fi),
        |lagd AS (SELECT doc_id, fi, sig,
        |    lag(sig) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
        |  FROM sig)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(fi * 64 + 1 AS INT) AS frame_offset,
        |  CAST(bit_count(xor(sig, prev)) AS INT) AS dist,
        |  bit_count(xor(sig, prev)) >= 9 AS is_boundary
        |FROM lagd WHERE prev IS NOT NULL
        |ORDER BY doc_id, frame_idx""")),

    // VAD-style activity runs over integer frame energy (gaps-and-
    // islands window idiom; bit-exact oracle)
    QueryDef("m10_vad_segments", Multimodal.vadSegments(_, _),
      // m10: integer Σx² energy gate + gaps-and-islands run grouping —
      // every value integer arithmetic, bit-identical across engines.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) >= 64),
        |f AS (SELECT doc_id, unnest(range(0, (n - 64) // 64 + 1)) AS fi,
        |    text FROM d),
        |s AS (SELECT doc_id, fi,
        |    ascii(substr(text, CAST(fi * 64 + j + 1 AS INT), 1)) AS c
        |  FROM f CROSS JOIN (SELECT unnest(range(0, 64)) AS j)),
        |fr AS (SELECT doc_id, fi, sum(c * c) AS ssq
        |  FROM s GROUP BY doc_id, fi),
        |a AS (SELECT doc_id, fi, ssq,
        |    fi - row_number() OVER (PARTITION BY doc_id ORDER BY fi) AS grp
        |  FROM fr WHERE ssq >= 628000),
        |seg AS (SELECT doc_id, grp, min(fi) AS sf, max(fi) AS ef,
        |    count(*) AS nf, sum(ssq) AS tssq
        |  FROM a GROUP BY doc_id, grp)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY sf)
        |    AS INT) AS seg_idx,
        |  CAST(sf AS INT) AS start_frame, CAST(ef AS INT) AS end_frame,
        |  CAST(nf AS BIGINT) AS n_frames, CAST(tssq AS BIGINT) AS total_ssq
        |FROM seg ORDER BY doc_id, seg_idx""")),

    // ViT-style patchify: 16×16 byte plane → 4×4 patch grid, integer
    // per-patch stats via 2-D row-major indexing (bit-exact oracle)
    QueryDef("m11_patchify", Multimodal.patchify(_, _),
      // m11: pure integer 2-D indexing — byte(r, c) = text[r·16 + c],
      // patch (pi) covers rows pi//4·4.. and cols pi%4·4.. — identical
      // row-major math on both engines.
      Sql("""WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 256),
        |p AS (SELECT doc_id, text, unnest(range(16)) AS pi FROM d),
        |b AS (SELECT doc_id, pi,
        |    ascii(substr(text,
        |      CAST(((pi // 4) * 4 + k // 4) * 16
        |        + ((pi % 4) * 4 + k % 4) + 1 AS INT), 1)) AS c
        |  FROM p CROSS JOIN (SELECT unnest(range(16)) AS k))
        |SELECT doc_id, CAST(pi AS INT) AS patch_idx,
        |  CAST(sum(c) AS BIGINT) AS byte_sum,
        |  CAST(min(c) AS INT) AS byte_min, CAST(max(c) AS INT) AS byte_max
        |FROM b GROUP BY doc_id, pi ORDER BY doc_id, patch_idx""")),

    // DCT perceptual hash (the published pHash rule) in fixed-point
    // integer arithmetic — bit-identical across engines, full oracle
    QueryDef("m12_dct_phash", Multimodal.mediaDctHash(_, _),
      // m12: the SAME fixed-point DCT matrix is baked into this SQL and
      // the Spark expression (generated by one call in one process), so
      // both sides run identical integer arithmetic end to end.
      SqlFn(() => s"""$dctPhashCte
        |SELECT doc_id, phash FROM ph ORDER BY doc_id""".stripMargin)),

    // Near-dup pairs on the DCT hash: lossless multi-probe pigeonhole
    // join (m8's shape over 63 bits), exact all-pairs oracle
    QueryDef("m13_dct_phash_pairs", Multimodal.mediaDctHashPairs(_, _),
      // m13: exact all-pairs hamming in the oracle; the Spark side's
      // 7×9-bit multi-probe blocking is lossless for radius 12, so the
      // two must agree exactly (m8's contract on the DCT hash).
      SqlFn(() => s"""$dctPhashCte
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 12
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Byte-distribution triage (entropy bits/byte, mode, distinct):
    // the no-decode corrupt/encrypted-blob gate before any decode
    QueryDef("m14_byte_entropy", Multimodal.byteEntropy(_, _),
      // m14: integer histogram; the statistic is transcendental-free
      // (r12: ln ulp-drifts across engines) — Σc² is exact bigint on
      // both sides and collision_prob is ONE divide of exact integers.
      // Shannon bits live in byteEntropyBits under an epsilon spec.
      Sql("""WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n, text
        |  FROM documents WHERE length(text) > 0),
        |b AS (SELECT doc_id, n,
        |    unnest([ascii(c) for c in string_split(text, '')]) AS b
        |  FROM d),
        |h AS (SELECT doc_id, n, b, count(*) AS c FROM b GROUP BY 1, 2, 3)
        |SELECT doc_id, n AS n_bytes,
        |  CAST(count(*) AS BIGINT) AS n_distinct_bytes,
        |  CAST(max(c) AS BIGINT) AS mode_count,
        |  CAST(sum(c * c) AS BIGINT) AS sum_c2,
        |  CAST(sum(c * c) AS DOUBLE) / CAST(n * n AS DOUBLE)
        |    AS collision_prob
        |FROM h GROUP BY doc_id, n
        |ORDER BY doc_id""")),

    // ── Similarity search (north-star extension ops) ─────────────────────
    QueryDef("s1_cosine_topk", Similarity.bruteForceTopK(_, _),
      Sql("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings),
        |cos AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]) AS cos
        |  FROM q, c WHERE query_id <> neighbor_id),
        |rk AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |  FROM cos)
        |SELECT query_id, rank, neighbor_id, cos FROM rk
        |WHERE rank <= 5 ORDER BY query_id, rank""")),

    // LSH-bucketed ANN: approximate by design → no SQL oracle. The
    // contract is recall@5 >= 0.8 against the exact s1 baseline, not
    // result equality with any SQL oracle. The sf corpora are hard for
    // ANN (top-5 neighbors at cos 0.4-0.55, no cluster structure), so
    // the default parameters must hold recall on unstructured data.
    // Measured: s2 (4 bits × 8 tables, H-1 probing) 1.00 at sf0.001 and
    // sf0.01; r12 at sf0.1: s2 1.00, s3 0.80, s10 1.00, s13 0.96.
    QueryDef("s2_ann_topk", Similarity.lshTopK(_, _),
      Approx(Bound("s2_recall_at5", recallVsS1(Similarity.lshTopK(_, _)), AtLeast(0.8)))),

    // IVF-flat ANN: same contract as s2 (16 cells, nProbe 12: 0.92 at
    // sf0.001).
    QueryDef("s3_ivf_topk", Similarity.ivfTopK(_, _),
      Approx(Bound("s3_recall_at5", recallVsS1(Similarity.ivfTopK(_, _)), AtLeast(0.8)))),

    // Exact k-NN self-join (tiled equi-join decomposition, no BNLJ)
    QueryDef("s4_knn_join", Similarity.knnJoin(_, _),
      Sql("""WITH cos AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        |      AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |rk AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |  FROM cos)
        |SELECT query_id, rank, neighbor_id, cos FROM rk
        |WHERE rank <= 3 ORDER BY query_id, rank""")),

    // Approximate k-NN JOIN via IVF cells — s4's 100 TB scale path.
    // Contract: recall@3 >= 0.8 against the exact all-pairs join s4 (not
    // s1's 5-query scan — every corpus row is a query here).
    QueryDef("s16_ivf_knn_join", Similarity.ivfKnnJoin(_, _),
      Approx(Bound("s16_recall_at3", (s, dir) => Similarity.recall(
        Similarity.knnJoin(s, dir), Similarity.ivfKnnJoin(s, dir)), AtLeast(0.8)))),

    // Per-label mean embedding (map-side-combined, no corpus explode)
    QueryDef("s5_centroids", Similarity.centroids(_, _),
      // s5: per-label per-dim mean — same FP profile as the other green
      // avg aggregates (sum-merge order differs at ~1e-15 relative, far
      // inside the gate's 9-significant-digit rounding).
      Sql("""WITH e AS (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings
        |  WHERE len(embedding) = 64)
        |SELECT label, CAST(i - 1 AS INT) AS dim, avg(emb[i]) AS c
        |FROM e, range(1, 65) r(i)
        |GROUP BY label, i
        |ORDER BY label, dim""")),

    // One k-means E-step against broadcast label centroids
    QueryDef("s6_kmeans_assign", Similarity.kmeansAssign(_, _),
      // s6: centroids as in s5, then squared-L2 argmin per vector. The
      // distance fold (list_reduce over a 0.0-seeded prefix) is the same
      // sequential left fold as Spark's aggregate(zip_with(...)), so dist
      // differs only by the centroids' last-ulp avg noise — argmin is
      // stable unless two centroids are equidistant to ~1e-13, which the
      // random embeddings never are.
      Sql("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        |  WHERE len(embedding) = 64),
        |cd AS (SELECT label AS c_label, i AS dim, avg(emb[i]) AS c
        |  FROM e, range(1, 65) r(i) GROUP BY label, i),
        |cent AS (SELECT c_label, list(c ORDER BY dim) AS cvec FROM cd GROUP BY c_label),
        |d AS (SELECT e.vec_id, e.label, c.c_label,
        |    list_reduce(list_prepend(0.0,
        |      [ (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]) for i in range(1, 65) ]),
        |      (a, v) -> a + v) AS dist
        |  FROM e CROSS JOIN cent c),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist, c_label) AS rn FROM d)
        |SELECT vec_id, label, c_label AS assigned_label, dist FROM rk WHERE rn = 1
        |ORDER BY vec_id""")),

    // Full iterated Lloyd's k-means (fixed init + fixed rounds =
    // deterministic and SQL-oracle-able via CTE unrolling)
    QueryDef("s7_kmeans_iter", Similarity.kmeansIterate(_, _),
      // Lloyd's unrolled: fixed init (per-label means) + 2 E+M rounds +
      // final E-step, each round one assign CTE + one centroid CTE — the
      // same deterministic arithmetic the Spark side evaluates.
      SqlFn(() => kmeansIterOracle(iters = 2))),

    // Per-vector int8 scalar quantization (4x embedding storage cut);
    // registered flat (codes comma-joined) so the gate can sort/hash it
    QueryDef("s8_quantize_int8", Similarity.quantizeInt8Flat(_, _),
      // s8: arithmetic is explicit-double floor(x+0.5) on BOTH engines —
      // engine `round` functions differ in half-way handling, and float
      // arithmetic differs from double; neither may leak into a hashed
      // value compare.
      Sql("""WITH s AS (SELECT vec_id,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx,
        |    (CAST(list_max(embedding) AS DOUBLE)
        |      - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale,
        |    embedding
        |  FROM embeddings)
        |SELECT vec_id, mn, mx,
        |  array_to_string(
        |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding, x ->
        |           CAST(floor((CAST(x AS DOUBLE) - mn) / scale + 0.5) AS INT))
        |    END, ',') AS qvec_csv
        |FROM s ORDER BY vec_id""")),

    // Exact top-k over the dequantized int8 corpus — the consumer that
    // proves quantized storage still ranks like the float corpus
    QueryDef("s9_dequantized_topk", Similarity.dequantizedTopK(_, _),
      // s9: reconstruction mn + q*scale in DOUBLE on both engines, then
      // the s1 oracle shape over the reconstructed vectors (same
      // sequential-double cosine, same (cos DESC, neighbor_id) tie-break).
      Sql("""WITH s AS (SELECT vec_id,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    (CAST(list_max(embedding) AS DOUBLE)
        |      - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale,
        |    embedding
        |  FROM embeddings),
        |r AS (SELECT vec_id,
        |    CASE WHEN scale = 0
        |         THEN list_transform(embedding, x -> mn + 0 * scale)
        |         ELSE list_transform(embedding, x ->
        |           mn + CAST(CAST(floor((CAST(x AS DOUBLE) - mn) / scale + 0.5)
        |             AS INT) AS DOUBLE) * scale)
        |    END AS emb
        |  FROM s),
        |q AS (SELECT vec_id AS query_id, emb AS qe FROM r WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, emb AS ne FROM r),
        |cos AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]) AS cos
        |  FROM q, c WHERE query_id <> neighbor_id),
        |rk AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |  FROM cos)
        |SELECT query_id, rank, neighbor_id, cos FROM rk
        |WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Product-quantization ANN (8-byte codes + ADC): approximate by
    // design -> rows-only like s2/s3, same recall@5 contract vs s1
    QueryDef("s10_pq_topk", Similarity.pqTopK(_, _),
      Approx(Bound("s10_recall_at5", recallVsS1(Similarity.pqTopK(_, _)), AtLeast(0.8)))),

    // IVF-PQ composite (the Faiss IndexIVFPQ deployment shape): coarse
    // cell prune, ADC over only the probed cells' codes, exact re-rank.
    // Approximate by design -> rows-only, same recall@5 contract vs s1.
    QueryDef("s13_ivfpq_topk", Similarity.ivfPqTopK(_, _),
      Approx(Bound("s13_recall_at5", recallVsS1(Similarity.ivfPqTopK(_, _)), AtLeast(0.8)))),

    // Exact cosine radius (range) search around the query vectors —
    // map-only over the corpus, no shuffle at all
    QueryDef("s11_radius_search", Similarity.radiusSearch(_, _),
      // s11: same cosine arithmetic as s1, threshold instead of rank.
      Sql("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings)
        |SELECT query_id, neighbor_id,
        |  list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]) AS cos
        |FROM q, c WHERE query_id <> neighbor_id
        |  AND list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]) >= 0.35
        |ORDER BY query_id, neighbor_id""")),

    // Greedy k-center coreset (farthest-point traversal): k spread
    // representatives; deterministic -> full unrolled-CTE oracle
    QueryDef("s12_kcenter_coreset", Similarity.kcenterCoreset(_, _),
      // s12: the same greedy farthest-point rule unrolled as k chained
      // CTEs — each pick r is an ORDER BY mind DESC, vec_id LIMIT 1 over
      // the least() of distances to all prior picks (the Spark side's
      // min(struct(-mind, id)) with the identical tie-break); cosine via
      // the s1-proven list_cosine_similarity-on-DOUBLE[] equivalence.
      SqlFn(() => kcenterOracle(8))),

    // s3's query answered by a PERSISTED index (save -> parquet+manifest
    // -> load -> query): exact equality with s3 gated in IndexStoreSpec;
    // rows-only in the gate for the same reason as s3, and s3's contract
    QueryDef("s14_ivf_persisted_topk", IndexStore.ivfPersistedTopK(_, _),
      Approx(Bound("s14_recall_at5",
        recallVsS1(IndexStore.ivfPersistedTopK(_, _)), AtLeast(0.8)))),

    // MMR diversified re-rank of the exact top-nCand shortlist:
    // deterministic greedy over distributed-computed cosines -> full
    // unrolled-CTE oracle (shortlist-side dual of d17's drop rule)
    QueryDef("s15_mmr_rerank", Similarity.mmrRerank(_, _),
      // s15: the identical greedy unrolled as k chained CTEs — each c_r
      // carries the incrementally-greatest'ed max-sim to the selected
      // set, each p_r is an ORDER BY λ·cos − (1−λ)·ms DESC, nid LIMIT 1
      // (the driver greedy's exact comparison, with the λ/(1−λ)
      // coefficient literals rendered from the SAME Scala doubles so
      // 1−0.7's binary rounding is shared, not re-derived). Cosines via
      // the s1-proven list_cosine_similarity-on-DOUBLE[] equivalence.
      SqlFn(() => mmrOracle(5, 20, 3, 0.7))),

    // JL ±1 random projection 64 -> 16 dims (pre-ANN compression);
    // left-assoc double chains -> bit-identical, full oracle
    QueryDef("s17_jl_project", Similarity.jlProject(_, _),
      // s17: generated from the SAME baked sign matrix as the Spark
      // expression (see Similarity.jlOracleSql) — the sides cannot drift.
      SqlFn(() => Similarity.jlOracleSql())),

    // Hybrid retrieval: reciprocal-rank fusion of the dense cosine
    // list (query vector 0) with t15's BM25 list — rank-only fusion
    QueryDef("s18_hybrid_rrf", Similarity.hybridRrf(_, _),
      // s18: dense ranks = s1's hash-green cosine ordering (query 0,
      // top 50); lex ranks = t15's hash-green BM25 chain (top 20); the
      // fusion is two fixed-order IEEE divides + one add — no drift.
      Sql("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id < 1),
        |cs AS (SELECT vec_id AS neighbor_id,
        |    list_cosine_similarity(qe::DOUBLE[], embedding::DOUBLE[]) AS cos
        |  FROM q, embeddings WHERE query_id <> vec_id),
        |drk AS (SELECT neighbor_id AS doc_id, CAST(row_number() OVER (
        |    ORDER BY cos DESC, neighbor_id) AS INT) AS dense_rank
        |  FROM cs WHERE cos IS NOT NULL),
        |dr AS (SELECT * FROM drk WHERE dense_rank <= 50),
        |toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |tfw AS (SELECT *, sum(cnt) OVER (PARTITION BY doc_id) AS n_tok FROM tf),
        |n AS (SELECT count(*) AS nd FROM documents),
        |st AS (SELECT sum(cnt) * 1.0 / count(DISTINCT doc_id) AS avgdl FROM tf),
        |hits AS (SELECT *, count(*) OVER (PARTITION BY term) AS dfr
        |  FROM tfw WHERE term IN ('table', 'scan', 'join')),
        |wv AS (SELECT doc_id, term,
        |    (ln(1.0 + (nd - dfr + 0.5) / (dfr + 0.5)) * (cnt * (1.2 + 1.0)))
        |      / (cnt + 1.2 * (1.0 - 0.75 + 0.75 * n_tok / avgdl)) AS w
        |  FROM hits CROSS JOIN n CROSS JOIN st),
        |sc AS (SELECT doc_id,
        |    coalesce(sum(CASE WHEN term = 'table' THEN w END), 0.0)
        |      + coalesce(sum(CASE WHEN term = 'scan' THEN w END), 0.0)
        |      + coalesce(sum(CASE WHEN term = 'join' THEN w END), 0.0) AS bm25
        |  FROM wv GROUP BY doc_id),
        |lrk AS (SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank FROM sc),
        |lr AS (SELECT * FROM lrk WHERE lex_rank <= 20),
        |f AS (SELECT coalesce(dr.doc_id, lr.doc_id) AS doc_id,
        |    dense_rank, lex_rank,
        |    coalesce(1.0 / (60 + dense_rank), 0.0)
        |      + coalesce(1.0 / (60 + lex_rank), 0.0) AS rrf_score
        |  FROM dr FULL OUTER JOIN lr ON dr.doc_id = lr.doc_id),
        |frk AS (SELECT CAST(row_number() OVER (
        |    ORDER BY rrf_score DESC, doc_id) AS INT) AS rank, *
        |  FROM f)
        |SELECT rank, doc_id, dense_rank, lex_rank, rrf_score
        |FROM frk WHERE rank <= 10 ORDER BY rank""")),

    // Binary sign-bit embeddings (32× shrink) ranked by exact hamming
    // popcounts on packed words — all-integer, fully oracled
    QueryDef("s19_sign_hamming", Similarity.signHammingTopK(_, _),
      // s19: INDEPENDENT derivation — the oracle counts differing sign
      // bits directly on the float vectors (no packing), so the packed
      // XOR/popcount path is verified against first principles, not
      // against a re-implementation of itself (the q76 convention).
      Sql("""WITH e AS (SELECT vec_id, embedding FROM embeddings
        |    WHERE len(embedding) = 64),
        |q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM e WHERE vec_id < 5),
        |pairs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum([CASE WHEN (qe[i] >= 0) <> (c.embedding[i] >= 0)
        |      THEN 1 ELSE 0 END for i in range(1, 65)]) AS BIGINT) AS hamming
        |  FROM q JOIN e c ON c.vec_id <> q.query_id),
        |rk AS (SELECT query_id, neighbor_id, hamming,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY hamming, neighbor_id) AS rank
        |  FROM pairs)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, hamming
        |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Two-tier retrieval: hamming shortlist → exact cosine re-rank;
    // both tiers deterministic, so the COMPOSITION is fully oracled
    QueryDef("s20_hamming_rerank", Similarity.hammingRerankTopK(_, _),
      // s20: the s19 hamming derivation ranks the shortlist, then the
      // exact cosine re-rank replays tier two — the oracle proves the
      // tier HAND-OFF, not just each tier.
      Sql("""WITH e AS (SELECT vec_id, embedding FROM embeddings
        |    WHERE len(embedding) = 64),
        |q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM e WHERE vec_id < 5),
        |pairs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |    c.embedding AS ne, qe,
        |    CAST(list_sum([CASE WHEN (qe[i] >= 0) <> (c.embedding[i] >= 0)
        |      THEN 1 ELSE 0 END for i in range(1, 65)]) AS BIGINT) AS hamming
        |  FROM q JOIN e c ON c.vec_id <> q.query_id),
        |short AS (SELECT query_id, neighbor_id, qe, ne,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY hamming, neighbor_id) AS hrank
        |  FROM pairs),
        |cos AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]) AS cos
        |  FROM short WHERE hrank <= 50),
        |rr AS (SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |  FROM cos WHERE cos IS NOT NULL)
        |SELECT query_id, rank, neighbor_id, cos FROM rr
        |WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ── Multimodal binary-column plumbing ────────────────────────────────
    QueryDef("m1_media_meta", Multimodal.mediaMeta(_, _),
      // Byte math mirrored via ascii()/substr() — the corpus is ASCII, so
      // UTF-8 payload bytes == character codes.
      Sql("""WITH m AS (SELECT doc_id, text,
        |    CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |    CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
        |    CAST(ascii(substr(text, length(text), 1)) AS INT) AS last_byte,
        |    CAST(list_sum(list_transform(range(1, least(16, length(text)) + 1),
        |      i -> ascii(substr(text, CAST(i AS INT), 1)))) AS BIGINT) AS header_sum
        |  FROM documents)
        |SELECT doc_id, n_bytes, first_byte, last_byte, header_sum,
        |  n_bytes % 640 AS width,
        |  first_byte % 480 AS height,
        |  CAST(3 AS INT) AS channels
        |FROM m ORDER BY doc_id""")),

    QueryDef("m2_media_fingerprint", Multimodal.mediaFingerprint(_, _),
      Sql("""SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""")),

    QueryDef("m3_frame_sample", Multimodal.frameSample(_, _),
      // ASCII corpus → byte offsets == character offsets, so substr
      // mirrors the payload slicing exactly.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) >= 16),
        |f AS (SELECT doc_id, text, unnest(range(1, n - 14, 64)) AS o FROM d)
        |SELECT doc_id,
        |  CAST((o - 1) // 64 AS INT) AS frame_idx,
        |  CAST(o AS INT) AS frame_offset,
        |  md5(substr(text, CAST(o AS INT), 16)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_offset""")),

    QueryDef("m4_resize", Multimodal.mediaResize(_, _),
      // strided char pick == strided byte pick on the ASCII corpus
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |r AS (SELECT doc_id, n,
        |    array_to_string(list_transform(range(1, n + 1, 4),
        |      i -> substr(text, CAST(i AS INT), 1)), '') AS resized
        |  FROM d)
        |SELECT doc_id, CAST(n AS INT) AS n_bytes,
        |  CAST(length(resized) AS INT) AS resized_bytes,
        |  md5(resized) AS resized_md5
        |FROM r ORDER BY doc_id""")),

    // Binary-content exact dedup — the pre-decode multimodal dedup pass
    QueryDef("m5_media_dedup", Multimodal.mediaDedup(_, _),
      Sql("""SELECT min(doc_id) AS keep_doc_id, md5(text) AS payload_md5,
        |  count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY keep_doc_id""")),

    // Audio-style per-frame waveform stats (mean/RMS/peak) — one
    // shuffle-free codegen'd generator + HOF-aggregate projection
    QueryDef("m6_audio_energy", Multimodal.audioEnergy(_, _),
      // m6: integer byte sums (ASCII payload == char codes, the m1
      // equivalence) divided by the literal width — the doubles are
      // bit-identical; same frame generator as m3's oracle at width 64.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) >= 64),
        |f AS (SELECT doc_id, text, unnest(range(1, n - 62, 64)) AS o FROM d),
        |b AS (SELECT doc_id, o, [ascii(substr(text, CAST(o + j AS INT), 1))
        |    for j in range(0, 64)] AS bytes
        |  FROM f)
        |SELECT doc_id,
        |  CAST((o - 1) // 64 AS INT) AS frame_idx,
        |  CAST(o AS INT) AS frame_offset,
        |  list_sum(bytes) / 64.0 AS mean_amp,
        |  sqrt(list_sum(list_transform(bytes, x -> x * x)) / 64.0) AS rms_amp,
        |  CAST(list_max(bytes) AS INT) AS peak
        |FROM b ORDER BY doc_id, frame_offset""")),

    // ── Event-time windows (streaming-shaped; batch == readStream) ───────
    QueryDef("w1_tumbling_window", graft.streaming.EventsWindows.tumbling(_, _),
      Sql("""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start,
        |  event_type, count(*) AS n, sum(value) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("w2_sliding_window", graft.streaming.EventsWindows.sliding(_, _),
      Sql("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |x AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start, event_type, value FROM e
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value FROM e)
        |SELECT win_start, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef("w3_session_window", graft.streaming.EventsWindows.sessions(_, _),
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
    QueryDef("w4_first_event", graft.streaming.EventsWindows.firstEvents(_, _),
      Sql("""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type, value FROM events),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS INT)
        |      AS rn
        |  FROM e)
        |SELECT user_id, event_type, ts AS first_ts, event_id, value
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""")),

    // Batch mirror of the watermarked stream-stream interval join
    QueryDef("w5_funnel_join", graft.streaming.EventsWindows.clickToPurchase(_, _),
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
    QueryDef("w6_window_topk", graft.streaming.EventsWindows.windowTopK(_, _),
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
    QueryDef("w7_click_attribution", graft.streaming.EventsWindows.clickAttribution(_, _),
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
    QueryDef("w8_window_uniques", graft.streaming.EventsWindows.windowUniques(_, _),
      Sql("""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
        |    AS win_start,
        |  count(DISTINCT user_id) AS uniques
        |FROM events GROUP BY 1 ORDER BY 1""")),

    // Inactivity report (churn triage): batch mirror of the streaming
    // timeout-timer alerts — integer epoch-hour silence arithmetic
    QueryDef("w9_inactive_users", Behavior.inactiveUsers(_, _),
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

    // Multi-touch linear attribution: reverse interval join + equal
    // split + drift-safe decimal hourly sums
    QueryDef("w10_multi_touch", graft.streaming.EventsWindows.multiTouchAttribution(_, _),
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

    // ── Graph analytics over warehouse relations ─────────────────────────
    // PageRank on the customer–supplier trade graph, 3 unrolled
    // iterations in fixed-point bigint (bit-identical across engines)
    QueryDef("g1_pagerank", Graph.pageRank(_, _),
      // g1: the fixed-point design makes three PageRank iterations pure
      // bigint arithmetic — `div`/`//` truncate identically on the
      // non-negative ranks, bigint sums are exact, so the unrolled CTEs
      // below are bit-identical to the Spark loop.
      Sql("""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src,
        |    's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0
        |      UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
        |p AS (SELECT count(DISTINCT src) AS n FROM e),
        |r0 AS (SELECT src AS v, 1000000000000 // (SELECT n FROM p) AS rank
        |  FROM (SELECT DISTINCT src FROM e)),
        |r1 AS (SELECT ed.dst AS v,
        |    (15 * 1000000000000) // (100 * (SELECT n FROM p))
        |      + (85 * sum(r0.rank // ed.deg)) // 100 AS rank
        |  FROM ed JOIN r0 ON r0.v = ed.src GROUP BY ed.dst),
        |r2 AS (SELECT ed.dst AS v,
        |    (15 * 1000000000000) // (100 * (SELECT n FROM p))
        |      + (85 * sum(r1.rank // ed.deg)) // 100 AS rank
        |  FROM ed JOIN r1 ON r1.v = ed.src GROUP BY ed.dst),
        |r3 AS (SELECT ed.dst AS v,
        |    (15 * 1000000000000) // (100 * (SELECT n FROM p))
        |      + (85 * sum(r2.rank // ed.deg)) // 100 AS rank
        |  FROM ed JOIN r2 ON r2.v = ed.src GROUP BY ed.dst)
        |SELECT v AS vertex, CAST(rank AS BIGINT) AS rank_fp,
        |  CAST(rank AS DOUBLE) / 1e12 AS rank
        |FROM r3 ORDER BY rank_fp DESC, vertex LIMIT 20""")),

    // Exact triangle count of the part co-purchase graph (oriented
    // two-join enumeration)
    QueryDef("g2_triangles", Graph.triangleCount(_, _),
      // g2: edges oriented small→large make each triangle enumerable
      // exactly once; counts are integers, bit-identical across engines.
      Sql("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |  FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk),
        |t AS (SELECT count(*) AS n_triangles
        |  FROM e xy JOIN e yz ON xy.pb = yz.pa
        |  WHERE EXISTS (SELECT 1 FROM e xz
        |    WHERE xz.pa = xy.pa AND xz.pb = yz.pb)),
        |nv AS (SELECT count(DISTINCT v) AS n_vertices FROM (
        |  SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)),
        |ne AS (SELECT count(*) AS n_edges FROM e)
        |SELECT nv.n_vertices, ne.n_edges, t.n_triangles
        |FROM t, nv, ne""")),

    // Local clustering coefficient per part (top-20), g2 refined to the
    // per-vertex statistic — exact integer counts, one final division
    QueryDef("g3_clustering", Graph.clusteringCoeff(_, _),
      // g3: triangles enumerated once at a ≺ b ≺ c credit all three
      // corners; counts are bigint and the single closing division of two
      // exact integers IEEE-rounds identically on both engines.
      Sql("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |  FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk),
        |tri AS (SELECT xy.pa AS a, xy.pb AS b, yz.pb AS c
        |  FROM e xy JOIN e yz ON xy.pb = yz.pa
        |  JOIN e xz ON xz.pa = xy.pa AND xz.pb = yz.pb),
        |tv AS (SELECT v, count(*) AS n_tri FROM (
        |    SELECT a AS v FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY v),
        |deg AS (SELECT v, count(*) AS d FROM (
        |    SELECT pa AS v FROM e UNION ALL SELECT pb FROM e) GROUP BY v)
        |SELECT deg.v AS partkey, CAST(deg.d AS BIGINT) AS degree,
        |  CAST(coalesce(tv.n_tri, 0) AS BIGINT) AS n_tri,
        |  2.0 * coalesce(tv.n_tri, 0) / (deg.d * (deg.d - 1)) AS clustering
        |FROM deg LEFT JOIN tv ON tv.v = deg.v
        |WHERE deg.d >= 2
        |ORDER BY clustering DESC, n_tri DESC, partkey LIMIT 20""")),

    // Degree assortativity (Newman 2002) in exact decimal moments; the
    // symmetric marginals collapse the closing ratio to one division
    QueryDef("g4_assortativity", Graph.assortativity(_, _),
      // g4: moments summed exactly (DuckDB sum(BIGINT) → HUGEINT mirrors
      // Spark's DECIMAL(38,0)); identical marginals by symmetrization, so
      // the Pearson ratio is one division of two exact wide integers.
      Sql("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
        |  FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT v, count(*) AS d FROM (
        |    SELECT pa AS v FROM e UNION ALL SELECT pb FROM e) GROUP BY v),
        |sym AS (SELECT pa, pb FROM e UNION ALL SELECT pb AS pa, pa AS pb FROM e),
        |dd AS (SELECT dx.d AS x, dy.d AS y FROM sym
        |  JOIN deg dx ON sym.pa = dx.v JOIN deg dy ON sym.pb = dy.v),
        |m AS (SELECT count(*) AS m2, sum(x) AS sx, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx FROM dd)
        |SELECT (SELECT count(*) FROM deg) AS n_vertices,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  CAST(2 * (SELECT count(*) FROM e) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM deg) AS DOUBLE) AS avg_degree,
        |  CAST(m2 * sxy - sx * sx AS DOUBLE)
        |    / CAST(m2 * sxx - sx * sx AS DOUBLE) AS assortativity
        |FROM m""")),

    // Full core decomposition via h-index iteration (Lü 2016): fixed
    // unrolled rounds, all-integer updates, fixpoint spec-pinned
    QueryDef("g5_coreness", Graph.coreness(_, _),
      // g5: all-integer h-index updates, SAME fixed round count as the
      // Spark side (equal by construction even before the fixpoint); the
      // window form of the h-index (count of ranks rn with H ≥ rn) is
      // order-tie-insensitive, so row_number ties cannot diverge it.
      SqlFn(() => corenessOracle(rounds = 6))),

    // Synchronous label-propagation communities, fixed unrolled rounds
    QueryDef("g9_communities", Graph.communities(_, _),
      SqlFn(() => lpaOracle(rounds = 3))),

    // Bipartite projection: supplier pairs ranked by shared-customer
    // Jaccard (d2's set-similarity mathematics on a relation)
    QueryDef("g6_supplier_overlap", Graph.supplierOverlap(_, _),
      // g6: bigint intersection/degree counts; the Jaccard is one
      // division of exact integers, spelled identically on both sides.
      // The fan-out cap (customers with > 1000 suppliers excluded from
      // pair generation — the hub mitigation) is part of the contract,
      // mirrored here so the gate stays exact.
      Sql("""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sv
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |deg AS (SELECT sv, count(*) AS d FROM cs GROUP BY sv),
        |kept AS (SELECT c, sv FROM cs WHERE c IN (
        |  SELECT c FROM cs GROUP BY c HAVING count(*) <= 1000)),
        |pr AS (SELECT a.sv AS sa, b.sv AS sb, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.c = b.c AND a.sv < b.sv
        |  GROUP BY 1, 2)
        |SELECT pr.sa, pr.sb, pr.inter, da.d AS na, db.d AS nb,
        |  CAST(pr.inter AS DOUBLE)
        |    / CAST(da.d + db.d - pr.inter AS DOUBLE) AS jaccard
        |FROM pr JOIN deg da ON pr.sa = da.sv
        |  JOIN deg db ON pr.sb = db.sv
        |ORDER BY jaccard DESC, sa, sb LIMIT 50""")),

    // Connected components of the revenue-thresholded trade backbone
    // (min-label fixpoint, the d9 kernel on a relational graph)
    QueryDef("g7_backbone_components", Graph.backboneComponents(_, _),
      // g7: DECIMAL edge revenues + decimal threshold → identical edge
      // sets; the recursive-CTE closure's min-reachable label equals the
      // Spark min-label fixpoint by definition of connectivity. The
      // closure is oracle-side only (test scale).
      Sql("""WITH RECURSIVE cs AS (SELECT o_custkey * 2 AS cv,
        |    l_suppkey * 2 + 1 AS sv,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4))) AS rev
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e0 AS (SELECT cv AS src, sv AS dst FROM cs WHERE rev >= 200000),
        |edges(src, dst) AS (
        |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r
        |  JOIN edges e ON r.dst = e.src AND r.src <> e.dst),
        |comp AS (SELECT src AS v, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src)
        |SELECT component, count(*) AS n_vertices,
        |  CAST(sum(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_customers,
        |  CAST(sum(CASE WHEN v % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_suppliers
        |FROM comp GROUP BY component
        |ORDER BY n_vertices DESC, component""")),

    // Bounded BFS from a seed set: min-hop census per distance ring
    // (level-synchronous frontier joins vs a recursive-CTE oracle)
    QueryDef("g8_reachability", Graph.reachability(_, _),
      // g8: recursive CTE enumerates (vertex, dist <= 4) pairs
      // redundantly and min-groups; the frontier BFS reaches each vertex
      // first at its min distance by construction — the two must agree.
      Sql("""WITH RECURSIVE base AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT src, dst FROM base
        |  UNION ALL SELECT dst, src FROM base),
        |seeds AS (SELECT c_custkey * 2 AS v FROM customer
        |  WHERE c_custkey % 500 = 0),
        |bfs AS (
        |  SELECT v, 0 AS dist FROM seeds
        |  UNION
        |  SELECT e.dst AS v, b.dist + 1 AS dist
        |  FROM bfs b JOIN edges e ON e.src = b.v WHERE b.dist < 4),
        |md AS (SELECT v, min(dist) AS dist FROM bfs GROUP BY v)
        |SELECT dist, count(*) AS n_vertices,
        |  CAST(sum(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_customers,
        |  CAST(sum(CASE WHEN v % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_suppliers
        |FROM md GROUP BY dist ORDER BY dist""")),

    // Bounded weighted SSSP: frontier Bellman-Ford over cheapest-lane
    // edges, min-cost census per distance (vs unrolled min-group CTEs)
    QueryDef("g10_shortest_paths", Graph.shortestPaths(_, _),
      // g10: maxHops=4 Bellman-Ford rounds unrolled as nested min-group
      // CTEs — round k holds min cost over paths of <= k edges, exactly
      // the invariant the Spark frontier relaxation maintains. Integer
      // weights (quantities are integral decimals), so bit-exact.
      Sql("""WITH base AS (
        |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
        |    min(CAST(l_quantity AS INT)) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT src, dst, w FROM base
        |  UNION ALL SELECT dst, src, w FROM base),
        |d0 AS (SELECT c_custkey * 2 AS v, 0 AS dist FROM customer
        |  WHERE c_custkey % 500 = 0),
        |d1 AS (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d0 UNION ALL
        |  SELECT e.dst, d.dist + e.w FROM d0 d JOIN edges e ON e.src = d.v)
        |  GROUP BY v),
        |d2 AS (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d1 UNION ALL
        |  SELECT e.dst, d.dist + e.w FROM d1 d JOIN edges e ON e.src = d.v)
        |  GROUP BY v),
        |d3 AS (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d2 UNION ALL
        |  SELECT e.dst, d.dist + e.w FROM d2 d JOIN edges e ON e.src = d.v)
        |  GROUP BY v),
        |d4 AS (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d3 UNION ALL
        |  SELECT e.dst, d.dist + e.w FROM d3 d JOIN edges e ON e.src = d.v)
        |  GROUP BY v)
        |SELECT dist, count(*) AS n_vertices,
        |  CAST(sum(CASE WHEN v % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_customers,
        |  CAST(sum(CASE WHEN v % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_suppliers
        |FROM d4 GROUP BY dist ORDER BY dist""")),

    // RAKE keyphrases: degree/frequency word scores over stopword-free
    // phrase runs, order-pinned phrase-score folds, top-3 per doc
    QueryDef("t34_rake_keywords", TextAnalysis.rakeKeywords(_, _),
      // t34: post-filter positions (the t23 ix pattern), running-stopword
      // phrase ids, integer degree/freq, ONE double divide per word, and
      // the phrase fold rides a pos-ORDERED list through list_reduce —
      // same left-assoc order as Spark's aggregate over the sorted array.
      Sql("""WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |ix AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w),
        |seg AS (SELECT doc_id, CAST(i AS INT) AS pos, ws[CAST(i AS INT)] AS t,
        |    CASE WHEN ws[CAST(i AS INT)] IN
        |      ('the', 'a', 'and', 'of', 'to', 'in', 'is')
        |      THEN 1 ELSE 0 END AS st
        |  FROM ix),
        |ph AS (SELECT doc_id, pos, t, st,
        |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS phrase_id
        |  FROM seg),
        |pw AS (SELECT doc_id, phrase_id, pos, t FROM ph WHERE st = 0),
        |plen AS (SELECT doc_id, phrase_id, pos, t,
        |    count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
        |  FROM pw),
        |wsc AS (SELECT doc_id, t,
        |    CAST(sum(plen) AS DOUBLE) / count(*) AS score
        |  FROM plen GROUP BY doc_id, t),
        |psc AS (SELECT p.doc_id, p.phrase_id,
        |    string_agg(p.t, ' ' ORDER BY p.pos) AS phrase,
        |    list_reduce(list(s.score ORDER BY p.pos), (a, b) -> a + b)
        |      AS phrase_score
        |  FROM pw p JOIN wsc s ON p.doc_id = s.doc_id AND p.t = s.t
        |  GROUP BY p.doc_id, p.phrase_id),
        |uniq AS (SELECT doc_id, phrase, max(phrase_score) AS score
        |  FROM psc GROUP BY doc_id, phrase),
        |rk AS (SELECT doc_id, phrase, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, phrase) AS rank
        |  FROM uniq)
        |SELECT doc_id, CAST(rank AS INT) AS rank, phrase, score
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""")),
  ))

  /** The registry as query name → builder. */
  def queries: Map[String, Build] = registry.map(d => d.name -> d.build).toMap

  /** The registry as query name → oracle SQL, for every query that has
    * one. Built on each read (see [[Oracle]]).
    */
  def oracleSql: Map[String, String] = registry.collect {
    case QueryDef(name, _, Sql(margin)) => name -> margin.stripMargin
    case QueryDef(name, _, SqlFn(build)) => name -> build()
  }.toMap

  /** The registry's accuracy bounds as (query name, bound), in
    * declaration order.
    */
  def approxBounds: Seq[(String, Bound)] = registry.flatMap {
    case QueryDef(name, _, Approx(bounds @ _*)) => bounds.map(name -> _)
    case _ => Nil
  }

  /** recall@5 of an approximate top-k against the exact s1 scan. */
  private def recallVsS1(approx: Build): Measure =
    (s, dir) => Similarity.recall(Similarity.bruteForceTopK(s, dir), approx(s, dir))

  /** q27: |approx − exact| / exact distinct order count. */
  private def hllRelErr(s: SparkSession, dir: String): Double = {
    val r = RelationalQueries2.approxDistinct(s, dir)
      .select("approx_orders", "exact_orders").head()
    math.abs(r.getLong(0).toDouble - r.getLong(1)) / r.getLong(1)
  }

  /** Exact d11 flags (doc_id, n_shared) and d14's (doc_id, n_shared_bloom). */
  private def decontaminationFlags(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (CorpusOps.decontaminate(s, dir).select(col("doc_id"), col("n_shared")),
      CorpusOps.decontaminateBloom(s, dir).select(col("doc_id"), col("n_shared_bloom")))

  /** d14 false negatives: exactly-flagged docs the bloom form misses or
    * flags with a smaller shared count (a bloom count can only inflate).
    */
  private def bloomFalseNegatives(s: SparkSession, dir: String): Double = {
    val (exact, bloom) = decontaminationFlags(s, dir)
    exact.as("e").join(bloom.as("b"), Seq("doc_id"), "left")
      .filter(col("b.n_shared_bloom").isNull ||
        col("b.n_shared_bloom") < col("e.n_shared")).count().toDouble
  }

  /** d14 bloom-only flags per corpus document. */
  private def bloomExtraFlagFrac(s: SparkSession, dir: String): Double = {
    val (exact, bloom) = decontaminationFlags(s, dir)
    bloom.join(exact, Seq("doc_id"), "left_anti").count().toDouble /
      Tables.documents(s, dir).count()
  }

  /** q87: the worst (event_type, p) cell's rank error as a share of the
    * sketch's guarantee, |rank − p·n| / (⌊n / accuracy⌋ + 2), where rank
    * counts the type's values ≤ the approximate quantile.
    */
  private def quantileRankErrRatio(s: SparkSession, dir: String): Double = {
    val cells = RelationalQueries4.approxQuantiles(s, dir)
      .select(col("event_type"), col("n_events"), explode(array(
        Seq(0.5 -> "p50", 0.95 -> "p95", 0.99 -> "p99").map { case (p, c) =>
          struct(lit(p).as("p"), col(c).as("q")) }: _*)).as("cell"))
      .select(col("event_type"), col("n_events"), col("cell.p"), col("cell.q"))
    val values = ev(s, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("value"))
    val slack = floor(col("n_events") / RelationalQueries4.QuantileAccuracy) + 2
    cells.join(values, "event_type")
      .groupBy(col("event_type"), col("n_events"), col("p"), col("q"))
      .agg(count_if(col("value") <= col("q")).as("rank"))
      .agg(coalesce(max(abs(col("rank") - col("p") * col("n_events")) / slack), lit(0.0)))
      .head().getDouble(0)
  }

  /** d34's chunking pipeline as prefixed CTEs over a doc slice —
    * emitted twice by the d35 oracle (store slice + incoming slice).
    * `<prefix>ch` is the resulting (doc_id, chunk) relation.
    */
  private def cdcChunkCte(prefix: String, pred: String): String =
    s"""${prefix}d AS (SELECT doc_id, string_split(text, '') AS chars,
       |    CAST(length(text) AS INT) AS n
       |  FROM documents WHERE length(text) > 0 AND $pred),
       |${prefix}cd AS (SELECT doc_id, chars, n,
       |    [CAST(ascii(x) AS BIGINT) for x in chars] AS codes
       |  FROM ${prefix}d),
       |${prefix}b AS (SELECT doc_id, chars, n,
       |    CASE WHEN n >= 8 THEN
       |      [i for i in range(8, n + 1) if
       |        list_reduce(codes[i-7:i],
       |          (a, c) -> (a * 1000003 + c) % 2147483647) % 64 = 0]
       |    ELSE CAST([] AS BIGINT[]) END AS bnd
       |  FROM ${prefix}cd),
       |${prefix}sp AS (SELECT doc_id, chars,
       |    list_prepend(CAST(0 AS BIGINT), bnd) AS ss,
       |    list_append(bnd, CAST(n AS BIGINT)) AS ee
       |  FROM ${prefix}b),
       |${prefix}ch AS (SELECT doc_id,
       |    unnest([array_to_string(chars[CAST(ss[k] + 1 AS INT):
       |        CAST(ee[k] AS INT)], '')
       |      for k in range(1, len(ss) + 1) if ee[k] > ss[k]]) AS chunk
       |  FROM ${prefix}sp)""".stripMargin

  /** Shared DuckDB CTE computing m12's DCT perceptual hash relation
    * `ph(doc_id, phash)` — the fixed-point matrix literal is generated
    * by the same in-process call that feeds the Spark expression, so
    * both engines run identical integer arithmetic (m12's contract);
    * m13 reuses the CTE for its exact all-pairs mirror.
    */
  private def dctPhashCte: String = {
    val mList = operators.Multimodal.dctMatrix(16, 8).mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, text FROM documents
      |  WHERE length(text) >= 256),
      |mm AS (SELECT CAST(i.i // 16 AS INT) AS u, CAST(i.i % 16 AS INT) AS r,
      |    ml.mv[CAST(i.i + 1 AS INT)] AS mv
      |  FROM (SELECT $mList AS mv) ml,
      |       (SELECT unnest(range(128)) AS i) i),
      |px AS (SELECT doc_id, CAST(i.i // 16 AS INT) AS r,
      |    CAST(i.i % 16 AS INT) AS c,
      |    ascii(substr(text, CAST(i.i + 1 AS INT), 1)) AS val
      |  FROM d, (SELECT unnest(range(256)) AS i) i),
      |a AS (SELECT doc_id, mm.u AS u, px.c AS c, sum(mm.mv * px.val) AS av
      |  FROM px JOIN mm ON px.r = mm.r GROUP BY doc_id, mm.u, px.c),
      |cc AS (SELECT doc_id, a.u AS u, m2.u AS v, sum(a.av * m2.mv) AS coef
      |  FROM a JOIN mm m2 ON a.c = m2.r GROUP BY doc_id, a.u, m2.u),
      |nd AS (SELECT doc_id, u, v, coef,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY coef, u, v) AS rk
      |  FROM cc WHERE NOT (u = 0 AND v = 0)),
      |med AS (SELECT doc_id, coef AS med FROM nd WHERE rk = 32),
      |ph AS (SELECT cc.doc_id AS doc_id,
      |  CAST(sum(CASE WHEN cc.coef > med.med
      |    THEN (1::BIGINT << CAST(cc.u * 8 + cc.v - 1 AS INT))
      |    ELSE 0 END) AS BIGINT) AS phash
      |FROM cc JOIN med ON cc.doc_id = med.doc_id
      |WHERE NOT (cc.u = 0 AND cc.v = 0)
      |GROUP BY cc.doc_id)""".stripMargin
  }

  /** Shared DuckDB prelude for the taxi oracles: raw CSV bytes → lines →
    * the reference's accept rule (17 fields + int probe) → typed trips →
    * speed with the try_divide-equivalent NULL-on-zero-duration → the
    * finite-speed filter (negative speeds kept). Mirrors
    * TaxiCsv.acceptedLines/trips + TaxiSpeed.withSpeed semantically.
    */
  private def taxiKept: String =
    s"""raw AS (
      |  SELECT filename, unnest(string_split(content, chr(10))) AS line
      |  FROM read_text('${TaxiDataGen.BaseDir}/$oracleSfName/*.csv')),
      |fs AS (SELECT filename, string_split(line, ',') AS f FROM raw),
      |ok AS (SELECT filename, f FROM fs
      |  WHERE len(f) = 17 AND try_cast(f[1] AS INTEGER) IS NOT NULL),
      |trips AS (SELECT filename,
      |    try_cast(f[2] AS TIMESTAMP) AS pickup_ts,
      |    try_cast(f[3] AS TIMESTAMP) AS dropoff_ts,
      |    try_cast(f[5] AS DOUBLE) AS trip_distance
      |  FROM ok),
      |sp AS (SELECT filename,
      |    CAST(dayofweek(pickup_ts) AS INT) AS day,
      |    CASE WHEN epoch(dropoff_ts) - epoch(pickup_ts) <> 0
      |         THEN trip_distance / ((epoch(dropoff_ts) - epoch(pickup_ts)) / 3600.0)
      |    END AS speed_mph
      |  FROM trips WHERE trip_distance > 0),
      |kept AS (SELECT filename, day, speed_mph FROM sp
      |  WHERE speed_mph IS NOT NULL AND isfinite(speed_mph))""".stripMargin

  /** Word-3-gram shingle sets per doc (shared by d2/d3 oracles). */
  private val shingleSets: String =
    """WITH words AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |sh AS (SELECT doc_id, list_distinct(
      |    CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
      |      ELSE [] END) AS t
      |  FROM words),
      |sz AS (SELECT doc_id, t, len(t) AS n FROM sh WHERE len(t) > 0)""".stripMargin

  private val jaccardPairsOracle: String =
    s"""$shingleSets
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  len(list_intersect(a.t, b.t)) * 1.0 / (a.n + b.n - len(list_intersect(a.t, b.t))) AS jaccard
      |FROM sz a JOIN sz b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.t, b.t)) * 1.0 / (a.n + b.n - len(list_intersect(a.t, b.t))) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Cosine-threshold embedding pairs (shared by d6 and d13 oracles). */
  private val embPairsOracle: String =
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""".stripMargin

  /** The s7 oracle: Lloyd's k-means with per-label-mean init and a fixed
    * round count, UNROLLED into one CTE chain (assign_k from cent_{k-1},
    * cent_k from assign_k), ending with a final E-step — DuckDB has no
    * iteration, but a fixed iteration budget needs none. Distance is the
    * same sequential left fold as the s6 oracle (list_reduce with a 0.0
    * seed), matching Spark's zip_with+aggregate bit-for-bit.
    */
  /** s12's unrolled greedy k-center: pick 1 is the smallest vec_id;
    * pick r maximizes the least() cosine distance to picks 1..r-1
    * (ties to the smaller id, DuckDB's NULLS-LAST DESC mirroring the
    * Spark side's null-mind exclusion).
    */
  private def mmrOracle(k: Int, nCand: Int, nQueries: Int,
      lambda: Double): String = {
    // coefficient literals rendered from the driver's doubles:
    // (1.0 - 0.7).toString = "0.30000000000000004" parses back to the
    // identical IEEE value in DuckDB — writing "0.3" instead would
    // compare against a DIFFERENT double than the Spark-side greedy
    val lam = lambda.toString
    val mu = (1.0 - lambda).toString
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < $nQueries),
      |scored AS (SELECT q.query_id, c.vec_id AS nid,
      |    list_cosine_similarity(q.q_emb, c.emb) AS cos, c.emb AS emb
      |  FROM e c JOIN q ON q.query_id <> c.vec_id),
      |cand AS (SELECT query_id, nid, cos, emb FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, nid) AS rn
      |    FROM scored WHERE cos IS NOT NULL) WHERE rn <= $nCand),
      |p1 AS (SELECT query_id, nid, cos, emb, $lam * cos AS mmr FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY $lam * cos DESC, nid) AS rn FROM cand) WHERE rn = 1)""".stripMargin
    for (r <- 2 to k) {
      val prevC = if (r == 2) "cand" else s"c${r - 2}"
      val msExpr = if (r == 2) "list_cosine_similarity(c.emb, p.emb)"
        else "greatest(c.ms, list_cosine_similarity(c.emb, p.emb))"
      sb ++= s""",
        |c${r - 1} AS (SELECT c.query_id, c.nid, c.cos, c.emb, $msExpr AS ms
        |  FROM $prevC c JOIN p${r - 1} p USING (query_id) WHERE c.nid <> p.nid),
        |p$r AS (SELECT query_id, nid, cos, emb, mmr FROM (
        |    SELECT query_id, nid, cos, emb, $lam * cos - $mu * ms AS mmr,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY $lam * cos - $mu * ms DESC, nid) AS rn
        |    FROM c${r - 1}) WHERE rn = 1)""".stripMargin
    }
    sb ++= "\nSELECT query_id, 1 AS rank, nid AS neighbor_id, cos, mmr FROM p1"
    for (r <- 2 to k)
      sb ++= s"\nUNION ALL SELECT query_id, $r, nid, cos, mmr FROM p$r"
    sb ++= "\nORDER BY query_id, rank"
    sb.toString
  }

  private def kcenterOracle(k: Int): String = {
    // seed mirrors kcenterCoreset's validity filter (non-null, nonzero
    // norm); the unrolled CTE cannot express the Spark side's
    // early-stop when fewer than k valid vectors exist — the oracle
    // assumes >= k, which the generated corpora satisfy. Each pick
    // references every earlier one, so the picks are MATERIALIZED:
    // inlined, DuckDB re-plans the whole chain per reference and the
    // cost grows several-fold per pick.
    val sb = new StringBuilder
    sb ++= """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |p1 AS MATERIALIZED (SELECT vec_id AS id, emb FROM e
      |  WHERE emb IS NOT NULL AND list_reduce(list_prepend(0.0,
      |    [x * x for x in emb]), (a, v) -> a + v) > 0
      |  ORDER BY vec_id LIMIT 1)""".stripMargin
    for (r <- 2 to k) {
      val terms = (1 until r).map(j =>
        s"1 - list_cosine_similarity(v.emb, (SELECT emb FROM p$j))")
      val mind = if (terms.size == 1) terms.head
        else terms.mkString("least(", ", ", ")")
      val prior = (1 until r).map(j => s"SELECT id FROM p$j")
        .mkString(" UNION ALL ")
      sb ++= s""",
        |p$r AS MATERIALIZED (SELECT v.vec_id AS id, v.emb, $mind AS mind
        |  FROM e v WHERE v.vec_id NOT IN ($prior)
        |  ORDER BY mind DESC, v.vec_id LIMIT 1)""".stripMargin
    }
    sb ++= "\nSELECT 1 AS rank, id AS vec_id, NULL::DOUBLE AS mind FROM p1"
    for (r <- 2 to k)
      sb ++= s"\nUNION ALL SELECT $r, id, mind FROM p$r"
    sb ++= "\nORDER BY rank"
    sb.toString
  }

  /** t29's unrolled oracle: per step k, pair counts over w{k-1}, the
    * (count desc, left, right) argmax, and the boundary-wrapped
    * replace producing w{k}. chr(1)/chr(2) mirror the Spark side's
    * u0001/u0002 symbol markers; DuckDB's replace shares Java's
    * non-overlapping left-to-right scan (prototype-verified).
    */
  private def bpeOracle(steps: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH wc AS (SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '')) AS w FROM documents) GROUP BY w),
      |w0 AS (SELECT chr(1) || array_to_string(string_split(w, ''),
      |    chr(2) || chr(1)) || chr(2) AS wrapped, cnt FROM wc)""".stripMargin
    for (k <- 1 to steps) {
      sb ++= s""",
        |p$k AS (SELECT l, r, sum(cnt) AS pc FROM (
        |    SELECT cnt, unnest(syms[1:len(syms) - 1]) AS l,
        |      unnest(syms[2:len(syms)]) AS r
        |    FROM (SELECT cnt, string_split(
        |        substr(wrapped, 2, length(wrapped) - 2),
        |        chr(2) || chr(1)) AS syms FROM w${k - 1})
        |    WHERE len(syms) >= 2)
        |  GROUP BY l, r),
        |t$k AS (SELECT l, r, pc FROM p$k ORDER BY pc DESC, l, r LIMIT 1),
        |w$k AS (SELECT replace(w.wrapped,
        |    chr(1) || t.l || chr(2) || chr(1) || t.r || chr(2),
        |    chr(1) || t.l || t.r || chr(2)) AS wrapped, w.cnt
        |  FROM w${k - 1} w CROSS JOIN t$k t)""".stripMargin
    }
    sb ++= (1 to steps).map(k =>
      s"""
      |SELECT $k AS step, l AS left_sym, r AS right_sym,
      |  CAST(pc AS BIGINT) AS pair_count
      |FROM t$k""".stripMargin).mkString("", " UNION ALL", "")
    sb ++= "\nORDER BY step"
    sb.toString
  }

  /** t35's oracle: t29's learning CTEs verbatim (word-TYPE relation,
    * argmax merge per step, boundary-wrapped replace), then the
    * application replayed per doc-word instance with the same
    * replaces in the same learned order; per-doc exact counts close
    * with one ratio-of-sums divide.
    */
  private def bpeEncodeOracle(steps: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH wc AS (SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '')) AS w FROM documents) GROUP BY w),
      |w0 AS (SELECT chr(1) || array_to_string(string_split(w, ''),
      |    chr(2) || chr(1)) || chr(2) AS wrapped, cnt FROM wc)""".stripMargin
    for (k <- 1 to steps) {
      sb ++= s""",
        |p$k AS (SELECT l, r, sum(cnt) AS pc FROM (
        |    SELECT cnt, unnest(syms[1:len(syms) - 1]) AS l,
        |      unnest(syms[2:len(syms)]) AS r
        |    FROM (SELECT cnt, string_split(
        |        substr(wrapped, 2, length(wrapped) - 2),
        |        chr(2) || chr(1)) AS syms FROM w${k - 1})
        |    WHERE len(syms) >= 2)
        |  GROUP BY l, r),
        |t$k AS (SELECT l, r, pc FROM p$k ORDER BY pc DESC, l, r LIMIT 1),
        |w$k AS (SELECT replace(w.wrapped,
        |    chr(1) || t.l || chr(2) || chr(1) || t.r || chr(2),
        |    chr(1) || t.l || t.r || chr(2)) AS wrapped, w.cnt
        |  FROM w${k - 1} w CROSS JOIN t$k t)""".stripMargin
    }
    sb ++= """,
      |dw AS (SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '')) AS w FROM documents),
      |d0 AS (SELECT doc_id, CAST(length(w) AS BIGINT) AS n_chars,
      |    chr(1) || array_to_string(string_split(w, ''),
      |      chr(2) || chr(1)) || chr(2) AS wrapped FROM dw)""".stripMargin
    for (k <- 1 to steps) {
      sb ++= s""",
        |d$k AS (SELECT doc_id, n_chars, replace(d.wrapped,
        |    chr(1) || t.l || chr(2) || chr(1) || t.r || chr(2),
        |    chr(1) || t.l || t.r || chr(2)) AS wrapped
        |  FROM d${k - 1} d CROSS JOIN t$k t)""".stripMargin
    }
    sb ++= s"""
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(sum(len(string_split(substr(wrapped, 2, length(wrapped) - 2),
      |    chr(2) || chr(1)))) AS BIGINT) AS n_pieces,
      |  CAST(sum(n_chars) AS DOUBLE)
      |    / CAST(sum(len(string_split(substr(wrapped, 2,
      |      length(wrapped) - 2), chr(2) || chr(1)))) AS DOUBLE)
      |    AS compression
      |FROM d$steps GROUP BY doc_id ORDER BY doc_id""".stripMargin
    sb.toString
  }

  /** g5's unrolled oracle: h-index iteration over the trade graph with
    * the same fixed round budget as the Spark side. Per round, the
    * h-index of each vertex's neighbor H multiset is computed as
    * max{rn : H_(rn) ≥ rn} over the descending row_number ranking —
    * tie order between equal H values cannot change the count.
    */
  /** g9's unrolled synchronous LPA: integer vertex-id labels (the
    * Spark side's 2k / 2k+1 encoding, so tie-break order matches —
    * STRING label ordering would disagree with the engine's long
    * ordering), plurality argmax per round as a windowed row_number
    * over (count desc, label asc), names rendered only at the end.
    */
  private def lpaOracle(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      |    l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |e AS (SELECT src, dst FROM e0
      |      UNION ALL SELECT dst, src FROM e0),
      |l0 AS (SELECT DISTINCT src AS v, src AS lab FROM e)""".stripMargin
    for (k <- 1 to rounds) {
      sb ++= s""",
        |l$k AS (SELECT v, lab FROM (
        |    SELECT e.src AS v, p.lab AS lab,
        |      row_number() OVER (PARTITION BY e.src
        |        ORDER BY count(*) DESC, p.lab) AS rn
        |    FROM e JOIN l${k - 1} p ON e.dst = p.v
        |    GROUP BY e.src, p.lab) WHERE rn = 1)""".stripMargin
    }
    sb ++= s"""
      |, sz AS (SELECT lab, count(*) AS community_size
      |    FROM l$rounds GROUP BY lab)
      |SELECT CASE WHEN l.v % 2 = 0 THEN 'c' || (l.v // 2)
      |    ELSE 's' || ((l.v - 1) // 2) END AS vertex,
      |  CASE WHEN l.lab % 2 = 0 THEN 'c' || (l.lab // 2)
      |    ELSE 's' || ((l.lab - 1) // 2) END AS community,
      |  CAST(sz.community_size AS BIGINT) AS community_size
      |FROM l$rounds l JOIN sz ON l.lab = sz.lab
      |ORDER BY vertex""".stripMargin
    sb.toString
  }

  private def corenessOracle(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src,
      |    's' || l_suppkey AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |e AS (SELECT src, dst FROM e0
      |      UNION ALL SELECT dst, src FROM e0),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |h0 AS (SELECT src AS v, deg AS h FROM deg)""".stripMargin
    for (k <- 1 to rounds) {
      sb ++= s""",
        |h$k AS (SELECT v, coalesce(max(CASE WHEN hv >= rn THEN rn END), 0) AS h
        |  FROM (SELECT e.src AS v, p.h AS hv,
        |      row_number() OVER (PARTITION BY e.src ORDER BY p.h DESC) AS rn
        |    FROM e JOIN h${k - 1} p ON e.dst = p.v)
        |  GROUP BY v)""".stripMargin
    }
    sb ++= s"""
      |SELECT deg.src AS vertex, deg.deg AS degree,
      |  CAST(h$rounds.h AS INT) AS coreness
      |FROM deg JOIN h$rounds ON deg.src = h$rounds.v
      |ORDER BY coreness DESC, degree DESC, vertex""".stripMargin
    sb.toString
  }

  private def kmeansIterOracle(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
      |  WHERE len(embedding) = 64),
      |cd0 AS (SELECT label AS c_label, i AS dim, avg(emb[i]) AS c
      |  FROM e, range(1, 65) r(i) GROUP BY label, i),
      |cent0 AS (SELECT c_label, list(c ORDER BY dim) AS cvec FROM cd0 GROUP BY c_label)""".stripMargin
    for (k <- 1 to iters + 1) {
      sb ++= s""",
        |d$k AS (SELECT e.vec_id, e.label, e.emb, c.c_label,
        |    list_reduce(list_prepend(0.0,
        |      [ (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]) for i in range(1, 65) ]),
        |      (a, v) -> a + v) AS dist
        |  FROM e CROSS JOIN cent${k - 1} c),
        |a$k AS (SELECT * FROM (SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist, c_label) AS rn FROM d$k) WHERE rn = 1)""".stripMargin
      if (k <= iters) sb ++= s""",
        |cd$k AS (SELECT a.c_label, i AS dim, avg(a.emb[i]) AS c
        |  FROM a$k a, range(1, 65) r(i) GROUP BY a.c_label, i),
        |cent$k AS (SELECT c_label, list(c ORDER BY dim) AS cvec FROM cd$k GROUP BY c_label)""".stripMargin
    }
    sb ++= s"""
      |SELECT vec_id, label, c_label AS assigned_label, dist FROM a${iters + 1}
      |ORDER BY vec_id""".stripMargin
    sb.toString
  }

  /** Distinct-token md5-derived 60-bit hashes (shared by d4/d5 oracles). */
  private val simhashTokenHashes: String =
    """SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS hv FROM (
      |    SELECT doc_id, unnest(list_distinct(
      |      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS t
      |    FROM documents)""".stripMargin
}
