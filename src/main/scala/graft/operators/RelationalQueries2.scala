package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.hash64
import graft.SparkEntry.{Approx, AtMost, Bound, QueryDef, Sql, SqlFn}

/** Second relational battery: multiset set-ops, native pivot,
  * deterministic sampling, exact percentiles, statistical aggregates,
  * HLL sketches, and an explicitly salted skew join.
  */
object RelationalQueries2 {

  /** EXCEPT ALL / INTERSECT ALL — bag semantics (duplicates counted). */
  def multisetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c95 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
    val c96 = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
    val exc = c95.exceptAll(c96).select(lit("except_all").as("tag"), col("o_custkey"))
    val int = c95.intersectAll(c96).select(lit("intersect_all").as("tag"), col("o_custkey"))
    exc.unionAll(int).orderBy(col("tag"), col("o_custkey"))
  }

  /** The TPC-H order-priority domain — the single source for every
    * fixed-value pivot/unpivot over it (and mirrored, deliberately as
    * literals, in the q23/q39 oracle SQL).
    */
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Native pivot (RelationalGroupedDataset.pivot) with a fixed value
    * list — the relational form of the reference's dense day vector.
    */
  def pivotPriorities(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Priorities)
      .agg(sum(col("o_totalprice")))
      .orderBy(col("o_orderstatus"))

  /** CUBE: all 2^k grouping combinations in one pass — completes the
    * grouping family next to ROLLUP (q10) and GROUPING SETS (q11).
    */
  def cubeRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("o_totalprice")).as("total_price"),
        count(lit(1)).as("n_orders"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total_price"), col("n_orders"))
      .orderBy(col("status"), col("priority"))

  /** Unpivot (melt): wide → long, the inverse of pivotPriorities.
    * Builds the per-status revenue-by-priority wide frame, then unpivots
    * the five priority columns back to (status, priority, total) rows.
    * Null cells (combinations absent from the data) are dropped, so the
    * result equals the plain (status, priority) aggregation — which is
    * the oracle.
    */
  def unpivotRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", Priorities)
      .agg(sum(col("o_totalprice")))
      .unpivot(Array(col("o_orderstatus")), Priorities.map(col).toArray,
        "priority", "total")
      .filter(col("total").isNotNull)
      .orderBy(col("o_orderstatus"), col("priority"))

  /** Deterministic 10% sample: hash-mod on the row key instead of
    * rand() — reproducible across engines/runs, the sampling pattern
    * that scales (consistent subsets across tables when keyed alike).
    */
  def hashSample(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(pmod(hash64(concat_ws("_", col("l_orderkey"), col("l_linenumber"))),
        lit(100L)) < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Exact percentiles (linear interpolation) per group.
    *
    * The two quantity percentiles share ONE aggregation buffer via the
    * array-percentage form (r16, guide §1.2 step 2): `percentile` is a
    * TypedImperativeAggregate that builds a value→count map per group
    * per AGGREGATE — two scalar calls over the same column maintained
    * two identical maps on every row. The array form sorts the one map
    * once and interpolates both points from it; per-point arithmetic is
    * the same `getPercentile` either way, so values are bit-identical
    * (oracle re-proven).
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), array(lit(0.5), lit(0.9))).as("pq"),
        percentile(col("l_extendedprice"), lit(0.25)).as("p25_price"))
      .select(col("l_returnflag"),
        element_at(col("pq"), 1).as("p50_qty"),
        element_at(col("pq"), 2).as("p90_qty"),
        col("p25_price"))
      .orderBy(col("l_returnflag"))

  /** Statistical aggregates: stddev/variance/corr/covar, computed in the
    * two-pass deviation form rather than Spark's single-pass moment
    * aggregates. The built-ins (`stddev_samp`/`corr`/...) merge partial
    * M2 moments with a subtraction whose catastrophic cancellation is
    * merge-order dependent — the result drifts from another engine's
    * past ~9 significant digits. Two-pass: join each group's mean back
    * to the rows, then sum same-sign deviation products — no
    * cancellation, so any engine summing the same terms agrees to
    * near-ulp. Costs one extra (broadcast) join of a #groups-row frame;
    * the fact table is still scanned twice, which at 100 TB is the
    * price of cross-engine bit-stability (use the built-ins when only
    * self-consistency matters).
    */
  def stats(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
    val mu = l.groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("mu_qty"),
        avg(col("l_extendedprice")).as("mu_price"),
        avg(col("l_discount")).as("mu_disc"),
        avg(col("l_tax")).as("mu_tax"))
    val dQty   = col("l_quantity") - col("mu_qty")
    val dPrice = col("l_extendedprice") - col("mu_price")
    val dDisc  = col("l_discount") - col("mu_disc")
    val dTax   = col("l_tax") - col("mu_tax")
    val n1 = (count(lit(1)) - 1).cast("double")
    l.join(broadcast(mu), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(
        sqrt(sum(dQty * dQty) / n1).as("sd_qty"),
        (sum(dPrice * dPrice) / n1).as("var_price"),
        (sum(dQty * dPrice) / sqrt(sum(dQty * dQty) * sum(dPrice * dPrice)))
          .as("corr_qty_price"),
        (sum(dDisc * dTax) / n1).as("cov_disc_tax"))
      .orderBy(col("l_returnflag"))
  }

  /** HLL sketch: approx_count_distinct. Approximate → no SQL oracle
    * (engines' sketches differ); error bound asserted in spec.
    *
    * The exact count runs as its own single-row aggregate cross-joined
    * back (BroadcastNestedLoopJoin of two 1-row sides): mixing
    * countDistinct with non-distinct aggs triggers Spark's
    * distinct-aggregate rewrite, which regroups the WHOLE scan by
    * l_orderkey and forces the HLL sketches to be built per key and
    * merged across ~N/4 groups — rewrite-time A/B at sf0.1: ~4× in
    * favor of the split shape (two column-pruned scans beat one
    * 4-level aggregate chain).
    */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .crossJoin(li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("exact_orders")))
  }

  /** Generator / lateral-view: explode part names into words, count
    * occurrences (the word-count classic, relationally).
    */
  def explodeWords(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(explode(split(lower(col("p_name")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  /** arg-max/arg-min per group with a deterministic struct tiebreak:
    * the highest-priced order (ties → highest orderkey) per status.
    */
  def argMax(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("top_orderkey"),
        max(col("o_totalprice")).as("top_price"),
        min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
          .as("bottom_orderkey"))
      .orderBy(col("o_orderstatus"))

  /** Date arithmetic battery: day difference, month boundaries. */
  def dateArith(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"),
        col("o_orderstatus"))
      .groupBy(col("o_orderstatus"))
      .agg(avg(col("lag_days")).as("avg_lag_days"),
        max(col("lag_days")).as("max_lag_days"),
        min(col("lag_days")).as("min_lag_days"))
      .orderBy(col("o_orderstatus"))
  }

  /** JSON scalar functions: parse the events.props JSON payload
    * (schema'd from_json) and aggregate an extracted field.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k",
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), avg(col("k")).as("avg_k"),
        count(col("k")).as("n_with_k"))
      .orderBy(col("event_type"))

  /** Ordered string aggregation (deterministic collect): distinct order
    * statuses per priority, sorted and joined.
    */
  def stringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"),
        countDistinct(col("o_custkey")).as("n_custs"))
      .orderBy(col("o_orderpriority"))

  /** Value-based RANGE window frame: rolling sum/count of orders whose
    * price is within 1000 below the current row's, per status. RANGE
    * frames are value-determined, so ties are handled identically in
    * any engine — deterministic without a tiebreak.
    *
    * SCALE NOTE: the partition key `o_orderstatus` has only 3 values,
    * so each partition is a per-status TOTAL ORDER — at 100x one
    * status's rows funnel through one task. That is inherent to the
    * query's semantics (a value-range frame needs its partition sorted
    * end to end), not an implementation choice: scaling it out requires
    * changing the question (finer partition key, or a bucketed
    * approximation of the rolling frame).
    */
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    // DIFFERENCE-OF-CUMULATIVES rewrite of the [-1000, 0] RANGE frame
    // (r16, guide §1.2 step 2): Spark evaluates a sliding frame by
    // RE-AGGREGATING every frame row for every output row (window
    // aggregates have no retract), so the direct form costs
    // O(rows × frame-width) buffer updates, and the frame population
    // grows with data density — exactly what explodes at 100 TB.
    // Both frame aggregates decompose exactly:
    //
    //   frame_sum(p)   = S≤(p) − S≤(p − 1000.01)
    //   frame_count(p) = C≤(p) − C≤(p − 1000.01)
    //
    // where S≤/C≤ are CUMULATIVE range frames (add-only, O(rows)
    // total). Exactness: prices are 2-dp decimals, so ordering by
    // integer CENTS (decimal(12,2)·100 — lossless, strictly monotone
    // in the price, so frames group identically) makes the exclusive
    // lower bound the INTEGER offset −100001 — no floating-point
    // boundary ties — and the frame sum runs in decimal(22,2), which
    // is exact and associative, so the difference of prefix sums is
    // BIT-IDENTICAL to the direct frame sum (q58's merge-order
    // lesson; the oracle SQL is unchanged and the gate re-proved
    // equality). Overflow bound of the difference form: the
    // PARTITION-total sum must fit decimal(22,2) — ~1e18 cents covers
    // ~5e12 orders per status at TPC-H prices, past the 100 TB shape.
    val base = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus"))
      .orderBy(col("pc"))
    val cum = base.rangeBetween(Long.MinValue, 0L)
    val below = base.rangeBetween(Long.MinValue, -100001L)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
          .as("pc"),
        col("o_totalprice").cast("decimal(12,2)").as("pd"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        (sum(col("pd")).over(cum) -
          coalesce(sum(col("pd")).over(below),
            lit(0).cast("decimal(12,2)")))
          .cast("double").as("rolling_1k"),
        (count(lit(1)).over(cum) - count(lit(1)).over(below))
          .as("n_within_1k"))
      .orderBy(col("o_orderkey"))
  }

  /** Skew-handling: explicit salted equi-join. The left (fact) side gets
    * a per-row salt; the right (dim) side is replicated across all salt
    * values — hot keys spread over `salts` reducers instead of one. The
    * join RESULT is identical to the unsalted join (oracle = plain SQL
    * join); only the shuffle layout changes. At 100 TB this is the
    * escape hatch when AQE's skew split isn't available or the skew is
    * in an aggregation key.
    */
  /** Scalar (uncorrelated) subqueries through the SQL surface: the SAME
    * SQL text runs on Spark (over a temp view) and on the oracle engine
    * — demonstrating the spark.sql entry path next to the DataFrame API.
    * Catalyst plans each scalar subquery as a one-row subquery reused
    * across the scan (no rescan per row).
    */
  val ScalarSubquerySql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  o_totalprice - (SELECT avg(o_totalprice) FROM orders) AS delta_vs_global
      |FROM orders
      |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
      |ORDER BY o_orderkey""".stripMargin

  def scalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(ScalarSubquerySql)
  }

  /** Window distribution functions — ntile, percent_rank, cume_dist,
    * and positional first/nth/last values over the full partition frame.
    * Deterministic because (o_totalprice, o_orderkey) is a total order
    * within each status partition.
    *
    * SCALE NOTE: same caveat as windowRangeFrame — 3-value partition
    * key means a per-status total order through one task at scale;
    * distribution functions (ntile/percent_rank/cume_dist) are
    * rank-against-the-whole-partition by definition, so this does not
    * scale out without changing semantics (e.g. approx percentiles).
    */
  def windowDistributions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wf = w.rowsBetween(Long.MinValue, Long.MaxValue)
    Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first(col("o_orderkey")).over(w).as("cheapest_orderkey"),
        nth_value(col("o_orderkey"), 2).over(wf).as("second_cheapest_orderkey"),
        last(col("o_orderkey")).over(wf).as("priciest_orderkey"))
      .orderBy(col("o_orderkey"))
  }

  /** Production-shape skew join: salt ONLY detected hot keys, with the
    * detection INSIDE the plan — constructing this DataFrame is
    * side-effect-free (no driver job until the first action; the
    * previous eager-collect shape made plan-only callers pay a cluster
    * job at construction time).
    *
    * Detection: a deterministic 1-in-64 hash sample of the fact table's
    * join column, counted per key; keys whose sampled count exceeds
    * hotThreshold/64 are hot. The sample is the 100 TB posture — the
    * detection pre-agg shuffles ~1.6% of the key volume — and
    * mis-classifying a near-threshold key is correctness-neutral:
    * salting changes only the shuffle layout, never the join result
    * (a truly hot key, 100k+ rows, keeps >1000 expected sampled rows —
    * it cannot be missed). The (tiny) hot set is BROADCAST onto both
    * sides: hot fact rows take a per-row salt, matching dim rows
    * replicate `salts`×, and the cold majority joins unsalted (salt 0,
    * no replication). The result is identical to the plain join, so the
    * oracle stays the plain SQL join.
    */
  def hotKeySaltedJoinRevenue(s: SparkSession, dir: String,
      salts: Int = 8, hotThreshold: Long = 100000L): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val agg = (j: DataFrame) => j
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderstatus"))
    val sampleMod = 64L
    val hotDf = li
      .filter(pmod(hash64(concat_ws("_", col("l_orderkey"), col("l_linenumber"))),
        lit(sampleMod)) === 0)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") > hotThreshold / sampleMod)
      .select(col("l_orderkey").as("_hk"))
    val liS = li.join(broadcast(hotDf), li("l_orderkey") === col("_hk"), "left")
      .withColumn("_salt",
        when(col("_hk").isNotNull,
          pmod(hash64(concat_ws("_", col("l_orderkey"), col("l_linenumber"))),
            lit(salts.toLong)))
          .otherwise(lit(0L)))
      .drop("_hk")
    val oS = o.join(broadcast(hotDf), o("o_orderkey") === col("_hk"), "left")
      .withColumn("_salt",
        explode(when(col("_hk").isNotNull,
          array((0 until salts).map(i => lit(i.toLong)): _*))
          .otherwise(array(lit(0L)))))
      .drop("_hk")
    agg(liS.join(oS,
      liS("l_orderkey") === oS("o_orderkey") && liS("_salt") === oS("_salt")))
  }

  def saltedJoinRevenue(s: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .withColumn("_salt",
        pmod(hash64(concat_ws("_", col("l_orderkey"), col("l_linenumber"))),
          lit(salts.toLong)))
    val o = Tables.orders(s, dir)
      .withColumn("_salt", explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    li.join(o, li("l_orderkey") === o("o_orderkey") && li("_salt") === o("_salt"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderstatus"))
  }
}

/** The registered queries that call [[RelationalQueries2]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object RelationalQueries2Queries {
  import RelationalQueries2._

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q22_multiset_ops", multisetOps(_, _),
      Sql("""WITH c95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |     c96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT 'except_all' AS tag, o_custkey
        |  FROM (SELECT * FROM c95 EXCEPT ALL SELECT * FROM c96)
        |UNION ALL
        |SELECT 'intersect_all' AS tag, o_custkey
        |  FROM (SELECT * FROM c95 INTERSECT ALL SELECT * FROM c96)
        |ORDER BY tag, o_custkey""")),

    QueryDef("q23_pivot", pivotPriorities(_, _),
      Sql("""SELECT o_orderstatus,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END) AS "1-URGENT",
        |  sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END) AS "2-HIGH",
        |  sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END) AS "3-MEDIUM",
        |  sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END) AS "4-NOT SPECIFIED",
        |  sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END) AS "5-LOW"
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""")),

    QueryDef("q24_hash_sample", hashSample(_, _),
      Sql("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE CAST('0x' || substr(md5(l_orderkey || '_' || l_linenumber), 1, 15) AS BIGINT) % 100 < 10
        |ORDER BY l_orderkey, l_linenumber""")),

    QueryDef("q25_percentiles", percentiles(_, _),
      Sql("""SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""")),

    QueryDef("q26_stats", stats(_, _),
      // Two-pass deviation form mirrored from stats:
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
    QueryDef("q27_approx_distinct", approxDistinct(_, _),
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
    QueryDef("q28_skew_join", hotKeySaltedJoinRevenue(_, _),
      Sql("""SELECT o_orderstatus,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""")),

    QueryDef("q29_json_extract", jsonExtract(_, _),
      Sql("""SELECT event_type,
        |  CAST(sum(json_extract(props, '$.k')::INT) AS BIGINT) AS sum_k,
        |  avg(json_extract(props, '$.k')::INT) AS avg_k,
        |  count(json_extract(props, '$.k')) AS n_with_k
        |FROM events GROUP BY event_type
        |ORDER BY event_type""")),

    QueryDef("q30_string_agg", stringAgg(_, _),
      Sql("""SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  count(DISTINCT o_custkey) AS n_custs
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""")),

    QueryDef("q31_explode_words", explodeWords(_, _),
      Sql("""SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(lower(p_name), ' ')) AS word FROM part)
        |WHERE word <> '' GROUP BY word ORDER BY word""")),

    QueryDef("q32_arg_max", argMax(_, _),
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

    QueryDef("q33_date_arith", dateArith(_, _),
      Sql("""SELECT o_orderstatus,
        |  avg(lag_days) AS avg_lag_days,
        |  max(lag_days) AS max_lag_days,
        |  min(lag_days) AS min_lag_days
        |FROM (SELECT o_orderstatus,
        |    CAST(datediff('day', o_orderdate::DATE, l_shipdate::DATE) AS INT) AS lag_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    QueryDef("q36_window_range", windowRangeFrame(_, _),
      Sql("""SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
        |    AS rolling_1k,
        |  count(*) OVER w AS n_within_1k
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""")),

    QueryDef("q37_window_dist", windowDistributions(_, _),
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
    QueryDef("q38_scalar_subquery", scalarSubquery(_, _),
      SqlFn(() => ScalarSubquerySql)),

    QueryDef("q39_unpivot", unpivotRevenue(_, _),
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

    QueryDef("q40_cube", cubeRevenue(_, _),
      Sql("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  sum(o_totalprice) AS total_price, count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""")),
  )

  /** q27: |approx − exact| / exact distinct order count. */
  private def hllRelErr(s: SparkSession, dir: String): Double = {
    val r = approxDistinct(s, dir)
      .select("approx_orders", "exact_orders").head()
    math.abs(r.getLong(0).toDouble - r.getLong(1)) / r.getLong(1)
  }
}
