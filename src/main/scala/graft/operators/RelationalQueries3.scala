package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{QueryDef, Sql}

/** Round-3 relational battery: correlated-subquery shapes (EXISTS /
  * NOT EXISTS / correlated aggregate), multi-fact star joins, ratio and
  * distribution aggregates, and the regex/array scan batteries — the
  * remaining ANSI-surface categories SURVEY.md §2.3 marks absent from
  * the reference.
  *
  * Scale posture (100 TB):
  *   - EXISTS/NOT EXISTS are expressed as left-semi / left-anti joins —
  *     Catalyst's native decorrelation target — shuffling once on the
  *     join key; never a per-row subquery.
  *   - the correlated aggregate (q45) is the two-phase form: a
  *     map-side-combinable per-key aggregate joined back to the fact,
  *     i.e. one extra shuffle instead of a rescan per row.
  *   - regex/array batteries are shuffle-free codegen'd scans.
  */
object RelationalQueries3 {

  /** q41 — TPC-H Q4 shape: orders with at least one late-shipped item,
    * counted per priority. Left-semi join IS the EXISTS plan: the probe
    * side streams, the build side dedups, no row explosion for orders
    * with many matching items.
    */
  def existsLateShip(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** q42 — NOT EXISTS as left-anti: customers with no large order,
    * profiled per market segment. Anti join shuffles once on custkey;
    * the filter on the build side prunes before the shuffle.
    */
  def noBigOrderCustomers(s: SparkSession, dir: String,
      threshold: Double = 400000.0): DataFrame = {
    val c = Tables.customer(s, dir)
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > threshold)
    // avg spelled as exact-decimal sum ÷ count (q58's merge-order
    // lesson): 2-dp balances cast EXACTLY to DECIMAL(12,2), the sum
    // is associative, and the single double divide is IEEE-identical
    c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("c_acctbal").cast("decimal(12,2)")).cast("double")
          / count(lit(1)).cast("double")).as("avg_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** q43 — TPC-H Q13 shape: customer order-count distribution. Left
    * outer join keeps zero-order customers (count(o_orderkey) skips the
    * null), then a second, much smaller aggregation over the counts —
    * the classic two-level shuffle where level 2's cardinality is tiny.
    */
  def custOrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("c_count"))
  }

  /** q44 — TPC-H Q14 shape: promo revenue share per ship month. The
    * part table is the dimension side — broadcast so the fact scan
    * never shuffles; the conditional numerator and the total share one
    * aggregate pass.
    */
  def promoRevenueShare(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= expr("TIMESTAMP '2000-01-01 00:00:00'") &&
        col("l_shipdate") < expr("TIMESTAMP '2001-01-01 00:00:00'"))
    val p = Tables.part(s, dir)
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0)))
          .as("promo_revenue"),
        sum(disc).as("total_revenue"))
      .withColumn("promo_pct",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
      .orderBy(col("ship_month"))
  }

  /** q45 — TPC-H Q17 shape: revenue from below-average-quantity line
    * items. The correlated `avg per part` runs as its own two-phase
    * aggregate and joins back on partkey — one extra shuffle, identical
    * arithmetic to the correlated form, and the oracle SQL uses the
    * same decorrelated CTE so both engines sum the same rows.
    */
  def smallQtyRevenue(s: SparkSession, dir: String,
      frac: Double = 0.5): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val avgQty = l.groupBy(col("l_partkey").as("ap_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    l.join(avgQty, l("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(frac) * col("avg_qty"))
      // DECIMAL(18,4) term sum (q58's merge-order lesson): exact
      // associative addition → bit-exact vs the oracle in any order
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
        .as("total_price"),
        count(lit(1)).as("n_items"))
  }

  /** q46 — regex battery over documents: extract-first-match, global
    * replace, and a match predicate, all codegen'd in one scan pass.
    * Patterns stay in the RE2 ∩ Java-regex common subset so the oracle
    * engine compiles the identical automaton.
    */
  def regexBattery(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      regexp_extract(col("text"), "sp\\w+", 0).as("first_sp_word"),
      length(regexp_replace(col("text"), "[aeiou]", "")).as("len_no_vowels"),
      col("text").rlike("join\\s+order").cast("int").as("has_join_order"),
      size(split(col("text"), "\\bscan\\b")).minus(1).as("n_scan"))
    .orderBy(col("doc_id"))

  /** q47 — array battery: tokenize once, then pure array ops (sort,
    * distinct, slice, membership, endpoints) — all scan-local, no
    * shuffle, no explode (the row count never changes).
    */
  def arrayBattery(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_words"),
        size(array_distinct(col("w"))).as("n_distinct"),
        concat_ws(",", slice(array_sort(array_distinct(col("w"))), 1, 3))
          .as("first3_sorted"),
        element_at(col("w"), -1).as("last_word"),
        array_contains(col("w"), "spark").cast("int").as("has_spark"))
      .orderBy(col("doc_id"))

  /** q48 — histogram + share-of-total: fixed-width value buckets, then
    * the global share via a one-row total aggregate broadcast-joined
    * back (the q21/q38 plan shape). An unpartitioned window would give
    * the same numbers but funnels the whole bucket table through ONE
    * WindowExec task — bounded today, but the aggregate+broadcast form
    * stays parallel at any bucket count and keeps the bench log free of
    * single-partition warnings.
    */
  def priceHistogram(s: SparkSession, dir: String,
      width: Double = 50000.0): DataFrame = {
    val agg = Tables.orders(s, dir)
      .groupBy(floor(col("o_totalprice") / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("bucket_value"))
    val total = agg.agg(sum(col("n_orders")).as("total_orders"))
    agg.crossJoin(broadcast(total))
      .withColumn("pct_orders",
        lit(100.0) * col("n_orders") / col("total_orders"))
      .drop("total_orders")
      .orderBy(col("bucket"))
  }

  /** q49 — TPC-H Q5 shape: the full six-table star — region filter down
    * through nation to customer AND supplier, joined to the
    * orders⋈lineitem fact spine, keeping only locally-supplied orders
    * (c_nationkey = s_nationkey). nation/region broadcast always;
    * supplier/customer shuffle on their keys; the fact joins shuffle
    * once each on orderkey/custkey/suppkey.
    */
  def localSupplierRevenue(s: SparkSession, dir: String,
      regionName: String = "ASIA"): DataFrame = {
    val r = Tables.region(s, dir).filter(col("r_name") === regionName)
    val n = Tables.nation(s, dir)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
    val c = Tables.customer(s, dir)
      .join(broadcast(n.select(col("n_nationkey").as("cn_key"), col("n_name"))),
        col("c_nationkey") === col("cn_key"))
    val sup = Tables.supplier(s, dir)
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    c.join(o, col("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey") &&
        col("c_nationkey") === sup("s_nationkey"))
      .groupBy(col("n_name"))
      // revenue sums DECIMAL(18,4)-cast terms (q58's merge-order
      // lesson): exact associative addition → bit-exact vs the oracle
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** q53 — TPC-H Q21 shape (suppliers who kept waiting): for finished
    * orders, count per supplier the late line items where (a) another
    * supplier participated in the same order and (b) NO other supplier
    * in that order was also late — the sole bottleneck supplier. "Late"
    * = shipped more than 30 days after the order date (this schema has
    * no commit/receipt dates).
    *
    * The classic three-way correlated shape: one EXISTS and one NOT
    * EXISTS against the same fact, both correlated on the order key
    * with a supplier inequality. Spark-first: both decorrelate to
    * left-semi / left-anti joins keyed on l_orderkey with the
    * inequality as a residual condition — so all three legs (base,
    * semi, anti) shuffle on the SAME key and co-partition; no per-row
    * subquery, no rescan. The lateness predicate needs o_orderdate, so
    * the anti leg reuses the already-joined late-items relation (same
    * order key → same order row → same threshold on both engines).
    */
  def soleLateSupplier(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val lateItems = l
      .join(Tables.orders(s, dir), l("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"), col("o_orderstatus"))
    val others = l.select(col("l_orderkey").as("o2_orderkey"),
      col("l_suppkey").as("o2_suppkey"))
    // NOT-EXISTS as a per-order window (r16, guide §2.4): "no OTHER
    // supplier in this order was also late" ⟺ every late item of the
    // order carries the same suppkey ⟺ min = max over the order's late
    // suppkeys. The anti-join form recomputed the whole
    // lineitem⋈orders late relation on its build side (the before-plan
    // scans lineitem 3× / orders 2×) and paid a SortMergeJoin LeftAnti
    // (two exchanges + two sorts); this form computes lateItems ONCE
    // and pays a single orderkey exchange for the window. Filtering
    // status = 'F' before the window is sound because status is an
    // ORDER attribute: every late item of an order shares it, so the
    // window sees exactly the order's late-supplier set either way.
    // Row multiplicity is untouched (a window filter keeps base rows,
    // exactly as the anti join did) — oracle re-proven bit-exact.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
    val base = lateItems.filter(col("o_orderstatus") === "F")
      .withColumn("min_s", min(col("l_suppkey")).over(w))
      .withColumn("max_s", max(col("l_suppkey")).over(w))
      .filter(col("min_s") === col("max_s"))
      .join(others,
        col("l_orderkey") === col("o2_orderkey") &&
          col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
    base.join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** q50 — TPC-H Q15 shape: top supplier(s) by shipped revenue. The
    * per-supplier revenue aggregate is computed once and the "equal to
    * the max" filter is a one-row max aggregate broadcast-joined back —
    * a parallel broadcast-hash join at any scale, instead of
    * max().over(Window.partitionBy()) which pushes every per-supplier
    * row through ONE task (q21/q38's shape). No rescan of lineitem, no
    * collect.
    */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= expr("TIMESTAMP '2000-01-01 00:00:00'") &&
        col("l_shipdate") < expr("TIMESTAMP '2000-07-01 00:00:00'"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total_revenue"))
      // persist: rev feeds BOTH the max aggregate and the filter join.
      // Without it, Spark evaluates the aggregate subtree once per
      // consumer; exchange reuse dedupes the shuffle WRITE, but each
      // consumer's final merge re-adds fetched blocks in its own
      // nondeterministic order, so the two double sums can drift at ulp
      // level and `total_revenue === max_rev` could then match NOTHING
      // (intermittently empty result). Caching the per-supplier frame
      // (#suppliers rows — bounded, small) pins ONE set of values that
      // both consumers read, making the exact-equality join total.
      .persist()
    val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
    rev
      .join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** q54 — bilateral trade volume (TPC-H Q7's shape): revenue shipped
    * between a nation PAIR, both directions, by ship year — the
    * multi-hop star query (lineitem→supplier→nation, lineitem→orders→
    * customer→nation) every warehouse benchmark leans on.
    *
    * Scale posture: the nation filter lands FIRST and broadcasts — the
    * two 1-row nation slices prune supplier and customer to the pair's
    * members before any fact-side join, so the big lineitem relation
    * only ever joins against pair-member keys (at 100 TB: two shuffle
    * joins on l_suppkey / l_orderkey with map-side-pruned builds; the
    * date filter pushes to the parquet scan). The direction predicate
    * runs on two broadcast-joined label columns, not on re-derived
    * lookups.
    */
  def volumeShipping(s: SparkSession, dir: String,
      nationA: String = "NATION_13", nationB: String = "NATION_19"): DataFrame = {
    val n = Tables.nation(s, dir)
      .filter(col("n_name").isin(nationA, nationB))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(n.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), "s_nationkey")
      .select(col("s_suppkey").as("l_suppkey"), col("supp_nation"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(n.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation"))), "c_nationkey")
      .select(col("c_custkey").as("o_custkey"), col("cust_nation"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate").between("1995-01-01", "1996-12-31"))
      .join(supp, "l_suppkey")
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, "o_custkey")
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB)
        || (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      // DECIMAL(18,4) term sum (q58's merge-order lesson)
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** q55 — national market share (TPC-H Q8's shape): one supplier
    * nation's share of a region's customers' spend on a part type, by
    * order year — conditional aggregation over an 8-table star.
    *
    * Scale posture: every dimension prunes BEFORE touching lineitem —
    * the region→nation slice broadcasts onto customer, the filtered
    * part type broadcasts onto the fact scan, orders carries its
    * pushed-down date range — so the fact relation flows through two
    * shuffle joins (partkey prune is a broadcast probe) already cut to
    * the region/type/date subset. The share itself is one grouped
    * conditional sum over the joined slice; no second pass.
    */
  def marketShare(s: SparkSession, dir: String,
      nation: String = "NATION_3", region: String = "EUROPE",
      ptype: String = "ECONOMY"): DataFrame = {
    val euroNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === region)
        .select(col("r_regionkey").as("n_regionkey"))), "n_regionkey")
      .select(col("n_nationkey").as("c_nationkey"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(euroNations), "c_nationkey")
      .select(col("c_custkey").as("o_custkey"))
    val ords = Tables.orders(s, dir)
      .filter(col("o_orderdate").between("1995-01-01", "1996-12-31"))
      .join(cust, "o_custkey")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
    val partF = Tables.part(s, dir)
      .filter(col("p_type") === ptype)
      .select(col("p_partkey").as("l_partkey"))
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        "s_nationkey")
      .select(col("s_suppkey").as("l_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(s, dir)
      .join(broadcast(partF), "l_partkey")
      .join(ords, "l_orderkey")
      .join(suppNation, "l_suppkey")
      .withColumn("volume",
        col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      // both sums fold DECIMAL(18,4)-cast terms (q58's merge-order
      // lesson); the share is ONE IEEE divide of the two exact totals
      .agg((sum(when(col("nation") === nation, col("volume"))
          .otherwise(lit(0)).cast("decimal(18,4)")).cast("double")
        / sum(col("volume").cast("decimal(18,4)")).cast("double"))
        .as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** q56 — returned-item revenue ranking (TPC-H Q10's shape): the top
    * customers by revenue on 'R'-flagged (returned) line items in a
    * one-year order window — the churn-triage report. The global top-20
    * is TakeOrderedAndProject (distributed heap-k over the per-customer
    * aggregate, never a total sort); nation broadcasts; the fact joins
    * shuffle once each on orderkey/custkey with the date filter pushed
    * to the orders scan and the flag filter to the lineitem scan.
    */
  def returnedRevenue(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1996-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val c = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        "c_nationkey")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      // DECIMAL(18,4) term sum (q58's merge-order lesson)
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(topK)
  }

  /** q57 — disjunctive bracket revenue (TPC-H Q19's shape): revenue
    * from three (brand, size-range, quantity-range) brackets OR'd
    * together — the predicate shape that defeats naive pushdown
    * splitting. The part dimension broadcasts (brand/size prune it
    * first); the OR predicate evaluates post-join in one codegen'd
    * conjunction pass; lineitem never shuffles — a single broadcast
    * probe and a one-row aggregate.
    */
  def bracketRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      .select(col("p_partkey").as("l_partkey"), col("p_brand"), col("p_size"))
    def bracket(brand: String, maxSize: Int, qLo: Double, qHi: Double) =
      col("p_brand") === brand && col("p_size").between(1, maxSize) &&
        col("l_quantity").between(qLo, qHi)
    Tables.lineitem(s, dir)
      .join(broadcast(p), "l_partkey")
      .filter(bracket("Brand#1", 15, 1, 11) ||
        bracket("Brand#2", 25, 10, 20) ||
        bracket("Brand#3", 35, 20, 30))
      // DECIMAL(18,4) term sum (q58's merge-order lesson): the single
      // global group is exactly where double merge-order drift bites
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q58 — product-line profit by supplier nation and order year
    * (TPC-H Q9's shape, adapted: this schema has no partsupp, so unit
    * cost is proxied as 60% of p_retailprice — same join graph, same
    * grouping, deterministic and oracle-mirrored). Profit =
    * Σ extendedprice·(1−discount) − 0.6·retailprice·quantity over
    * every lineitem whose part name matches the product line.
    *
    * Scale posture: the name-filtered part slice and the
    * supplier→nation map are both dimension-sized and BROADCAST — the
    * fact table takes two broadcast probes (the part probe also acts
    * as the product-line semi-join, cutting lineitem before anything
    * else) and exactly one shuffle join, on orderkey against the
    * pruned two-column orders projection, before the (nation, year)
    * aggregate. Q9 is the classic join-order trap — probing part LAST
    * would shuffle the whole fact table twice; probing it FIRST makes
    * the selective dimension do the pruning.
    */
  /** q59 — best supplier per part (TPC-H Q2's shape, adapted: this
    * schema has no partsupp, so the part↔supplier relationship is
    * DERIVED as the distinct (l_partkey, l_suppkey) pairs that
    * actually shipped): for every part of one type, the region
    * supplier with the highest account balance that has shipped it,
    * ties to the smaller supplier key; presented top-`topK` by
    * balance. The correlated-argmax-over-a-junction-relation shape.
    *
    * Scale posture: both dimension slices prune before the fact scan —
    * the type-filtered part probe broadcasts onto lineitem (also the
    * junction semi-join), and the region→nation→supplier chain
    * broadcasts onto the junction rows. The junction DISTINCT is the
    * one fact-sized shuffle (its key (partkey, suppkey) is the
    * aggregate's prefix, so no second exchange); the argmax is a
    * map-side-combining max(struct) — no per-part rank window — and
    * the presentation top-k is a TakeOrdered heap, not a total sort.
    */
  def bestSupplierPerPart(s: SparkSession, dir: String,
      region: String = "EUROPE", ptype: String = "SMALL",
      topK: Int = 100): DataFrame = {
    val regionNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === region)
        .select(col("r_regionkey").as("n_regionkey"))), "n_regionkey")
      .select(col("n_nationkey").as("s_nationkey"), col("n_name"))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(regionNations), "s_nationkey")
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"),
        col("s_acctbal"), col("n_name"))
    val parts = Tables.part(s, dir)
      .filter(col("p_type") === ptype)
      .select(col("p_partkey").as("l_partkey"), col("p_name"))
    val junction = Tables.lineitem(s, dir)
      .join(broadcast(parts), "l_partkey")
      .select(col("l_partkey"), col("l_suppkey"), col("p_name"))
      .distinct()
    junction.join(broadcast(supp), "l_suppkey")
      // max(struct): balance desc, then smaller suppkey (negated key)
      .groupBy(col("l_partkey").as("p_partkey"), col("p_name"))
      .agg(max(struct(col("s_acctbal").as("b"),
        (-col("l_suppkey")).as("nk"), col("l_suppkey").as("sk"),
        col("s_name").as("sn"), col("n_name").as("nn"))).as("pick"))
      .select(col("p_partkey"), col("p_name"),
        col("pick.b").as("s_acctbal"), col("pick.sk").as("s_suppkey"),
        col("pick.sn").as("s_name"), col("pick.nn").as("n_name"))
      .orderBy(col("s_acctbal").desc, col("p_partkey"))
      .limit(topK)
  }

  def profitByNationYear(s: SparkSession, dir: String,
      line: String = "red"): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_name").contains(line))
      .select(col("p_partkey").as("l_partkey"), col("p_retailprice"))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        "s_nationkey")
      .select(col("s_suppkey").as("l_suppkey"), col("n_name"))
    Tables.lineitem(s, dir)
      .join(broadcast(p), "l_partkey")
      .join(broadcast(supp), "l_suppkey")
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("int").as("o_year"))
      // Per-item margin is one identical IEEE expression in both
      // engines; the SUM runs over DECIMAL(18,4)-cast terms because a
      // double sum is order-dependent and at ~1e3 items per group the
      // merge-order drift (~1e-3 absolute) straddles the gate's
      // 9-significant-digit rounding — decimal addition is exact and
      // associative, so every partial-agg schedule yields the same total.
      // The exact decimal total is then cast to DOUBLE for the output
      // column: the external gate only normalizes float numerics, and
      // decimal→double of identical decimals is deterministic.
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        - lit(0.6) * col("p_retailprice") * col("l_quantity"))
        .cast("decimal(18,4)")).cast("double").as("profit"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /** q67 — TPC-H Q18 shape: large-volume orders (total quantity above a
    * fixed threshold) with their customer. Reference behavior cited for
    * the family at `Sample.cs:1-264` (the reference has no relational
    * surface; SURVEY §2.3 marks this absent category).
    *
    * Scale posture: the HAVING filter runs ON the aggregate BEFORE any
    * join — lineitem collapses to one row per order (map-side partial
    * sum), and only threshold survivors reach the joins. The orders
    * join reuses the aggregate's hash partitioning on the SAME key
    * (orderkey), so AQE plans one co-partitioned join with no extra
    * exchange of the agg side. No broadcast hint on either join: the
    * survivor count is proportional to |orders| (a fixed per-order
    * quantity threshold keeps a constant FRACTION, not a constant
    * COUNT), so at 100 TB neither side is broadcastable and the shuffle
    * join on the already-partitioned key is the right plan; at test SF
    * AQE downgrades the small sides to broadcast on its own. The final
    * top-100 is a TakeOrdered, never a global sort.
    */
  def bigOrders(s: SparkSession, dir: String,
      minQty: Double = 250.0, topK: Int = 100): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(topK)
  }

  /** q68 — TPC-H Q22 shape: "dormant customers" — above-average
    * positive account balance but NO orders since `cutoff`, rolled up
    * per nation. The classic anti-join + global-threshold pattern.
    * (Q22 proper anti-joins ALL orders; this corpus generates orders
    * for every customer, so the faithful form returns the empty
    * relation — the recency cutoff keeps the identical plan shape on a
    * non-degenerate answer.)
    *
    * FP discipline (the q50/t19 two-branch-drift lesson, taken one
    * step further): the threshold is an AVERAGE consumed in a filter,
    * and avg-as-double differs between engines in the last ulp on
    * merge order — enough to flip boundary customers. So there is no
    * division and no double anywhere in the decision: balances cast to
    * DECIMAL(12,2) (EXACT here — the generated balances are 2-dp
    * money, so the cast never rounds), and `bal > S/N` is evaluated as
    * `bal·N > S` in exact decimal×bigint arithmetic. Both engines
    * agree bit-for-bit; only the final nation total is cast to double
    * for the gate.
    *
    * Scale posture: the threshold is ONE broadcast row (sum + count);
    * the anti-join keys on custkey (shuffle equi-join — at 100 TB the
    * distinct-buyer side is not broadcastable); the nation dim
    * broadcasts. One aggregation per side, nothing quadratic.
    */
  def lostCustomers(s: SparkSession, dir: String,
      cutoff: String = "2000-01-01"): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val stats = c.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("s"), count(lit(1)).as("n"))
    c.crossJoin(broadcast(stats))
      .filter(col("bal") * col("n") > col("s"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(cutoff).cast("date"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("bal")).cast("double").as("total_acctbal"))
      .orderBy(col("nation"))
  }

  /** q69 — supplier diversity per part spec (the TPC-H Q16 shape:
    * "how many DISTINCT suppliers can deliver each surviving
    * brand/type/size combination, excluding blacklisted suppliers"):
    * the part⋈junction distinct-count with a NOT-IN supplier
    * exclusion. The junction derives from lineitem like q59's (the
    * schema has no partsupp table); the Q16 complaint filter maps to
    * the negative-balance suppliers this schema can express.
    *
    * Scale posture: the part dim filters FIRST (brand/type/size
    * predicates prune most parts) and BROADCASTS onto the fact scan —
    * lineitem never shuffles for the join; the excluded-supplier set
    * is a handful of keys, broadcast as a left_anti probe (NOT IN on
    * a non-null key column = anti join, no null trap here since
    * s_suppkey is the primary key). The only shuffle is the final
    * distinct-count aggregate, keyed by the group columns — and the
    * pre-aggregate relation was already cut to distinct
    * (partkey, suppkey) pairs map-side by the same aggregate.
    */
  def supplierCounts(s: SparkSession, dir: String,
      exclBrand: String = "Brand#45", exclTypePrefix: String = "PROMO",
      sizes: Seq[Int] = Seq(49, 14, 23, 45, 19, 3, 36, 9)): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") =!= exclBrand &&
        !col("p_type").startsWith(exclTypePrefix) &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey").as("l_partkey"), col("p_brand"),
        col("p_type"), col("p_size"))
    val blacklisted = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("l_suppkey"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(parts), "l_partkey")
      .join(broadcast(blacklisted), Seq("l_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** q70 — excess-stock suppliers (the TPC-H Q20 shape: the nested
    * semi-join chain part-filter → per-(part, supplier) availability
    * vs. windowed demand → supplier membership). The schema has no
    * partsupp, so availability derives from the junction itself (one
    * stock unit per historical line — q59's derived-junction
    * convention) and demand is the year's shipped quantity; Q20's rule
    * availqty > ½·demand is kept verbatim as 2·avail > demand. Output
    * is per-supplier: how many of their red parts sit in excess — on
    * the uniform synthetic data every supplier carries SOME excess
    * part (as in Q20's forest-parts run on uniform TPC-H), so the
    * per-supplier counts are where the variance lives.
    *
    * Exactness contract: avail is a bigint count; demand sums
    * DECIMAL(12,2)-cast quantities (exact, associative — the q58
    * lesson; a double sum here would straddle the 9-digit gate on
    * merge order) and the threshold compare 2·avail > demand is exact
    * integer-vs-decimal comparison on both engines.
    *
    * Scale posture: the name-filtered part set broadcasts onto ONE
    * lineitem scan; the pair aggregate is the only fact shuffle
    * (map-side combined); the supplier dim broadcasts onto the
    * pair-aggregated (already tiny) relation. Nothing quadratic, no
    * correlated re-scan of lineitem — the Q20 subquery chain is
    * flattened into one pass.
    */
  def excessStockSuppliers(s: SparkSession, dir: String,
      namePrefix: String = "red", year: Int = 1998): DataFrame = {
    val rp = Tables.part(s, dir)
      .filter(col("p_name").startsWith(namePrefix))
      .select(col("p_partkey").as("l_partkey"))
    val pairs = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_shipdate"))
      .join(broadcast(rp), "l_partkey")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("avail"),
        sum(when(org.apache.spark.sql.functions.year(col("l_shipdate")) === year,
          col("l_quantity").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)"))).as("demand"))
    pairs.filter(lit(2) * col("avail") > col("demand"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_excess_parts"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_excess_parts"))
      .orderBy(col("s_name"))
  }

  /** q71 — customer lifetime-value deciles: every customer globally
    * ranked by exact total spend, cut into `tiles` equal-population
    * tiles, reported as per-tile (population, total/min/max spend) —
    * the segmentation table a marketing/finance pipeline refreshes
    * nightly.
    *
    * THE point of this operator is the ranking's scale posture: a
    * global rank is usually written as an UNPARTITIONED window, which
    * moves every row to one task — the classic scale-killer this
    * library bans. Instead the aggregated customer relation is
    * range-partitioned and sorted on the rank key, per-partition row
    * counts (one long per partition — bounded driver state) become
    * per-partition OFFSETS, and the global rank is offset +
    * row_number over the PARTITION-LOCAL window. Every shuffle is the
    * range exchange; no single-partition stage exists at any scale.
    * The relation is persisted before branching so the two consumers
    * (counts, ranked rows) see the SAME range partitioning.
    *
    * Exactness contract: spend sums DECIMAL(18,2) (exact,
    * associative); (spend desc, custkey) is a total order, so ranks —
    * and therefore tile boundaries tile = (rank−1)·tiles div N — are
    * integers identical to the oracle's row_number formulation; the
    * per-tile aggregates cast to double only at presentation.
    */
  def customerValueTiles(s: SparkSession, dir: String,
      tiles: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("spend"))
    val sorted = cust
      .repartitionByRange(32, col("spend").desc, col("o_custkey"))
      .sortWithinPartitions(col("spend").desc, col("o_custkey"))
      .withColumn("pid", spark_partition_id())
      .persist()
    val n = sorted.count() // materializes the ONE range exchange
    // per-partition offsets: ≤ numPartitions longs through the driver —
    // the bounded-collect class (IVF centroids, s12 rounds), not a data
    // collect. Offsets are the exclusive prefix sums in pid order.
    val counts = sorted.groupBy(col("pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid, acc + c) }.init.zip(counts)
      .map { case ((_, off), (pid, _)) => (pid, off) }
    val offDf = s.createDataFrame(offsets.toSeq).toDF("pid", "off")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("spend").desc, col("o_custkey"))
    sorted
      .join(broadcast(offDf), "pid")
      .withColumn("rk", col("off") + row_number().over(w))
      .select(col("spend"),
        expr(s"CAST((rk - 1) * $tiles div $n AS INT)").as("tile"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).cast("double").as("total_spend"),
        min(col("spend")).cast("double").as("min_spend"),
        max(col("spend")).cast("double").as("max_spend"))
      .orderBy(col("tile"))
  }

  /** q72 — order-priority checking (the TPC-H Q4 shape): how many
    * orders of each priority, placed in a one-year window, had at
    * least one SLOW line — shipped more than `graceDays` after the
    * order date. (Q4 proper compares l_commitdate to l_receiptdate;
    * this schema carries neither, so the same EXISTS-per-order
    * semantics run on the shipdate-vs-orderdate lag, the only
    * fulfilment-latency signal the corpus has.)
    *
    * Scale posture: the EXISTS is a LEFT SEMI join on orderkey — the
    * probe side collapses each order to "has a slow line" without
    * materializing match multiplicity, so a 7-line order costs one
    * output row, not seven. The slow predicate references BOTH sides
    * (l_shipdate vs o_orderdate), so it rides the semi join as a
    * residual condition on the equi-key — one shuffle per side on
    * orderkey, no cartesian anywhere. The date filter prunes orders
    * BEFORE the join, and the final aggregate is five groups wide —
    * map-side combine makes it free. At 100 TB neither side is
    * broadcastable (the window keeps a constant fraction of orders);
    * the shuffle semi join on the natural key is the plan you'd want,
    * and at test SF AQE downgrades it to broadcast on its own.
    */
  def latePriorityOrders(s: SparkSession, dir: String,
      from: String = "1997-01-01", until: String = "1998-01-01",
      graceDays: Int = 30): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(from).cast("date") &&
        col("o_orderdate") < lit(until).cast("date"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $graceDays DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** q74 — incremental aggregate maintenance (materialized-view
    * refresh): the per-(returnflag, linestatus) totals are kept as
    * MERGEABLE PARTIALS (decimal sums + count), and a refresh merges
    * the base state with the new batch's partials instead of
    * rescanning history — `agg(base) ⊕ agg(delta) = agg(base ∪
    * delta)`, the property every 100 TB nightly-refresh pipeline
    * stands on. The registered query computes the answer THROUGH the
    * merge path (base partials ∪ delta partials → re-aggregate) while
    * the oracle recomputes from the full table — the hash equality IS
    * the mergeability proof, and it holds exactly because the partial
    * sums are DECIMAL (associative; a double partial would drift
    * against the full recompute at exactly the q58 boundary).
    * Derived averages divide the merged exact sums once at
    * presentation.
    *
    * Scale posture: the delta scan touches ONLY the new batch; the
    * base state is group-cardinality-sized (a few rows per group —
    * here 4 groups), so the refresh is O(delta + groups), never
    * O(history). Both partial aggregates map-side combine; the merge
    * shuffles `2 × groups` rows.
    */
  def incrementalAgg(s: SparkSession, dir: String, mod: Int = 10): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        col("l_quantity").cast("decimal(18,2)").as("qty"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
    def partials(df: DataFrame): DataFrame = df
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("qty")).as("p_qty"), sum(col("price")).as("p_price"),
        count(lit(1)).as("p_n"))
    val base = partials(l.filter(pmod(col("l_orderkey"), lit(mod)) =!= 0))
    val delta = partials(l.filter(pmod(col("l_orderkey"), lit(mod)) === 0))
    base.union(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("p_qty")).as("m_qty"), sum(col("p_price")).as("m_price"),
        sum(col("p_n")).as("n_items"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("m_qty").cast("double").as("sum_qty"),
        col("m_price").cast("double").as("sum_price"),
        col("n_items"),
        (col("m_qty").cast("double") / col("n_items").cast("double"))
          .as("avg_qty"),
        (col("m_price").cast("double") / col("n_items").cast("double"))
          .as("avg_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q75 — SCD-2 dimension versioning (slowly-changing dimension,
    * type 2): apply one change batch to the customer dimension and
    * emit the full version history — closed rows keep their old
    * attributes with `valid_to` = the change date, survivors stay
    * open, changed customers get a version-2 row. This is the MERGE
    * INTO shape every warehouse runs nightly; the reference has no
    * relational surface (family cited at `Sample.cs:1-264`, SURVEY
    * §2.3 absent category).
    *
    * The change batch here is DERIVED deterministically so the query
    * is self-contained and oracle-able: every 7th customer re-segments
    * to MACHINERY with a +100.00 balance adjustment; every 13th churns
    * (closed, no successor); a customer matching both churns. The
    * MERGE itself runs through [[scd2Merge]], the general relation
    * form.
    *
    * Exactness contract: all attributes ride unchanged except the one
    * double add (+100.0 — a single correctly-rounded IEEE op, engine-
    * identical); dates are fixed literals; versions are int literals.
    * Full hash oracle.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(s, dir).select(col("c_custkey"),
      col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    val changes = dim
      .filter(pmod(col("c_custkey"), lit(7)) === 0 &&
        pmod(col("c_custkey"), lit(13)) =!= 0)
      .select(col("c_custkey"), col("c_name"),
        lit("MACHINERY").as("c_mktsegment"),
        (col("c_acctbal") + lit(100.0)).as("c_acctbal"))
    val deletes = dim.filter(pmod(col("c_custkey"), lit(13)) === 0)
      .select(col("c_custkey"))
    scd2Merge(dim, changes, deletes, "2024-01-01", "2024-06-01")
      .orderBy(col("c_custkey"), col("version"))
  }

  /** q76 — point-in-time dimension reconstruction over the q75 SCD-2
    * history: for each probe date, keep the version rows whose
    * validity interval covers it (`valid_from <= d < valid_to`, open
    * end = ∞) and report the per-segment census — the "what did the
    * dimension look like on March 1st" query that is the entire point
    * of keeping SCD-2 history. Two probe dates straddle the change
    * date, so the result demonstrates both regimes.
    *
    * Exactness contract: the validity predicate is date compares on
    * literal dates; balances sum as exact DECIMAL(12,2) (2-dp values
    * cast exactly; the one +100.0 adjusted value re-rounds to the
    * same 2 dp on both engines) and close with a single double cast.
    * The ORACLE reconstructs each probe date's membership DIRECTLY
    * from the modulus rules — an independent derivation that must
    * agree with the history walk, which is itself the audit a
    * warehouse runs on its SCD pipelines.
    *
    * Scale posture: one scan of the history with the probe dates
    * exploded alongside (2 rows per version), one grouped aggregate —
    * no join; the history is the only input.
    */
  def asOfDimension(s: SparkSession, dir: String): DataFrame =
    scd2History(s, dir)
      .select(col("c_mktsegment"), col("c_acctbal"),
        col("valid_from"), col("valid_to"),
        explode(array(lit("2024-03-01").cast("date"),
          lit("2024-07-01").cast("date"))).as("as_of"))
      .filter(col("valid_from") <= col("as_of") &&
        (col("valid_to").isNull || col("valid_to") > col("as_of")))
      .groupBy(col("as_of"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double")
          .as("total_acctbal"))
      .orderBy(col("as_of"), col("c_mktsegment"))

  /** q90 — PER-EVENT point-in-time enrichment: every event joined to
    * the dimension attributes valid AT ITS OWN DATE (q76 answers "the
    * census on date D"; q90 answers "what did THIS event's customer
    * look like when the event happened" — the fact-table enrichment
    * every feature pipeline and revenue report runs against an SCD-2
    * dimension). Each event probes twice — at its own date (inside
    * version 1's validity) and shifted +8 months (inside version 2 /
    * after churn) — so one registered query exercises the full
    * interval algebra: v1 matches, v2 matches, and churned-customer
    * NULL extensions.
    *
    * Exactness: the validity predicate is date compares; attributes
    * ride unchanged (the one +100.0 is q75's single IEEE add);
    * add_months(Jan, 8) lands in September on both engines (no
    * month-end clamp divergence on this corpus's day range). Full
    * hash oracle.
    *
    * Scale posture: the history is dimension-sized → broadcast; the
    * interval predicate joins ≤1 version per (key, date) by SCD-2's
    * disjoint-validity invariant, so output = input rows exactly.
    * The same kernel [[enrichPointInTime]] runs unchanged on a
    * STREAM (stream-static left join — StreamingSpec asserts parity
    * row-for-row), which is the production shape: events arrive,
    * the dimension is the slowly-changing side.
    */
  def pointInTimeEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d0"))
      .select(col("event_id"), col("user_id"),
        explode(array(
          struct(lit("asis").as("probe"), col("d0").as("event_date")),
          struct(lit("shifted").as("probe"),
            add_months(col("d0"), 8).as("event_date")))).as("p"))
      .select(col("event_id"), col("p.probe").as("probe"), col("user_id"),
        col("p.event_date").as("event_date"))
    enrichPointInTime(ev, scd2History(s, dir))
      .orderBy(col("event_id"), col("probe"))
  }

  /** The shared point-in-time enrichment kernel (batch q90 and its
    * streaming mirror — ONE implementation, streaming-ness comes from
    * the input): left-join each row's `event_date` into the SCD-2
    * validity interval (`valid_from <= d < valid_to`, open end = ∞)
    * on the business key, appending (mktsegment, acctbal,
    * dim_version); unmatched rows (pre-history or churned) null-
    * extend. `events` must carry `user_id` and `event_date`; all its
    * columns are preserved.
    */
  def enrichPointInTime(events: DataFrame, history: DataFrame): DataFrame = {
    val h = history.select(col("c_custkey"), col("c_mktsegment"),
      col("c_acctbal"), col("version"), col("valid_from"), col("valid_to"))
    events.join(h,
      events("user_id") === h("c_custkey") &&
        h("valid_from") <= events("event_date") &&
        (h("valid_to").isNull || h("valid_to") > events("event_date")),
      "left")
      .select(events.columns.map(events(_)) ++ Seq(
        h("c_mktsegment").as("mktsegment"),
        h("c_acctbal").as("acctbal"),
        h("version").as("dim_version")): _*)
  }

  /** The general SCD-2 merge: `base` is the open dimension snapshot
    * keyed by `c_custkey`, `changes` carries full new attribute rows
    * for updated keys, `deletes` lists churned keys. Output is the
    * version history: every base row as version 1 (closed at
    * `changeDate` iff its key is touched), every change row as an
    * open version 2.
    *
    * Scale posture: ONE left join of the dimension against the
    * (tiny, broadcastable) touched-key set plus a union with the
    * change rows — exactly how MERGE INTO executes on a cluster
    * (shuffle or broadcast on the business key, no full rewrite of
    * untouched partitions when the table format supports file-level
    * pruning). No window, no sort beyond presentation.
    */
  private[graft] def scd2Merge(base: DataFrame, changes: DataFrame,
      deletes: DataFrame, loadDate: String, changeDate: String): DataFrame = {
    val touched = changes.select(col("c_custkey"))
      .union(deletes).distinct()
      .withColumn("touched", lit(true))
    val v1 = base.join(touched, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal"),
        lit(1).as("version"),
        lit(loadDate).cast("date").as("valid_from"),
        when(col("touched"), lit(changeDate).cast("date"))
          .otherwise(lit(null).cast("date")).as("valid_to"),
        col("touched").isNull.as("is_current"))
    val v2 = changes.select(col("c_custkey"), col("c_name"),
      col("c_mktsegment"), col("c_acctbal"),
      lit(2).as("version"),
      lit(changeDate).cast("date").as("valid_from"),
      lit(null).cast("date").as("valid_to"),
      lit(true).as("is_current"))
    v1.unionByName(v2)
  }

  /** q82 — market-segment order stats through a SHUFFLED HASH join,
    * the fourth join strategy in the plan-pinned set (broadcast: q4;
    * sort-merge: q78; the window/as-of merges: q77). The 100 TB case
    * for it: customer⋈orders where BOTH sides are fact-sized — no
    * broadcast side exists — but after hashing on the key one side's
    * PER-PARTITION slice fits executor memory. A sort-merge join pays
    * two O(n log n) per-partition sorts; the shuffled hash join builds
    * a hash map over the smaller slice and streams the bigger one,
    * no sort at all (spec pins: ShuffledHashJoinExec present, zero
    * Sort anywhere below the aggregation). Spark never picks SHJ on
    * its own at test sizes (`spark.sql.join.preferSortMergeJoin`
    * defaults true and the planner wants statistics), so the choice
    * rides the explicit `hint("shuffle_hash")` — exactly how a
    * deployment pins it where table sizes are known.
    *
    * Numeric contract: o_totalprice folds as DECIMAL(18,4) on both
    * engines; final cast to double (q58 convention).
    */
  def shuffleHashSegments(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        col("o_totalprice").cast("decimal(18,4)").as("price"))
    c.hint("shuffle_hash").join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_buyers"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy(col("c_mktsegment"))
  }
}

/** The registered queries that call [[RelationalQueries3]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object RelationalQueries3Queries {
  import RelationalQueries3._

  def queries: Seq[QueryDef] = Seq(
    // TPC-H Q2 shape: argmax supplier over the derived part↔supplier
    // junction, region-pruned, heap-k presentation
    QueryDef("q59_best_supplier", bestSupplierPerPart(_, _),
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

    QueryDef("q41_exists", existsLateShip(_, _),
      Sql("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""")),

    QueryDef("q42_not_exists", noBigOrderCustomers(_, _),
      Sql("""SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_acctbal
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""")),

    QueryDef("q43_cust_dist", custOrderDistribution(_, _),
      Sql("""SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY c_count""")),

    QueryDef("q44_promo_share", promoRevenueShare(_, _),
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

    QueryDef("q45_small_qty", smallQtyRevenue(_, _),
      // Decorrelated two-phase form on BOTH engines: identical row set,
      // identical arithmetic (a correlated subquery would re-aggregate
      // per row — same value, but the point is matched semantics).
      Sql("""WITH pa AS (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total_price, count(*) AS n_items
        |FROM lineitem JOIN pa ON l_partkey = ap_partkey
        |WHERE l_quantity < 0.5 * avg_qty""")),

    QueryDef("q46_regex", regexBattery(_, _),
      Sql("""SELECT doc_id,
        |  regexp_extract(text, 'sp\w+') AS first_sp_word,
        |  length(regexp_replace(text, '[aeiou]', '', 'g')) AS len_no_vowels,
        |  CAST(regexp_matches(text, 'join\s+order') AS INT) AS has_join_order,
        |  len(string_split_regex(text, '\bscan\b')) - 1 AS n_scan
        |FROM documents ORDER BY doc_id""")),

    QueryDef("q47_array_funcs", arrayBattery(_, _),
      Sql("""SELECT doc_id,
        |  len(w) AS n_words,
        |  len(list_distinct(w)) AS n_distinct,
        |  array_to_string(list_sort(list_distinct(w))[1:3], ',')
        |    AS first3_sorted,
        |  w[-1] AS last_word,
        |  CAST(list_contains(w, 'spark') AS INT) AS has_spark
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""")),

    QueryDef("q48_histogram", priceHistogram(_, _),
      Sql("""SELECT bucket, n_orders, bucket_value,
        |  100.0 * n_orders / sum(n_orders) OVER () AS pct_orders
        |FROM (
        |  SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |    count(*) AS n_orders, sum(o_totalprice) AS bucket_value
        |  FROM orders GROUP BY 1)
        |ORDER BY bucket""")),

    QueryDef("q49_local_supplier", localSupplierRevenue(_, _),
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

    QueryDef("q50_top_supplier", topSupplier(_, _),
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
    QueryDef("q53_sole_late_supplier", soleLateSupplier(_, _),
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
    QueryDef("q54_volume_shipping", volumeShipping(_, _),
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
    QueryDef("q55_market_share", marketShare(_, _),
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
    QueryDef("q56_returned_revenue", returnedRevenue(_, _),
      Sql("""SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // Disjunctive bracket revenue (TPC-H Q19): OR'd brand/size/qty
    // brackets over one broadcast probe, zero fact shuffles
    QueryDef("q57_bracket_revenue", bracketRevenue(_, _),
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
    QueryDef("q58_profit", profitByNationYear(_, _),
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
    QueryDef("q67_big_orders", bigOrders(_, _),
      Sql("""WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250.0)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // Dormant customers (TPC-H Q22 shape): above-average balance, no
    // orders since the cutoff; division-free exact-decimal threshold
    QueryDef("q68_dormant_customers", lostCustomers(_, _),
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
    QueryDef("q69_supplier_counts", supplierCounts(_, _),
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
    QueryDef("q70_excess_stock", excessStockSuppliers(_, _),
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
    QueryDef("q71_value_tiles", customerValueTiles(_, _),
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
    QueryDef("q72_late_priority", latePriorityOrders(_, _),
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

    // Incremental aggregate maintenance: answer computed THROUGH the
    // base⊕delta partial merge; the full-recompute oracle proves it
    QueryDef("q74_incremental_agg", incrementalAgg(_, _),
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
    QueryDef("q75_scd2_history", scd2History(_, _),
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
    QueryDef("q76_asof_dimension", asOfDimension(_, _),
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
    QueryDef("q90_pit_enrich", pointInTimeEnrich(_, _),
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

    // The fourth join strategy: SHUFFLED HASH (both sides fact-sized,
    // per-partition build fits memory — no broadcast, no sorts)
    QueryDef("q82_shuffle_hash", shuffleHashSegments(_, _),
      // q82: plain join/agg — the SHUFFLE_HASH hint changes the physical
      // strategy, not the answer. DuckDB count(DISTINCT) is BIGINT like
      // Spark's; price folds as DECIMAL(18,4), final cast to double.
      Sql("""SELECT c_mktsegment, count(*) AS n_orders,
        |  count(DISTINCT c_custkey) AS n_buyers,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total_price
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""")),
  )
}
