package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{QueryDef, Sql}

/** q93 — declarative DATA-QUALITY constraint validation: evaluate a
  * fixed suite of table constraints (not-null, key uniqueness,
  * referential integrity, value ranges, accepted values, cross-field
  * ordering) and emit one row per constraint with its violation count
  * and verdict — the dbt-test / Great-Expectations gate every
  * production pipeline runs before data is allowed downstream, and at
  * 100 TB the gate that decides whether a day's ingest publishes (the
  * q88 audit generalized from mass conservation to semantic
  * invariants).
  *
  * Scale posture: the seven checks read three tables but cost four
  * passes, not seven — per-table checks fold into ONE conditional
  * aggregate over one scan (violations are `sum(when(...))` columns of
  * the same pass; the uniqueness check rides the same scan as a
  * count-distinct). Referential integrity pays the canonical fact→dim
  * anti probe (broadcast the dim's key column at any scale; never
  * shuffle the fact); temporal consistency pays the one genuine
  * fact-fact join, shuffled on the orderkey both tables cluster by at
  * 100 TB. The output is constraint-count-sized — seven rows from
  * terabytes.
  *
  * Exactness: all counts are exact bigint; verdicts are count = 0.
  * Bit-exact by construction. The generated corpus genuinely violates
  * the temporal check (lineitem ship dates are drawn independently of
  * order dates), so the report provably COUNTS rather than
  * rubber-stamps — the spec pins the violation count to an
  * independent recompute.
  *
  * Reference: the reference's only input validation is the per-line
  * 17-field + int-probe accept filter (`Sample.cs:153-157`, F1 in
  * SURVEY §2.1) — this generalizes that gate to declarative,
  * table-level constraints (SURVEY §2.3 absent category; the dbt-test
  * shape is public practice).
  */
object DataQuality {

  def constraintReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one pass over orders: not-null + accepted-values + key uniqueness
    val o = Tables.orders(s, dir)
      .agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .as("null_custkey"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
          .otherwise(0L)).as("bad_status"),
        (count(lit(1)) - countDistinct(col("o_orderkey")))
          .as("dup_orderkey"))
    // one pass over lineitem: two range checks ride one scan
    val l = Tables.lineitem(s, dir)
      .agg(
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("bad_quantity"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("bad_discount"))
    // referential integrity: orders.o_custkey must resolve in customer
    // (an anti probe into the dim keys — broadcast at any scale)
    val ri = Tables.orders(s, dir).select(col("o_custkey"))
      .join(broadcast(Tables.customer(s, dir).select(
        col("c_custkey").as("o_custkey"))), Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_custkey"))
    // temporal consistency: a line cannot ship before its order was
    // placed — the one check that pays the fact-fact join (shuffled on
    // the orderkey both tables cluster by at 100 TB). The generated
    // corpus genuinely violates this, so the report COUNTS rather than
    // rubber-stamps (pass = false with the exact violation count).
    val temporal = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum(when(col("l_shipdate") < col("o_orderdate"), 1L)
        .otherwise(0L)).as("ship_before_order"))
    val row = o.crossJoin(l).crossJoin(ri).crossJoin(temporal).head()
    val counts = Seq(
      ("orders.o_custkey not_null", row.getLong(0)),
      ("orders.o_orderstatus accepted_values", row.getLong(1)),
      ("orders.o_orderkey unique", row.getLong(2)),
      ("lineitem.l_quantity range_1_50", row.getLong(3)),
      ("lineitem.l_discount range_0_0.1", row.getLong(4)),
      ("orders.o_custkey references customer", row.getLong(5)),
      ("lineitem.l_shipdate >= orders.o_orderdate", row.getLong(6)))
    counts.toDF("constraint_name", "n_violations")
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("constraint_name"))
  }
}

/** The registered queries that call [[DataQuality]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object DataQualityQueries {
  import DataQuality._

  def queries: Seq[QueryDef] = Seq(
    // Declarative constraint suite: per-table checks folded into one
    // conditional aggregate per scan; RI as a broadcast anti probe
    QueryDef("q93_quality_constraints", constraintReport(_, _),
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
  )
}
