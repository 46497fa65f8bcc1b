package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RelationalQueries4
import graft.plans.PlanChecks

/** Round-13 battery: the final three TPC-H shapes (Q6/Q11/Q12) and the
  * median/MAD robust anomaly gate — semantic recomputes through a
  * DIFFERENT plan each time, plus the scan/join shapes each query
  * promises at 100 TB.
  */
class Relational4Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("q83 filters and projection reach the parquet scan") {
    val df = RelationalQueries4.revenueForecast(spark, sfDir)
    assert(PlanChecks.hasPushedFilter(df, "l_discount"), PlanChecks.executedPlan(df))
    assert(PlanChecks.prunesColumn(df, "l_orderkey"))
    val row = df.head()
    val n = row.getAs[Long]("n_lines")
    assert(n > 0)
    // recompute through an unaggregated path
    val expect = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("date") &&
        col("l_shipdate") < lit("1998-01-01").cast("date") &&
        col("l_discount").between(0.04, 0.06) && col("l_quantity") < 24.0)
      .count()
    assert(n === expect)
  }

  test("q84 keeps exactly the parts above the global fraction") {
    val df = RelationalQueries4.importantParts(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // independent recompute: per-part decimal values via SQL over the
    // same tables, threshold applied driver-side with BigDecimal
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("li4")
    Tables.supplier(spark, sfDir).createOrReplaceTempView("su4")
    Tables.nation(spark, sfDir).createOrReplaceTempView("na4")
    val per = spark.sql(
      """SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) v
        |FROM li4 JOIN su4 ON l_suppkey = s_suppkey
        |  JOIN na4 ON s_nationkey = n_nationkey
        |WHERE n_nationkey < 13 GROUP BY 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val total = per.values.reduce(_ add _)
    val n = new java.math.BigDecimal(per.size * 2)
    val want = per.filter { case (_, v) =>
      v.multiply(n).compareTo(total.multiply(new java.math.BigDecimal(3))) > 0
    }.keySet
    assert(rows.map(_.getLong(0)).toSet === want)
  }

  test("q85 class counts partition the filtered joined lines") {
    val df = RelationalQueries4.fulfilmentPriority(spark, sfDir)
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("FAST", "MEDIUM", "SLOW")))
    val totalCounted = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("date") &&
        col("l_shipdate") < lit("1998-01-01").cast("date"))
    val joined = l.join(Tables.orders(spark, sfDir),
      col("l_orderkey") === col("o_orderkey")).count()
    assert(totalCounted === joined)
    assert(totalCounted > 0)
  }

  test("q86 flags exactly the days beyond k lower-medians, computed driver-side") {
    val df = RelationalQueries4.madAnomaly(spark, sfDir, k = 2)
    val got = df.collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    // brute-force recompute with scala order statistics on BigDecimal
    val daily = Tables.events(spark, sfDir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("dv"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, BigDecimal(r.getDecimal(2))))
    def lowerMedian(xs: Seq[BigDecimal]): BigDecimal =
      xs.sorted.apply((xs.size + 1) / 2 - 1)
    val want = daily.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val med = lowerMedian(rows.map(_._3).toSeq)
      val mad = lowerMedian(rows.map(r => (r._3 - med).abs).toSeq)
      rows.filter(r => (r._3 - med).abs > mad * 2).map(r => (t, r._2)).toSeq
    }.toSet
    assert(got === want)
    assert(PlanChecks.singlePartitionWindows(df) === 0,
      "per-type windows must not collapse to one partition")
  }

  test("q87 sketch quantiles land within the guaranteed rank error") {
    ApproxContracts.assertHolds("q87_approx_quantiles", info)
    val got = RelationalQueries4.approxQuantiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_events")).toMap
    val want = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    assert(got === want, "one row per event type with its exact n_events")
  }
}
