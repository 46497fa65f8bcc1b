package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RelationalQueries2

class Relational2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("approx_count_distinct within 5% of exact") {
    ApproxContracts.assertHolds("q27_approx_distinct", info)
  }

  test("salted join equals plain join") {
    val salted = RelationalQueries2.saltedJoinRevenue(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(salted.map(_._1).toSeq === plain.map(_._1).toSeq)
    salted.zip(plain).foreach { case ((_, rs, ns), (_, rp, np)) =>
      assert(ns === np)
      assert(math.abs(rs - rp) < 1e-6)
    }
  }

  test("hot-key salting equals plain join with and without detected hot keys") {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    // threshold 2: most orderkeys (up to 7 lineitems) count as hot →
    // both the salted and the unsalted branch carry real rows;
    // default threshold: hot set empty → pure plain-join layout
    for (thr <- Seq(2L, Long.MaxValue)) {
      val got = RelationalQueries2.hotKeySaltedJoinRevenue(spark, sfDir, hotThreshold = thr)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      assert(got.map(_._1).toSeq === plain.map(_._1).toSeq, s"thr=$thr")
      got.zip(plain).foreach { case ((_, rs, ns), (_, rp, np)) =>
        assert(ns === np, s"thr=$thr")
        assert(math.abs(rs - rp) < 1e-6, s"thr=$thr")
      }
    }
  }

  test("hash sample is a deterministic subset") {
    val a = RelationalQueries2.hashSample(spark, sfDir).count()
    val b = RelationalQueries2.hashSample(spark, sfDir).count()
    val total = Tables.lineitem(spark, sfDir).count()
    assert(a === b)
    assert(a > 0 && a < total)
    // ~10% with slack
    assert(math.abs(a.toDouble / total - 0.10) < 0.05)
  }

  test("pivot columns carry the fixed priority values") {
    val p = RelationalQueries2.pivotPriorities(spark, sfDir)
    assert(p.columns.toSeq === Seq("o_orderstatus", "1-URGENT", "2-HIGH",
      "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
  }
}
