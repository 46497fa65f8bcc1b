package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry._

class RegistrySpec extends AnyFunSuite {

  test("query names are unique, and a duplicate name is rejected") {
    val names = registry.map(_.name)
    assert(names.distinct.size === names.size)
    assert(queries.keySet === names.toSet)
    val noop: Build = (_, _) => null.asInstanceOf[DataFrame]
    val err = intercept[IllegalArgumentException](checkedRegistry(Seq(
      QueryDef("a", noop, Approx(Bound("m", (_, _) => 0.0, AtMost(0)))),
      QueryDef("b", noop, Sql("SELECT 1")),
      QueryDef("a", noop, SqlFn(() => "SELECT 2")))))
    assert(err.getMessage.contains("duplicate query names: a"))
  }

  test("the queries without oracle SQL are exactly the nine approximate ones") {
    assert(queries.keySet -- oracleSql.keySet === Set(
      "d14_decontaminate_bloom", "q27_approx_distinct", "q87_approx_quantiles",
      "s2_ann_topk", "s3_ivf_topk", "s10_pq_topk", "s13_ivfpq_topk",
      "s14_ivf_persisted_topk", "s16_ivf_knn_join"))
    assert(oracleSql.keySet.subsetOf(queries.keySet))
  }

  test("Bench's accuracy at sf0.001 publishes every declared bound, and each holds") {
    val measured = ApproxContracts.measured
    val metrics = measured.map(_._2.metric)
    assert(metrics.toSet === Set(
      "s2_recall_at5", "s3_recall_at5", "s10_recall_at5", "s13_recall_at5",
      "s14_recall_at5", "s16_recall_at3", "q27_hll_rel_err",
      "q87_rank_err_ratio", "d14_false_negatives", "d14_extra_flag_frac"))
    assert(metrics.distinct.size === metrics.size)
    assert(measured.map(_._1).toSet === queries.keySet -- oracleSql.keySet)
    val violated = measured.collect { case (q, b, v) if !b.limit.holds(v) =>
      s"$q ${b.metric} = $v violates ${b.limit}" }
    assert(violated.isEmpty, violated.mkString("\n"))
  }

  test("oracleSql reflects an oracleSfName set after the first read") {
    val keyed = Set("taxi_avg_speed_faithful", "taxi_avg_speed_weighted",
      "docs_jsonl_ingest")
    val saved = oracleSfName
    try {
      oracleSfName = "sf0.01"
      val before = oracleSql
      oracleSfName = "sf_registry_probe"
      val after = oracleSql
      for (q <- keyed) {
        assert(before(q).contains("/sf0.01/"), q)
        assert(after(q).contains("/sf_registry_probe/"), q)
      }
      assert((after -- keyed) === (before -- keyed))
    } finally oracleSfName = saved
  }
}
