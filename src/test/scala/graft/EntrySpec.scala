package graft

import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs on sf0.001 and returns rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n > 0, s"query $name returned no rows")
      // Operator-internal cache() calls (Dedup's shingle table) persist
      // in the session CacheManager; clear per query so no later query
      // silently reuses a neighbor's cached subtree (matches Bench/Verify).
      spark.catalog.clearCache()
    }
  }

  test("events faithful differs from weighted (two-level semantics active)") {
    val f = SparkEntry.queries("events_speed_faithful")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val w = SparkEntry.queries("events_speed_weighted")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(f.keySet === (0 to 6).toSet)
    assert(w.nonEmpty)
  }
}
