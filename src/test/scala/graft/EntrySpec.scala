package graft

import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs on sf0.001 and returns rows") {
    RegistryRun.measured.foreach { case (name, n, _) =>
      assert(n > 0, s"query $name returned no rows")
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
