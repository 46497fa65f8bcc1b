package graft

import org.scalatest.Assertions._
import org.scalatest.Informer

/** The registry's accuracy contracts measured once at sf0.001 through
  * [[Bench.accuracy]], shared by every spec that asserts one: the
  * bounds themselves live only in the registry's `Approx` entries.
  */
object ApproxContracts {
  val sfDir = "/root/testdata/sf0.001"

  lazy val measured: Seq[(String, SparkEntry.Bound, Double)] =
    Bench.accuracy(TestSpark.spark, sfDir)

  /** Asserts every bound `query` declares, reporting each value. */
  def assertHolds(query: String, info: Informer): Unit = {
    val bounds = measured.filter(_._1 == query)
    assert(bounds.nonEmpty, s"$query declares no accuracy bound")
    bounds.foreach { case (_, b, v) =>
      info(s"$query ${b.metric} = $v (${b.limit})")
      assert(b.limit.holds(v), s"$query ${b.metric} = $v violates ${b.limit}")
    }
  }
}
