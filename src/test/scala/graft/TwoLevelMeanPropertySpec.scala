package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TwoLevelMean

/** Property tests (SURVEY.md §5 item 4): on random fact tables,
  *  - TwoLevelMean.faithful equals the definitional §2.2 computation
  *    (per-group zero-filled means, then unweighted mean of means);
  *  - TwoLevelMean.weighted equals the plain global mean;
  *  - the .NET DayOfWeek (Sunday=0) mapping is `dayofweek(ts) - 1`.
  * (ScalaCheck generators driven directly with fixed seeds — the
  * scalatest/scalacheck bridge artifact is not in the offline cache.)
  */
class TwoLevelMeanPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowGen = for {
    grp <- Gen.chooseNum(0, 3)
    day <- Gen.chooseNum(0, 6)
    v <- Gen.chooseNum(-100.0, 100.0)
  } yield (grp, day, v)

  private val tableGen = Gen.nonEmptyListOf(rowGen)

  private def samples(n: Int): Seq[List[(Int, Int, Double)]] =
    (0 until n).flatMap(i =>
      tableGen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("faithful == definitional avg-of-zero-filled-averages (random tables)") {
    samples(20).foreach { rows =>
      val df = rows.toDF("grp", "day", "v")
      val groups = rows.map(_._1).distinct
      val got = TwoLevelMean.faithful(df, col("grp"), col("day"), col("v"),
          0 to 6, groups, keyName = "day", outName = "m")
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

      val expected: Map[Int, Double] = (0 to 6).map { d =>
        val perGroup = groups.map { g =>
          val vs = rows.filter(r => r._1 == g && r._2 == d).map(_._3)
          if (vs.isEmpty) 0.0 else vs.sum / vs.size
        }
        d -> perGroup.sum / perGroup.size
      }.toMap

      assert(got.keySet === (0 to 6).toSet)
      (0 to 6).foreach { d =>
        assert(math.abs(got(d) - expected(d)) < 1e-9,
          s"day $d: got ${got(d)} want ${expected(d)} rows=$rows")
      }
    }
  }

  test("faithful over a driver-held group domain: no action at build, absent groups count") {
    // group 4 never occurs in the data; it still divides every day's sum
    val listener = ProgressListener.attach(spark)
    def actions(): Int = {
      org.apache.spark.sql.graft.Shims.drainListenerBus(spark.sparkContext)
      listener.snapshot.size
    }
    try {
      samples(5).foreach { rows =>
        val df = rows.toDF("grp", "day", "v")
        val before = actions()
        val q = TwoLevelMean.faithful(df, col("grp"), col("day"), col("v"),
          0 to 6, 0 to 4, keyName = "day", outName = "m")
        assert(actions() === before, "building faithful must run no Dataset action")
        val got = q.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        (0 to 6).foreach { d =>
          val perGroup = (0 to 4).map { g =>
            val vs = rows.filter(r => r._1 == g && r._2 == d).map(_._3)
            if (vs.isEmpty) 0.0 else vs.sum / vs.size
          }
          assert(math.abs(got(d) - perGroup.sum / 5) < 1e-9, s"day $d rows=$rows")
        }
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("faithful's level 2 is a fold in ascending group order over Spark's per-group means, bit for bit") {
    // 40 groups, a few rows each: the per-group means are arbitrary
    // doubles, so any other summation order shows in the last bits
    val wide = for {
      grp <- Gen.chooseNum(0, 39)
      day <- Gen.chooseNum(0, 6)
      v <- Gen.chooseNum(-100.0, 100.0)
    } yield (grp, day, v)
    val domain = 0 to 41 // two groups never occur: they divide, add nothing
    (0 until 5).foreach { i =>
      val rows = Gen.listOfN(300, wide).apply(Gen.Parameters.default, Seed(7L + i)).get
      val df = rows.toDF("grp", "day", "v")
      val means = df.groupBy("grp", "day").agg(avg("v")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val got = TwoLevelMean.faithful(df, col("grp"), col("day"), col("v"),
          0 to 6, domain, keyName = "day", outName = "m")
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      (0 to 6).foreach { d =>
        val want = domain.flatMap(g => means.get((g, d))).foldLeft(0.0)(_ + _) / domain.size
        assert(java.lang.Double.doubleToLongBits(got(d)) ===
          java.lang.Double.doubleToLongBits(want), s"seed ${7 + i} day $d: ${got(d)} vs $want")
      }
    }
  }

  test("weighted == plain global mean per key (random tables)") {
    samples(20).foreach { rows =>
      val df = rows.toDF("grp", "day", "v")
      val got = TwoLevelMean.weighted(df, col("day"), col("v"),
          keyName = "day", outName = "m")
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val expected: Map[Int, Double] = rows.groupBy(_._2).map { case (d, rs) =>
        d -> rs.map(_._3).sum / rs.size
      }
      expected.foreach { case (d, e) =>
        assert(math.abs(got(d) - e) < 1e-9)
      }
    }
  }

  test("dayofweek(ts) - 1 is the .NET DayOfWeek numbering (Sunday=0)") {
    // 2017-01-01 was a Sunday; walk a full week
    val rows = (0 to 6).map(i => s"2017-01-0${i + 1} 12:00:00")
    val got = rows.toDF("s")
      .select((dayofweek(to_timestamp(col("s"))) - 1).as("d"))
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(0, 1, 2, 3, 4, 5, 6))
  }
}
