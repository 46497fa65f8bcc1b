package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.TaxiCsv
import graft.operators.{TaxiSpeed, TwoLevelMean}

class TaxiSpeedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val dir = TaxiFixtures.writeDir().toString

  test("acceptedLines keeps only 17-field lines with int field 0") {
    val accepted = TaxiCsv.acceptedLines(spark, dir)
    // fileA has 6 valid data rows (incl. the ones later dropped by value
    // filters), fileB 2, fileC 2; header/blank/16/18-field lines gone.
    assert(accepted.count() === TaxiFixtures.nAcceptedRows)
    assert(accepted.filter(col("value").startsWith("VendorID")).count() === 0)
  }

  test("trips projects typed pickup/dropoff/distance per file") {
    val t = TaxiCsv.trips(spark, dir)
    assert(t.columns.toSeq === Seq("file", "pickup_ts", "dropoff_ts", "trip_distance"))
    assert(t.count() === TaxiFixtures.nAcceptedRows)
    assert(t.filter(col("pickup_ts").isNull || col("dropoff_ts").isNull).count() === 0)
    assert(t.select(countDistinct(col("file"))).head().getLong(0) === 3)
  }

  test("tripsWide types all 17 reference columns") {
    val w = TaxiCsv.tripsWide(spark, dir)
    assert(w.columns.length === 18) // file + 17 TLC columns
    assert(w.columns.contains("total_amount"))
    assert(w.schema("trip_distance").dataType.typeName === "double")
    assert(w.schema("tpep_pickup_datetime").dataType.typeName.startsWith("timestamp"))
    assert(w.count() === TaxiFixtures.nAcceptedRows)
    assert(w.filter(col("vendor_id").isNull).count() === 0)
  }

  test("withSpeed drops zero-distance and infinite speeds, keeps negative") {
    val s = TaxiSpeed.withSpeed(TaxiCsv.trips(spark, dir))
    val speeds = s.select(col("speed_mph")).collect().map(_.getDouble(0)).sorted
    assert(speeds === Array(-5.0, 10.0, 20.0, 20.0, 20.0, 30.0))
  }

  test("day numbering is Sunday=0 (reference Sample.cs:189)") {
    val s = TaxiSpeed.withSpeed(TaxiCsv.trips(spark, dir))
    // 2017-01-01 and 2017-01-08 are Sundays; 2017-01-02 Monday; 2017-01-03 Tuesday
    val days = s.select(col("day")).distinct().collect().map(_.getInt(0)).sorted
    assert(days === Array(0, 1, 2))
  }

  test("faithful mode: avg-of-averages with zero-fill, hand-computed") {
    import spark.implicits._
    // group domain: the files with surviving rows (A and B)
    val speeds = TaxiSpeed.withSpeed(TaxiCsv.trips(spark, dir))
    val files = speeds.select("file").distinct().as[String].collect().toSeq
    val got = TwoLevelMean.faithful(speeds, col("file"), col("day"),
        col("speed_mph"), 0 to 6, TwoLevelMean.Groups(spark, files),
        keyName = "day", outName = "avg_speed_mph")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.keySet === (0 to 6).toSet)
    TaxiFixtures.faithfulExpected.foreach { case (d, exp) =>
      assert(math.abs(got(d) - exp) < 1e-12, s"day $d: got ${got(d)} want $exp")
    }
  }

  test("faithful listed mode: all-zero file drags the mean (reference-exact)") {
    val got = graft.operators.TaxiSpeed.faithfulAvgByDowListed(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    TaxiFixtures.faithfulListedExpected.foreach { case (d, exp) =>
      assert(math.abs(got(d) - exp) < 1e-12, s"day $d: got ${got(d)} want $exp")
    }
  }

  test("weighted mode: global mean per day, hand-computed") {
    val got = TaxiSpeed.weightedAvgByDow(TaxiCsv.trips(spark, dir))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got === TaxiFixtures.weightedExpected.map { case (k, v) => k -> v }
      .map(identity))
    TaxiFixtures.weightedExpected.foreach { case (d, exp) =>
      assert(math.abs(got(d) - exp) < 1e-12)
    }
  }

  test("faithful != weighted on skewed files (quirk is observable)") {
    val f = TaxiSpeed.faithfulAvgByDowListed(spark, dir)
      .filter(col("day") === 1).head().getDouble(1)
    val w = TaxiSpeed.weightedAvgByDow(TaxiCsv.trips(spark, dir))
      .filter(col("day") === 1).head().getDouble(1)
    assert(math.abs(f - w) > 1.0) // 25/9 vs 25/3
  }
}
