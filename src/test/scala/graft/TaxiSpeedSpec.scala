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
        col("speed_mph"), 0 to 6, files,
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

  // the 12-file corpus generated from the sf0.001 tables: per-file means
  // are arbitrary doubles, so a summation order that moved would show in
  // the last bits
  private lazy val corpus = graft.sources.TaxiDataGen.ensure(spark, RegistryRun.sfDir)
  private def faithfulBits(paths: String): Seq[(Int, Long)] =
    TaxiSpeed.faithfulAvgByDowListed(spark, paths).collect().toSeq
      .map(r => r.getInt(0) -> java.lang.Double.doubleToLongBits(r.getDouble(1))).sorted

  test("faithful rows do not depend on the directory the corpus lives in") {
    import java.nio.file.{Files, Paths}
    val files = TaxiCsv.listFiles(spark, corpus).map(u => Paths.get(new java.net.URI(u)))
    val base = Files.createDirectories(Paths.get("target", "test-tmp"))
    val root = Files.createTempDirectory(base, "faithful-dirs")
    val runs = Seq("a", "b", "corpus", "copy_2", "x/y/z", "taxi-2017").map { name =>
      val dir = Files.createDirectories(root.resolve(name))
      files.foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
      name -> faithfulBits(dir.toString)
    }
    val (_, first) = runs.head
    runs.foreach { case (name, bits) => assert(bits === first, s"copy in $name") }
    assert(first === faithfulBits(corpus))
  }

  test("faithful rows are bit-identical across shuffle partitions and AQE") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      val runs = for (parts <- Seq(1, 7, 32); aqe <- Seq(true, false)) yield {
        spark.conf.set(keys(0), parts.toString)
        spark.conf.set(keys(1), aqe.toString)
        s"partitions=$parts aqe=$aqe" -> faithfulBits(corpus)
      }
      val (_, first) = runs.head
      runs.foreach { case (conf, bits) => assert(bits === first, conf) }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("an input that names no file fails at build, naming it") {
    val empty = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target", "test-tmp")),
      "taxi-empty").toString
    for (path <- Seq(s"$dir/*.nomatch", empty)) {
      val e = intercept[java.io.FileNotFoundException](
        TaxiSpeed.faithfulAvgByDowListed(spark, path))
      assert(e.getMessage.contains(path))
    }
  }
}
