package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TaxiSpeed
import graft.sources.TaxiCsv

/** Covers the remaining SURVEY.md §2 inventory rows: S2 (prefix source
  * enumeration), R2 (verbatim result formatting), R3 (sink write), O3
  * (progress listener).
  */
class ContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val dir = TaxiFixtures.writeDir().toString

  test("S2: prefix glob selects matching files only (GetFileListAsync analog)") {
    // fixture dir holds yellow_tripdata_2017-{01,02,03}.csv
    val all = TaxiCsv.trips(spark, s"$dir/yellow_tripdata_2017-*.csv")
    val one = TaxiCsv.trips(spark, s"$dir/yellow_tripdata_2017-01*.csv")
    assert(all.select(countDistinct(col("file"))).head().getLong(0) === 3)
    assert(one.select(countDistinct(col("file"))).head().getLong(0) === 1)
    // metadata-only listing agrees with the scan-observed file set
    assert(TaxiCsv.listFiles(spark, s"$dir/yellow_tripdata_2017-*.csv").size === 3)
    assert(TaxiCsv.listFiles(spark, dir).size === 3)
  }

  test("R2: result string matches the reference's format, typos verbatim") {
    val out = TaxiSpeed.formatResult(TaxiSpeed.faithfulAvgByDowListed(spark, dir))
    assert(out.startsWith(s"Sun: ${50.0 / 3}, Mon: "))
    assert(out.contains(", Tue : "))   // Sample.cs:226 "Tue :"
    assert(out.contains(", wed: "))    // Sample.cs:226 lowercase "wed"
    assert(out.contains(", Thu: ") && out.contains(", Fri: ") && out.contains(", Sat: "))
  }

  test("R3: sink write round-trips the result") {
    val base = Paths.get("target", "test-tmp")
    Files.createDirectories(base)
    val out = Files.createTempDirectory(base, "sink").resolve("result").toString
    val res = TaxiSpeed.faithfulAvgByDowListed(spark, dir)
    TaxiSpeed.writeResult(res, out)
    val back = spark.read.parquet(out)
    assert(back.count() === 7)
    assert(back.columns.toSeq === Seq("day", "avg_speed_mph"))

    // csv and json sinks round-trip the same values (schema via
    // header/inference; values compared against the parquet truth)
    val want = back.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for (fmt <- Seq("csv", "json")) {
      val o = Files.createTempDirectory(base, s"sink_$fmt").resolve("r").toString
      TaxiSpeed.writeResult(res, o, fmt)
      val rt = (if (fmt == "csv")
          spark.read.option("header", "true").option("inferSchema", "true").csv(o)
        else spark.read.json(o))
        .select(col("day").cast("int"), col("avg_speed_mph").cast("double"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(rt.keySet === want.keySet, fmt)
      want.foreach { case (d, v) =>
        assert(math.abs(rt(d) - v) < 1e-9, s"$fmt day $d") }
    }
  }

  test("registry armor: every query's output schema uses only gate-safe types") {
    // The driver's external hash gate has been observed to mishandle
    // array columns (s8, r9–r10) and DECIMAL columns (q58, r11) even
    // when values are bit-identical. Allowlist the types it
    // demonstrably normalizes; anything else (decimal, array, map,
    // struct, float, binary) must be cast/flattened before
    // registration. The schemas come from the shared registry run.
    import org.apache.spark.sql.types._
    val safe: DataType => Boolean = {
      case StringType | IntegerType | LongType | DoubleType |
           BooleanType | DateType => true
      case _: TimestampType | _: TimestampNTZType => true
      case _ => false
    }
    val bad = RegistryRun.measured.sortBy(_._1).flatMap { case (name, _, schema) =>
      val offending = schema.fields
        .filterNot(f => safe(f.dataType))
        .map(f => s"${f.name}: ${f.dataType.simpleString}")
      if (offending.isEmpty) None else Some(s"$name -> ${offending.mkString(", ")}")
    }
    assert(bad.isEmpty, s"gate-unsafe output columns:\n${bad.mkString("\n")}")
  }

  test("O3: progress listener records query completions") {
    val l = ProgressListener.attach(spark)
    try {
      SparkEntry.entry(spark).count()
      // listener delivery is async on the listener bus — poll
      val deadline = System.currentTimeMillis() + 10000
      while (l.snapshot.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(l.snapshot.nonEmpty)
      assert(l.snapshot.forall(_.error.isEmpty))
    } finally spark.listenerManager.unregister(l)
  }
}
