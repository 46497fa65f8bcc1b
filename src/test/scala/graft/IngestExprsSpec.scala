package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graft.Shims
import graft.functions.{CsvField, CsvFieldCount}

class IngestExprsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def parseTs(c: org.apache.spark.sql.Column) =
    Shims.column(graft.functions.ParseTs19(Shims.expression(c)))

  // every acceptance/rejection class the strict 19-byte layout defines,
  // plus the generator's own malformed-pickup sentinel
  private val battery = Seq(
    "2017-01-01 00:00:00", "2017-12-31 23:59:59", "2016-02-29 12:34:56",
    "1969-12-31 23:59:59", "1970-01-01 00:00:00", "0001-01-03 07:08:09",
    "2400-02-29 00:00:00", "2100-02-28 01:02:03",
    "2017-02-29 00:00:00", // invalid day (non-leap)
    "2100-02-29 00:00:00", // invalid day (century non-leap)
    "2017-00-10 00:00:00", "2017-13-01 00:00:00", // month range
    "2017-04-31 00:00:00", "2017-01-00 00:00:00", // day range
    "2017-01-01 24:00:00", "2017-01-01 00:60:00", "2017-01-01 00:00:60",
    "2017-01-01T00:00:00", "2017/01/01 00:00:00", // separators
    "2017-1-01 00:00:00", "2017-01-01 00:00:0", "2017-01-01 00:00:000",
    "not-a-date", "", " 2017-01-01 00:00:00", "2017-01-01 00:00:00 ",
    "2017-01-0a 00:00:00")

  test("ParseTs19 equals try_to_timestamp on the full battery (codegen path)") {
    val df = spark.createDataFrame(
      battery.map(Tuple1.apply)).toDF("s")
      .select(col("s"), parseTs(col("s")).as("got"),
        try_to_timestamp(col("s"), lit("yyyy-MM-dd HH:mm:ss")).as("want"))
    val bad = df.filter(!(col("got") <=> col("want"))).collect()
    assert(bad.isEmpty, bad.mkString("; "))
    // and the battery actually exercises both classes
    assert(df.filter(col("want").isNotNull).count() === 8)
  }

  test("ParseTs19 static helpers: UTC arithmetic equals java.time; zoned path agrees") {
    import org.apache.spark.unsafe.types.UTF8String
    val zone = java.time.ZoneId.of("America/New_York")
    for (s <- battery) {
      val u = UTF8String.fromString(s)
      val utc = graft.functions.ParseTs19.parseMicrosUtc(u)
      val zoned = graft.functions.ParseTs19.parseMicrosZoned(u, zone)
      assert((utc == Long.MinValue) === (zoned == Long.MinValue), s)
      if (utc != Long.MinValue) {
        val want = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .atZone(java.time.ZoneOffset.UTC).toInstant
        assert(utc === want.getEpochSecond * 1000000L, s)
        val wantZ = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .atZone(zone).toInstant
        assert(zoned === wantZ.getEpochSecond * 1000000L, s)
      }
    }
  }

  test("Opaque pins the parse projection: filters stay above, one parse per column") {
    // the r8 idiom rand(7) >= -1 was folded away by OptimizeRand, and a
    // non-deterministic barrier FILTER slides below the Project (the
    // push-through-Project rule checks field determinism, not condition
    // determinism). The Opaque projection field is the barrier that
    // holds: the speed filters must NOT be substituted into the scan
    // filter as re-derived parse chains.
    val dir = TaxiFixtures.writeDir().toString
    val w = graft.operators.TaxiSpeed.weightedAvgByDow(
      graft.sources.TaxiCsv.trips(spark, dir))
    val opt = w.queryExecution.optimizedPlan.toString
    assert(opt.contains("opaque"), opt.take(2000))
    val exec = w.queryExecution.executedPlan.toString
    // exactly one parse per timestamp column, zero formatter-based parses
    assert("parse_ts19".r.findAllIn(exec).length === 2, exec.take(3000))
    assert(!exec.contains("gettimestamp"), exec.take(3000))
    // the barrier costs nothing at runtime and the accept filter still
    // fuses into the scan below the projection — the result is unchanged
    // (weighted mode does not zero-fill: the fixture has 3 distinct days)
    assert(w.count() === 3)
  }

  test("Opaque is a runtime no-op: wrapped and unwrapped columns agree") {
    import spark.implicits._
    val df = Seq("2017-03-05 10:20:30", "not-a-date").toDF("s")
      .select(
        Shims.column(graft.functions.Opaque(
          Shims.expression(upper(col("s"))))).as("o"),
        upper(col("s")).as("p"))
    assert(df.filter(!(col("o") <=> col("p"))).count() === 0)
  }

  // ── CSV field kernels ─────────────────────────────────────────────────

  private val valid17 = TaxiFixtures.row("2017-01-01 10:00:00", "2017-01-01 11:00:00", 3.5)

  private def withField0(f0: String): String = f0 + valid17.dropWhile(_ != ',')

  /** Lines as raw bytes: every class the field contract distinguishes. */
  private val csvBattery: Seq[Array[Byte]] = Seq(
    "", ",", ",,", "a,", "1,2,", ",1", "no commas at all",
    valid17, valid17 + ",", valid17.substring(0, valid17.lastIndexOf(',')),
    valid17 + "\r", valid17 + ",\r", "\r",
    withField0("1,2017-01-01 10:00:00"), // 18 fields
    "1,café,日本語,😀,x", "é,", ",€", withField0("ü")
  ).map(_.getBytes(UTF_8)) ++ Seq(
    // invalid UTF-8: stray continuation, truncated 2/3/4-byte leads
    // before a comma and at the end, overlong '/', a lone 0xFF
    Array(0x31, 0x2c, 0xff, 0x2c, 0x80, 0x2c, 0x61),
    Array(0xe2, 0x82, 0x2c, 0xf0, 0x9f, 0x98, 0x2c, 0xc3, 0x2c),
    Array(0x32, 0x2c, 0xc0, 0xaf, 0x2c, 0xe2, 0x2c, 0xf0),
    Array(0xed, 0xa0, 0x80, 0x2c, 0xc3)
  ).map(_.map(_.toByte)) ++ Seq(
    // field-0 probes the int cast treats differently
    " 1", "+1", "1.0", "2147483648", "2147483647", "-0", "-2147483648",
    "1 ", "0x1", "", "abc", "١"
  ).map(p => withField0(p).getBytes(UTF_8))

  /** The battery through the production scan: a text file read with
    * '\n' as the only separator, so '\r' tails stay in the line. */
  private def batteryLines(): DataFrame = {
    val dir = Files.createDirectories(java.nio.file.Paths.get("target", "test-tmp"))
    val f = Files.createTempFile(dir, "csv-kernel", ".txt")
    Files.write(f, csvBattery.flatMap(_ :+ '\n'.toByte).toArray)
    spark.read.option("lineSep", "\n").text(f.toString)
  }

  private def fieldCount(c: Column) = Shims.column(CsvFieldCount(Shims.expression(c)))
  private def field(c: Column, i: Int) = Shims.column(CsvField(Shims.expression(c), i))

  /** Rows where a kernel differs from the `split` chain it replaces:
    * the count, each field 0..18 (absent = NULL on both sides), and the
    * taxi accept decision. Returns (escaped line, failing check names). */
  private def kernelMismatches(lines: DataFrame): Seq[(String, Seq[String])] = {
    val v = col("value")
    val parts = split(v, ",")
    val checks: Seq[(String, Column)] =
      ("count" -> (fieldCount(v) <=> size(parts))) +:
        (0 to 18).map(i => s"field$i" -> (field(v, i) <=> try_element_at(parts, lit(i + 1)))) :+
        ("accept" -> ((fieldCount(v) === 17 && field(v, 0).try_cast("int").isNotNull) <=>
          (size(parts) === 17 && element_at(parts, 1).try_cast("int").isNotNull)))
    val df = lines.select(v.cast("binary").as("line") +:
      checks.map { case (n, c) => c.as(n) }: _*)
    val rows = df.collect()
    assert(rows.length === csvBattery.size)
    rows.toSeq.flatMap { r =>
      val bad = checks.indices.collect { case i if !r.getBoolean(i + 1) => checks(i)._1 }
      if (bad.isEmpty) None
      else Some((escaped(r.getAs[Array[Byte]](0)), bad))
    }
  }

  private def escaped(bytes: Array[Byte]): String =
    bytes.map(b => if (b >= 0x20 && b < 0x7f) b.toChar.toString else f"\\x${b & 0xff}%02x")
      .mkString

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, x) => spark.conf.set(k, x) }
    try body
    finally old.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("csv_field_count / csv_field equal size / element_at of split (codegen path)") {
    val lines = batteryLines()
    val bad = kernelMismatches(lines)
    assert(bad.isEmpty, bad.mkString("; "))
    val plan = lines.select(field(col("value"), 1)).queryExecution.executedPlan
    assert(plan.toString.contains("*(") && plan.toString.contains("csv_field("),
      s"kernel not inside WholeStageCodegen: $plan")
    // the battery exercises both accept outcomes
    val v = col("value")
    val kept = lines.filter(fieldCount(v) === 17 && field(v, 0).try_cast("int").isNotNull)
      .count()
    assert(kept > 0 && kept < csvBattery.size, s"kept $kept")
  }

  test("csv_field_count / csv_field equal size / element_at of split (interpreted path)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val lines = batteryLines()
      val bad = kernelMismatches(lines)
      assert(bad.isEmpty, bad.mkString("; "))
      val plan = lines.select(field(col("value"), 1)).queryExecution.executedPlan
      assert(!plan.toString.contains("*("), s"unexpected codegen: $plan")
    }
  }

  test("CsvField / CsvFieldCount helpers equal UTF8String.split on random bytes") {
    // commas, ASCII, continuation bytes, 2/3/4-byte leads and invalid
    // bytes in random order: every way a field boundary can meet a
    // (possibly broken) multi-byte sequence
    val alphabet = Array(0x2c, 0x2c, 0x31, 0x61, 0x0d, 0x80, 0xbf, 0xc3, 0xa9,
      0xe2, 0x82, 0xac, 0xf0, 0x9f, 0x98, 0x80, 0xc0, 0xed, 0xa0, 0xff).map(_.toByte)
    val rnd = new scala.util.Random(11)
    val comma = UTF8String.fromString(",")
    for (_ <- 0 until 20000) {
      val bytes = Array.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length)))
      val u = UTF8String.fromBytes(bytes)
      val parts = u.split(comma, -1)
      val hex = escaped(bytes)
      assert(CsvFieldCount.count(u) === parts.length, hex)
      parts.indices.foreach(i => assert(CsvField.field(u, i) === parts(i), s"$hex field $i"))
      assert(CsvField.field(u, parts.length) === null, hex)
    }
  }

  test("both taxi ops' executed plans read fields through the kernels, never split") {
    val dir = TaxiFixtures.writeDir().toString
    val ops = Seq(
      graft.operators.TaxiSpeed.faithfulAvgByDowListed(spark, dir),
      graft.operators.TaxiSpeed.weightedAvgByDow(graft.sources.TaxiCsv.trips(spark, dir)))
    for (op <- ops) {
      op.collect()
      val exec = op.queryExecution.executedPlan.toString
      assert(!exec.contains("split("), exec.take(3000))
      assert(exec.contains("csv_field_count(") && exec.contains("csv_field("),
        exec.take(3000))
    }
  }
}
