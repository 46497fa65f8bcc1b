package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Multimodal

/** Pins the r15 codegen'd byte-plane kernels (AsciiCodes, DctPhash64,
  * CharStats) value-identical to the HOF expression trees they
  * replaced — the reference implementations live HERE so production
  * carries only the fast path while the original formulation remains
  * the executable spec. Generators driven with fixed seeds (the
  * TextFunctionsPropertySpec pattern — no scalatest/scalacheck bridge
  * in the offline cache).
  */
class ByteplaneExprsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // printable ASCII plus a few non-surrogate BMP chars — the contract
  // domain (split("") severs surrogate pairs in the old form too)
  private val bmpChar: Gen[Char] = Gen.frequency(
    9 -> Gen.choose(32.toChar, 126.toChar),
    1 -> Gen.oneOf('é', 'ß', '中', 'λ', 'ÿ', 'Α'))
  private def strOf(min: Int, max: Int): Gen[String] =
    Gen.choose(min, max).flatMap(n => Gen.listOfN(n, bmpChar)).map(_.mkString)
  private def samples(n: Int, min: Int, max: Int): Seq[String] =
    (0 until n).flatMap(i =>
      strOf(min, max).apply(Gen.Parameters.default, Seed(41L + i)))

  private def let(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  private def asciiCodesCol(c: Column): Column =
    org.apache.spark.sql.graft.Shims.column(
      graft.functions.AsciiCodes(org.apache.spark.sql.graft.Shims.expression(c)))

  test("AsciiCodes == transform(filter(split(text,'')), ascii) on BMP text") {
    val df = (samples(120, 0, 80) :+ "" :+ "a" :+ "中中é").toDF("text")
    val rows = df.select(
      asciiCodesCol(col("text")).as("fast"),
      transform(filter(split(col("text"), ""), c => c =!= ""),
        c => ascii(c)).as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1))
    }
  }

  /** The original m12 HOF tree, verbatim (the pre-r15 dctHashFrom). */
  private def dctPhashHof(side: Int, block: Int): Column = {
    val m = typedlit(Multimodal.dctMatrix(side, block))
    val pow2 = typedlit((0 until block * block - 1).map(1L << _))
    val pE = transform(split(col("text"), ""), c => ascii(c))
    def aOf(p: Column): Column = transform(
      sequence(lit(0), lit(block * side - 1)), j => {
        val u = j.divide(lit(side)).cast("int")
        val c = pmod(j, lit(side))
        aggregate(sequence(lit(0), lit(side - 1)), lit(0L),
          (acc, r) => acc
            + element_at(m, (u * side + r + 1).cast("int"))
            * element_at(p, (r * side + c + 1).cast("int")))
      })
    def coefsOf(a: Column): Column = transform(
      sequence(lit(0), lit(block * block - 1)), k => {
        val u = k.divide(lit(block)).cast("int")
        val v = pmod(k, lit(block))
        aggregate(sequence(lit(0), lit(side - 1)), lit(0L),
          (acc, c) => acc
            + element_at(a, (u * side + c + 1).cast("int"))
            * element_at(m, (v * side + c + 1).cast("int")))
      })
    def bitsOf(cf: Column): Column =
      let(element_at(array_sort(slice(cf, 2, block * block - 1)),
          block * block / 2)) { med =>
        aggregate(sequence(lit(1), lit(block * block - 1)), lit(0L),
          (acc, k) => acc + when(element_at(cf, k + 1) > med,
            element_at(pow2, k)).otherwise(lit(0L)))
      }
    let(pE)(p => let(aOf(p))(a => let(coefsOf(a))(cf => bitsOf(cf))))
  }

  test("DctPhash64 == the original HOF DCT tree on 256+-char planes") {
    val fast = org.apache.spark.sql.graft.Shims.column(
      graft.functions.DctPhash64(
        org.apache.spark.sql.graft.Shims.expression(col("text")), 16, 8))
    val rows = samples(25, 256, 300).toDF("text")
      .select(fast.as("fast"), dctPhashHof(16, 8).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("CharStats == explode + count-per-value + per-doc rollup") {
    val stats = org.apache.spark.sql.graft.Shims.column(
      graft.functions.CharStats(
        org.apache.spark.sql.graft.Shims.expression(col("text"))))
    val df = samples(80, 1, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fast = df.select(col("doc_id"), stats.as("st"))
      .select(col("doc_id"), col("st.n_distinct_bytes"),
        col("st.mode_count"), col("st.sum_c2"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val hof = df
      .select(col("doc_id"),
        explode(transform(filter(split(col("text"), ""), c => c =!= ""),
          c => ascii(c))).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("d"), max(col("c")).as("m"),
        sum(col("c") * col("c")).as("s2"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(fast == hof)
  }

  test("slice-fold kernels == aggregate(slice(...)) HOF forms (m6/m9/m10)") {
    import org.apache.spark.sql.graft.Shims.{column => kc, expression => ke}
    val (width, bits) = (16, 4)
    val sub = width / bits
    // frames over generated BMP text, same shape as m6/m9/m10
    val df = (samples(100, width, 200) :+ ("x" * width)).toDF("text")
      .withColumn("n", length(col("text")))
      .filter(col("n") >= width)
      .select(col("text"), asciiCodesCol(col("text")).as("samples"),
        explode(sequence(lit(1), col("n") - (width - 1), lit(width))).as("o"))
      .withColumn("o", col("o").cast("int"))
    val bytes = slice(col("samples"), col("o"), lit(width))
    val stRef = aggregate(bytes, lit(0L), (a, x) => a + x)
    val sigRef = (0 until bits).map { b =>
      when(aggregate(slice(bytes, b * sub + 1, sub), lit(0L),
        (a, x) => a + x) * lit(bits) > stRef, lit(1L << b))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = df.select(
      kc(graft.functions.SliceSumLong(ke(col("samples")), ke(col("o")), width)).as("s"),
      stRef.as("sr"),
      kc(graft.functions.SliceSumSqLong(ke(col("samples")), ke(col("o")), width)).as("q"),
      aggregate(bytes, lit(0L), (a, x) => a + x * x).as("qr"),
      kc(graft.functions.SliceMaxInt(ke(col("samples")), ke(col("o")), width)).as("m"),
      array_max(bytes).as("mr"),
      kc(graft.functions.BandedSig(ke(col("samples")), ke(col("o")), width, bits)).as("g"),
      sigRef.as("gr")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"sum $r")
      assert(r.getLong(2) == r.getLong(3), s"sumsq $r")
      assert(r.getInt(4) == r.getInt(5), s"max $r")
      assert(r.getLong(6) == r.getLong(7), s"sig $r")
    }
  }

  // Input-domain contract: a sample above 46340 squares past
  // Int.MaxValue, so the kernel squares in long math. Hangul syllables
  // (0xAC00-0xD7A3) reach 55203; the kernel must equal the driver-side
  // Long sum of squares where an int*int HOF would overflow.
  test("SliceSumSqLong squares samples > 46340 in long math (Hangul text)") {
    import org.apache.spark.sql.graft.Shims.{column => kc, expression => ke}
    val width = 16
    val text = (0 until 40).map(i => (0xAC00 + i * 283).toChar).mkString
    val codes = text.map(_.toInt)
    assert(codes.count(_ > 46340) > width)
    val rows = Seq(text).toDF("text")
      .select(asciiCodesCol(col("text")).as("samples"),
        explode(sequence(lit(1), lit(text.length - width + 1))).as("o"))
      .select(col("o"), kc(graft.functions.SliceSumSqLong(
        ke(col("samples")), ke(col("o")), width)).as("q"))
      .collect()
    assert(rows.length === text.length - width + 1)
    rows.foreach { r =>
      val o = r.getInt(0)
      val want = codes.slice(o - 1, o - 1 + width).map(x => x.toLong * x).sum
      assert(want > Int.MaxValue)
      assert(r.getLong(1) === want, s"slice at $o")
    }
  }
}
