package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("native codegen dot product is bit-identical to the HOF formulation") {
    val e = Tables.embeddings(spark, sfDir).limit(100)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ia") < col("ib"))
    val diff = pairs
      .withColumn("dn", VectorFunctions.dot(col("ea"), col("eb")))
      .withColumn("dh", VectorFunctions.dotHof(col("ea"), col("eb")))
      .filter(col("dn") =!= col("dh"))
      .count()
    assert(diff === 0L)
  }

  test("native Md5Hash64 equals the SQL md5/conv formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val strs = Seq("", "a", "abc", "héllo wörld ✓", "the quick brown fox") ++
      Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString) ++
      Seq.fill(50)(Seq.fill(rnd.nextInt(20))(rnd.nextPrintableChar()).mkString)
    val rows = strs.toDF("s").select(
        graft.functions.TextFunctions.hash64(col("s")).as("fast"),
        graft.functions.TextFunctions.hash64Sql(col("s")).as("ref"))
      .collect()
    assert(rows.length === strs.length)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), r))
    assert(rows.forall(_.getLong(0) >= 0))
  }

  test("Md5Hash64 rejects a non-string child at analysis time") {
    import spark.implicits._
    val shims = org.apache.spark.sql.graft.Shims
    // Dataset.select analyzes eagerly, so the mismatch surfaces at
    // construction — no job ever runs for a mistyped child.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L, 2L).toDF("v").select(
        shims.column(graft.functions.Md5Hash64(shims.expression(col("v")))))
        .collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("native dot participates in WholeStageCodegen") {
    val e = Tables.embeddings(spark, sfDir)
    val df = e.select(VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
    // the "*(n)" prefix marks WholeStageCodegen participation
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [dotproduct"), p)
  }

  test("cosine of a vector with itself is 1") {
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val bad = e.select(
        abs(VectorFunctions.cosine(col("embedding"), col("embedding")) - 1.0).as("err"))
      .filter(col("err") > 1e-12).count()
    assert(bad === 0L)
  }

  test("native l2sq == HOF fold bit-for-bit (double, float, mismatch->null)") {
    import spark.implicits._
    // corpus float vectors against a shifted copy
    val e = Tables.embeddings(spark, sfDir).limit(200)
      .select(col("embedding").as("a"),
        transform(col("embedding"), x => x * lit(1.25f) + lit(0.5f)).as("b"))
    val rows = e.select(
      VectorFunctions.l2sq(col("a"), col("b")).as("fast"),
      VectorFunctions.l2sqHof(col("a"), col("b")).as("ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.toString)
    }
    // double arrays + the HOF's null-on-length-mismatch contract
    val d = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 9.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),
      (Seq.empty[Double], Seq.empty[Double])).toDF("a", "b")
    val dr = d.select(
      VectorFunctions.l2sq(col("a"), col("b")).as("fast"),
      VectorFunctions.l2sqHof(col("a"), col("b")).as("ref")).collect()
    dr.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1), r.toString)
    }
  }

  test("l2sq takes float/double arrays only: array<int> fails analysis, a cast restores it") {
    import spark.implicits._
    val df = Seq((Seq(1, 2, 3), Seq(4, 6, 3))).toDF("a", "b")
    val err = intercept[org.apache.spark.sql.AnalysisException](
      df.select(VectorFunctions.l2sq(col("a"), col("b"))))
    assert(err.getMessage.contains("graft_l2sq expects array<float> or array<double>"))
    // the caller widens explicitly, as the HOF form did implicitly
    val got = df.select(VectorFunctions.l2sq(col("a").cast("array<double>"),
      col("b").cast("array<double>")), VectorFunctions.l2sqHof(col("a"), col("b")))
      .head()
    assert(got.getDouble(0) === 25.0)
    assert(got.getDouble(1) === 25.0)
  }
}
