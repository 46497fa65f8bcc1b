package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.graft.Shims
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val tables = Seq("lineitem", "orders", "customer", "supplier",
    "part", "nation", "region", "events", "documents", "embeddings")

  test("a table's footer-read schema is the one Spark infers, at sf0.001 and sf0.01") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      Tables.events(spark, dir) // sets the nanos conf the events read needs
      for (t <- tables) {
        val path = s"$dir/$t.parquet"
        assert(Shims.parquetFileSchema(spark, path).isDefined, path)
        assert(Tables.table(spark, dir, t).schema === spark.read.parquet(path).schema, path)
      }
    }
  }

  test("building q1 at sf0.001 runs no Spark job") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Shims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")
      Shims.drainListenerBus(sc)
      assert(jobs.get === 0)
    } finally sc.removeSparkListener(listener)
  }

  test("a missing table still fails with Spark's own AnalysisException") {
    intercept[AnalysisException](Tables.table(spark, "/root/testdata/sf0.001", "no_such_table"))
  }
}
