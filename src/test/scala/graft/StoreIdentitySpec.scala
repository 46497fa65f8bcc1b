package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BucketedLayout, Compaction, PartitionedLayout}

/** A derived store belongs to the tables it was read from: two sf
  * dirs with the same basename and different content never share a
  * layout on disk (q79, q81, d33) or a catalog table (q78).
  */
class StoreIdentitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A fresh dir named `sf` holding `src`'s four source tables. */
  private def sfNamedCopyOf(src: String): String = {
    val base = Paths.get("target", "test-tmp")
    Files.createDirectories(base)
    val dir = Files.createTempDirectory(base, "samebase").resolve("sf")
    Files.createDirectories(dir)
    for (t <- Seq("events", "documents", "orders", "lineitem"))
      Files.copy(Paths.get(src, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    dir.toString
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def byDay(df: DataFrame): DataFrame =
    df.groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))

  private def events(dir: String): DataFrame =
    Tables.events(spark, dir).withColumn("event_date", to_date(col("ts")))

  /** Each query through its derived store, and the same answer
    * computed directly from the dir's tables. */
  private val queries: Seq[(String, String => DataFrame, String => DataFrame)] =
    Seq(
      ("q79", PartitionedLayout.weekSummary(spark, _), dir =>
        byDay(events(dir).filter(col("event_date").between(
          lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date"))))),
      ("q81", PartitionedLayout.campaignSummary(spark, _), dir =>
        byDay(events(dir).filter(col("event_date").isin(
          ((5 to 9) ++ (20 to 22)).map(d => f"2024-01-$d%02d"): _*)))),
      ("d33", Compaction.compactedContent(spark, _), dir =>
        Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
          col("source"), col("n_chars"), md5(col("text")).as("payload_md5"))),
      ("q78", BucketedLayout.revenueByPriority(spark, _), dir => {
        val o = Tables.orders(spark, dir)
        Tables.lineitem(spark, dir)
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_lines"),
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(18,4)")).cast("double").as("revenue"))
      }))

  test("two sf dirs with one basename: q79, q81, d33 and q78 each answer from their own dir's tables") {
    val first = sfNamedCopyOf("/root/testdata/sf0.001")
    val second = sfNamedCopyOf("/root/testdata/sf0.01")
    // the first dir builds every store
    for ((name, viaStore, direct) <- queries)
      assert(sorted(viaStore(first)) === sorted(direct(first)), name)
    val stale = queries.collect { case (name, viaStore, direct)
        if sorted(viaStore(second)) != sorted(direct(second)) => name }
    assert(stale.isEmpty, s"answered from the first dir's store")
    for ((name, _, direct) <- queries)
      assert(sorted(direct(second)) !== sorted(direct(first)),
        s"$name: the two dirs' tables give the same answer")
  }
}
