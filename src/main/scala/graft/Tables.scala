package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every operator in the library takes DataFrames, not paths — these
  * helpers are the only place that knows the on-disk layout, so a real
  * deployment can swap them for catalog tables / object-store URIs
  * without touching operator code.
  */
object Tables {
  /** One table. A single-file table's schema is read from its footer
    * on the driver, so building a query over it schedules no job.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Shims.parquetFileSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Hash-spread a DataFrame across the configured shuffle parallelism
    * before CPU-heavy per-row work. The partition count is explicit on
    * purpose: a bare repartition(col) is an AQE-optimizable hint that
    * gets coalesced back to ~1 partition when the *bytes* are small,
    * even though the *compute* per row is the bottleneck (tiny local
    * files are one row group = one task otherwise).
    */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    df.repartition(n, key)
  }

  /** Typed-Dataset variant of spread (round-robin). */
  def spreadN[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val n = ds.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    ds.repartition(n)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  /** `events.ts` has shipped in two physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's TimestampType
    * (microsecond) cannot represent natively, so it surfaces as a raw
    * long under the legacy conf and we truncate with integer arithmetic
    * (`div`, not `/`: ns since epoch exceeds 2^53, double division would
    * lose precision) — and plain TIMESTAMP(MICROS) without a timezone
    * annotation, which Spark 4.x reads as TIMESTAMP_NTZ. Both are
    * normalized here, at the single choke point, to session-local
    * TimestampType (the session TZ is pinned UTC, so NTZ→LTZ is a
    * value-preserving reinterpretation). Downstream code — range joins
    * that cast ts to double, `withWatermark` (which requires LTZ) —
    * assumes TimestampType and must not re-handle raw layouts.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp_ltz"))
      case _                => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
