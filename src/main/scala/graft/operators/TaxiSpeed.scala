package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TaxiCsv

/** The reference's flagship query: average NYC-taxi trip speed (mph) by
  * day of week (Sample.cs:137-240, README.md:105-110), in both the
  * faithful mode (every observable quirk reproduced, SURVEY.md §2.2) and
  * a corrected weighted mode.
  *
  * Faithful-mode quirks reproduced deliberately:
  *   1. average-of-per-file-averages, not a global mean (Sample.cs:196-233);
  *   2. empty (file, day) groups contribute 0.0 (Sample.cs:197);
  *   3. negative speeds (dropoff < pickup) pass the filter — only
  *      NaN/±Infinity are dropped (Sample.cs:174-186);
  *   4. Sunday=0 … Saturday=6 day numbering (Sample.cs:189): Spark's
  *      `dayofweek` is Sunday=1, hence the `- 1`.
  */
object TaxiSpeed {

  /** Derive speed (mph) and apply the reference's row filters:
    * trip_distance > 0 (Sample.cs:168) and finite speed (Sample.cs:176-186).
    * Input needs columns pickup_ts, dropoff_ts, trip_distance.
    *
    * In the reference, zero-duration trips divide to ±Infinity (IEEE
    * double semantics in C#) and are then dropped by the finite-speed
    * filter; negative durations yield negative finite speeds and are
    * KEPT. Under Spark 4's default ANSI mode a plain `/` raises
    * DIVIDE_BY_ZERO, so we use `try_divide` (NULL on zero divisor) and
    * drop NULL speeds — observably identical to Infinity-then-filter
    * (distance > 0 means 0/0 NaN cannot arise; the isnan guard stays as
    * parity defense for NaN inputs).
    */
  def withSpeed(trips: DataFrame): DataFrame = {
    val durationHours =
      (col("dropoff_ts").cast("double") - col("pickup_ts").cast("double")) / lit(3600.0)
    trips
      .filter(col("trip_distance") > 0)
      .withColumn("speed_mph", try_divide(col("trip_distance"), durationHours))
      .filter(col("speed_mph").isNotNull && !isnan(col("speed_mph")) &&
        col("speed_mph") =!= Double.PositiveInfinity &&
        col("speed_mph") =!= Double.NegativeInfinity)
      .withColumn("day", (dayofweek(col("pickup_ts")) - 1).cast("int"))
  }

  /** Faithful mode: unweighted mean of zero-filled per-file means,
    * keyed Sunday=0..Saturday=6. Output: (day int, avg_speed_mph double).
    * `path` is a glob, a directory or a file; `paths` an explicit URI
    * list — the reference's actual dataflow (`Sample.cs:70-75`: the
    * lister's URI array fans out to the mappers verbatim) and the
    * required form for listing-less transports (http(s) via
    * [[graft.sources.HttpReadFileSystem]], where globs cannot expand).
    * Either is resolved once, by `TaxiCsv.resolve`; that listing is both
    * what the scan reads and the group domain, so all-zero files
    * participate, as in the reference (Sample.cs:196-199), and the
    * facts are scanned exactly once.
    */
  def faithfulAvgByDowListed(spark: SparkSession, path: String): DataFrame =
    faithfulAvgByDowListed(spark, Seq(path))

  def faithfulAvgByDowListed(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val files = TaxiCsv.resolve(spark, paths)
    TwoLevelMean.faithful(withSpeed(TaxiCsv.trips(TaxiCsv.accepted(spark, files))),
      col("file"), col("day"), col("speed_mph"), 0 to 6, files,
      keyName = "day", outName = "avg_speed_mph")
  }

  /** Weighted (corrected) mode: plain global mean per day — every trip
    * counts once. Output: (day int, avg_speed_mph double).
    */
  def weightedAvgByDow(trips: DataFrame): DataFrame =
    TwoLevelMean.weighted(withSpeed(trips), col("day"), col("speed_mph"),
      keyName = "day", outName = "avg_speed_mph")

  /** R2 — result formatting (Sample.cs:226-234): the reference's output
    * is this exact format string, typos verbatim ("Tue :", lowercase
    * "wed"). Runs at the edge on the 7-row result — the engine's result
    * stays a DataFrame.
    */
  def formatResult(byDow: DataFrame): String = {
    val m = byDow.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    def v(d: Int): Double = m.getOrElse(d, 0.0)
    s"Sun: ${v(0)}, Mon: ${v(1)}, Tue : ${v(2)}, wed: ${v(3)}, " +
      s"Thu: ${v(4)}, Fri: ${v(5)}, Sat: ${v(6)}"
  }

  /** R3 — sink write (WriteToBlob, Sample.cs:245-262, dead code in the
    * reference): persist the per-day result; any Spark batch format
    * (parquet default; csv/json mirror the reference's text-blob
    * spirit), partition-free (7 rows).
    */
  def writeResult(byDow: DataFrame, path: String,
      format: String = "parquet"): Unit =
    byDow.coalesce(1).write.mode("overwrite")
      .option("header", "true") // csv only; ignored elsewhere
      .format(format).save(path)
}
