package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Hive-style partitioned layout — directory-level data skipping for
  * the time-filtered scan, the OTHER half of the physical-layout story
  * next to [[BucketedLayout]] (bucketing kills the join shuffle;
  * partitioning kills the untouched-data READ).
  *
  * `write.partitionBy("event_date")` lays the fact table out as
  * `event_date=2024-01-08/part-*.parquet` directories. A reader whose
  * filter binds the partition column never LISTS — let alone reads —
  * the other directories: the predicate shows up as `PartitionFilters`
  * on the scan (not `PushedFilters`, which still opens footers), and
  * the scan's numFiles metric counts only surviving partitions
  * (spec-pinned). At 100 TB with daily partitions, a one-week query
  * reads 7/365ths of the table; nothing else in the plan has to be
  * smart for that to hold, and partition pruning composes with the
  * parquet min/max skipping inside each surviving file.
  *
  * Write-side mechanics: we `repartition(col("event_date"))` before
  * `partitionBy` so each date lands in ONE task → one file per
  * partition directory (without it every task writes a sliver of every
  * date: tasks × dates small files — the classic small-files
  * explosion). At 100 TB you'd `repartition(N, event_date, salt)` to
  * keep write parallelism while bounding files-per-partition.
  *
  * Where the layout lives and when it counts as built is
  * [[VersionedStore]]'s one rule (`storePath`, `buildOnce`).
  */
object PartitionedLayout {

  /** Materialize events partitioned by event_date under the warehouse
    * dir, once per events snapshot.
    */
  def ensure(s: SparkSession, dir: String): String = {
    val path = VersionedStore.storePath(s,
      s"${VersionedStore.warehouse(s)}/graft_events_bydate_", dir, Seq("events.parquet"),
      "event_date")
    VersionedStore.buildOnce(s, path, path) {
      Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .repartition(col("event_date"))
        .write.partitionBy("event_date").parquet(path)
    }
  }

  /** q79 — one-week activity summary THROUGH the date-partitioned
    * layout: per (event_date, event_type) counts and value totals for
    * 2024-01-08..2024-01-14. The filter binds only the partition
    * column, so it resolves at directory-listing time — the spec pins
    * `PartitionFilters` on the scan and numFiles == 7 (of ~30 dates).
    * Oracle: the logically identical filter/agg over the PLAIN events
    * parquet — layout changes the I/O, not the answer.
    *
    * Numeric contract: per-row `value` casts to DECIMAL(18,6) before
    * the sum on both engines (exact, associative — merge order can't
    * drift it); only the final total casts back to double.
    */
  def weekSummary(s: SparkSession, dir: String): DataFrame = {
    val path = ensure(s, dir)
    s.read.parquet(path)
      .filter(col("event_date").between(
        lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date")))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("event_date"), col("event_type"))
  }

  /** The campaign calendar dim for q81 — small, parquet-backed (DPP
    * needs a materialized build side it can turn into a broadcast
    * subquery; 31 rows). Deterministic content: every January date
    * tagged with a flight id ("A" days 5-9, "B" days 20-22, null
    * otherwise). A STRING flight + `isin` filter on purpose: DPP only
    * fires when the filtering side has a LIKELY-SELECTIVE predicate
    * (literal comparison / IN / LIKE — `isLikelySelective`); a bare
    * boolean flag doesn't qualify, and `flag = true` gets
    * boolean-simplified back to the bare attribute before the
    * PartitionPruning batch runs.
    */
  def ensureCampaignDim(s: SparkSession): String = {
    // constant content, so one copy serves every sf dir
    val path = s"${VersionedStore.warehouse(s)}/graft_campaign_dim"
    VersionedStore.buildOnce(s, path, path) {
      s.range(1, 32).toDF("d")
        .select(
          to_date(concat(lit("2024-01-"), lpad(col("d").cast("string"), 2, "0")))
            .as("cal_date"),
          when(col("d").between(5, 9), "A")
            .when(col("d").between(20, 22), "B").as("flight"))
        .coalesce(1).write.parquet(path)
    }
  }

  /** q81 — DYNAMIC partition pruning: the dates to read are not a
    * literal in the query but the result of FILTERING A DIM TABLE
    * (`is_campaign`), joined to the fact on its partition column.
    * Catalyst's DPP rule turns the broadcast dim into a runtime
    * `dynamicpruningexpression(event_date IN dynamicpruning#N)` inside
    * the scan's PartitionFilters (spec-pinned), so only the 8 campaign
    * dates' directories are read — at 100 TB this is the difference
    * between scanning the fact table and scanning 8/365ths of it, for
    * a predicate the author CANNOT inline because the flight calendar
    * lives in a table. Static q79 + dynamic q81 = both halves of the
    * partition-elimination story.
    *
    * Oracle: the dim is deterministic, so DuckDB rebuilds it as a
    * VALUES-free generate_series and applies the same join/agg over
    * the plain events parquet.
    */
  def campaignSummary(s: SparkSession, dir: String): DataFrame = {
    val facts = s.read.parquet(ensure(s, dir))
    val dim = s.read.parquet(ensureCampaignDim(s))
      .filter(col("flight").isin("A", "B"))
    facts.join(broadcast(dim), facts("event_date") === dim("cal_date"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("event_date"), col("event_type"))
  }
}
