package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{QueryDef, Sql}
import graft.Tables

/** The reference's reduce semantics, generalized: an *unweighted mean of
  * per-group means over a dense key domain* (SURVEY.md §2.2).
  *
  * Reference behavior being reproduced (Sample.cs, faithful mode):
  *   - per file, mean of `value` per day with empty (file, day) groups
  *     zero-filled to 0.0, not NULL/absent (Sample.cs:196-199);
  *   - across files, the unweighted mean of those per-file means — each
  *     file counts equally regardless of row count (Sample.cs:218-233).
  *
  * Scale design (100 TB posture): aggregate FIRST — `groupBy(group, key)`
  * gets map-side partial aggregation, collapsing billions of rows to at
  * most #groups × #keys per-group means; that is the only wide shuffle
  * over facts. Everything after it is a fold over those means per key:
  * one more shuffle of #groups × #keys rows, no join and no broadcast.
  * The group domain is a list the caller already holds in memory (a
  * file listing, a fixed id range); the scan's file index holds the
  * same list, so taking it as a literal adds nothing asymptotically.
  */
object TwoLevelMean {

  /** Unweighted mean-of-means of `valueCol` by `keyCol`, per-`groupCol`
    * means zero-filled over the dense key domain `keyDomain` and the
    * group domain `groups`.
    *
    * The group domain is known up front (the reference's file LISTING:
    * a file with zero surviving rows still contributes a zero vector,
    * Sample.cs:196-199), so zero-fill + avg collapses algebraically:
    *   avg over N groups of zero-filled means
    *     = sum(present per-group means) / N        (zeros add nothing)
    * — one facts scan, no dense frame, and N = `groups.size`, so
    * building the plan runs no job.
    *
    * The sum is one fold per key over the per-group means in ascending
    * group order (for a file listing, the listing order), so the result
    * is the same double whatever the partitioning, the shuffle order or
    * the directory the files live in — unlike the reference's
    * unsynchronized `Parallel.For` reducer (Sample.cs:208-240). The
    * DuckDB oracles fold in the same order (`avg(... ORDER BY group)`).
    *
    * @param df        fact rows (already filtered)
    * @param groupCol  the "file" analog — level-1 grouping
    * @param keyCol    the "day of week" analog
    * @param valueCol  the measure
    * @param keyDomain dense key domain to zero-fill (e.g. 0 to 6)
    * @param groups    the group domain; facts outside it, or with a key
    *                  outside keyDomain, are ignored
    * @return (key int, mean double) — one row per keyDomain element,
    *         in key order
    */
  def faithful(df: DataFrame, groupCol: Column, keyCol: Column,
      valueCol: Column, keyDomain: Seq[Int], groups: Seq[Any],
      keyName: String = "key", outName: String = "mean"): DataFrame = {
    require(groups.nonEmpty, "faithful needs a non-empty group domain")
    val spark = df.sparkSession
    import spark.implicits._
    // Level 1: per-(group, key) mean — one shuffle, partial-agg combined.
    // Restricted to the declared domain by a literal IN (an InSet), not
    // counted from the data: groups OUTSIDE the domain (e.g. a negative
    // key modulo) must not leak into the sum — the domain is the
    // contract, exactly as the reference's file listing is.
    val perGroup = df.select(groupCol.as("_grp"), keyCol.as(keyName), valueCol.as("_v"))
      .groupBy($"_grp", col(keyName)).agg(avg($"_v").as("_m"))
      .where($"_grp".isin(groups: _*) && col(keyName).isin(keyDomain: _*))
      .select(col(keyName), struct($"_grp", $"_m").as("_gm"))
    // Zero-fill: one NULL entry per key, which collect_list skips — every
    // key gets its row, and an absent (group, key) adds nothing.
    val everyKey = keyDomain.toDF(keyName)
      .select(col(keyName), lit(null).cast(perGroup.schema("_gm").dataType).as("_gm"))
    // Level 2: per key, fold the means in ascending group order, then
    // divide by N. The collected array holds at most #groups entries.
    // The |keyDomain| result rows come as one partition in key order, so
    // a caller's orderBy(key) plans no further exchange.
    perGroup.unionByName(everyKey).groupBy(col(keyName))
      .agg((aggregate(array_sort(collect_list($"_gm")), lit(0.0),
        (acc, g) => acc + g.getField("_m")) / lit(groups.size.toDouble)).as(outName))
      .coalesce(1).sortWithinPartitions(keyName)
  }

  /** The "corrected" global weighted mean: every input row counts once.
    * (What the reference would compute without its per-file mean layer.)
    */
  def weighted(df: DataFrame, keyCol: Column, valueCol: Column,
      keyName: String = "key", outName: String = "mean"): DataFrame =
    df.groupBy(keyCol.as(keyName)).agg(avg(valueCol).as(outName))
}

/** The registered queries that call [[TwoLevelMean]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object TwoLevelMeanQueries {
  import TwoLevelMean._

  def queries: Seq[QueryDef] = Seq(
    // Faithful mode: unweighted mean of zero-filled per-group means;
    // user_id % 4 plays the reference's one-mapper-per-file grouping.
    // The group domain 0..3 is KNOWN up front (as the reference's file
    // listing is) — the faithful zero-fill collapses algebraically to
    // sum/N and the plan scans `events` exactly once.
    QueryDef("events_speed_faithful", (s, dir) =>
      faithful(
        Tables.events(s, dir).select((col("user_id") % 4).as("grp"),
          (dayofweek(col("ts")) - 1).cast("int").as("day"), col("value")),
        col("grp"), col("day"), col("value"), 0 to 6,
        0 to 3, keyName = "day", outName = "avg_value"
      ).orderBy("day"),
      // group domain is the fixed 0..3 (mirrors the Spark side's — the
      // reference's "listing-known" file set, not data-derived). As on
      // the Spark side, the per-group means are taken before the
      // zero-fill join (a join ahead of the avg reorders its sum) and
      // are summed in ascending grp order.
      Sql("""WITH base AS (
        |  SELECT user_id % 4 AS grp, CAST(dayofweek(ts) AS INT) AS day, value
        |  FROM events
        |), groups AS (SELECT * FROM (VALUES (0),(1),(2),(3)) g(grp)),
        |days AS (SELECT * FROM (VALUES (CAST(0 AS INT)),(1),(2),(3),(4),(5),(6)) d(day)),
        |means AS (SELECT grp, day, avg(value) AS m FROM base GROUP BY grp, day),
        |per_grp AS (
        |  SELECT g.grp, d.day, coalesce(m.m, 0.0) AS per_grp_avg
        |  FROM groups g CROSS JOIN days d
        |  LEFT JOIN means m ON m.grp = g.grp AND m.day = d.day
        |)
        |SELECT day, avg(per_grp_avg ORDER BY grp) AS avg_value
        |FROM per_grp GROUP BY day ORDER BY day""")),

    // Weighted (corrected) mode: plain global mean per day.
    QueryDef("events_speed_weighted", (s, dir) =>
      weighted(
        Tables.events(s, dir), (dayofweek(col("ts")) - 1).cast("int"), col("value"),
        keyName = "day", outName = "avg_value"
      ).orderBy("day"),
      Sql("""SELECT CAST(dayofweek(ts) AS INT) AS day, avg(value) AS avg_value
        |FROM events GROUP BY day ORDER BY day""")),
  )
}
