package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
