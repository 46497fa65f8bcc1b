package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
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
  * Scale design (100 TB posture): the naive shape would left-join the
  * raw fact rows onto the dense (group × key) frame and aggregate twice.
  * Instead we aggregate FIRST — `groupBy(group, key)` gets map-side
  * partial aggregation, collapsing billions of rows to (#groups × #keys)
  * — and only then join the tiny dense frame (broadcast) to zero-fill.
  * The only wide shuffle is keyed by (group, key); everything after
  * operates on #groups × #keys rows.
  */
object TwoLevelMean {

  /** A group domain the caller already holds on the driver (a file
    * listing, a fixed id range): the one-column `_grp` frame the facts
    * are restricted to, and its size, known without a Spark job.
    */
  final case class Groups(frame: DataFrame, size: Int)

  object Groups {
    def apply[G: Encoder](spark: SparkSession, groups: Seq[G]): Groups =
      Groups(spark.createDataset(groups).toDF("_grp"), groups.size)
  }

  /** Unweighted mean-of-means of `valueCol` by `keyCol`, per-`groupCol`
    * means zero-filled over the dense key domain `keyDomain` and the
    * group domain `groups`.
    *
    * The group domain is known up front (the reference's file LISTING:
    * a file with zero surviving rows still contributes a zero vector,
    * Sample.cs:196-199), so zero-fill + avg collapses algebraically:
    *   avg over N groups of zero-filled means
    *     = sum(present per-group means) / N        (zeros add nothing)
    * — a single linear pipeline, one facts scan, no dense frame and no
    * multi-branch subplan reuse. N is the driver-side domain's size, so
    * building the plan runs no job.
    *
    * @param df        fact rows (already filtered)
    * @param groupCol  the "file" analog — level-1 grouping
    * @param keyCol    the "day of week" analog — must take values in keyDomain
    * @param valueCol  the measure
    * @param keyDomain dense key domain to zero-fill (e.g. 0 to 6)
    * @param groups    the group domain; facts outside it are ignored
    * @return (key int, mean double) — one row per keyDomain element
    */
  def faithful(df: DataFrame, groupCol: Column, keyCol: Column,
      valueCol: Column, keyDomain: Seq[Int], groups: Groups,
      keyName: String = "key", outName: String = "mean"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val facts = df.select(groupCol.as("_grp"), keyCol.as(keyName), valueCol.as("_v"))
    // Level 1a: per-(group, key) mean — one shuffle, partial-agg combined.
    val perGroup = facts.groupBy($"_grp", col(keyName))
      .agg(avg($"_v").as("_grp_mean"))
    val keys = keyDomain.toDF(keyName)
    // Restrict to the declared domain (broadcast semi-join), don't just
    // take its count: data-derived groups OUTSIDE the domain (e.g. a
    // negative key modulo) must not leak into the sum — the domain is
    // the contract, exactly as the reference's file listing is.
    val perKey = perGroup.join(broadcast(groups.frame), Seq("_grp"), "leftsemi")
      .groupBy(col(keyName)).agg(sum($"_grp_mean").as("_s"))
    // Broadcast the BUILD side (perKey, ≤ |keyDomain| rows after its
    // agg) — a hint on the preserved left side of a left join is
    // unsupported for BroadcastHashJoin and Spark drops it with a
    // HintErrorLogger warn, silently falling back to a shuffle.
    keys.join(broadcast(perKey), Seq(keyName), "left")
      .select(col(keyName),
        (coalesce($"_s", lit(0.0)) / lit(groups.size.toDouble)).as(outName))
  }

  /** The "corrected" global weighted mean: every input row counts once.
    * (What the reference would compute without its per-file mean layer.)
    */
  def weighted(df: DataFrame, keyCol: Column, valueCol: Column,
      keyName: String = "key", outName: String = "mean"): DataFrame =
    df.groupBy(keyCol.as(keyName)).agg(avg(valueCol).as(outName))
}
