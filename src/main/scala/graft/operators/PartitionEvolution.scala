package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PARTITION-SPEC EVOLUTION on the versioned store — the table's
  * physical partitioning changes mid-life without rewriting history
  * (the Iceberg partition-evolution primitive, public; Hive/Delta
  * tables cannot do this — their spec is table-global and frozen).
  *
  * Year one, the table is partitioned by `p_year` — coarse is right
  * while the table is small. As it grows, new data lands under a
  * FINER spec `(p_year, p_month)`. Old files are NEVER rewritten
  * (at 100 TB a re-partition of history is a full-table rewrite);
  * instead each version's manifest records its own spec, and the
  * reader plans each version UNDER ITS OWN SPEC:
  *   - new-spec versions: the predicate maps to partition-directory
  *     pruning on both columns (zero files opened outside the range),
  *   - old-spec versions: the predicate's year maps to directory
  *     pruning, the month lives only IN the rows — a residual filter
  *     (Iceberg's residual-expression evaluation, exactly).
  * The union of the per-version plans is the table read. A predicate
  * on the evolved dimension is thus free on new data and row-priced
  * only on the old data that predates the spec — the contract that
  * makes evolving a 100 TB table's layout affordable.
  *
  * The registered query (q104) reads 1998-Q1 through the two-spec
  * union; at this data shape v1 holds ONLY pre-1998 years, so its
  * year-pruning eliminates it entirely and the scan touches exactly
  * the three 1998 month directories of v2 — the spec pins both
  * witnesses from the filesystem (0 matching v1 dirs, 3 matching v2
  * dirs; the inverse holds for a pre-1998 quarter — 1 year dir,
  * residual month filter) and PLANS.md shows the `PartitionFilters` on each branch.
  * Oracle: the plain monthly recompute from raw orders — evolution
  * must be invisible in the data.
  *
  * Scale posture: directory pruning is metadata-tier on both specs;
  * the residual filter on old-spec data is a codegen'd scan predicate
  * (no shuffle); nothing here collects anything wider than a
  * manifest row. Reference: no storage surface (`Sample.cs:1-264`);
  * SURVEY §2.3 absent category, pure extension.
  */
object PartitionEvolution {

  private def tablePath(s: SparkSession, dir: String): String =
    VersionedStore.storePath(s, "target/graft_table/orders_pevo/L1_", dir,
      Seq("orders.parquet"), "pevo")

  private def orders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), col("o_orderdate").cast("date")
        .as("o_orderdate"))

  /** v1 under spec `p_year` (1995-1997 history), v2 under the evolved
    * spec `(p_year, p_month)` (1998+). */
  private[graft] def ensurePublished(s: SparkSession,
      dir: String): String = {
    val path = tablePath(s, dir)
    Seq(1, 2).filterNot(VersionedStore.isPublished(s, path, _))
      .foreach(publishVersion(s, dir, path, _))
    path
  }

  /** Write version `v`'s data under its own spec and publish its
    * manifest (the [[VersionedStore]] protocol). Data files land via
    * Spark's own `partitionBy`, so the directory layout IS the spec. */
  private[graft] def publishVersion(s: SparkSession, dir: String,
      path: String, v: Int): Unit = {
    val yr = year(col("o_orderdate"))
    val (spec, rows) =
      if (v == 1) (Seq("p_year"),
        orders(s, dir).filter(yr < 1998).withColumn("p_year", yr))
      else (Seq("p_year", "p_month"),
        orders(s, dir).filter(yr >= 1998).withColumn("p_year", yr)
          .withColumn("p_month", month(col("o_orderdate"))))
    val d = s"data_v$v"
    rows.write.mode("overwrite").partitionBy(spec: _*).parquet(s"$path/$d")
    import s.implicits._
    VersionedStore.publish(s, path, v,
      Seq((v, spec.mkString(","), d, rows.count()))
        .toDF("version", "partition_spec", "data_dir", "n_rows"))
  }

  /** Read (year, months ∈ [moLo, moHi]) across both specs, each
    * version planned under its own: v2 prunes both partition
    * columns; v1 prunes the year directory and applies the month as
    * a RESIDUAL row filter (its spec predates the month column). */
  private[graft] def readMonths(s: SparkSession, path: String,
      yr: Int, moLo: Int, moHi: Int): DataFrame = {
    val v1 = s.read.parquet(s"$path/data_v1")
      .filter(col("p_year") === yr &&
        month(col("o_orderdate")).between(moLo, moHi))
      .withColumn("o_month", month(col("o_orderdate")))
    val v2 = s.read.parquet(s"$path/data_v2")
      .filter(col("p_year") === yr && col("p_month").between(moLo, moHi))
      .withColumn("o_month", col("p_month"))
    v1.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_month"))
      .unionByName(v2.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_month")))
  }

  /** Partition directories of version `v` that a (year, month-range)
    * predicate selects — the filesystem-level pruning witness the
    * spec pins (0 for v1 at 1998, 3 for v2 at 1998 Q1). */
  private[graft] def matchingDirs(s: SparkSession, path: String,
      v: Int, yr: Int, moLo: Int, moHi: Int): Seq[String] = {
    val f = VersionedStore.fs(s, path)
    val base = new org.apache.hadoop.fs.Path(s"$path/data_v$v")
    val years = f.listStatus(base).toSeq.map(_.getPath)
      .filter(_.getName == s"p_year=$yr")
    if (v == 1) years.map(_.toString)
    else years.flatMap(y => f.listStatus(y).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("p_month=") &&
        (moLo to moHi).contains(n.stripPrefix("p_month=").toInt) =>
        s"$y/$n" })
  }

  /** q104 — the 1998-Q1 monthly rollup through the two-spec union
    * read. Oracle: the plain recompute — partition evolution must be
    * invisible in the data. */
  def monthlyRead(s: SparkSession, dir: String): DataFrame = {
    val path = ensurePublished(s, dir)
    readMonths(s, path, 1998, 1, 3)
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(28,2)").cast("double").as("total_price"))
      .orderBy(col("o_month"))
  }
}
