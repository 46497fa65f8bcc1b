package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Bucketed table layout — the write-once-shuffle-never join strategy
  * for the 100 TB fact⋈fact case (SURVEY §2.3 "physical layout"
  * category; reference scope: the reference has no layout control at
  * all, its reducer re-reads everything per query — Sample.cs:21-35).
  *
  * A shuffle-free equi-join needs both sides hash-CLUSTERED on the
  * join key with the SAME partitioning. `repartition` buys that for
  * one query and throws it away; BUCKETING persists it in the table
  * layout: `bucketBy(n, key)` + `sortBy(key)` writes each output task
  * into per-bucket files, and every later reader gets
  * `HashPartitioning(key, n)` + per-bucket ordering FROM THE SCAN —
  * Catalyst's EnsureRequirements then inserts NO Exchange and NO Sort
  * under a sort-merge join of two same-bucketed tables. At 100 TB this
  * converts every orders⋈lineitem query from a 2-sided full shuffle
  * (the single largest network cost in the plan) into a co-located
  * merge; the one-time layout cost amortizes across the query history.
  *
  * Mechanics pinned by BucketedLayoutSpec:
  *   - we `repartition(n, key)` BEFORE `bucketBy(n, key)`: the
  *     repartition's HashPartitioning is the same murmur3 hash the
  *     bucket spec uses, so each write task holds exactly one bucket
  *     → ONE FILE PER BUCKET (spec-pinned). NOTE on the residual Sort:
  *     since SPARK-28595 the scan does NOT propagate `sortBy` ordering
  *     (it's behind `spark.sql.legacy.bucketedTableScan.outputOrdering`
  *     because a reader may split one bucket file across tasks), so
  *     the plan keeps a NARROW per-partition Sort under the SMJ. That
  *     sort is local CPU over already-co-located rows — no network, no
  *     repartitioning — and on sorted bucket files it's a near-linear
  *     pass; the eliminated Exchange is where the 100 TB cost was. A
  *     deployment that pins one-file-per-bucket can flip the legacy
  *     conf and drop the Sort too.
  *   - both tables use the SAME bucket count — differing counts
  *     shuffle the smaller side (Spark can't split buckets).
  *   - the join carries a `hint("merge")`: at test scale AQE would
  *     otherwise broadcast the small side and hide the property under
  *     test; at 100 TB neither fact side is broadcastable and SMJ is
  *     what the planner picks anyway.
  *
  * Catalog durability: the session catalog here is in-memory, so table
  * METADATA dies with the session and `ensure` rebuilds on first use
  * per JVM (mode overwrite — idempotent). A deployment pins the same
  * `saveAsTable` calls at a real metastore and the layout becomes
  * genuinely write-once. Bucket count 8 keeps test files sane; a
  * 100 TB table wants O(10³-10⁴) buckets sized to executor memory.
  *
  * Table names follow [[VersionedStore]]'s one store-identity rule
  * (`storePath`), so each dir and snapshot gets its own pair.
  */
object BucketedLayout {

  val NumBuckets = 8

  /** Create the bucketed twins of orders/lineitem for this sf dir if
    * this session hasn't yet. Both names carry the pair's identity
    * over both tables, in the catalog's form (`.` mapped to `_`,
    * lower case, as the managed table's location is).
    */
  def ensure(s: SparkSession, dir: String): (String, String) = {
    def name(table: String) = VersionedStore.storePath(s, s"graft_${table}_",
      dir, Seq("orders.parquet", "lineitem.parquet"), s"bkt$NumBuckets")
      .replace('.', '_').toLowerCase
    val (oT, lT) = (name("orders"), name("lineitem"))
    // in-memory catalog: a PREVIOUS JVM's managed-table files survive
    // on disk while the catalog entry died with it — CREATE then fails
    // with LOCATION_ALREADY_EXISTS. The orphaned location is ours
    // (warehouse path derived from the table name we own), so drop it
    // and rebuild. Hadoop FS, not java.io — the r12 IndexStore lesson.
    def clearOrphan(t: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(VersionedStore.warehouse(s), t)
      VersionedStore.fs(s, p.toString).delete(p, true)
    }
    if (!s.catalog.tableExists(oT)) {
      clearOrphan(oT)
      Tables.orders(s, dir)
        .repartition(NumBuckets, col("o_orderkey"))
        .write.bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(oT)
    }
    if (!s.catalog.tableExists(lT)) {
      clearOrphan(lT)
      Tables.lineitem(s, dir)
        .repartition(NumBuckets, col("l_orderkey"))
        .write.bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(lT)
    }
    (oT, lT)
  }

  /** q78 — revenue by order priority through the BUCKETED
    * orders⋈lineitem join: the scan-satisfied sort-merge join (zero
    * Exchange below the join — spec-pinned; a narrow in-partition Sort
    * remains, see the class doc), then one small agg shuffle on the
    * 5-value priority key. Result is layout-
    * independent, so the oracle runs the logically identical join over
    * the plain parquet views — same rows proves the layout machinery
    * changed the PLAN, not the ANSWER.
    *
    * Numeric contract: revenue terms fold as DECIMAL(18,4) on both
    * engines (q58 convention — the per-term double product is IEEE-
    * identical, decimal addition is exact and associative, so merge
    * order can't drift the sum); only the final total casts to double,
    * and sf0.1's total (~1e9, 4 dp → ~1e13 scaled units) sits well
    * inside double's 2^53 exact-integer range.
    */
  def revenueByPriority(s: SparkSession, dir: String): DataFrame = {
    val (oT, lT) = ensure(s, dir)
    val o = s.table(oT).select(col("o_orderkey"), col("o_orderpriority"))
    val l = s.table(lT).select(col("l_orderkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)").as("rev"))
    o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }
}
