package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Full tri-modal MERGE DML on the versioned row store — `WHEN
  * MATCHED [AND cond] DELETE / WHEN MATCHED UPDATE / WHEN NOT MATCHED
  * INSERT` in ONE audited, crash-safe version publish (the Delta
  * `MERGE INTO` / Iceberg `MERGE` statement, public). The q88 tier's
  * merge is mass-ADDITIVE (aggregates only grow); real DML needs the
  * full action set, and the conservation audit changes shape with it:
  * instead of "masses add exactly", the classification itself is the
  * expectation — the published version must carry
  * `rows(v1) + inserts − deletes` rows and the post-image balance
  * mass, both derived from the action frame BEFORE the write and
  * re-checked against the staged files AFTER, then published through
  * [[VersionedStore]] (staging, the publish marker, debris healing,
  * the optimistic head check and the rebase loop live there). The
  * action counts land IN the manifest, so q92-style history reads as
  * a DML ledger (rows in/out per publish).
  *
  * The demo table is the customer dimension keyed `c_custkey`:
  *   - v1 = customers with `c_custkey % 4 != 0` (the pre-existing
  *     table; the %4==0 quarter is "not yet ingested")
  *   - MERGE source = customers with `c_custkey % 2 == 0`, each
  *     carrying a revised balance (`+100.00`) and a close flag
  *     (`c_acctbal < 0` — account closed upstream)
  *   - WHEN MATCHED AND closed  → DELETE
  *   - WHEN MATCHED             → UPDATE (take the revised balance)
  *   - WHEN NOT MATCHED AND NOT closed → INSERT (revised balance)
  *     (a closed row that never existed is a no-op, per MERGE
  *     semantics — WHEN NOT MATCHED only fires its own clauses)
  *
  * One full-outer join on the key classifies every row into
  * keep/update/delete/insert/noop; the new version is the
  * post-image. Deletes REMOVE rows from the new version — the
  * pre-image stays readable via time travel (immutable v1), which is
  * what makes row-level DELETE compatible with an append-only store.
  *
  * q103's change feed is the same classification emitted as rows:
  * insert/update/delete events with post-image values (delete events
  * carry the pre-image balance — the Delta CDF `_change_type`
  * contract, including the delete events q100's additive feed can
  * never produce).
  *
  * Scale posture: ONE co-keyed full-outer join of table × source
  * (bucketed at 100 TB → zero Exchange, the q78 layout), one write
  * of the post-image, one read-back audit aggregate. At 100 TB the
  * post-image write rides the q91 partition-ownership layout
  * (rewrite only partitions the source touches); here the table is
  * dimension-sized and the full rewrite IS the touched set.
  * Reference: no DML surface (`Sample.cs:1-264`); SURVEY §2.3 absent
  * category (storage/DML), pure extension.
  */
object MergeDml {
  import VersionedStore.{head, readVersion}

  private[graft] def tablePath(s: SparkSession, dir: String): String =
    VersionedStore.storePath(s, "target/graft_table/customer_dml/L1_", dir,
      Seq("customer.parquet"), "dml")

  /** Audit the staged post-image against the classification-derived
    * expectation, then publish manifest v with the DML ledger
    * columns. */
  private def auditAndPublish(s: SparkSession, path: String, v: Int,
      dataDir: String, expRows: Long, expMass: java.math.BigDecimal,
      nIns: Long, nUpd: Long, nDel: Long): Unit = {
    val back = s.read.parquet(s"$path/$dataDir")
      .agg(count(lit(1)),
        sum(col("c_acctbal").cast("decimal(18,2)"))
          .cast("decimal(28,2)")).head()
    val (gotRows, gotMass) = (back.getLong(0), back.getDecimal(1))
    require(gotRows == expRows && gotMass.compareTo(expMass) == 0,
      s"DML audit failed for v$v at $path: staged ($gotRows rows, " +
        s"$gotMass mass) expected ($expRows, $expMass) — NOT publishing")
    import s.implicits._
    VersionedStore.publish(s, path, v,
      Seq((v, gotRows, gotMass.toPlainString, dataDir, nIns, nUpd, nDel))
        .toDF("version", "n_rows", "acct_mass", "data_dir",
          "n_inserted", "n_updated", "n_deleted"))
  }

  private def customers(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey").cast("long")
        .as("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"))

  /** The MERGE action of every key, as a frame: full-outer join of
    * table × source with `action ∈ keep|update|delete|insert|noop`.
    * Shared by the merge (post-image = keep∪update∪insert) and the
    * q103 change feed (events = update∪delete∪insert). */
  private def classify(cur: DataFrame, src: DataFrame): DataFrame =
    cur.as("t").join(src.as("s"), Seq("c_custkey"), "full_outer")
      .select(col("c_custkey"),
        when(col("s.s_acctbal").isNull, lit("keep"))
          .when(col("t.c_acctbal").isNull && !col("s.closed"),
            lit("insert"))
          .when(col("t.c_acctbal").isNull, lit("noop"))
          .when(col("s.closed"), lit("delete"))
          .otherwise(lit("update")).as("action"),
        col("t.c_name").as("t_name"), col("t.c_nationkey").as("t_nat"),
        col("t.c_acctbal").as("t_bal"),
        col("s.s_name"), col("s.s_nat"), col("s.s_acctbal"))

  private def mergeSource(s: SparkSession, dir: String): DataFrame =
    customers(s, dir)
      .filter(pmod(col("c_custkey"), lit(2)) === 0)
      .select(col("c_custkey"), col("c_name").as("s_name"),
        col("c_nationkey").as("s_nat"),
        (col("c_acctbal") + lit(100).cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("s_acctbal"),
        (col("c_acctbal") < 0).as("closed"))

  private[graft] def publishBaseAt(s: SparkSession, dir: String,
      path: String): Unit = {
    val base = customers(s, dir)
      .filter(pmod(col("c_custkey"), lit(4)) =!= 0)
    val m = base.agg(count(lit(1)),
      sum(col("c_acctbal")).cast("decimal(28,2)")).head()
    val d = VersionedStore.stage(base, path, "v1")
    auditAndPublish(s, path, 1, d, m.getLong(0), m.getDecimal(1),
      m.getLong(0), 0L, 0L)
  }

  /** One MERGE of [[mergeSource]] into the table at `path`, with
    * OPTIMISTIC RETRY ([[VersionedStore.withRebase]]): a loser
    * RE-CLASSIFIES against the head that won — MERGE actions are
    * defined against the table as it IS, so rebasing is re-running the
    * classification, never replaying stale actions — re-audits and
    * re-publishes. Returns the published version. */
  private[graft] def mergeStepAt(s: SparkSession, dir: String,
      path: String, maxRetries: Int = 3,
      beforePublish: Int => Unit = _ => ()): Int =
    VersionedStore.withRebase(s, path, maxRetries, beforePublish) { h =>
      val cls = classify(readVersion(s, path, h), mergeSource(s, dir))
        .cache()
      val post = cls.filter(col("action").isin("keep", "update", "insert"))
        .select(col("c_custkey"),
          coalesce(col("t_name"), col("s_name")).as("c_name"),
          coalesce(col("t_nat"), col("s_nat")).as("c_nationkey"),
          when(col("action") === "keep", col("t_bal"))
            .otherwise(col("s_acctbal")).cast("decimal(18,2)")
            .as("c_acctbal"))
      // the expectation IS the classification: materialize it ONCE
      // (branch-drift rule: a value consumed by two plan branches is
      // computed once, not twice)
      val e = cls.agg(
        sum(when(col("action") === "insert", 1L).otherwise(0L)),
        sum(when(col("action") === "update", 1L).otherwise(0L)),
        sum(when(col("action") === "delete", 1L).otherwise(0L)),
        sum(when(col("action") === "keep", 1L).otherwise(0L)),
        sum(when(col("action") === "keep", col("t_bal"))
          .when(col("action").isin("update", "insert"),
            col("s_acctbal"))
          .otherwise(lit(0).cast("decimal(18,2)")))
          .cast("decimal(28,2)")).head()
      val (nIns, nUpd, nDel, nKeep) =
        (e.getLong(0), e.getLong(1), e.getLong(2), e.getLong(3))
      val d = VersionedStore.stage(post, path, s"v${h + 1}")
      cls.unpersist()
      (d, () => auditAndPublish(s, path, h + 1, d, nKeep + nUpd + nIns,
        e.getDecimal(4), nIns, nUpd, nDel))
    }

  private def ensureMerged(s: SparkSession, dir: String): String = {
    val path = tablePath(s, dir)
    if (head(s, path) < 1) publishBaseAt(s, dir, path)
    if (head(s, path) < 2) { mergeStepAt(s, dir, path); () }
    path
  }

  /** q102 — the merged table as a reader sees it (head version).
    * Oracle: the closed-form recompute — MERGE semantics collapse to
    * one SELECT over raw customers (kept ∪ updated ∪ inserted with
    * the revised balance; closed even-keys gone) — so the engine's
    * join-classify-stage-audit-publish chain must reproduce it
    * row-for-row. */
  def mergedCustomers(s: SparkSession, dir: String): DataFrame = {
    val path = ensureMerged(s, dir)
    readVersion(s, path, head(s, path))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal").cast("double").as("acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** q103 — the merge's CHANGE DATA FEED: one event row per
    * non-noop action with post-image values (deletes carry the
    * pre-image balance — there is no post-image to carry). The
    * delete events are the point: q100's additive feed can never
    * emit them; full DML needs `_change_type ∈
    * insert|update|delete`. */
  def dmlChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val path = ensureMerged(s, dir)
    classify(readVersion(s, path, 1), mergeSource(s, dir))
      .filter(col("action").isin("insert", "update", "delete"))
      .select(col("c_custkey"), col("action").as("change"),
        when(col("action") === "delete", col("t_bal"))
          .otherwise(col("s_acctbal")).cast("double").as("acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** q105 — the merge's change feed in the FULL CDF vocabulary:
    * `_change_type ∈ insert | update_preimage | update_postimage |
    * delete` (the Delta change-data-feed contract, public). q103's
    * post-image-only events cannot maintain a downstream SUM — an
    * update's contribution to an aggregate is `post − pre`, so the
    * feed must carry BOTH images as separate rows. With them, every
    * event row reduces to one SIGNED delta (insert → +post, delete →
    * −pre, update_preimage → −pre, update_postimage → +post) and a
    * downstream materialized view is a plain streaming aggregation
    * of the feed — no custom state at all ([[dmlMvStream]];
    * spec-pinned equal to the v2−v1 recompute).
    */
  def dmlChangeFeedCdf(s: SparkSession, dir: String): DataFrame = {
    val path = ensureMerged(s, dir)
    val cls = classify(readVersion(s, path, 1), mergeSource(s, dir))
    val ins = cls.filter(col("action") === "insert")
      .select(col("c_custkey"), lit("insert").as("change"),
        col("s_nat").as("c_nationkey"),
        col("s_acctbal").cast("double").as("acctbal"))
    val del = cls.filter(col("action") === "delete")
      .select(col("c_custkey"), lit("delete").as("change"),
        col("t_nat").as("c_nationkey"),
        col("t_bal").cast("double").as("acctbal"))
    val updPre = cls.filter(col("action") === "update")
      .select(col("c_custkey"), lit("update_preimage").as("change"),
        col("t_nat").as("c_nationkey"),
        col("t_bal").cast("double").as("acctbal"))
    val updPost = cls.filter(col("action") === "update")
      .select(col("c_custkey"), lit("update_postimage").as("change"),
        col("s_nat").as("c_nationkey"),
        col("s_acctbal").cast("double").as("acctbal"))
    ins.unionByName(del).unionByName(updPre).unionByName(updPost)
      .orderBy(col("c_custkey"), col("change"))
  }

  /** The streaming MV consumer of the CDF: per-nation NET change of
    * (account count, balance mass) maintained as a plain streaming
    * aggregation over signed event deltas — the reason the feed
    * carries pre-images. Batch-parity: the final state equals the
    * v2−v1 per-nation diff exactly (Round15OpsSpec). Scale posture:
    * one shuffle on the group key, state = O(nations); the feed
    * itself arrives pre-sharded by the CDF's version/file layout. */
  def dmlMvStream(feed: DataFrame): DataFrame = {
    val sign = when(col("change").isin("insert", "update_postimage"),
      lit(1)).otherwise(lit(-1))
    feed.groupBy(col("c_nationkey"))
      .agg(sum(when(col("change") === "insert", 1L)
          .when(col("change") === "delete", -1L).otherwise(0L))
          .as("n_accounts_delta"),
        sum(sign * col("acctbal").cast("decimal(18,2)"))
          .cast("decimal(28,2)").as("balance_delta"))
  }

  /** The DML ledger (manifest history) — spec surface. */
  private[graft] def history(s: SparkSession, dir: String): DataFrame =
    VersionedStore.manifests(s, ensureMerged(s, dir)).drop("data_dir")
      .orderBy(col("version"))
}
