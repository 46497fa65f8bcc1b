package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables

/** q88 — write-audit-publish MERGE/upsert into a VERSIONED persisted
  * table (r13 verdict #5): the lakehouse maintenance primitive the
  * 100 TB story needs — a base snapshot is published, a delta is
  * merged in, and readers NEVER see a half-written state because a
  * version becomes visible only when its manifest lands, and the
  * manifest lands only after the written files are read back and
  * audited. Builds on q74's mergeability gate (the audit re-derives
  * the new version's mass from the previous manifest + the delta and
  * requires exact conservation) and the persisted-index manifest-last
  * convention, generalized to MULTIPLE immutable versions.
  *
  * Storage is the [[VersionedStore]] protocol (staged writer-unique
  * `data_vN_<token>/` directories, append-only `manifest_vN/` rows
  * naming them, the publish marker, debris healing, the optimistic
  * head check and the rebase loop): this file keeps the merge, its
  * mass audit and its manifest columns (version, n_rows, orders_mass,
  * price_mass, data_dir). Manifests are append-only — publishing N
  * never touches N−1, so time travel falls out free. Concurrent
  * writers rebase: the loser re-reads the NEW head, re-derives the
  * merge, re-audits and re-publishes, so interleaved writers both land
  * and the final mass audit carries BOTH deltas (spec-pinned with an
  * injected interleaving). Orphaned staged directories (crashed or
  * rebased writers) are invisible to every reader and removed by
  * [[expireVersions]].
  *
  * Scale posture: the merge is ONE full-outer join of the current
  * version with the delta summary, both keyed on the merge key (at
  * 100 TB both sides are bucketed by o_custkey — zero-Exchange, the
  * q78 layout); the audit reads ONE manifest row plus the new
  * version's own aggregate (group-cardinality-sized, not fact-sized);
  * nothing ever rewrites history. Reference behavior for the family
  * cited at `Sample.cs:1-264` (the reference has no table-maintenance
  * surface; SURVEY §2.3 absent category).
  *
  * Exactness: counts are bigint; money is decimal(18,2)-cast (exact
  * for the 2 dp generator values) summed as exact decimal and merged
  * by exact decimal addition — the merged totals are bit-identical to
  * the oracle's full recompute; the one double appears at the final
  * output cast. `last_orderdate` is a max of dates. The merged total
  * is re-normalized to decimal(28,2) (sum type of the slices) —
  * exact below 1e26 cents, i.e. always.
  */
object LakehouseMerge {
  import VersionedStore.{head, readVersion}

  // layout L2 (r15): staged data_vN_<token> dirs + manifest data_dir
  // column — a path bump so stores persisted under the v=N layout are
  // simply abandoned, never half-read
  private def tablePath(s: SparkSession, dir: String, mod: Int): String =
    VersionedStore.storePath(s, "target/graft_table/orders_summary/L2_",
      dir, Seq("orders.parquet"), s"m$mod")

  private def evoTablePath(s: SparkSession, dir: String): String =
    VersionedStore.storePath(s, "target/graft_table/orders_summary_evo/L2_",
      dir, Seq("orders.parquet"), "evo")

  private[graft] def optTablePath(s: SparkSession, dir: String): String =
    VersionedStore.storePath(s, "target/graft_table/orders_summary_opt/L2_",
      dir, Seq("orders.parquet"), "opt")

  /** Read version `v` UNDER a (possibly newer) schema: columns the
    * version predates come back as typed nulls — the Iceberg/Delta
    * read-schema-merge primitive, what makes time travel work across
    * a schema-evolution boundary (q95/q96). */
  private[graft] def readVersionAs(s: SparkSession, path: String,
      v: Int, schema: StructType): DataFrame = {
    val df = readVersion(s, path, v)
    val filled = schema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    filled.select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** TIMESTAMP-based time travel (the Delta `TIMESTAMP AS OF` /
    * Iceberg snapshot-at-timestamp primitive, public): the newest
    * version whose PUBLISH instant is ≤ `ts` ([[VersionedStore.head]]
    * with `asOf`) — no manifest schema change is needed, and the
    * mapping is exactly "what a reader at that wall-clock moment saw".
    * A `ts` before the first publish throws (no table existed).
    * O(versions) metadata probes, no data touched until the read.
    * Deterministic given the store's history, but wall-clock-keyed —
    * spec-driven (Round15OpsSpec brackets each publish with clock
    * readings), not oracle-registered. */
  private[graft] def versionAsOf(s: SparkSession, path: String,
      ts: Long): Int = {
    val v = head(s, path, asOf = ts)
    require(v > 0, s"no version of $path was published at or before $ts")
    v
  }

  private[graft] def readTableAsOf(s: SparkSession, path: String,
      ts: Long): DataFrame =
    readVersion(s, path, versionAsOf(s, path, ts))

  /** Snapshot RETENTION: expire every version older than the newest
    * `keepLast` (Iceberg `expire_snapshots` / Delta log retention,
    * public) — the q94 argument on THIS store: version history is
    * time travel, and unbounded history is unbounded storage. Order
    * is manifest-first, data-second: deleting `manifest_vN` makes
    * time travel to vN fail CLEANLY at resolution (the q94 reader
    * contract) before any data byte disappears, and the data pass is
    * a SWEEP — every `data_v*` directory named by NO surviving
    * manifest goes — so a crash between the two phases leaves only
    * orphans the next run's sweep reclaims (idempotent by
    * construction). Readers of retained versions are untouched:
    * their staged dirs are named by surviving manifests and never
    * swept. Returns (manifests expired, data dirs reclaimed).
    *
    * Scale posture: O(versions) manifest reads + one directory
    * listing — metadata-tier; the deletes are proportional to
    * expired data, the point of running it. */
  private[graft] def expireVersions(s: SparkSession, path: String,
      keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must retain at least the head")
    val f = VersionedStore.fs(s, path)
    val h = head(s, path)
    require(h >= 1, s"no published version at $path")
    val cutoff = h - keepLast + 1
    val expired =
      (1 until cutoff).filter(VersionedStore.isPublished(s, path, _))
    expired.foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(
        VersionedStore.manifestDir(path, v)), true)
    }
    val survivors = (1 to h).filter(VersionedStore.isPublished(s, path, _))
      .map(VersionedStore.dataDirOf(s, path, _)).toSet
    val orphans = f.listStatus(new org.apache.hadoop.fs.Path(path))
      .toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("data_v") &&
        !survivors.contains(p.getName))
    orphans.foreach(p => f.delete(p, true))
    (expired.size, orphans.size)
  }

  /** Drop the persisted table for `dir` entirely (bench cold-path
    * probe; Hadoop FS so cluster paths work). */
  def invalidateOrdersSummary(s: SparkSession, dir: String,
      mod: Int = 3): Unit = {
    val path = tablePath(s, dir, mod)
    VersionedStore.fs(s, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }

  /** The published view of the table: resolves the manifest head,
    * then reads that version's files. */
  def readTable(s: SparkSession, path: String): DataFrame = {
    val v = head(s, path)
    require(v > 0, s"no published version at $path")
    readVersion(s, path, v)
  }

  /** AUDIT then PUBLISH version `v` from its staged directory: read
    * the just-written files BACK from storage, compare (rows,
    * orders_mass, price_mass) against the caller's expectation, and
    * only then publish `manifest_vN` naming `dataDir`. A failed audit
    * throws with both sides — the staged files are inert. A moved
    * head (or a lost manifest-write race) throws
    * [[VersionedStore.PublishConflictException]] — rebase and retry. */
  private[graft] def auditAndPublish(s: SparkSession, path: String, v: Int,
      dataDir: String, expRows: Long, expOrders: Long,
      expPrice: java.math.BigDecimal): Unit = {
    val back = s.read.parquet(s"$path/$dataDir")
      .agg(count(lit(1)).as("n_rows"), sum(col("n_orders")).as("om"),
        sum(col("total_dec")).as("pm")).head()
    val (gotRows, gotOrders) = (back.getLong(0), back.getLong(1))
    val gotPrice = back.getDecimal(2)
    require(gotRows == expRows && gotOrders == expOrders &&
      gotPrice.compareTo(expPrice) == 0,
      s"audit failed for v$v at $path: read back ($gotRows rows, " +
        s"$gotOrders orders, $gotPrice) expected ($expRows, $expOrders, " +
        s"$expPrice) — NOT publishing")
    import s.implicits._
    VersionedStore.publish(s, path, v,
      Seq((v, gotRows, gotOrders, gotPrice.toPlainString, dataDir))
        .toDF("version", "n_rows", "orders_mass", "price_mass", "data_dir"))
  }

  private def readManifestRow(s: SparkSession, path: String,
      v: Int): (Long, Long, java.math.BigDecimal) = {
    val r = VersionedStore.manifest(s, path, v).head()
    (r.getLong(1), r.getLong(2), new java.math.BigDecimal(r.getString(3)))
  }

  private def summarize(o: DataFrame): DataFrame =
    o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(28,2)").as("total_dec"),
        max(col("o_orderdate").cast("date")).as("last_orderdate"))

  private def massOf(summary: DataFrame):
      (Long, Long, java.math.BigDecimal) = {
    val r = summary.agg(count(lit(1)).as("n"), sum(col("n_orders")),
      sum(col("total_dec")).cast("decimal(38,2)")).head()
    (r.getLong(0), r.getLong(1), r.getDecimal(2))
  }

  /** The MERGE: matched customers add their masses (decimal-exact)
    * and take the later date; unmatched insert as-is. greatest()
    * ignores nulls on the outer join's unmatched sides. When either
    * side carries the evolved `n_urgent` column (q95), it merges
    * additively like the other masses, EXCEPT that a row no
    * post-evolution write ever touched keeps NULL — the lakehouse
    * no-backfill semantic (old rows read as null through the new
    * schema, they are not silently zero). */
  private[graft] def mergeInto(current: DataFrame,
      delta: DataFrame): DataFrame = {
    val evolved = current.columns.contains("n_urgent") ||
      delta.columns.contains("n_urgent")
    def withUrgent(df: DataFrame): DataFrame =
      if (df.columns.contains("n_urgent")) df
      else df.withColumn("n_urgent", lit(null).cast("bigint"))
    val (c, d) =
      if (evolved) (withUrgent(current), withUrgent(delta))
      else (current, delta)
    val base = c.as("c").join(d.as("d"), Seq("o_custkey"), "full_outer")
    val cols = Seq(col("o_custkey"),
      (coalesce(col("c.n_orders"), lit(0L)) +
        coalesce(col("d.n_orders"), lit(0L))).as("n_orders"),
      (coalesce(col("c.total_dec"), lit(0).cast("decimal(28,2)")) +
        coalesce(col("d.total_dec"), lit(0).cast("decimal(28,2)")))
        .cast("decimal(28,2)").as("total_dec"),
      greatest(col("c.last_orderdate"), col("d.last_orderdate"))
        .as("last_orderdate")) ++
      (if (evolved) Seq(
        when(col("c.n_urgent").isNull && col("d.n_urgent").isNull,
          lit(null).cast("bigint"))
          .otherwise(coalesce(col("c.n_urgent"), lit(0L)) +
            coalesce(col("d.n_urgent"), lit(0L))).as("n_urgent"))
      else Nil)
    base.select(cols: _*)
  }

  /** Merge a summarized `delta` into the table under
    * write-audit-publish with OPTIMISTIC RETRY
    * ([[VersionedStore.withRebase]], r14 verdict #6): a loser re-reads
    * the NEW head, re-derives the merge against it, re-audits and
    * re-publishes — so every writer's delta lands exactly once and the
    * manifest chain's mass audit carries all of them. Returns the
    * version this writer published. */
  private[graft] def mergeDeltaWithRebase(s: SparkSession, path: String,
      delta: DataFrame, maxRetries: Int = 3,
      beforePublish: Int => Unit = _ => ()): Int = {
    val (_, omD, pmD) = massOf(delta)
    VersionedStore.withRebase(s, path, maxRetries, beforePublish) { h =>
      val merged = mergeInto(readVersion(s, path, h), delta)
      val dataDir = VersionedStore.stage(merged, path, s"v${h + 1}")
      val (_, omH, pmH) = readManifestRow(s, path, h)
      val expRows = merged.count()
      (dataDir, () => auditAndPublish(s, path, h + 1, dataDir, expRows,
        omH + omD, pmH.add(pmD)))
    }
  }

  /** First publish of a table: summarize, stage, audit, publish v1. */
  private def publishBaseVersion(s: SparkSession, path: String,
      base: DataFrame): Unit = {
    val (r, om, pm) = massOf(base)
    val dataDir = VersionedStore.stage(base, path, "v1")
    auditAndPublish(s, path, 1, dataDir, r, om, pm)
  }

  /** q88's STREAMING form — continuous lakehouse ingest: every
    * micro-batch of a live orders feed runs the SAME summarize →
    * merge → stage → audit → publish cycle against the current
    * manifest head, so the versioned table advances one audited,
    * crash-safe version per non-empty batch and a reader at any
    * moment sees a complete published snapshot (never a half-merged
    * batch). Because the merge is mass-ADDITIVE (exact decimal sums,
    * max dates), the final table is independent of how the feed was
    * batched — StreamingSpec asserts equality with the one-shot batch
    * recompute over the whole feed, and that each intermediate
    * version was published in sequence.
    *
    * foreachBatch is the right sink: the merge needs the previous
    * VERSION (a table read), the conservation audit, and a
    * manifest publish — per-batch actions outside what a streaming
    * aggregate state can express. Restart semantics: a batch
    * replayed after a crash re-runs its merge against the head it
    * finds; the optimistic head check + rebase makes the publish
    * safe, and a batch that fully published before the crash
    * re-merges as a no-op only if the caller's feed is exactly-once —
    * otherwise use the checkpointed batchId to skip (documented, not
    * defaulted: dedup-on-replay is a feed contract, not plan logic).
    */
  def upsertOrdersStream(streamOrders: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    upsertStream(streamOrders, path, batch => summarize(batch
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))))

  /** Every non-empty micro-batch: summarize, then publish it as the
    * base version or merge it into the head. */
  private def upsertStream(stream: DataFrame, path: String,
      summarizeBatch: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val delta = summarizeBatch(batch).cache()
          if (head(s, path) == 0)
            publishBaseVersion(s, path, delta)
          else
            mergeDeltaWithRebase(s, path, delta)
          delta.unpersist()
          ()
        }
    }

  /** q95's STREAMING form — schema evolution under CONTINUOUS ingest
    * (the writer-upgrade-mid-life rollout): the table's early versions
    * were published by a writer that didn't know `n_urgent`; this is
    * the UPGRADED writer — every micro-batch summarizes WITH the
    * evolved column and merges into whatever head it finds, widening
    * the schema in place on its first publish ([[mergeInto]]'s
    * read-schema-merge branch: pre-evolution rows stay NULL, never
    * zero-filled). Same foreachBatch + rebase contract as
    * [[upsertOrdersStream]]; StreamingSpec pins that streaming the
    * post-upgrade feed over a pre-evolution base equals the one-shot
    * batch evolution row-for-row, nulls included.
    */
  def upsertOrdersStreamEvolved(streamOrders: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    upsertStream(streamOrders, path, batch => summarizeUrgent(batch
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))))

  /** q89 — TIME-TRAVEL version diff: read versions 1 and 2 of the
    * published table CONCURRENTLY (immutable staged directories make
    * this free — publishing v2 never touched v1's files) and emit the
    * per-customer change report: customers INSERTED by the merge and
    * customers UPDATED, with their exact order-count and price deltas.
    * This is the snapshot-diff primitive (d31's shape, on the
    * versioned table store): an incremental downstream consumer reads
    * the delta between two published versions instead of re-scanning
    * the table. Runs the q88 flow first if the table is unpublished
    * (warm runs resolve manifests only).
    *
    * Exactness: deltas are exact bigint/decimal differences of
    * version rows; the oracle recomputes them from the raw slices —
    * conservation must hold through both publishes for the hashes to
    * agree. Deletes cannot occur in this merge (it only adds mass),
    * so every changed row classifies as insert or update.
    *
    * Scale posture: one full-outer join of two versions co-keyed on
    * the merge key (bucketed at 100 TB → zero Exchange, the q78
    * layout); nothing touches the fact table.
    */
  def versionDiff(s: SparkSession, dir: String, mod: Int = 3): DataFrame = {
    upsertOrdersSummary(s, dir, mod) // ensure v1+v2 are published
    val path = tablePath(s, dir, mod)
    changedRows(readVersion(s, path, 2), readVersion(s, path, 1))
      .orderBy(col("o_custkey"))
  }

  /** The rows a publish touched, from version `cur` over its
    * predecessor `prev`: a customer absent from `prev` is an insert, a
    * changed `n_orders` an update (the merge only adds mass, so
    * "touched" ≡ "n_orders grew" and deletes cannot occur), with exact
    * bigint/decimal deltas — and the `n_urgent` delta, null-filled
    * history counting as zero, when `cur` carries the evolved column.
    * Shared by q89, q96 and q100. */
  private def changedRows(cur: DataFrame, prev: DataFrame): DataFrame =
    cur.as("b").join(prev.as("a"), Seq("o_custkey"), "left")
      .filter(col("a.n_orders").isNull ||
        col("b.n_orders") =!= col("a.n_orders"))
      .select(Seq(col("o_custkey"),
        when(col("a.n_orders").isNull, lit("insert"))
          .otherwise(lit("update")).as("change"),
        (col("b.n_orders") - coalesce(col("a.n_orders"), lit(0L)))
          .as("n_orders_delta"),
        (col("b.total_dec") -
          coalesce(col("a.total_dec"), lit(0).cast("decimal(28,2)")))
          .cast("double").as("price_delta")) ++
        (if (!cur.columns.contains("n_urgent")) Nil
        else Seq((coalesce(col("b.n_urgent"), lit(0L)) -
          coalesce(col("a.n_urgent"), lit(0L))).as("n_urgent_delta"))): _*)

  /** q92 — table HISTORY: the audit log of every published version
    * (the DESCRIBE HISTORY primitive of a lakehouse table) read
    * straight from the append-only manifests — version, row count,
    * and the conserved masses, one row per publish. Because manifests
    * are immutable and publish-last, this is a metadata-only scan
    * (head-count manifest files, one row each — never the data), and
    * because each manifest's masses were AUDITED against the previous
    * manifest + delta at publish time, the history doubles as the
    * table's conservation ledger: the oracle recomputes every
    * version's masses from the raw slices and all must agree.
    *
    * Exactness: counts bigint; price mass is the manifest's exact
    * decimal string rendered to double at the output boundary (same
    * nearest-double both engines). Runs the q88 flow first if the
    * table is unpublished.
    */
  def tableHistory(s: SparkSession, dir: String, mod: Int = 3): DataFrame = {
    upsertOrdersSummary(s, dir, mod) // ensure v1+v2 are published
    VersionedStore.manifests(s, tablePath(s, dir, mod))
      .select(col("version"), col("n_rows"), col("orders_mass"),
        col("price_mass").cast("double").as("price_mass"))
      .orderBy(col("version"))
  }

  /** The registered q88: publish a v1 base snapshot (orders with
    * o_orderkey % mod != 0 summarized per customer), MERGE the
    * remaining slice in as v2 under write-audit-publish (through the
    * rebase loop — uncontended here, it publishes first try), and
    * return the table AS A READER SEES IT (through the manifest
    * head) — which the oracle checks against a full recompute over
    * ALL orders: conservation end-to-end, through two publishes and
    * a crash-safe merge. Warm runs resolve the manifest head and go
    * straight to the read.
    */
  def upsertOrdersSummary(s: SparkSession, dir: String,
      mod: Int = 3): DataFrame = {
    val path = tablePath(s, dir, mod)
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    if (head(s, path) < 1)
      publishBaseVersion(s, path, summarize(
        orders.filter(pmod(col("o_orderkey"), lit(mod)) =!= 0)))
    if (head(s, path) < 2)
      mergeDeltaWithRebase(s, path, summarize(
        orders.filter(pmod(col("o_orderkey"), lit(mod)) === 0)))
    readTable(s, path)
      .select(col("o_custkey"), col("n_orders"),
        col("total_dec").cast("double").as("total_price"),
        col("last_orderdate"))
      .orderBy(col("o_custkey"))
  }

  /** q97 — OPTIMIZE: file compaction + range-clustering as a VERSION
    * PUBLISH, completing the store's maintenance triad (q88 merge,
    * q94 vacuum, q97 optimize — Delta OPTIMIZE / Iceberg
    * rewrite_data_files, public). A streaming-ingested table drifts
    * into many small, unordered files (every micro-batch publish
    * writes at the session's shuffle parallelism); OPTIMIZE publishes
    * a new version with the IDENTICAL rows laid out right: bin-packed
    * into few files, range-clustered + sorted on the access key, so
    * downstream point/range reads prune to one file by parquet
    * min/max instead of opening all of them. Because it rides the
    * same write-audit-publish path, the rewrite is crash-safe (an
    * unpublished optimize is invisible) and PROVABLY data-preserving:
    * the audit expects exactly the previous manifest's masses — any
    * dropped or duplicated row fails the publish. Readers of the old
    * version are untouched (immutable staged dirs); the superseded
    * fragmented files are q94-vacuum's concern, not OPTIMIZE's.
    *
    * The registered query returns the reader view through the head —
    * oracled against the full recompute (the layout must be
    * invisible in the data for the hash to agree); the file-count
    * drop, per-file key-range disjointness (the pruning evidence),
    * and empty version-diff are spec-pinned (Round15OpsSpec).
    *
    * Scale posture: ONE pruned read of the fragmented version and one
    * range-shuffle write, proportional to the optimized version's
    * size — and at 100 TB, OPTIMIZE runs per-partition on the q91
    * partition-owned layout, compacting only partitions whose
    * small-file count crossed a threshold (the q91 cost argument:
    * touched partitions only). Reference: no maintenance surface
    * (`Sample.cs:1-264`; SURVEY §2.3 absent category).
    */
  def optimizedSummary(s: SparkSession, dir: String,
      targetFiles: Int = 2): DataFrame = {
    val path = optTablePath(s, dir)
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    if (head(s, path) < 1)
      // v1 deliberately FRAGMENTED: written at high parallelism — the
      // small-files state continuous ingest drifts into
      publishBaseVersion(s, path, summarize(orders).repartition(64))
    if (head(s, path) < 2) {
      val current = readVersion(s, path, 1)
      val optimized = current
        .repartitionByRange(targetFiles, col("o_custkey"))
        .sortWithinPartitions(col("o_custkey"))
      val (r1, om1, pm1) = readManifestRow(s, path, 1)
      val dataDir = VersionedStore.stage(optimized, path, "v2")
      // data-preserving by audit: v2 must carry v1's masses EXACTLY
      auditAndPublish(s, path, 2, dataDir, r1, om1, pm1)
    }
    readTable(s, path)
      .select(col("o_custkey"), col("n_orders"),
        col("total_dec").cast("double").as("total_price"),
        col("last_orderdate"))
      .orderBy(col("o_custkey"))
  }

  /** The delta whose schema EVOLVES the table (q95): alongside the
    * standard masses it carries `n_urgent` — the count of
    * '1-URGENT'-priority orders in the delta slice. */
  private def summarizeUrgent(o: DataFrame): DataFrame =
    o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(28,2)").as("total_dec"),
        max(col("o_orderdate").cast("date")).as("last_orderdate"),
        sum(when(col("o_orderpriority").startsWith("1-"), 1L)
          .otherwise(0L)).cast("bigint").as("n_urgent"))

  /** q95 — SCHEMA EVOLUTION on the versioned store (r14 verdict #7):
    * real tables add columns mid-life. This table publishes v1 and v2
    * under the original summary schema, then v3's delta arrives with
    * a NEW nullable column (`n_urgent`) — the merge widens the
    * table's schema in place: rows the post-evolution write touched
    * carry the value, rows it never touched read as NULL (the
    * Iceberg/Delta no-backfill semantic — old data is never silently
    * rewritten or zero-filled), and time travel to pre-evolution
    * versions still works, with the missing column null-filled on
    * read ([[readVersionAs]] — the read-schema-merge primitive;
    * spec-pinned, and q96 exercises it across the boundary).
    *
    * The registered query returns the evolved head as a reader sees
    * it; the oracle recomputes it from raw orders — `n_urgent` is the
    * urgent count within the post-evolution slice for customers that
    * slice touched, NULL for everyone else. All-integer + exact
    * decimal: bit-exact. Three thirds of the orders land as v1
    * (keys ≡1 mod 3), v2 (≡2), v3 (≡0, evolved).
    */
  def evolvedOrdersSummary(s: SparkSession, dir: String): DataFrame = {
    val path = evoTablePath(s, dir)
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    def slice(k: Int) = orders.filter(pmod(col("o_orderkey"), lit(3)) === k)
    if (head(s, path) < 1)
      publishBaseVersion(s, path, summarize(slice(1)))
    if (head(s, path) < 2)
      mergeDeltaWithRebase(s, path, summarize(slice(2)))
    if (head(s, path) < 3)
      mergeDeltaWithRebase(s, path, summarizeUrgent(slice(0)))
    readTable(s, path)
      .select(col("o_custkey"), col("n_orders"),
        col("total_dec").cast("double").as("total_price"),
        col("last_orderdate"), col("n_urgent"))
      .orderBy(col("o_custkey"))
  }

  /** q100 — CHANGE DATA FEED: the row-level change log of the WHOLE
    * version chain, v1 through head, as one ordered relation — the
    * Delta CDF / Iceberg changelog-scan primitive (public). Each row
    * is (version, key, change, deltas): version 1 emits every base
    * row as an insert; each later version emits the rows its publish
    * touched, classified insert/update. This is the incremental-
    * consumer surface in full generality — a downstream materialized
    * view replays the feed from any version it has already absorbed
    * instead of re-scanning the table, and the feed crosses the q95
    * schema-evolution boundary: every version is read UNDER the head
    * schema ([[readVersionAs]]), so the evolved column's delta is
    * well-defined feed-wide (null-filled history = zero mass).
    *
    * Built on the evolution table (three versions, the boundary
    * between v2 and v3), so the feed exercises both the plain and
    * the evolved diff. Because the merge is mass-additive, "touched"
    * ≡ "n_orders grew" — deletes cannot occur and every change
    * classifies cleanly (q89's argument, chain-wide).
    *
    * Exactness: deltas are exact bigint/decimal differences; the
    * oracle recomputes the whole feed from the raw mod-3 slices —
    * conservation must hold through all three publishes AND the
    * evolution for the hashes to agree.
    *
    * Scale posture: one co-keyed left join per consecutive version
    * pair — each pair touches two VERSION relations (customer-sized,
    * never the fact table), bucketed at 100 TB → zero Exchange (the
    * q78 layout); the union is plan-level only. A consumer wanting
    * just (vFrom, vHead] slices the loop bounds — cost proportional
    * to versions consumed, the CDF contract.
    */
  def changeFeed(s: SparkSession, dir: String): DataFrame = {
    evolvedOrdersSummary(s, dir) // ensure v1..v3 are published
    val path = evoTablePath(s, dir)
    val h = head(s, path)
    val headSchema = readVersion(s, path, h).schema
    def deltasOf(v: Int): DataFrame = {
      val cur = readVersionAs(s, path, v, headSchema)
      if (v == 1)
        cur.select(lit(1).as("version"), col("o_custkey"),
          lit("insert").as("change"),
          col("n_orders").as("n_orders_delta"),
          col("total_dec").cast("double").as("price_delta"),
          coalesce(col("n_urgent"), lit(0L)).as("n_urgent_delta"))
      else changedRows(cur, readVersionAs(s, path, v - 1, headSchema))
        .select(lit(v).as("version"), col("*"))
    }
    (1 to h).map(deltasOf).reduce(_.unionByName(_))
      .orderBy(col("version"), col("o_custkey"))
  }

  /** q96 — version diff ACROSS the schema-evolution boundary: the
    * q89 change report between v2 (pre-evolution schema) and v3
    * (evolved), with the pre-evolution side read UNDER the evolved
    * schema ([[readVersionAs]] null-fills the missing column) so the
    * delta of the new column is well-defined: `n_urgent_delta`
    * treats the null-filled old side as zero mass. This is the
    * incremental-consumer path surviving a column addition — the
    * diff that breaks on naive schema-locked readers. Oracle: the
    * post-evolution slice's masses per customer, exactly.
    */
  def evolutionDiff(s: SparkSession, dir: String): DataFrame = {
    evolvedOrdersSummary(s, dir) // ensure v1..v3 are published
    val path = evoTablePath(s, dir)
    val v3 = readVersion(s, path, 3)
    changedRows(v3, readVersionAs(s, path, 2, v3.schema))
      .orderBy(col("o_custkey"))
  }
}
