package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** File-statistics DATA SKIPPING on the versioned store — the
  * metadata-pruned read path that makes a 100 TB table answer
  * selective queries without touching 100 TB.
  *
  * The lakehouse tier so far (q88 merge, q89/q96 diff, q91 erasure,
  * q92 history, q94 vacuum, q95 evolution, q97 optimize) publishes
  * versions whose manifests carry TABLE-level masses. This file adds
  * the per-FILE tier: each publish also lands a `filestats_vN`
  * manifest with one row per data file — min/max of the clustering
  * key(s), a per-file bloom bitset over the point-lookup key, row
  * count — and the reader consults the stats BEFORE the scan, opening
  * only files whose range (or bloom) can contain the predicate. This
  * is the Delta data-skipping / Iceberg manifest-pruning primitive
  * (public), and it is what q97's OPTIMIZE was FOR: range-clustering
  * makes per-file ranges disjoint, so a point/range predicate prunes
  * to ~1 file instead of all of them.
  *
  * Three registered queries:
  *   - q98: LINEAR clustering (one key) + min/max skipping — a
  *     custkey-range read opens only the files whose [min,max]
  *     intersects the predicate.
  *   - q99: Z-ORDER clustering (Morton-interleaved custkey ×
  *     orderdate) + TWO-dimensional min/max skipping — a predicate on
  *     EITHER dimension prunes well, which linear clustering cannot
  *     do (its second dimension is scattered across every file;
  *     Round15OpsSpec witnesses exactly that failure).
  *   - q101: per-file BLOOM skipping over `o_orderkey` — the key the
  *     layout does NOT cluster, so min/max is useless (every file's
  *     orderkey range spans the table); a blocked bloom bitset per
  *     file prunes point lookups instead. No false negatives by
  *     construction (every inserted key set its bits); false
  *     positives only cost an extra file open.
  *
  * Store layout (the [[VersionedStore]] protocol, with `filestats` as
  * the manifest prefix):
  * {{{
  *   <path>/data_v1_<token>/part-*.parquet   staged, writer-unique
  *   <path>/filestats_v1/                    1 row per file, published
  * }}}
  * The stats manifest is written LAST and is the publish: a crash
  * before it lands leaves only inert staged files, and a reader never
  * resolves a half-written version. Stats rows are derived by reading
  * the STAGED FILES BACK (`_metadata.file_path`, one aggregate pass),
  * not from the writer's intent — the manifest describes what is
  * actually on disk.
  *
  * Scale posture: the stats manifest is O(files), not O(rows) — at
  * 100 TB / 1 GB files that is 10^5 rows of a few hundred bytes,
  * a metadata-tier read (Iceberg's manifest-file size argument).
  * Pruning evaluates the predicate against stats rows only, then the
  * scan plans over the surviving file list; the driver materializes
  * file NAMES (bounded by file count), never data. The bloom bitset
  * is m=16384 bits = 256 longs per file — 2 KB of metadata per file,
  * built by a `bit_or` aggregate in the same stats pass (map-side
  * combinable; no driver-side hashing).
  *
  * Reference: no storage/layout surface exists in the reference
  * (`Sample.cs:1-264` reads whatever blobs are listed); SURVEY §2.3
  * lists storage management as an absent category — pure extension.
  */
object DataSkipping {

  import VersionedStore.head

  /** The manifest prefix: the head `filestats_vN` snapshot IS the
    * published view of the store — readers plan from its rows alone,
    * so a compaction ([[optimizeStore]]) supersedes old data files
    * simply by publishing the next snapshot. */
  private val Stats = "filestats"

  private def tablePath(s: SparkSession, dir: String, kind: String): String =
    VersionedStore.storePath(s, s"target/graft_table/orders_skip/$kind/L1_",
      dir, Seq("orders.parquet"), kind)

  // ---------------------------------------------------------------
  // Morton (Z-order) interleave
  // ---------------------------------------------------------------

  /** Morton-interleave the low 21 bits of two non-negative int
    * columns into one long: bit i of `a` lands at position 2i, bit i
    * of `b` at 2i+1. Sorting by the result is the Z-order curve —
    * points close in EITHER dimension stay close in the sort, which
    * is what makes two-dimensional min/max skipping work (public:
    * Morton 1966; the Delta/Iceberg ZORDER BY primitive).
    *
    * Pure bit algebra over builtins (`shiftleft`/`bitwiseAND`/
    * `bitwiseOR`) — 42 codegen'd integer ops in one projection, no
    * UDF. 21+21 bits covers keys to 2M; wider keys would interleave
    * the TOP 21 bits of each dimension's range-rank instead (the
    * stats tier never depends on the curve being lossless — the
    * min/max columns are the raw keys, not the code).
    */
  private[graft] def morton21(a: Column, b: Column): Column = {
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until 21).map { i =>
      // bit i of a → 2i: already at i, shift left by i more
      shiftleft(al.bitwiseAND(lit(1L << i)), i)
        .bitwiseOR(shiftleft(bl.bitwiseAND(lit(1L << i)), i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  // ---------------------------------------------------------------
  // Publish: clustered write + read-back per-file stats manifest
  // ---------------------------------------------------------------

  /** Bloom parameters: m bits per file (sized from rows/file at WRITE
    * time, guide §6 — stats must describe the bytes on disk), k=3
    * probe positions per key.
    *
    * Sizing: m = 8 bits/key rounded up to a 64-bit word, floored at
    * 16384. At 8 bits/key with k=3 the load is 1−e^(−3/8) ≈ 0.31 and
    * fpr ≈ 0.31³ ≈ 0.03 — the design point — at ANY rows/file, which
    * is the property a fixed m cannot give (the r15 layout ran its
    * 16384-bit sets at ~10k keys/file ⇒ ~84 % load ⇒ measured fpr
    * 0.549: the bloom tier pruned almost nothing at exactly the SF
    * the bench runs). Each stats row carries its own `bloom_m`, so
    * layouts with different file sizes (stream batches vs OPTIMIZE
    * rewrites) stay self-describing; readers fall back to the legacy
    * 16384 when the column is absent (pre-r16 stores). The 16384
    * floor keeps tiny-corpus behavior (sf0.001: ~94 rows/file)
    * bit-identical to r15. Per-file cost at the production 1 GB-file
    * shape (~6M rows/file): 8 bits/key = 6 MB of stats per file —
    * the Iceberg/Parquet bloom-filter cost envelope (public). */
  private val DefaultBloomBits = 16384
  private val BloomSeeds = Seq(41, 1543, 96157)

  /** m for a layout whose largest file holds `maxRowsPerFile` keys:
    * 8 bits/key, word-aligned, ≥ the legacy 16384 floor. */
  private def bloomBitsFor(maxRowsPerFile: Long): Int = {
    val raw = math.max(DefaultBloomBits.toLong, maxRowsPerFile * 8L)
    val words = (raw + 63L) / 64L
    // bounded: 2^30 bits = 128 MB/file is far past any real file size
    math.min(words * 64L, 1L << 30).toInt
  }

  /** The k bloom bit-positions of a key column in an m-bit set.
    * xxhash64(key, seed) differs per seed; pmod folds to [0, m). */
  private def bloomPositions(key: Column, m: Int): Seq[Column] =
    BloomSeeds.map(seed => pmod(xxhash64(key, lit(seed)), lit(m)))

  /** Driver-side mirror of [[bloomPositions]] for probe key `k` in an
    * m-bit set: the (word, bit-mask) pairs. xxhash64(key, seed) folds
    * children left-to-right — seed 42 hashes the key, that result
    * seeds the literal (the Catalyst XxHash64 chain, reproduced
    * exactly). */
  private def bloomWordBits(k: Long, m: Int): Seq[(Int, Long)] =
    BloomSeeds.map { seed =>
      val h1 = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(k, org.apache.spark.sql.types.LongType, 42L)
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(seed, org.apache.spark.sql.types.IntegerType, h1)
      val p = (h % m + m) % m
      ((p / 64).toInt, 1L << (p % 64).toInt)
    }

  /** The per-file bloom relation for a read-back scan: one row per
    * file, (file, bloom word-map, bloom_m) — shared by the initial
    * publish, the per-batch stream ingest, and OPTIMIZE. `m` is the
    * caller's layout-wide size from [[bloomBitsFor]]. */
  private def bloomRelation(back: DataFrame, m: Int): DataFrame =
    back
      .select(col("file"),
        explode(array(bloomPositions(col("o_orderkey"), m): _*)).as("pos"))
      .groupBy(col("file"), (col("pos") / 64).cast("int").as("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
        "CAST(pos % 64 AS INT)))").as("mask"))
      .groupBy(col("file"))
      .agg(map_from_entries(collect_list(struct(col("word"),
        col("mask")))).as("bloom"))
      .withColumn("bloom_m", lit(m))

  /** The per-file stats rows of staged directory `dataDir`, read
    * BACK from the files (stats describe the bytes on disk, not the
    * intent): per file min/max of both predicate dimensions, row
    * count, and the o_orderkey bloom bitset with m sized from the
    * layout's largest file — one stats schema for the initial publish,
    * the per-batch stream ingest and OPTIMIZE. */
  private def fileStats(s: SparkSession, path: String,
      dataDir: String): DataFrame = {
    val back = s.read.parquet(s"$path/$dataDir")
      .withColumn("file", col("_metadata.file_path"))
    // one pass for ranges + rows; bloom needs the explode, so a
    // second grouped pass over the same scan builds the bitsets
    val ranges = back.groupBy(col("file"))
      .agg(min(col("o_custkey")).as("min_custkey"),
        max(col("o_custkey")).as("max_custkey"),
        min(col("o_orderdate")).as("min_orderdate"),
        max(col("o_orderdate")).as("max_orderdate"),
        count(lit(1)).as("n_rows"))
    val maxRows = ranges.agg(max(col("n_rows"))).head().getLong(0)
    ranges.join(bloomRelation(back, bloomBitsFor(maxRows)), Seq("file"))
      .withColumn("data_dir", lit(dataDir))
  }

  /** The store for `kind`, published on first use. */
  private def ensureStore(s: SparkSession, dir: String, kind: String,
      cluster: DataFrame => DataFrame, nFiles: Int): String = {
    val path = tablePath(s, dir, kind)
    if (head(s, path, Stats) < 1) publishAt(s, dir, path, cluster, nFiles)
    path
  }

  /** Publish the clustered table + its per-file stats manifest as v1.
    * `cluster` orders the write (range-partition + in-file sort). */
  private[graft] def publishAt(s: SparkSession, dir: String, path: String,
      cluster: DataFrame => DataFrame, nFiles: Int): Unit = {
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_totalprice"), col("o_orderdate").cast("date")
          .as("o_orderdate"))
    val dataDir = VersionedStore.stage(cluster(orders.repartition(nFiles)),
      path, "v1")
    VersionedStore.publish(s, path, 1, fileStats(s, path, dataDir), Stats)
  }

  /** Cluster `df` into `n` files by the exact n-quantiles of `key`,
    * sorted on `key` within each file: file b holds the keys in
    * (q_b, q_b+1]. The boundaries depend on the data alone —
    * `repartitionByRange` samples with a seed drawn from the RDD id,
    * so its files moved with whatever ran earlier in the JVM. Each
    * row's bucket id is its partition id (HashPartitioner is the
    * identity on 0 until n). The exact quantile pass is a sort of one
    * column; at 100 TB a small relative error keeps it one
    * metadata-sized sketch, still a function of the data. */
  private[graft] def rangeFiles(df: DataFrame, key: Column,
      n: Int): DataFrame = {
    val keyed = df.withColumn("_key", key)
    val bounds = keyed.stat.approxQuantile("_key",
      (1 until n).map(_.toDouble / n).toArray, 0.0).distinct
    val bucketed = keyed.withColumn("_bucket", bounds.foldLeft(lit(0))(
      (b, q) => b + when(col("_key") > q, 1).otherwise(0)))
    val at = bucketed.schema.fieldIndex("_bucket")
    val rows = bucketed.rdd.keyBy(_.getInt(at))
      .partitionBy(new org.apache.spark.HashPartitioner(n)).values
    df.sparkSession.createDataFrame(rows, bucketed.schema)
      .sortWithinPartitions(col("_key")).drop("_key", "_bucket")
  }

  /** The linear layout: range-clustered + sorted on `o_custkey` alone
    * (q97's OPTIMIZE layout — one dimension perfect, the other
    * scattered). */
  private[graft] val linear: DataFrame => DataFrame =
    rangeFiles(_, col("o_custkey"), 16)

  private[graft] def ensureLinear(s: SparkSession, dir: String): String =
    ensureStore(s, dir, "lin", linear, 16)

  /** The Z-ordered store: range-clustered + sorted on the Morton
    * code of (custkey, days(orderdate)) — both dimensions locally
    * coherent per file.
    *
    * The interleave runs over NORMALIZED range-ranks, not raw values:
    * each dimension is equi-width-bucketed into 2^11 cells between
    * its own min and max first (one tiny agg pass for the bounds).
    * Interleaving raw values silently degrades to a single-dimension
    * sort whenever the dimensions' bit-widths differ — here orderdate
    * spans ~12 bits of days while custkey spans 8 at sf0.001, so the
    * unnormalized curve's high bits were ALL date bits and custkey
    * pruning vanished (measured: 16/16 files). Normalization is what
    * production ZORDER implementations do (Delta's
    * range_partition_id; OPTIMIZE ZORDER BY docs — public), with
    * sampled quantile boundaries instead of exact min/max at scale;
    * equi-width on exact bounds is the same contract at this data
    * shape and costs one metadata-sized aggregate. */
  private[graft] val zorder: DataFrame => DataFrame = df => {
    val days = datediff(col("o_orderdate"),
      lit("1992-01-01").cast("date")).cast("long")
    val b = df.agg(min(col("o_custkey")), max(col("o_custkey")),
      min(days), max(days)).head()
    val (cLo, cHi) = (b.getLong(0), b.getLong(1))
    val (dLo, dHi) = (b.getLong(2), b.getLong(3))
    def norm(c: Column, lo: Long, hi: Long): Column =
      ((c - lit(lo)) * lit(2048L) / lit(hi - lo + 1L)).cast("long")
    rangeFiles(df, morton21(norm(col("o_custkey"), cLo, cHi),
      norm(days, dLo, dHi)), 16)
  }

  private[graft] def ensureZorder(s: SparkSession, dir: String): String =
    ensureStore(s, dir, "zord", zorder, 16)

  // ---------------------------------------------------------------
  // Pruned read
  // ---------------------------------------------------------------

  private[graft] def statsDf(s: SparkSession, path: String): DataFrame = {
    VersionedStore.manifest(s, path, math.max(head(s, path, Stats), 1), Stats)
  }

  /** Files whose stats row says the predicate CAN match, as full
    * paths. The collect is manifest-bounded (O(files), the Iceberg
    * planning tier) — file names only, never data. */
  private def survivors(s: SparkSession, path: String,
      keep: Column): Seq[String] =
    statsDf(s, path).filter(keep).select(col("file"))
      .collect().map(_.getString(0)).toSeq

  /** The pruning decision + scan for a key-range predicate on
    * `column` ∈ [lo, hi]: open a file iff [min,max] intersects the
    * range. Returns (files scanned, total files, rows) — the
    * pruning witness is the first two. */
  private[graft] def prunedRangeRead(s: SparkSession, path: String,
      column: String, lo: Any, hi: Any): (Int, Int, DataFrame) = {
    val total = statsDf(s, path).count().toInt
    val files = survivors(s, path,
      col(s"max_$column").geq(lit(lo)) && col(s"min_$column").leq(lit(hi)))
    val df = readFiles(s, path, files)
      .filter(col(s"o_$column").geq(lit(lo)) &&
        col(s"o_$column").leq(lit(hi)))
    (files.size, total, df)
  }

  /** Scan exactly the surviving files; an empty survivor set yields
    * an empty frame under the table schema (read via one file's
    * footer, filtered to nothing — schema-only, the scan prunes to
    * zero splits). */
  private def readFiles(s: SparkSession, path: String,
      files: Seq[String]): DataFrame =
    if (files.nonEmpty) s.read.parquet(files: _*)
    else {
      val any = statsDf(s, path).select(col("file")).head().getString(0)
      s.read.parquet(any).filter(lit(false))
    }

  /** Key-SET membership pruning on the clustered column: a file
    * survives iff its [min, max] interval contains at least one
    * probe key (sorted keys + binary search per stats row — O(files
    * × log keys) driver-side metadata work). The scan then applies
    * the exact `isin` residual. An empty key set opens zero files. */
  private[graft] def prunedKeySetRead(s: SparkSession, path: String,
      column: String, keys: Seq[Long]): (Int, Int, DataFrame) = {
    val sorted = keys.sorted.toArray
    val stats = statsDf(s, path)
      .select(col("file"), col(s"min_$column").cast("long"),
        col(s"max_$column").cast("long")).collect()
    val total = stats.length
    def anyIn(lo: Long, hi: Long): Boolean = {
      if (sorted.isEmpty) return false
      val i = java.util.Arrays.binarySearch(sorted, lo)
      val at = if (i >= 0) i else -i - 1
      at < sorted.length && sorted(at) <= hi
    }
    val files = stats.collect {
      case r if anyIn(r.getLong(1), r.getLong(2)) => r.getString(0)
    }.toSeq
    val residual =
      if (keys.isEmpty) lit(false)
      else col(s"o_$column").isin(keys: _*)
    val df = readFiles(s, path, files).filter(residual)
    (files.size, total, df)
  }

  /** Bloom-pruned point-lookup over `o_orderkey` probes: a file
    * survives iff for EVERY probe key at least one of its k
    * positions' bits could be a member — i.e. the file's bitset has
    * all k bits of SOME probe key set. Bits are checked driver-side
    * against the manifest-bounded stats rows (file count × 2 KB —
    * metadata, not data; at the extreme 10^5-file tail of a 100 TB
    * table that collect is ~200 MB, so the production form joins the
    * probe positions against the stats RELATION instead and collects
    * only the surviving file names — same plan, the collect moves
    * one step later; the registered shape keeps the simpler driver
    * check). */
  private[graft] def prunedBloomRead(s: SparkSession, path: String,
      keys: Seq[Long]): (Int, Int, DataFrame) = {
    val stats = statsDf(s, path)
    // per-row m (bloom_m), legacy-store fallback to the old constant
    val withM =
      if (stats.columns.contains("bloom_m"))
        stats.select(col("file"), col("bloom"),
          coalesce(col("bloom_m"), lit(DefaultBloomBits)).as("m"))
      else stats.select(col("file"), col("bloom"),
        lit(DefaultBloomBits).as("m"))
    val rows = withM.collect()
    val total = rows.length
    // probe positions depend on m; memoize per distinct m (layouts mix
    // m across snapshots/batches, but distinct values stay O(1))
    val probesByM = scala.collection.mutable.Map.empty[Int, Seq[Seq[(Int, Long)]]]
    val files = rows.collect {
      case r if {
        val bloom = r.getMap[Int, Long](1)
        val m = r.getInt(2)
        val probes = probesByM.getOrElseUpdate(m, keys.map(bloomWordBits(_, m)))
        probes.exists(_.forall { case (w, bit) =>
          bloom.get(w).exists(mask => (mask & bit) != 0L) })
      } => r.getString(0)
    }.toSeq
    val df = readFiles(s, path, files)
      .filter(col("o_orderkey").isin(keys: _*))
    (files.size, total, df)
  }

  /** Measured bloom FALSE-POSITIVE rate: the fraction of (absent key,
    * file) pairs the bitsets fail to prune, probed stats-only (no
    * data read). Published as a bench-artifact observability field
    * (`q101_bloom_fpr`) so [[bloomBitsFor]]'s ≈0.03 design point is a
    * measured number per round (r15's fixed 16384-bit layout measured
    * 0.549 at sf0.1 — the saturation this sizing removes). */
  private[graft] def bloomFalsePositiveRate(s: SparkSession,
      path: String, probes: Int = 200): Double = {
    val stats = statsDf(s, path)
    val withM =
      if (stats.columns.contains("bloom_m"))
        stats.select(col("bloom"),
          coalesce(col("bloom_m"), lit(DefaultBloomBits)).as("m"))
      else stats.select(col("bloom"), lit(DefaultBloomBits).as("m"))
    val rows = withM.collect()
    // keys far above any orderkey in the corpus: all absent
    val keys = (1 to probes).map(i => 10_000_000_000L + i * 7919L)
    val posByM = scala.collection.mutable.Map.empty[Int, Seq[Seq[(Int, Long)]]]
    val hits = rows.map { r =>
      val bloom = r.getMap[Int, Long](0)
      val m = r.getInt(1)
      val ps = posByM.getOrElseUpdate(m, keys.map(bloomWordBits(_, m)))
      ps.count(_.forall { case (w, bit) =>
        bloom.get(w).exists(mask => (mask & bit) != 0L) })
    }.sum
    hits.toDouble / (probes.toLong * rows.length)
  }

  // ---------------------------------------------------------------
  // Streaming ingest (stats maintained per batch)
  // ---------------------------------------------------------------

  /** CONTINUOUS ingest into a stats-skipping store: every micro-batch
    * lands one clustered data file plus its read-back stats row
    * (ranges + bloom, [[fileStats]]'s one schema), appended
    * to the store's stats directory — so the metadata-pruned read
    * path stays correct while the table grows. The per-batch order
    * is data-then-stats (stats-last = the batch's publish marker):
    * a crash between the two leaves an orphan data file that NO
    * stats row names, and since the pruned reader plans only from
    * stats rows ([[survivors]]), the orphan is invisible — the
    * store-wide crash contract, carried per batch. Batch-parity is
    * spec-pinned: after the feed drains, a pruned range read equals
    * the one-shot batch recompute, and every stats row's ranges
    * bound its file exactly.
    *
    * Scale posture: per batch, one local sort + one file write + one
    * file-sized stats aggregate — no global shuffle, no compaction
    * on the ingest path; small-file drift is [[optimizeStore]]'s
    * job, which rewrites the published files and lands the next
    * stats snapshot (stats refresh by construction — the snapshot IS
    * the publish), with ingest continuing into the new head.
    */
  def streamIngestStats(stream: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        val dataDir = VersionedStore.stage(
          batch.coalesce(1).sortWithinPartitions(col("o_custkey")),
          path, s"b$id")
        // append to the HEAD snapshot (post-OPTIMIZE batches land in
        // the new version's stats; Spark's append commit refreshes
        // the publish marker, so the first-ever batch also publishes)
        val v = math.max(head(s, path, Stats), 1)
        fileStats(s, path, dataDir).coalesce(1).write.mode("append")
          .parquet(VersionedStore.manifestDir(path, v, Stats))
        ()
      }
    }

  /** OPTIMIZE for the streamed skipping store: continuous ingest
    * drifts into one small file per micro-batch; this rewrites ALL
    * currently-published files into `targetFiles` range-clustered,
    * key-sorted files and publishes the NEXT stats snapshot — data
    * first, stats last ([[VersionedStore.publish]]), so a crash
    * anywhere leaves the old snapshot serving and the new files as
    * vacuumable orphans (the store-wide crash contract). Row
    * conservation is audited against the read-back before the
    * publish; superseded old files become [[vacuumOrphans]] debris
    * the moment the new head lands (head-only retention — this
    * store's snapshots are layout versions, not time travel, which
    * lives in the lakehouse stores). Post-OPTIMIZE ingest appends to
    * the new head's stats, so streaming and compaction interleave
    * indefinitely. */
  private[graft] def optimizeStore(s: SparkSession, path: String,
      targetFiles: Int): Unit = {
    val h = head(s, path, Stats)
    require(h >= 1, s"no published stats at $path")
    val old = statsDf(s, path)
    val oldFiles = old.select(col("file")).collect()
      .map(_.getString(0)).toSeq
    val expRows = old.agg(sum(col("n_rows"))).head().getLong(0)
    val dataDir = VersionedStore.stage(rangeFiles(
      s.read.parquet(oldFiles: _*), col("o_custkey"), targetFiles),
      path, s"opt${h + 1}")
    val gotRows = s.read.parquet(s"$path/$dataDir").count()
    require(gotRows == expRows,
      s"OPTIMIZE audit failed at $path: rewrote $gotRows rows, " +
        s"expected $expRows — NOT publishing")
    // compacted files are larger: fileStats re-sizes m from the new
    // rows/file
    VersionedStore.publish(s, path, h + 1, fileStats(s, path, dataDir),
      Stats)
  }

  // ---------------------------------------------------------------
  // Registered queries
  // ---------------------------------------------------------------

  private def summarize(df: DataFrame): DataFrame =
    df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(28,2)").cast("double").as("total_price"),
        max(col("o_orderdate")).as("last_orderdate"))
      .orderBy(col("o_custkey"))

  /** Remove data files NO stats row names — the orphan debris of
    * mid-batch crashes (data landed, stats didn't). Readers never
    * see orphans ([[survivors]] plans from stats rows only), so this
    * is pure space reclamation, safe at any time; returns the count
    * removed. O(files) listing + set difference — metadata-tier. */
  private[graft] def vacuumOrphans(s: SparkSession, path: String): Int = {
    val f = VersionedStore.fs(s, path)
    val named = statsDf(s, path).select(col("file")).collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getParent
        .getName).toSet
    val base = new org.apache.hadoop.fs.Path(path)
    val orphans = f.listStatus(base).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("data_") &&
        !named.contains(p.getName))
    orphans.foreach(p => f.delete(p, true))
    orphans.size
  }

  /** The metadata-only COUNT: for a key-range predicate, files whose
    * stats range lies WHOLLY inside the predicate contribute their
    * manifest `n_rows` without being opened; only BOUNDARY files
    * (partial overlap) are scanned, with the residual predicate.
    * This is the Iceberg answer-count-from-manifests primitive
    * (public) — on a range-clustered 100 TB table, a selective
    * count costs two boundary files + a metadata scan. Returns
    * (boundary files scanned, total files, count). */
  private[graft] def countWhere(s: SparkSession, path: String,
      column: String, lo: Any, hi: Any): (Int, Int, Long) = {
    val stats = statsDf(s, path)
      .select(col("file"), col(s"min_$column").as("mn"),
        col(s"max_$column").as("mx"), col("n_rows")).collect()
    val total = stats.length
    val inside = stats.filter(r =>
      geq(r.get(1), lo) && leq(r.get(2), hi))
    val boundary = stats.filter(r =>
      leq(r.get(1), hi) && geq(r.get(2), lo) &&
        !(geq(r.get(1), lo) && leq(r.get(2), hi)))
    val metaCount = inside.map(_.getLong(3)).sum
    val scanCount =
      if (boundary.isEmpty) 0L
      else s.read.parquet(boundary.map(_.getString(0)).toSeq: _*)
        .filter(col(s"o_$column").geq(lit(lo)) &&
          col(s"o_$column").leq(lit(hi))).count()
    (boundary.length, total, metaCount + scanCount)
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case _ => sys.error(s"unsupported stats bound types: $a / $b")
  }
  private def geq(a: Any, b: Any): Boolean = cmp(a, b) >= 0
  private def leq(a: Any, b: Any): Boolean = cmp(a, b) <= 0

  /** q98 — stats-skipping range read on the linear store: the
    * per-customer summary for custkey ∈ [100, 220], read through the
    * pruned path. Oracled against the plain filtered recompute — the
    * skipping must be invisible in the data; the file-count witness
    * (scanned ≪ total, and every skipped file's range really is
    * disjoint) is spec-pinned. */
  def skippingRead(s: SparkSession, dir: String): DataFrame = {
    val path = ensureLinear(s, dir)
    val (_, _, df) = prunedRangeRead(s, path, "custkey", 100L, 220L)
    summarize(df)
  }

  /** q99 — Z-order read: the per-customer summary for an ORDERDATE
    * range, read through the Z-ordered store's pruned path. The
    * point: orderdate is the dimension the LINEAR layout scatters
    * (its date predicate prunes nothing — spec-witnessed); the
    * Z-order curve keeps both dimensions file-local, so the same
    * predicate prunes here. Oracle: plain filtered recompute. */
  def zorderRead(s: SparkSession, dir: String): DataFrame = {
    val path = ensureZorder(s, dir)
    val (_, _, df) = prunedRangeRead(s, path, "orderdate",
      java.sql.Date.valueOf("1995-01-01"),
      java.sql.Date.valueOf("1995-03-31"))
    summarize(df)
  }

  /** q106 — the metadata-only count as a registered query: total
    * orders with custkey ∈ [64, 640] on the linear store, answered
    * from manifest row counts for wholly-covered files + a residual
    * scan of the boundary files only ([[countWhere]]; the boundary
    * witness is spec-pinned). Oracle: the plain COUNT recompute —
    * the metadata shortcut must be invisible in the number. */
  def metadataCount(s: SparkSession, dir: String): DataFrame = {
    val path = ensureLinear(s, dir)
    val (_, _, n) = countWhere(s, path, "custkey", 64L, 640L)
    import s.implicits._
    Seq(n).toDF("n_orders")
  }

  /** q107 — JOIN-driven runtime file pruning: the q81 dynamic-
    * partition-pruning idea carried onto the stats tier (Iceberg
    * runtime filtering / semijoin pushdown, public). A selective
    * dimension filter implies a MEMBERSHIP set on the fact table's
    * join keys; instead of scanning every fact file and letting the
    * join drop rows, the dim side's keys probe the per-file
    * INTERVALS: a fact file is opened iff its [min, max] contains at
    * least one dim key. The key-SET probe matters — the dim's keys
    * are scattered across the clustered key space (nation is
    * independent of custkey), so the single [min(keys), max(keys)]
    * range bound would cover nearly every file and prune nothing,
    * while per-key interval membership prunes every file that owns
    * only inter-key gaps. Pruning is a superset filter (the join
    * discards range co-residents) — never a semantics change. (The
    * bloom tier plays the same role for the UNclustered key, q101;
    * each stats column serves the predicate shape it can answer.)
    *
    * The dim key collect is bounded by dim selectivity — the
    * standard runtime-filter build side; at a scale where even the
    * filtered dim is huge, the build side coarsens to the dim keys'
    * sorted-run intervals (or a bloom), probed against the same
    * stats rows. Oracle: the plain join recompute — runtime pruning
    * must be invisible in the data; the file-count witness at a
    * spec-controlled selectivity is Round15OpsSpec's. Scale posture:
    * O(files) metadata probes + a broadcast dim join (the q4 star
    * shape) — fact scan cost tracks dim selectivity, not table
    * size. */
  def joinPrunedRead(s: SparkSession, dir: String): DataFrame = {
    val path = ensureLinear(s, dir)
    val dim = Tables.customer(s, dir)
      .filter(col("c_nationkey") === 7 && col("c_acctbal") > 5000.0)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_name"))
    val keys = dim.select(col("c_custkey")).collect()
      .map(_.getLong(0)).toSeq
    val (_, _, facts) = prunedKeySetRead(s, path, "custkey", keys)
    facts.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("double")
          .as("total_price"))
      .orderBy(col("c_custkey"), col("o_orderkey"))
  }

  /** q101 — bloom point-lookup: fetch seven specific orders by key
    * through the bloom-pruned path on the linear store — the key the
    * layout does NOT cluster, where min/max skipping is useless
    * (every file spans ~the whole orderkey range). No false
    * negatives by construction; oracle = the IN-list recompute. */
  def bloomLookup(s: SparkSession, dir: String): DataFrame = {
    val path = ensureLinear(s, dir)
    val keys = Seq(1L, 7L, 32L, 321L, 888L, 1203L, 1497L)
    val (_, _, df) = prunedBloomRead(s, path, keys)
    df.select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").cast("double")
        .as("total_price"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))
  }
}
