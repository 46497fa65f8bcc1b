package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{QueryDef, Sql}

/** Small-files compaction — the maintenance operator every long-lived
  * 100 TB table needs (the reference re-lists and re-reads whatever
  * blob fragments exist, Sample.cs:120-127; a real lakehouse compacts).
  *
  * Ingest (streaming appends, per-trigger micro-batches, hourly jobs)
  * accretes thousands of KB-scale files; every later scan then pays
  * one task + one footer + one seek per fragment, and the driver pays
  * the listing. Compaction rewrites N fragments into
  * ceil(bytes / target) right-sized files. This one also CLUSTERS
  * while it rewrites — `repartitionByRange(lang, source, doc_id)` —
  * so each output file covers a contiguous slice of the sort key and
  * its parquet min/max footer stats become selective: a post-compaction
  * `WHERE lang = 'de'` scan skips whole files, not just row groups
  * (the poor man's Z-order for a 1-D-dominant workload; q73 covers the
  * true multi-dim variant).
  *
  * Correctness gate: compaction must preserve CONTENT exactly — the
  * registered query returns the compacted table's rows and the oracle
  * reads the ORIGINAL documents parquet. The spec additionally pins the
  * mechanics: 64 fragments in, ≤ a handful of files out, and the
  * range-clustering invariant (contiguous key slices ⇒ across files,
  * Σ distinct-langs-per-file ≤ nLangs + nFiles − 1, since only
  * boundary langs can straddle two adjacent files).
  *
  * Where both tables live and when each counts as built is
  * [[VersionedStore]]'s one rule (`storePath`, `buildOnce`).
  */
object Compaction {

  val FragmentCount = 64
  /** Test-scale target; a deployment uses ~1 GB. */
  val TargetFileBytes: Long = 4L * 1024 * 1024

  /** Where the `name` rewrite of `dir`'s documents under `params`
    * lives, in the warehouse dir. */
  private def storePath(s: SparkSession, name: String, dir: String,
      params: String) =
    VersionedStore.storePath(s, s"${VersionedStore.warehouse(s)}/${name}_",
      dir, Seq("documents.parquet"), params)

  /** The deterministic "badly ingested" state: documents hash-sprayed
    * across 64 fragment files (what a 64-task append leaves behind).
    */
  def ensureFragmented(s: SparkSession, dir: String): String = {
    val path = storePath(s, "graft_frag_docs", dir, s"n$FragmentCount")
    VersionedStore.buildOnce(s, path, path) {
      Tables.documents(s, dir)
        .repartition(FragmentCount, col("doc_id"))
        .write.parquet(path)
    }
  }

  /** Compact the fragmented table: size the output file count from the
    * ACTUAL fragment bytes, range-cluster on (lang, source, doc_id).
    */
  def ensureCompacted(s: SparkSession, dir: String): String = {
    val fragPath = ensureFragmented(s, dir)
    val path = storePath(s, "graft_compact_docs", dir,
      s"t$TargetFileBytes")
    VersionedStore.buildOnce(s, path, path) {
      val fp = new org.apache.hadoop.fs.Path(fragPath)
      val bytes = VersionedStore.fs(s, fragPath).listStatus(fp)
        .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
      val nOut = math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt
      s.read.parquet(fragPath)
        .repartitionByRange(nOut, col("lang"), col("source"), col("doc_id"))
        .write.parquet(path)
    }
  }

  /** d33 — the compacted table's content, fingerprinted: compaction
    * (and the fragmentation before it) must be a PHYSICAL-only rewrite.
    * Oracle reads the original documents parquet — identical rows
    * proves no row was lost, duplicated, or altered across two full
    * rewrites. Text rides as md5 so the gate hashes 32-char hex, not
    * document bodies (m5's convention).
    */
  def compactedContent(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(ensureCompacted(s, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("payload_md5"))
      .orderBy(col("doc_id"))
  }
}

/** The registered queries that call [[Compaction]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object CompactionQueries {
  import Compaction._

  def queries: Seq[QueryDef] = Seq(
    // Small-files compaction (64 fragments → right-sized range-
    // clustered files); the oracle proves the rewrite is physical-only
    QueryDef("d33_compact_shards", compactedContent(_, _),
      // d33: content fingerprint of the ORIGINAL table — the compaction
      // path (fragment 64-way, rewrite range-clustered) must be a
      // physical-only rewrite, so its output rows equal the source's.
      Sql("""SELECT doc_id, lang, source, n_chars, md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""")),
  )
}
