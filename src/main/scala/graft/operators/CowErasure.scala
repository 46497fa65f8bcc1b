package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** q91 — RIGHT-TO-BE-FORGOTTEN erasure by partition-targeted
  * COPY-ON-WRITE: delete a list of doc_ids from a persisted,
  * source-partitioned corpus by rewriting ONLY the partitions that
  * contain a hit, leaving every other partition's files physically
  * untouched (byte-identical, never re-opened) — the GDPR/CCPA
  * deletion mechanism of every lakehouse table format, and the
  * operation a 100 TB corpus cannot afford to do as a full rewrite
  * (a deletion list touching 2 of 20 000 partitions must cost 2
  * partitions of IO, not 20 000).
  *
  * Table layout under one directory (the q88 versioned-manifest
  * convention, extended to PER-PARTITION ownership):
  *   `v=1/source=S/`   the base corpus, hive-partitioned by source
  *   `v=2/source=S/`   rewritten files for AFFECTED partitions only
  *   `manifest_vN/`    rows (source, owner_version, n_rows) — the
  *                     complete partition→version resolution map for
  *                     version N, written LAST (the publish).
  * A reader resolves the manifest head, reads owner=2 partitions from
  * `v=2` and owner=1 partitions from `v=1` — the unaffected
  * partitions are served from the ORIGINAL files forever.
  *
  * Crash safety (spec-pinned): manifests follow the
  * [[VersionedStore]] publish protocol. A crash after the `v=2`
  * rewrite but before the publish leaves `manifest_v1` as the head —
  * readers still see the pre-erasure corpus, consistently; re-running
  * the erasure overwrites `v=2` and publishes, self-healing, and
  * marker-less manifest debris is cleared by the re-run's publish.
  * The audit gate before publish: each rewritten partition's
  * read-back count must equal its v1 count minus its planned
  * deletions (row conservation per partition).
  *
  * Exactness: counts are bigint, n_chars sums are exact bigint — the
  * oracle recomputes the post-erasure per-partition summary from the
  * raw table with the deletion predicate anti-applied; owner_version
  * falls out as "has any hit". Bit-exact.
  *
  * Scale posture: the deletion scan prunes to ONE pass over the fact
  * table (metadata-sized distinct-source aggregate); the rewrite
  * reads and writes only affected partitions (partition-pruned scans
  * — the q79 mechanism doing maintenance work); the read path prunes
  * v1 to unaffected partitions by partition filter, so no deleted
  * byte is ever re-read. The affected-source list collected to the
  * driver is partition-count-bounded — table metadata, not data.
  *
  * Reference: no table-maintenance surface exists in the reference
  * (`Sample.cs:1-264`; SURVEY §2.3 absent category) — this extends the
  * q88 versioned-store family. The partition-ownership manifest is the
  * public lakehouse-format idea (Iceberg/Delta snapshot manifests),
  * re-expressed on plain parquet + Hadoop FS.
  */
object CowErasure {
  import VersionedStore.head

  private[graft] def tablePath(s: SparkSession, dir: String, mod: Int,
      rem: Int): String =
    VersionedStore.storePath(s, "target/graft_table/documents_cow/", dir,
      Seq("documents.parquet"), s"e${mod}_$rem")

  /** Drop the persisted table (bench cold-path probe). */
  def invalidate(s: SparkSession, dir: String, mod: Int = 50,
      rem: Int = 7): Unit = {
    val path = tablePath(s, dir, mod, rem)
    VersionedStore.fs(s, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }

  private def deleted(mod: Int, rem: Int) =
    pmod(col("doc_id"), lit(mod)) === rem

  /** Publish v1: the full corpus, hive-partitioned by source, with a
    * manifest mapping every partition to owner_version 1. */
  private[graft] def publishBase(s: SparkSession, dir: String,
      path: String): Unit = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("source"))
    docs.write.partitionBy("source").mode("overwrite")
      .parquet(s"$path/v=1")
    val m = s.read.parquet(s"$path/v=1")
      .groupBy(col("source")).agg(count(lit(1)).as("n_rows"))
      .select(col("source"), lit(1).as("owner_version"), col("n_rows"))
    VersionedStore.publish(s, path, 1, m)
  }

  /** The copy-on-write erasure: rewrite ONLY partitions containing a
    * deletion hit into `v=2`, audit per-partition row conservation,
    * then publish the v2 manifest (owner map) LAST. `publish = false`
    * stops after the rewrite — the crash-window state the spec drives
    * directly. */
  private[graft] def eraseCow(s: SparkSession, dir: String, path: String,
      mod: Int, rem: Int, publish: Boolean = true): Unit = {
    val v1 = s.read.parquet(s"$path/v=1")
    // partition-count-bounded planning metadata: (source, v1 rows,
    // planned deletions) for affected partitions only
    val plan = v1.groupBy(col("source"))
      .agg(count(lit(1)).as("n_v1"),
        sum(when(deleted(mod, rem), 1L).otherwise(0L)).as("n_del"))
      .filter(col("n_del") > 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val affected = plan.map(_._1).toSeq
    // rewrite only affected partitions (partition-pruned read), minus
    // the deletion hits
    v1.filter(col("source").isin(affected: _*))
      .filter(!deleted(mod, rem))
      .write.partitionBy("source").mode("overwrite").parquet(s"$path/v=2")
    // audit: per-partition conservation (read BACK what was written)
    val back = s.read.parquet(s"$path/v=2")
      .groupBy(col("source")).agg(count(lit(1)).as("n_back"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    plan.foreach { case (src, nV1, nDel) =>
      val got = back.getOrElse(src, 0L)
      require(got == nV1 - nDel,
        s"erasure audit failed for $src: wrote $got rows, expected " +
          s"${nV1 - nDel} (v1 $nV1 - deletions $nDel) — NOT publishing")
    }
    if (publish) {
      val m1 = VersionedStore.manifest(s, path, 1)
      val affectedSet = affected.toSet
      val delBySrc = plan.map(p => p._1 -> p._3).toMap
      import s.implicits._
      val rows = m1.collect().map { r =>
        val src = r.getString(0)
        if (affectedSet.contains(src))
          (src, 2, r.getLong(2) - delBySrc(src))
        else (src, 1, r.getLong(2))
      }.toSeq
      VersionedStore.publish(s, path, 2,
        rows.toDF("source", "owner_version", "n_rows"))
    }
  }

  /** Read the table as of the manifest head: owner=2 partitions from
    * `v=2`, owner=1 partitions from `v=1` (partition-pruned — the
    * deleted partitions' original files are never opened again). */
  private[graft] def readTable(s: SparkSession, path: String): DataFrame = {
    val v = head(s, path)
    require(v > 0, s"no published version at $path")
    readTableAt(s, path, v)
  }

  /** Time travel: read the table as of published version `v`. A
    * version past the vacuum retention head fails CLEANLY here (its
    * manifest was expired first, before any data file was touched —
    * see [[vacuum]]), never with a half-resolved dangling read. */
  private[graft] def readTableAt(s: SparkSession, path: String,
      v: Int): DataFrame = {
    require(VersionedStore.isPublished(s, path, v),
      s"version $v at $path is not published (or expired by vacuum)")
    val owners = VersionedStore.manifest(s, path, v)
      .select(col("source"), col("owner_version")).collect()
      .map(r => r.getString(0) -> r.getInt(1))
    def slice(v: Int): Option[DataFrame] = {
      val srcs = owners.collect { case (src, o) if o == v => src }.toSeq
      if (srcs.isEmpty) None
      else Some(s.read.parquet(s"$path/v=$v")
        .filter(col("source").isin(srcs: _*)))
    }
    (slice(1), slice(2)) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => throw new IllegalStateException("empty manifest")
    }
  }

  /** The registered q91: publish the base corpus, erase the deletion
    * list under partition-targeted copy-on-write, and return the
    * post-erasure per-partition summary AS A READER SEES IT (through
    * the manifest head, with per-partition owner versions) — oracled
    * against a full recompute with the deletion predicate
    * anti-applied. Warm runs resolve the manifest head and go straight
    * to the read. */
  def erasedSummary(s: SparkSession, dir: String, mod: Int = 50,
      rem: Int = 7): DataFrame = {
    val path = tablePath(s, dir, mod, rem)
    if (head(s, path) < 1) publishBase(s, dir, path)
    if (head(s, path) < 2) eraseCow(s, dir, path, mod, rem)
    val owners = VersionedStore.manifest(s, path, head(s, path))
      .select(col("source"), col("owner_version"))
    readTable(s, path)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .join(owners, Seq("source"))
      .select(col("source"), col("owner_version"), col("n_docs"),
        col("n_chars"))
      .orderBy(col("source"))
  }

  /** q94 — VACUUM / retention (r14 verdict #3): right-to-be-forgotten
    * at 100 TB ends with PHYSICAL file removal — after q91's
    * copy-on-write, the deleted rows' bytes still live in the
    * superseded `v=1` files of the rewritten partitions, readable
    * forever via time travel. Vacuum expires every version below
    * `retainFrom` and removes every data file no retained manifest
    * references, in the Iceberg expire-snapshots → remove-orphans
    * order (public):
    *
    *   1. EXPIRE manifests `< retainFrom` FIRST — after this, time
    *      travel to an expired version fails cleanly at manifest
    *      resolution ([[readTableAt]]); no reader can START a doomed
    *      read. Marker-less manifest debris goes too.
    *   2. REMOVE ORPHANS — delete each `v=V/source=S` partition
    *      directory that no RETAINED manifest maps to (the retained
    *      manifests' (owner_version, source) pairs are the complete
    *      live-file census, partition-count-sized metadata).
    *
    * Crash safety: a crash between 1 and 2 leaves unreferenced files
    * on disk but invisible (their manifests are gone) — the re-run
    * deletes them; vacuum is idempotent (second run removes nothing).
    * Reader safety (spec-pinned): a reader holding the RETAINED head
    * is untouched — every file it resolves is referenced by a
    * retained manifest; a reader of an expired version fails cleanly
    * at [[readTableAt]]'s manifest check. Readers must finish within
    * the retention window — the same contract every lakehouse vacuum
    * publishes.
    *
    * Cost is proportional to DELETED partitions (the q91 affected
    * set), never table size: the census is manifest metadata and the
    * deletes are directory removals. Returns (manifests expired,
    * partition dirs removed).
    */
  private[graft] def vacuum(s: SparkSession, path: String,
      retainFrom: Int): (Int, Int) = {
    val f = VersionedStore.fs(s, path)
    val h = head(s, path)
    require(h >= retainFrom,
      s"retention head $retainFrom is past the published head $h")
    val base = new org.apache.hadoop.fs.Path(path)
    // 1. expire manifests below the retention head (incl. marker-less
    // debris of crashed writers — unpublished by definition)
    val expired = VersionedStore.versions(s, path).filter(_ < retainFrom)
    expired.foreach(v => f.delete(
      new org.apache.hadoop.fs.Path(VersionedStore.manifestDir(path, v)), true))
    // 2. the live census: (owner_version, source) across every
    // retained manifest — partition-count-bounded metadata
    val referenced = (retainFrom to h).flatMap { v =>
      VersionedStore.manifest(s, path, v)
        .select(col("owner_version"), col("source")).collect()
        .map(r => (r.getInt(0), r.getString(1)))
    }.toSet
    // 3. remove unreferenced partition directories (and any version
    // directory left with no partitions)
    var removed = 0
    f.listStatus(base).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("v=")).foreach { vdir =>
        val ver = vdir.getName.stripPrefix("v=").toInt
        val parts = f.listStatus(vdir).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("source="))
        parts.foreach { sdir =>
          val src = sdir.getName.stripPrefix("source=")
          if (!referenced.contains((ver, src))) {
            f.delete(sdir, true)
            removed += 1
          }
        }
        if (f.listStatus(vdir).forall(st =>
            !st.getPath.getName.startsWith("source=")))
          f.delete(vdir, true)
      }
    (expired.size, removed)
  }

  /** The registered q94: the q91 erasure COMPLETED — after the
    * copy-on-write publish, vacuum to the head version, so the
    * deleted doc_ids' bytes are physically gone from storage (the
    * superseded `v=1` files of rewritten partitions are removed; the
    * untouched partitions' original files remain, still served
    * as-is). Returns the post-vacuum reader view with a
    * `v1_files_present` witness column probed from the FILESYSTEM
    * (not the manifest): true exactly for partitions still owned by
    * v1 — the oracle derives the same truth from the deletion
    * predicate, so a vacuum that failed to remove (or wrongly
    * removed) a partition directory hash-mismatches. Idempotent:
    * warm runs find nothing to expire and read straight through. */
  def vacuumedSummary(s: SparkSession, dir: String, mod: Int = 50,
      rem: Int = 7): DataFrame = {
    val path = tablePath(s, dir, mod, rem)
    if (head(s, path) < 1) publishBase(s, dir, path)
    if (head(s, path) < 2) eraseCow(s, dir, path, mod, rem)
    vacuum(s, path, retainFrom = head(s, path))
    val f = VersionedStore.fs(s, path)
    val owners = VersionedStore.manifest(s, path, head(s, path))
      .select(col("source"), col("owner_version")).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    import s.implicits._
    val witness = owners.toSeq.map { case (src, own) =>
      (src, own, f.exists(new org.apache.hadoop.fs.Path(
        s"$path/v=1/source=$src")))
    }.toDF("source", "owner_version", "v1_files_present")
    readTable(s, path)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .join(witness, Seq("source"))
      .select(col("source"), col("owner_version"), col("n_docs"),
        col("n_chars"), col("v1_files_present"))
      .orderBy(col("source"))
  }
}
