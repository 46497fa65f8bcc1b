package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one on-disk protocol of every store derived from an sf dir's
  * tables: where it lives ([[storePath]]), when it is complete
  * ([[isComplete]], [[buildOnce]]) and — for the versioned lakehouse
  * stores ([[LakehouseMerge]], [[MergeDml]], [[CowErasure]],
  * [[PartitionEvolution]], [[DataSkipping]]) — what a published
  * version is, how data is staged, and how a version is published.
  * Each store keeps only its own audit, expected masses and manifest
  * columns.
  *
  * Identity: a derived store is valid for one snapshot of the tables
  * it was read from. [[storePath]] names it by the sf dir as given,
  * the store's parameters, and a fingerprint of each source table's
  * files (name, length, modification time) — so another dir with the
  * same basename, or a table regenerated in place, gets a store of
  * its own instead of a predecessor's.
  *
  * Completion: a store (or a store's last-written relation) is
  * complete iff its `_SUCCESS` marker exists — parquet's commit
  * writes it last, so a crashed write is debris, never a store.
  *
  * Layout under one store directory:
  *   `data_<label>_<token>/`  data STAGED under a writer-unique 12-hex
  *                            token ([[stage]]) — concurrent writers
  *                            never clobber each other's files; a
  *                            directory no manifest names is inert.
  *   `<prefix>_vN/`           the version-N manifest (`manifest_vN`,
  *                            or `filestats_vN` for the per-file stats
  *                            store), written LAST. Its `_SUCCESS`
  *                            marker IS the publish: a version without
  *                            it does not exist for any reader.
  *
  * Crash contract: a crash before the publish leaves only staged data
  * — readers keep serving the head, and a re-run stages afresh and
  * publishes. A crash DURING the manifest write leaves a marker-less
  * `<prefix>_vN` — unpublished by definition ([[head]] never resolves
  * it) — which [[publish]] clears before its own `errorifexists`
  * write, so every crash window heals on re-run.
  *
  * Concurrency: [[publish]] checks OPTIMISTICALLY that the head is
  * still v−1 and turns a moved head, or a manifest another writer
  * completed first, into [[PublishConflictException]];
  * [[withRebase]] is the retry loop on top. The remaining race — two
  * manifests landing the same version in the same instant — needs the
  * storage's conditional put (HDFS atomic rename, S3 If-None-Match), a
  * deployment binding, not plan logic. All probes go through the
  * Hadoop FS API, so HDFS/S3 paths work.
  */
object VersionedStore {

  /** The optimistic-concurrency verdict: another writer published
    * first; the caller must rebase (re-derive against the new head)
    * and retry — [[withRebase]] does exactly that. */
  final class PublishConflictException(msg: String)
    extends RuntimeException(msg)

  def fs(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The fingerprint of `dir/table`: a hash of its files' (name,
    * length, modification time), listed through the Hadoop FS API so
    * `file:`/`hdfs:`/`s3a:` corpora are seen too. */
  private def corpusTag(s: SparkSession, dir: String,
      table: String): String = {
    val p = new Path(s"$dir/$table")
    val f = fs(s, dir)
    val files =
      if (!f.exists(p)) Seq.empty
      else if (f.getFileStatus(p).isDirectory) f.listStatus(p).toSeq
      else Seq(f.getFileStatus(p))
    java.lang.Long.toHexString(files.map(st =>
      s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|").hashCode.toLong & 0xFFFFFFFFL)
  }

  /** The location of the store derived from `tables` of sf dir `dir`
    * under `params`: `root` (a directory ending in `/`, or a name stem
    * like `…/L2_` or `graft_orders_`) followed by
    * `<dir, non-alphanumerics as _>_<params>_<fingerprint of each
    * table>`. */
  def storePath(s: SparkSession, root: String, dir: String,
      tables: Seq[String], params: String): String =
    root + (dir.replaceAll("[^A-Za-z0-9.]", "_") +: params +:
      tables.map(corpusTag(s, dir, _))).mkString("_")

  /** The session's warehouse dir, root of the layout stores. */
  def warehouse(s: SparkSession): String =
    s.sessionState.conf.getConfString("spark.sql.warehouse.dir",
      "spark-warehouse")

  /** Has the write into `dir` committed (its `_SUCCESS` marker
    * exists)? */
  def isComplete(s: SparkSession, dir: String): Boolean =
    fs(s, dir).exists(new Path(dir, "_SUCCESS"))

  /** Build the store at `path` once: unless `done` — the store's
    * last-written directory, `path` itself for a single relation — is
    * complete, delete what a crashed build left at `path` and run
    * `build`. Returns `path`. */
  def buildOnce(s: SparkSession, path: String, done: String)(
      build: => Unit): String = {
    if (!isComplete(s, done)) {
      fs(s, path).delete(new Path(path), true)
      build
    }
    path
  }

  /** The manifest directory of version `v`. */
  def manifestDir(path: String, v: Int,
      prefix: String = "manifest"): String =
    s"$path/${prefix}_v$v"

  private def marker(path: String, v: Int, prefix: String): Path =
    new Path(manifestDir(path, v, prefix), "_SUCCESS")

  /** Every version that has a manifest directory, published or
    * marker-less debris, ascending. */
  def versions(s: SparkSession, path: String,
      prefix: String = "manifest"): Seq[Int] = {
    val f = fs(s, path)
    val base = new Path(path)
    if (!f.exists(base)) Nil
    else f.listStatus(base).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(s"${prefix}_v") =>
        n.stripPrefix(s"${prefix}_v").toInt }
      .sorted
  }

  def isPublished(s: SparkSession, path: String, v: Int,
      prefix: String = "manifest"): Boolean =
    isComplete(s, manifestDir(path, v, prefix))

  /** The highest published version; 0 if none. With `asOf`, the
    * highest version whose PUBLISH instant (its marker's modification
    * time — the atomic event that made it visible) is ≤ `asOf`: what
    * a reader at that wall-clock moment saw. */
  def head(s: SparkSession, path: String, prefix: String = "manifest",
      asOf: Long = Long.MaxValue): Int = {
    val f = fs(s, path)
    versions(s, path, prefix).filter { v =>
      val m = marker(path, v, prefix)
      f.exists(m) && f.getFileStatus(m).getModificationTime <= asOf
    }.lastOption.getOrElse(0)
  }

  def manifest(s: SparkSession, path: String, v: Int,
      prefix: String = "manifest"): DataFrame =
    s.read.parquet(manifestDir(path, v, prefix))

  /** Every manifest from v1 to the head, one row each — the table's
    * history, read from metadata only. */
  def manifests(s: SparkSession, path: String): DataFrame =
    (1 to head(s, path)).map(manifest(s, path, _)).reduce(_ unionByName _)

  /** The staged directory the manifest for `v` names. */
  def dataDirOf(s: SparkSession, path: String, v: Int): String =
    manifest(s, path, v).select(col("data_dir")).head().getString(0)

  def readVersion(s: SparkSession, path: String, v: Int): DataFrame =
    s.read.parquet(s"$path/${dataDirOf(s, path, v)}")

  /** STAGE `df` without publishing: a fresh writer-unique
    * `data_<label>_<token>` directory, whose name is returned for the
    * manifest to carry. */
  def stage(df: DataFrame, path: String, label: String): String = {
    val dir = s"data_${label}_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    df.write.mode("errorifexists").parquet(s"$path/$dir")
    dir
  }

  /** PUBLISH version `v`: check the head is still v−1, clear a
    * marker-less manifest left by a crashed writer, and write
    * `manifest` as one file with `errorifexists`. A moved head, or a
    * lost write race to a now-complete manifest, throws
    * [[PublishConflictException]]; any other failure propagates as
    * itself. */
  def publish(s: SparkSession, path: String, v: Int, manifest: DataFrame,
      prefix: String = "manifest"): Unit = {
    val h = head(s, path, prefix)
    if (h != v - 1)
      throw new PublishConflictException(
        s"publish conflict at $path: head is v$h, this writer based " +
          s"v$v on v${v - 1} — rebase required")
    val dir = manifestDir(path, v, prefix)
    val f = fs(s, path)
    if (f.exists(new Path(dir)) && !isPublished(s, path, v, prefix))
      f.delete(new Path(dir), true)
    try manifest.coalesce(1).write.mode("errorifexists").parquet(dir)
    catch { case scala.util.control.NonFatal(e) =>
      if (isPublished(s, path, v, prefix))
        throw new PublishConflictException(
          s"publish conflict at $path: another writer landed v$v first")
      else throw e
    }
  }

  /** OPTIMISTIC RETRY: `stageOn(head)` derives version head+1 from
    * the current head, stages it, and returns the staged directory
    * with the audit-and-publish step. On a publish conflict the loser
    * deletes its own staged directory and re-derives against the head
    * that won, up to `maxRetries` times. `beforePublish(attempt)` runs
    * between staging and publishing — where a concurrent winner lands
    * (the specs' interleaving injection point). Returns the version
    * published. */
  def withRebase(s: SparkSession, path: String, maxRetries: Int,
      beforePublish: Int => Unit)(
      stageOn: Int => (String, () => Unit)): Int = {
    @annotation.tailrec
    def attempt(n: Int): Int = {
      val h = head(s, path)
      require(h > 0, s"no published version at $path to merge into")
      val (dataDir, auditAndPublish) = stageOn(h)
      beforePublish(n)
      val won =
        try { auditAndPublish(); true }
        catch { case e: PublishConflictException =>
          fs(s, path).delete(new Path(s"$path/$dataDir"), true)
          if (n >= maxRetries) throw e
          false
        }
      if (won) h + 1 else attempt(n + 1)
    }
    attempt(0)
  }
}
