package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The regenerate-if-stale discipline of the corpora derived from an sf
  * dir's tables (taxi CSV, JSONL, ORC). A corpus directory's `_STAMP`
  * records the generator version and a content stamp of the relation the
  * corpus was generated from; any mismatch regenerates it, so cross-JVM
  * re-runs are metadata-only and a changed source is never served stale.
  * The stamp covers every column of that relation, not only its ids: a
  * `documents` table with the same doc_ids but different text must not
  * reuse the old corpus.
  */
private[sources] object DerivedCorpus {

  /** target corpus dir → source sfDir it was last verified against, so
    * repeat calls within one JVM (Verify runs two taxi queries; Bench
    * runs them twice each) skip the stamp job. Keyed by the TARGET dir:
    * two different sfDirs sharing a basename map to the same corpus dir,
    * and a memo hit must only short-circuit when the corpus was generated
    * from the SAME source.
    */
  private val verified = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Ensure `dir` holds the corpus `generate` writes from `source` (a
    * relation of `sfDir`), regenerating it unless its stamp is current.
    */
  def ensure(dir: File, sfDir: String, version: String, source: DataFrame,
      tag: String)(generate: => Unit): Unit = synchronized {
    if (sfDir == verified.get(dir.getAbsolutePath)) return
    val stamp = s"$version ${contentStamp(source)}"
    val marker = new File(dir, "_STAMP")
    val current = marker.exists() &&
      new String(Files.readAllBytes(marker.toPath), UTF_8) == stamp
    if (!current) {
      // stamp the event: any stray stderr trace near corpus-(re)build
      // time must be attributable to generation, not left an orphan
      System.err.println(s"[$tag] generating corpus at $dir ($stamp)")
      generate
      Files.write(marker.toPath, stamp.getBytes(UTF_8))
    }
    verified.put(dir.getAbsolutePath, sfDir)
  }

  /** Row count plus the order-free sum of a 64-bit hash of every row
    * (decimal, so the sum cannot overflow; duplicates count, unlike xor).
    */
  private def contentStamp(source: DataFrame): String = {
    val r = source.agg(count(lit(1)),
      sum(xxhash64(source.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(20,0)"))).head()
    s"n=${r.getLong(0)} h=${r.get(1)}"
  }
}
