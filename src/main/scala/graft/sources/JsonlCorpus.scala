package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{QueryDef, SqlFn, oracleSfName}

/** JSONL (newline-delimited JSON) corpus source — the de-facto exchange
  * format of LLM training corpora (one JSON object per document). The
  * reference's only ingest is CSV-over-HTTP (`Sample.cs:143`); this is
  * the north-star extension for the corpus side: a splittable text
  * format Spark's json reader distributes the same way the taxi CSV
  * path distributes `spark.read.text` — per-line records, so a 100 TB
  * corpus parallelizes by file/block with no coordination.
  *
  * Robustness contract (and what the oracle mirrors): malformed lines
  * must not kill a petabyte job. The reader runs PERMISSIVE — a line
  * that fails to parse yields an all-null row — and ingest keeps only
  * rows with a non-null primary key, so both engines agree on exactly
  * which lines survive (DuckDB: `ignore_errors=true` skips unparseable
  * lines; a parseable line missing `doc_id` is null-keyed and dropped
  * by the shared WHERE on both sides).
  *
  * Corpus generation mirrors [[TaxiDataGen]]: derived deterministically
  * from the sf's `documents` table, content-stamped so cross-JVM
  * re-runs are metadata-only, plus one hand-written corrupt-lines file
  * exercising the tolerance path on every run.
  */
object JsonlCorpus {

  /** Root for generated corpora; one subdirectory per scale factor.
    * Absolute so the (static) oracle SQL can address the same files.
    */
  val BaseDir: String =
    sys.env.getOrElse("GRAFT_JSONL_DIR", "/root/repo/target/jsonl_corpus")

  private val Version = "jsonl-v1"

  /** Lines no JSON parser accepts plus one parseable-but-keyless
    * object — the survivors filter must drop all four identically on
    * both engines.
    */
  private val CorruptLines = Seq(
    """{"doc_id": 999999, "text": "truncated record""",
    "not json at all",
    """[1, 2, 3""",
    """{"text": "orphan object with no doc_id", "lang": "en"}""")

  /** Ensure the JSONL corpus for `sfDir` exists and is current (see
    * [[DerivedCorpus]]); returns the glob to read.
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val dir = new File(BaseDir, new File(sfDir).getName)
    // null-keyed docs still serialize: they exercise the keyless-drop
    // path at ingest
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
    DerivedCorpus.ensure(dir, sfDir, Version, docs, "jsonlgen") {
      docs.repartition(4).write.mode("overwrite").json(dir.getAbsolutePath)
      // rename part-*.json? Spark already writes .json suffixes; add
      // the corrupt file AFTER the overwrite so it survives
      val corrupt = new File(dir, "zz_corrupt.json")
      Files.write(corrupt.toPath,
        (CorruptLines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    new File(dir, "*.json").getAbsolutePath
  }

  /** The ingest query: read the JSONL corpus permissively, keep keyed
    * survivors, and emit a fidelity digest — md5 over the decoded text
    * proves the content round-tripped JSON encoding bit-for-bit (the
    * same digest the DuckDB oracle computes from the same bytes).
    */
  def ingest(s: SparkSession, dir: String): DataFrame = {
    // read the corpus DIRECTORY with a glob filter rather than a
    // glob-in-path: Spark's resolver probes a literal path for
    // streaming-sink metadata first, and a glob path makes that probe
    // throw (and log) a spurious FileNotFoundException on every run
    val corpusDir = new File(ensure(s, dir)).getParent
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("mode", "PERMISSIVE")
      .option("pathGlobFilter", "*.json")
      .json(corpusDir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }
}

/** The registered queries that call [[JsonlCorpus]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object JsonlCorpusQueries {
  import JsonlCorpus._

  def queries: Seq[QueryDef] = Seq(
    // JSONL corpus ingest (the LLM-corpus exchange format): permissive
    // per-line parse, null-keyed/corrupt lines dropped identically on
    // both engines, md5 text digest proving decode fidelity
    QueryDef("docs_jsonl_ingest", (s, dir) => ingest(s, dir),
      // JSONL ingest: DuckDB reads the same generated bytes; its
      // ignore_errors skips what PERMISSIVE nulls out, and the shared
      // doc_id IS NOT NULL keeps the survivor sets identical
      SqlFn(() => s"""SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM read_json('${BaseDir}/$oracleSfName/*.json',
        |  format='newline_delimited', ignore_errors=true,
        |  columns={doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
        |           source: 'VARCHAR', n_chars: 'BIGINT'})
        |WHERE doc_id IS NOT NULL
        |ORDER BY doc_id""".stripMargin)),
  )
}
