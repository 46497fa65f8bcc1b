package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{QueryDef, Sql}

/** ORC corpus source — the second columnar format large warehouses
  * actually hold (Hive-era estates are ORC; a migration engine that
  * only reads parquet can't ingest them). Spark's ORC reader is
  * built-in and splittable by stripe, so a 100 TB ORC estate
  * parallelizes exactly like parquet: per-stripe tasks, column
  * pruning, predicate pushdown (`spark.read.orc` → OrcScan with
  * PushedFilters). The reference's only ingest is CSV-over-HTTP
  * (`Sample.cs:143`); format breadth is SURVEY §2.3 extension
  * territory.
  *
  * Verification design: DuckDB 1.0 has no ORC reader, so the oracle
  * cannot read the generated files the way the JSONL oracle does.
  * Instead the registered query reduces the ORC-read relation to a
  * per-language CONTENT CHECKSUM — row counts, char totals, and a
  * bit_xor over the corpus-standard md5 hash of every (doc_id, text)
  * pair — and the oracle computes the identical reduction from the
  * parquet `documents` table the files were generated from. bit_xor
  * is order-free and overflow-free, and any dropped, duplicated, or
  * corrupted row flips the checksum, so equality proves the
  * write→read round-trip preserved every document byte-for-byte —
  * the property an ingest format actually owes you.
  *
  * Generation mirrors [[JsonlCorpus]]: derived deterministically from
  * the sf's `documents` table, content-stamped so re-runs are
  * metadata-only.
  */
object OrcCorpus {

  /** Root for generated corpora; one subdirectory per scale factor. */
  val BaseDir: String =
    sys.env.getOrElse("GRAFT_ORC_DIR", "/root/repo/target/orc_corpus")

  private val Version = "orc-v1"

  /** Ensure the ORC corpus for `sfDir` exists and is current (see
    * [[DerivedCorpus]]); returns the directory to read.
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val dir = new File(BaseDir, new File(sfDir).getName)
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
    DerivedCorpus.ensure(dir, sfDir, Version, docs, "orcgen") {
      docs.repartition(4).write.mode("overwrite").orc(dir.getAbsolutePath)
    }
    dir.getAbsolutePath
  }

  /** The registered round-trip reduction: per-language counts, char
    * totals, and the order-free content checksum over the ORC-read
    * relation. Null text and null lang ride through coalesce/grouping
    * the same way on both engines.
    */
  def roundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.hash64
    val path = ensure(spark, sfDir)
    spark.read.orc(path)
      .withColumn("h", hash64(concat_ws("|",
        coalesce(col("doc_id").cast("string"), lit("null")),
        coalesce(col("text"), lit("null")))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("bit_xor(h)").as("content_xor"))
      .orderBy(col("lang"))
  }
}

/** The registered queries that call [[OrcCorpus]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object OrcCorpusQueries {
  import OrcCorpus._

  def queries: Seq[QueryDef] = Seq(
    // ORC write→read round-trip reduced to an order-free content
    // checksum (DuckDB reads no ORC; the oracle recomputes the
    // checksum from the source-of-truth parquet)
    QueryDef("docs_orc_roundtrip", (s, dir) => roundTrip(s, dir),
      // ORC round-trip: DuckDB has no ORC reader, so the oracle computes
      // the identical order-free reduction from the parquet documents
      // table the files were generated from — counts, char totals, and
      // a bit_xor content checksum over the corpus-standard md5 hash of
      // every (doc_id|text); any dropped/dup/corrupt row flips it.
      Sql("""SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(CAST(CAST('0x' || substr(md5(
        |      coalesce(CAST(doc_id AS VARCHAR), 'null') || '|'
        |        || coalesce(text, 'null')), 1, 15) AS BIGINT) AS BIGINT))
        |    AS content_xor
        |FROM documents GROUP BY lang ORDER BY lang""")),
  )
}
