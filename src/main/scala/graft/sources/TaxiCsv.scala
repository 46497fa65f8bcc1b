package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

/** NYC TLC Yellow-taxi CSV ingest with the reference's exact line-accept
  * contract (see /root/reference/ServerlessMapReduce/Sample.cs:146-166):
  *
  *   - the unit of input is a raw text line (Sample.cs:146-151);
  *   - a line is KEPT iff it has exactly 17 ','-separated fields AND
  *     field 0 parses as an int (Sample.cs:153-157) — this silently drops
  *     the header row, blank lines, and any malformed record;
  *   - only fields 0 (probe), 1 (pickup ts), 2 (dropoff ts) and
  *     4 (trip_distance) are ever consumed (Sample.cs:154-166).
  *
  * Spark-first design notes (100 TB posture):
  *   - `spark.read.text` keeps the source splittable: a 800 MB CSV becomes
  *     many input splits instead of the reference's one-activity-per-file
  *     (Sample.cs:69-75, host.json:17 pins one mapper per node ≈ 1 MB/s).
  *   - The 17-field/int-probe filter and the 4-column projection run
  *     inside WholeStageCodegen in a single pass over each split — the
  *     same fused scan→filter→project the reference hand-codes in its
  *     mapper loop, but vectorized and parallel per split.
  *   - `input_file_name()` materializes the reference's implicit
  *     per-file grouping key (one mapper activity = one file) as an
  *     ordinary column, so the two-level mean (SURVEY.md §2.2) is plain
  *     relational algebra downstream.
  *
  * Field contract: a line's fields are its bytes cut at every ',', with
  * empty and trailing empty fields kept — C# `string.Split(',')`, and
  * Spark's string-split function with limit -1. The codegen'd kernels
  * `CsvFieldCount` (the field count, `#commas + 1`) and `CsvField`
  * (field i, a zero-copy slice for ASCII, NULL if absent) read it
  * without materializing a field array, and equal the string-split
  * function's answer on every input (see their docs).
  *
  * The int probe is Spark's `try_cast(... AS int)` and the casts are
  * `try_cast` / `ParseTs19`, so the accept-probe is null-on-failure under
  * Spark 4's default ANSI mode (the reference's `int.TryParse` probe,
  * Sample.cs:154).
  */
object TaxiCsv {

  /** The full TLC Yellow 2017 header, positionally (FIXTURES.md §A). */
  val columns: Seq[String] = Seq(
    "vendor_id", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "ratecode_id", "store_and_fwd_flag",
    "pu_location_id", "do_location_id", "payment_type", "fare_amount",
    "extra", "mta_tax", "tip_amount", "tolls_amount",
    "improvement_surcharge", "total_amount")


  /** S2 — source enumeration (GetFileListAsync analog,
    * Sample.cs:109-126): the ONE listing every taxi entry point reads.
    * Each of `paths` is a glob, a directory, a file or a URI; together
    * they resolve to the sorted, distinct list of files they name, in
    * `input_file_name()`'s scheme://authority/path form (e.g.
    * "file:///x/y.csv"), so the scan's `file` column and the group
    * domain built from this list are the same strings. Hadoop
    * FileSystem metadata calls only — no bytes are scanned, as in the
    * reference's blob-prefix listing. Faithful mode needs it: files with
    * zero accepted rows still contribute zero vectors.
    *
    * A glob or a directory expands to its files, skipping metadata and
    * hidden files (_SUCCESS, .crc, ...) as Spark's own file index does; a
    * file or URI named explicitly is taken as named (qualified through
    * its FileSystem's status — the only form a listing-less transport
    * such as http(s) supports, see [[HttpReadFileSystem]]). A glob that
    * matches nothing, or an input that names no file, fails here,
    * naming it.
    */
  private[graft] def resolve(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def visible(st: org.apache.hadoop.fs.FileStatus) = {
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val files = paths.flatMap { path =>
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hconf)
      val statuses =
        if (path.exists("*?[{".contains(_)))
          Option(fs.globStatus(p)).toSeq.flatten.filter(visible)
        else {
          val st = fs.getFileStatus(p)
          if (st.isDirectory) fs.listStatus(p).toSeq.filter(visible) else Seq(st)
        }
      if (statuses.isEmpty)
        throw new java.io.FileNotFoundException(s"no taxi CSV file matches $path")
      statuses.map(st => uriString(st.getPath.toUri))
    }
    files.distinct.sorted
  }

  /** The files one glob, directory or file names (see [[resolve]]). */
  def listFiles(spark: SparkSession, path: String): Seq[String] =
    resolve(spark, Seq(path))

  /** `u` in input_file_name()'s scheme://authority/path form. */
  private def uriString(u: java.net.URI): String =
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"

  /** Raw accepted lines (`file`, `value`), with the source file.
    * Exactly the reference's accept rule: 17 fields + int-parsable field 0.
    * `file` is the raw input_file_name() URI (an opaque per-file key —
    * kept transform-free in the hot scan).
    */
  def acceptedLines(spark: SparkSession, path: String): DataFrame =
    accepted(spark, listFiles(spark, path))

  /** The accept rule over the text lines of `files`, a [[resolve]]d
    * listing. Handing the reader explicit files also skips Spark's
    * FileStreamSink.hasMetadata probe, which getFileStatus()es a single
    * path verbatim and logs a glob's FileNotFoundException with a full
    * stack. */
  private[graft] def accepted(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.text(files: _*)
      .select(input_file_name().as("file"), col("value"))
      .filter(fieldCount(col("value")) === columns.size &&
        field(col("value"), 0).try_cast("int").isNotNull)

  private def fieldCount(line: Column): Column =
    Shims.column(graft.functions.CsvFieldCount(Shims.expression(line)))

  /** 0-based field `i` of `line` (NULL if absent). */
  private def field(line: Column, i: Int): Column =
    Shims.column(graft.functions.CsvField(Shims.expression(line), i))

  /** Strict fixed-layout timestamp parse (custom codegen'd expression —
    * `gettimestamp`'s DateTimeFormatter path was the dominant cost of
    * the GB-scale flagship, ~20× the text scan; see ParseTs19's doc).
    * Identical accept/NULL behavior to
    * `try_to_timestamp(c, "yyyy-MM-dd HH:mm:ss")` on this corpus.
    *
    * With `opaque = true` the parse is wrapped in `Opaque` — a PUSHDOWN
    * BARRIER on the projection it appears in. Without it, Catalyst
    * substitutes the projected aliases into every downstream predicate:
    * the speed filters become ~8 copies of the parse chain inside one
    * scan Filter, re-evaluated per row (rewrite-time A/B on a 3 GB
    * corpus: an order of magnitude over the barriered form —
    * FilterExec's short-circuit
    * codegen does no common-subexpression elimination). One
    * non-deterministic field pins the WHOLE projection: no predicate
    * pushes through, so consumers' filters operate on these columns as
    * plain attributes, while the accept filter BELOW the projection
    * still fuses into the scan. See Opaque's doc for why the
    * filter-based barrier idioms (rand, opaque-true) fail.
    */
  private def parseTs(c: Column, opaque: Boolean = false) = {
    val e = graft.functions.ParseTs19(Shims.expression(c))
    Shims.column(if (opaque) graft.functions.Opaque(e) else e)
  }

  /** Typed trips projection: only the columns the reference consumes.
    * Output: (file string, pickup_ts timestamp, dropoff_ts timestamp,
    * trip_distance double). Pushdown-barriered — consumers' filters
    * operate on these columns, never on re-derived parse chains.
    */
  def trips(spark: SparkSession, path: String): DataFrame =
    trips(acceptedLines(spark, path))

  /** The typed trips projection of accepted lines. */
  private[graft] def trips(accepted: DataFrame): DataFrame = {
    val line = col("value")
    accepted.select(
      col("file"),
      parseTs(field(line, 1), opaque = true).as("pickup_ts"),
      parseTs(field(line, 2)).as("dropoff_ts"),
      field(line, 4).try_cast("double").as("trip_distance"))
  }

  /** Fully-typed wide projection of all 17 columns (beyond the reference's
    * 4-column consumption — for the generalized engine surface).
    */
  def tripsWide(spark: SparkSession, path: String): DataFrame = {
    def f(i: Int) = field(col("value"), i)
    val typed = Seq(
      f(0).try_cast("int").as("vendor_id"),
      parseTs(f(1), opaque = true).as("tpep_pickup_datetime"),
      parseTs(f(2)).as("tpep_dropoff_datetime"),
      f(3).try_cast("int").as("passenger_count"),
      f(4).try_cast("double").as("trip_distance"),
      f(5).try_cast("int").as("ratecode_id"),
      f(6).as("store_and_fwd_flag"),
      f(7).try_cast("int").as("pu_location_id"),
      f(8).try_cast("int").as("do_location_id"),
      f(9).try_cast("int").as("payment_type"),
      f(10).try_cast("double").as("fare_amount"),
      f(11).try_cast("double").as("extra"),
      f(12).try_cast("double").as("mta_tax"),
      f(13).try_cast("double").as("tip_amount"),
      f(14).try_cast("double").as("tolls_amount"),
      f(15).try_cast("double").as("improvement_surcharge"),
      f(16).try_cast("double").as("total_amount"))
    acceptedLines(spark, path).select(col("file") +: typed: _*)
  }
}
