package graft.sources

import java.io.File
import java.nio.file.Files
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession

/** Deterministic synthetic NYC-taxi CSV corpus (FIXTURES.md §A schema),
  * derived from the driver's `events` table so its volume scales with
  * the scale factor. Reproduces the *shape* of the reference's input
  * (README.md:141: 12 monthly `yellow_tripdata_2017-MM.csv` blobs) so
  * the registered taxi queries exercise the real CSV ingest path
  * (S2 listing → S3 text scan → F1 accept-filter → M1-M4 → two-level
  * mean) end-to-end, not a parquet stand-in.
  *
  * Every quirk input the reference's accept/filter contract must handle
  * is present in each file (Sample.cs:153-157,168,174-186):
  *   - a header line (17 fields, field 0 not int-parsable);
  *   - a blank line; a 16-field and an 18-field line;
  *   - a 17-field line with a non-int probe field;
  *   - a 17-field line with an unparseable pickup timestamp
  *     (accepted by F1, dropped by the null-speed filter);
  *   - rows with trip_distance = 0 (dropped);
  *   - zero-duration rows (speed ±Infinity in the reference → dropped);
  *   - negative-duration rows (negative finite speed → KEPT);
  *   - one header-only file (month 12) — a file with zero accepted rows
  *     still contributes a zero vector in faithful mode
  *     (Sample.cs:196-199).
  *
  * The DuckDB oracles do NOT mirror this generator — they re-read the
  * same CSV bytes and re-apply only the accept/speed/aggregation
  * semantics, so the correctness gate checks the pipeline, not the
  * generation.
  */
object TaxiDataGen {

  /** Root for generated corpora; one subdirectory per scale factor.
    * Absolute so the (static) oracle SQL can address the same files.
    */
  val BaseDir: String =
    sys.env.getOrElse("GRAFT_TAXI_DIR", "/root/repo/target/taxi_csv")

  val Header: String =
    "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count," +
      "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID," +
      "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount," +
      "improvement_surcharge,total_amount"

  private val Version = "v1"
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** The corpus's source relation: every row is a pure function of an
    * event id, so the ids are all the content it is derived from.
    */
  private def eventIds(spark: SparkSession, sfDir: String) =
    graft.Tables.events(spark, sfDir).select("event_id")

  /** Ensure the corpus for `sfDir` exists and is current; returns the
    * CSV glob to read. Generation is driver-side (the corpus is sf-bound:
    * ~10 MB at sf0.1) and runs once per (source content, generator
    * version) — see [[DerivedCorpus]].
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val dir = new File(BaseDir, new File(sfDir).getName)
    val source = eventIds(spark, sfDir)
    DerivedCorpus.ensure(dir, sfDir, Version, source, "taxigen") {
      generate(source.collect().map(_.getLong(0)).sorted, dir)
    }
    new File(dir, "*.csv").getAbsolutePath
  }

  /** Ensure a REFERENCE-VOLUME corpus (≥ `targetBytes`, default ~3.3 GB
    * ≈ the reference's 4-file benchmark volume, README.md:186-187)
    * derived from `sfDir`'s events by a row multiplier: each event id
    * spawns `mult` synthetic trips (sid = id·1000 + j — disjoint from
    * the base ids, month = sid mod 12 so all twelve files fill). Same
    * `row` pure function, same header/edge-line/empty-month-12
    * structure as the sf-bound corpus, so the ingest pipeline sees the
    * identical accept/filter surface at reference scale. Stamped like
    * `ensure` (generation is a one-time cost per machine; re-runs are
    * metadata-only; `mult` is a function of the ids and `targetBytes`),
    * written through streaming per-month writers — the multi-GB corpus
    * never materializes in memory.
    */
  def ensureScaled(spark: SparkSession, sfDir: String,
      targetBytes: Long = 3_300_000_000L): String = {
    val dir = new File(BaseDir,
      new File(sfDir).getName + "_gb" + (targetBytes >> 30))
    val source = eventIds(spark, sfDir)
    DerivedCorpus.ensure(dir, sfDir, s"$Version scaled target=$targetBytes",
        source, "taxigen") {
      val ids = source.collect().map(_.getLong(0)).sorted
      // measure the actual mean row width on a sample of SYNTHETIC ids so
      // mult lands the target within a few percent
      val avgLen = if (ids.isEmpty) 100.0 else {
        val sample = ids.take(1000)
        sample.map(id => row(id * 1000, math.floorMod(id * 1000, 12).toInt + 1)
          .length + 1).sum.toDouble / sample.length
      }
      val mult = math.min(1000, math.max(1,
        math.ceil(targetBytes / (math.max(1, ids.length) * avgLen)).toLong.toInt))
      generateScaled(ids, dir, mult)
    }
    new File(dir, "*.csv").getAbsolutePath
  }

  /** Streaming writer for the scaled corpus: one pass over ids × mult,
    * routed to 12 buffered per-month writers. Pure function of
    * (ids, mult).
    */
  def generateScaled(ids: Seq[Long], dir: File, mult: Int): Unit = {
    dir.mkdirs()
    dir.listFiles().filter(_.getName.endsWith(".csv")).foreach(_.delete())
    val writers = (1 to 12).map { m =>
      m -> new java.io.BufferedWriter(new java.io.FileWriter(
        new File(dir, f"yellow_tripdata_2017-$m%02d.csv")), 1 << 20)
    }.toMap
    try {
      writers.foreach { case (m, w) =>
        w.write(Header); w.write('\n')
        if (m != 12) { w.write(edgeLines.head); w.write('\n') }
      }
      for (id <- ids; j <- 0 until mult) {
        val sid = id * 1000 + j
        val m = math.floorMod(sid, 12).toInt + 1
        if (m != 12) { val w = writers(m); w.write(row(sid, m)); w.write('\n') }
      }
      writers.foreach { case (m, w) =>
        if (m != 12) edgeLines.tail.foreach { l => w.write(l); w.write('\n') }
      }
    } finally writers.valuesIterator.foreach(_.close())
  }

  /** Write `yellow_tripdata_2017-01..12.csv` into `dir` (replacing any
    * previous contents). Month 12 is header-only. Pure function of `ids`.
    */
  def generate(ids: Seq[Long], dir: File): Unit = {
    dir.mkdirs()
    dir.listFiles().filter(_.getName.endsWith(".csv")).foreach(_.delete())
    val byMonth = ids.groupBy(id => math.floorMod(id, 12).toInt + 1)
    (1 to 12).foreach { m =>
      val sb = new StringBuilder
      sb.append(Header).append('\n')
      if (m != 12) {
        // malformed lines interleave with data — the filter may not
        // assume they only appear at file edges
        sb.append(edgeLines.head).append('\n')
        byMonth.getOrElse(m, Nil).foreach(id => sb.append(row(id, m)).append('\n'))
        edgeLines.tail.foreach(l => sb.append(l).append('\n'))
      }
      Files.write(new File(dir, f"yellow_tripdata_2017-$m%02d.csv").toPath,
        sb.toString.getBytes("UTF-8"))
    }
  }

  /** One TLC-schema CSV row, a pure function of (event id, month). */
  private def row(id: Long, month: Int): String = {
    def mod(k: Long, n: Int): Int = math.floorMod(k, n.toLong).toInt
    val pickup = LocalDateTime.of(2017, month, mod(id / 12, 28) + 1,
      mod(id * 13, 24), mod(id * 7, 60), mod(id * 31, 60))
    val durSecs =
      if (id % 101 == 0) 0            // ±Infinity speed → dropped
      else if (id % 97 == 0) -600     // negative speed → kept
      else 60 + mod(id * 7919, 3600)
    val dist =
      if (id % 89 == 0) "0.00"        // trip_distance <= 0 → dropped
      else f"${(mod(id, 3000) + 1) / 100.0}%.2f"
    val fare = f"${5.0 + mod(id, 400) / 10.0}%.2f"
    val total = f"${5.0 + mod(id, 400) / 10.0 + 2.30}%.2f"
    Seq(
      (mod(id, 2) + 1).toString,                  // VendorID
      pickup.format(TsFmt),                       // tpep_pickup_datetime
      pickup.plusSeconds(durSecs).format(TsFmt),  // tpep_dropoff_datetime
      (mod(id, 4) + 1).toString,                  // passenger_count
      dist,                                       // trip_distance
      "1", "N",                                   // RatecodeID, store_and_fwd
      (mod(id, 265) + 1).toString,                // PULocationID
      (mod(id * 3, 265) + 1).toString,            // DOLocationID
      (mod(id, 4) + 1).toString,                  // payment_type
      fare, "0.50", "0.50", "1.00", "0.00", "0.30", total
    ).mkString(",")
  }

  /** Lines the F1 accept-filter (or the downstream null-speed filter)
    * must drop — every skip rule from FIXTURES.md §A.
    */
  private[sources] val edgeLines: Seq[String] = {
    val full17 = Seq("1", "2017-01-01 00:00:00", "2017-01-01 00:30:00", "1",
      "2.00", "1", "N", "1", "1", "1", "8.00", "0.50", "0.50", "1.00",
      "0.00", "0.30", "10.30")
    Seq(
      "",                                          // blank
      full17.take(16).mkString(","),               // 16 fields
      (full17 :+ "EXTRA").mkString(","),           // 18 fields
      ("junk" +: full17.tail).mkString(","),       // non-int probe field
      full17.updated(1, "not-a-date").mkString(",")) // unparseable pickup ts
  }
}
