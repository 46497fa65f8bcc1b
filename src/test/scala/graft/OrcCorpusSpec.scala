package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.OrcCorpus

class OrcCorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("ORC round-trip: every parquet doc survives byte-for-byte") {
    // row-level truth, stronger than the registered checksum: the
    // ORC-read relation must equal the parquet source exactly
    val path = OrcCorpus.ensure(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), md5(coalesce(col("text"), lit("null"))),
        col("lang"), col("source"), col("n_chars"))
      .collect().map(_.toSeq).toSet
    val got = rows(spark.read.orc(path))
    val want = rows(Tables.documents(spark, sfDir))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("ORC reduction groups cover the corpus; checksum flips on any content change") {
    val red = OrcCorpus.roundTrip(spark, sfDir).collect()
    assert(red.map(_.getLong(1)).sum ===
      Tables.documents(spark, sfDir).count())
    // sensitivity: recomputing the checksum with ONE doc's text
    // altered must differ in that doc's language group
    import graft.functions.TextFunctions.hash64
    def checksum(docs: org.apache.spark.sql.DataFrame) = docs
      .withColumn("h", hash64(concat_ws("|",
        coalesce(col("doc_id").cast("string"), lit("null")),
        coalesce(col("text"), lit("null")))))
      .groupBy(col("lang")).agg(expr("bit_xor(h)").as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = Tables.documents(spark, sfDir)
    val clean = checksum(base)
    val tampered = checksum(base.withColumn("text",
      when(col("doc_id") === 0L, concat(col("text"), lit(" tampered")))
        .otherwise(col("text"))))
    val lang0 = base.filter(col("doc_id") === 0L)
      .select("lang").head().getString(0)
    assert(clean(lang0) !== tampered(lang0), "checksum must detect the edit")
    assert((clean - lang0) === (tampered - lang0), "other groups unaffected")
  }

  test("ORC scan prunes columns and pushes filters like parquet") {
    val path = OrcCorpus.ensure(spark, sfDir)
    val plan = spark.read.orc(path)
      .filter(col("doc_id") > 100L).select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]"),
      s"filter not pushed to the ORC scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"columns not pruned at the ORC scan:\n$plan")
  }

  test("a source with the same doc_ids but different text regenerates both corpora") {
    // two sf dirs sharing a basename map to the same corpus dirs; their
    // documents differ only in text, so an id-only stamp would serve the
    // second one the first one's corpus
    val root = java.nio.file.Files.createTempDirectory("graft-stale").toFile
    val name = "graft_stale_probe"
    val corpora = Seq(new java.io.File(OrcCorpus.BaseDir, name),
      new java.io.File(graft.sources.JsonlCorpus.BaseDir, name))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    try {
      val Seq(sfA, sfB) = Seq("a", "b").map(d => s"$root/$d/$name")
      val docs = Tables.documents(spark, sfDir)
      docs.write.parquet(s"$sfA/documents.parquet")
      docs.withColumn("text", concat(col("text"), lit(" edited")))
        .write.parquet(s"$sfB/documents.parquet")
      // (doc_id, text digest) pairs of `got` missing from `want`
      def stale(got: org.apache.spark.sql.DataFrame,
          want: org.apache.spark.sql.DataFrame) = got.exceptAll(want).count()
      for (sf <- Seq(sfA, sfB)) {
        val src = Tables.documents(spark, sf)
          .select(col("doc_id"), md5(col("text")).as("m"))
        val orc = spark.read.orc(OrcCorpus.ensure(spark, sf))
          .select(col("doc_id"), md5(col("text")).as("m"))
        assert(stale(orc, src) === 0 && orc.count() === src.count(), sf)
        val jsonl = graft.sources.JsonlCorpus.ingest(spark, sf)
          .select("doc_id", "text_md5")
        assert(stale(jsonl, src) === 0, sf)
      }
    } finally (root +: corpora).foreach(rm)
  }
}
