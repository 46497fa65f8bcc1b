package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexStore, Similarity, VersionedStore}

/** ANN index persistence: save→load→query must EXACTLY equal
  * build→query for every index family — a loaded index is the same
  * relations read back from parquet, and the query plans are shared,
  * so the results must be identical rows, not merely similar.
  */
class IndexStoreSpec extends AnyFunSuite with BeforeAndAfterEach {
  // the Bench/Verify per-query cache lifecycle, mirrored per test
  // (r16 hygiene): operators persist() shared relations, and a later
  // test re-persisting the same plan on the shared session spams
  // "Asked to cache already cached data"
  override def afterEach(): Unit = {
    TestSpark.spark.catalog.clearCache()
    super.afterEach()
  }

  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String = {
    val base = Paths.get("target", "test-tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix).toString
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("IVF index round-trips: loaded equals built, query results identical") {
    val built = Similarity.buildIvfIndex(spark, sfDir)
    val path = tmp("ivf")
    IndexStore.saveIvf(built, path)
    val loaded = IndexStore.loadIvf(spark, path)
    assert(loaded.nCells === built.nCells && loaded.dim === built.dim)
    assert(loaded.centroids.map(_.toSeq).toSeq ===
      built.centroids.map(_.toSeq).toSeq)
    assert(rows(loaded.corpus.orderBy("neighbor_id")) ===
      rows(built.corpus.orderBy("neighbor_id")))
    def q(ix: Similarity.IvfIndex) = {
      val queries = ix.corpus
        .filter(org.apache.spark.sql.functions.col("neighbor_id") < 5)
        .selectExpr("neighbor_id AS query_id", "n_emb AS q_emb",
          "n_nrm AS q_nrm")
      Similarity.ivfQuery(ix, queries)
    }
    assert(rows(q(loaded)) === rows(q(built)))
  }

  test("IVF round-trip through a file: URI — FS probe is scheme-aware") {
    // r12 verdict #6: java.io.File probes silently never-see URI
    // paths; the Hadoop-FS probe must treat file:/abs/path like
    // /abs/path, so a repeated save call SKIPS the rebuild (the
    // manifest written under one spelling is found under the other's
    // semantics) and the load answers identically.
    val built = Similarity.buildIvfIndex(spark, sfDir)
    val path = "file:" + Paths.get(tmp("ivfuri")).toAbsolutePath
    IndexStore.saveIvf(built, path)
    val loaded = IndexStore.loadIvf(spark, path)
    assert(loaded.nCells === built.nCells && loaded.dim === built.dim)
    assert(rows(loaded.corpus.orderBy("neighbor_id")) ===
      rows(built.corpus.orderBy("neighbor_id")))
    // the existence probe sees BOTH spellings of the same directory
    assert(IndexStore.manifestExists(spark, path))
    assert(IndexStore.manifestExists(spark, path.stripPrefix("file:")))
    assert(!IndexStore.manifestExists(spark, path + "_absent"))
  }

  test("LSH index round-trips: query results identical") {
    val built = Similarity.buildLshIndex(spark, sfDir)
    val path = tmp("lsh")
    IndexStore.saveLsh(built, path)
    val loaded = IndexStore.loadLsh(spark, path)
    assert(loaded.nBits === built.nBits && loaded.nTables === built.nTables)
    assert(rows(Similarity.lshQuery(loaded)) ===
      rows(Similarity.lshQuery(built)))
  }

  test("IVF-PQ index round-trips: query results identical") {
    Similarity.invalidateIvfPqIndexes()
    val built = Similarity.ivfPqIndexFor(spark, sfDir)
    val path = tmp("ivfpq")
    IndexStore.saveIvfPq(built, path, m = 16, nCodes = 16)
    val loaded = IndexStore.loadIvfPq(spark, path)
    val a = rows(Similarity.ivfPqQuery(loaded, spark, sfDir))
    val b = rows(Similarity.ivfPqQuery(built, spark, sfDir))
    spark.catalog.clearCache() // pqUnitCorpus caches per query call
    assert(a === b)
  }

  test("manifest validation fails fast on family and version mismatch") {
    val built = Similarity.buildLshIndex(spark, sfDir)
    val path = tmp("wrongfam")
    IndexStore.saveLsh(built, path)
    val e = intercept[IllegalArgumentException] {
      IndexStore.loadIvf(spark, path)
    }
    assert(e.getMessage.contains("family"))
  }

  test("appendIvf: incremental append equals a same-centroid full assignment") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val all = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val half = all.filter(pmod(col("vec_id"), lit(2)) === 0)
    val rest = all.filter(pmod(col("vec_id"), lit(2)) =!= 0)
    // build + save on half the corpus, then append the other half
    val built = Similarity.buildIvfIndexFrom(half)
    val path = tmp("ivf-append")
    IndexStore.saveIvf(built, path)
    IndexStore.appendIvf(spark, path, rest)
    val loaded = IndexStore.loadIvf(spark, path)
    // the appended corpus equals a full assignment under the SAME
    // centroids (fixed-quantizer contract: append == rebuild-sans-retrain)
    val want = rows(Similarity.assignToCells(built.centroids, all)
      .orderBy("neighbor_id"))
    assert(rows(loaded.corpus.orderBy("neighbor_id")) === want)
    // and the loaded index answers queries over the merged corpus
    val queries = loaded.corpus
      .filter(col("neighbor_id") < 5)
      .selectExpr("neighbor_id AS query_id", "n_emb AS q_emb",
        "n_nrm AS q_nrm")
    val got = rows(Similarity.ivfQuery(loaded, queries))
    val ref = rows(Similarity.ivfQuery(
      Similarity.IvfIndex(built.centroids,
        Similarity.assignToCells(built.centroids, all),
        built.nCells, built.dim), queries))
    assert(got === ref)
  }

  test("s14: persisted-index query equals the in-session s3 query") {
    val s3 = rows(Similarity.ivfTopK(spark, sfDir))
    val s14 = rows(IndexStore.ivfPersistedTopK(spark, sfDir))
    assert(s14 === s3)
    // second call answers from the already-written index (no rebuild)
    assert(rows(IndexStore.ivfPersistedTopK(spark, sfDir)) === s3)
  }

  test("d28: persisted-fingerprint cross dedup equals direct d23; append extends it") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.fingerprint
    val d23 = rows(graft.operators.Dedup.crossDedup(spark, sfDir))
    val d28 = rows(IndexStore.persistedCrossDedup(spark, sfDir))
    assert(d28 === d23)
    // idempotent: second call reuses the written index
    assert(rows(IndexStore.persistedCrossDedup(spark, sfDir)) === d23)
    // append: an index saved from HALF the existing corpus, extended
    // with the other half, answers exactly like the full build
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val existing = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val path = tmp("fpidx")
    IndexStore.saveFingerprints(
      existing.filter(col("doc_id") % 2 === 0), path, Map("mod" -> "3"))
    IndexStore.appendFingerprints(path,
      existing.filter(col("doc_id") % 2 =!= 0))
    val appended = rows(graft.operators.Dedup.crossDedupFrom(
      incoming, IndexStore.loadFingerprints(spark, path)))
    assert(appended === d23)
  }

  test("s14 and d28: a torn manifest is rebuilt, never trusted") {
    // a crash during the manifest's own write leaves `manifest/`
    // holding only the committer's `_temporary`
    def tornThenHealed(store: String, query: => DataFrame): Unit = {
      val want = rows(query)
      val manifest = new org.apache.hadoop.fs.Path(s"$store/manifest")
      val fs = VersionedStore.fs(spark, store)
      assert(fs.delete(manifest, true), s"no manifest at $store")
      fs.mkdirs(new org.apache.hadoop.fs.Path(manifest, "_temporary/0"))
      assert(rows(query) === want)
      assert(IndexStore.manifestExists(spark, store))
    }
    tornThenHealed(VersionedStore.storePath(spark, "target/graft_index/ivf/",
        sfDir, Seq("embeddings.parquet"), "c16_d64_l2"),
      IndexStore.ivfPersistedTopK(spark, sfDir))
    tornThenHealed(VersionedStore.storePath(spark, "target/graft_index/fp/",
        sfDir, Seq("documents.parquet"), "m3"),
      IndexStore.persistedCrossDedup(spark, sfDir))
  }

  test("d30: persisted LSH pairs equal the direct index; save+append+load round-trips") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val slice = pmod(col("doc_id"), lit(3))
    // direct truth: increment queried against the full in-memory index
    val direct = rows(graft.operators.Dedup.minhashCandidatesStream(
      docs.filter(slice === 0),
      graft.operators.Dedup.minhashIndexFrom(docs.filter(slice =!= 0)))
      .orderBy(col("doc_id"), col("corpus_doc_id")))
    assert(direct.nonEmpty, "corpus plants cross-slice near-dups")
    // registered path (save slice-1, append slice-2, load, query)
    val d30 = rows(IndexStore.persistedLshPairs(spark, sfDir))
    assert(d30 === direct)
    // idempotent: second call answers from the written index
    assert(rows(IndexStore.persistedLshPairs(spark, sfDir)) === direct)
    // a foreign-scheme manifest is refused
    val bad = tmp("lshbad")
    IndexStore.saveMinhash(
      graft.operators.Dedup.minhashIndexFrom(docs.limit(5)), bad, Map())
    spark.read.parquet(s"$bad/manifest")
      .withColumn("value",
        when(col("key") === "bandRows", lit("8")).otherwise(col("value")))
      .coalesce(1).write.mode("overwrite").parquet(s"$bad/manifest2")
    // overwrite manifest with the tampered copy
    val fs = new java.io.File(s"$bad/manifest")
    fs.listFiles().foreach(_.delete()); fs.delete()
    new java.io.File(s"$bad/manifest2").renameTo(fs)
    intercept[IllegalArgumentException] {
      IndexStore.loadMinhash(spark, bad)
    }
  }
}
