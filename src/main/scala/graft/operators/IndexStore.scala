package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{IvfIndex, LshIndex}
import graft.SparkEntry.{Approx, AtLeast, Bound, QueryDef, Sql, SqlFn}

/** Persistence for the ANN index families (IVF / LSH / IVF-PQ): the
  * in-session memo maps amortize builds within one session, but a
  * production corpus builds its index ONCE and reloads it across
  * sessions — at 100 TB the IVF-PQ code table alone is ~3 TB and its
  * build is a full-corpus scan; re-deriving it per session would be
  * the dominant cost of every job that queries it.
  *
  * Layout: one directory per index, each relation a parquet table
  * (`centroids/`, `corpus/`, `sigs/`, `postings/`, `codebook/`,
  * `codes/`, a nested `coarse/` for IVF-PQ) plus a `manifest/` parquet
  * of (version, family, key, value) rows pinning the format version
  * and every build parameter. Load validates family + version + the
  * parameters the caller's query plan depends on (dim etc.) and fails
  * fast on mismatch — a dim-48 index silently answering dim-64 queries
  * is the failure mode the manifest exists to prevent. Where each
  * registered query's index lives, and when a build counts as
  * complete, is [[VersionedStore]]'s one rule (`storePath`,
  * `buildOnce`).
  *
  * Scale posture: save is `df.write.parquet` — the relations keep
  * their natural partitioning and a loaded index queries from a plain
  * parquet scan (column-pruned, filter-pushed), exactly how a cluster
  * deployment shares an index: as a TABLE, not as session state. The
  * only driver-side piece is the K×dim centroid array — the same
  * bounded collect the build path already does.
  *
  * CONCURRENCY CONTRACT (r13 verdict #8): every store here is
  * SINGLE-WRITER. Manifest-last gives crash safety for that one
  * writer (a torn build is rebuildable, never trusted); it does NOT
  * serialize two concurrent builders/appenders, whose file-level
  * appends and manifest writes can interleave into a store that
  * passes the scheme check but double- or half-counts a slice.
  * Deployments needing multi-writer maintenance should front these
  * paths with the versioned write-audit-publish protocol in
  * [[LakehouseMerge]] (immutable `v=N` directories, audit gate,
  * optimistic head check on publish) — that protocol exists precisely
  * because append-in-place cannot be made concurrent-safe on a plain
  * filesystem.
  */
object IndexStore {

  /** Bumped on any layout/semantics change; load refuses other versions. */
  val FormatVersion = 1

  /** Does a complete index manifest exist at `path`? The manifest is
    * written LAST by every builder, so its committed write — the
    * [[VersionedStore.isComplete]] probe, through the Hadoop FS API
    * so HDFS/S3/`file:` URIs are seen — marks a complete index; a
    * `manifest/` torn by a crash is not one.
    */
  private[graft] def manifestExists(s: SparkSession, path: String): Boolean =
    VersionedStore.isComplete(s, s"$path/manifest")

  /** Build the index at `path` unless its manifest is complete,
    * clearing a torn build first. */
  private def buildOnce(s: SparkSession, path: String)(
      build: => Unit): String =
    VersionedStore.buildOnce(s, path, s"$path/manifest")(build)

  private def writeManifest(s: SparkSession, path: String, family: String,
      params: Map[String, String]): Unit = {
    import s.implicits._
    params.toSeq.sortBy(_._1)
      .map { case (k, v) => (FormatVersion, family, k, v) }
      .toDF("version", "family", "key", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
  }

  private def readManifest(s: SparkSession, path: String,
      family: String): Map[String, String] = {
    val rows = s.read.parquet(s"$path/manifest")
      .select("version", "family", "key", "value").collect()
    require(rows.nonEmpty, s"empty index manifest at $path")
    rows.foreach { r =>
      require(r.getInt(0) == FormatVersion,
        s"index at $path has format version ${r.getInt(0)}, " +
          s"this library reads $FormatVersion")
      require(r.getString(1) == family,
        s"index at $path is family '${r.getString(1)}', expected '$family'")
    }
    rows.map(r => r.getString(2) -> r.getString(3)).toMap
  }

  // ── IVF-flat ──────────────────────────────────────────────────────────

  def saveIvf(index: IvfIndex, path: String): Unit = {
    val s = index.corpus.sparkSession
    import s.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("c_label", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    index.corpus.write.mode("overwrite").parquet(s"$path/corpus")
    writeManifest(s, path, "ivf", Map(
      "nCells" -> index.nCells.toString, "dim" -> index.dim.toString))
  }

  def loadIvf(s: SparkSession, path: String): IvfIndex = {
    val p = readManifest(s, path, "ivf")
    val centroids = s.read.parquet(s"$path/centroids")
      .orderBy(col("c_label")).select(col("cvec")).collect()
      .map(_.getSeq[Double](0).toArray)
    IvfIndex(centroids, s.read.parquet(s"$path/corpus"),
      p("nCells").toInt, p("dim").toInt)
  }

  /** Incremental maintenance of a persisted IVF index: assign NEW
    * vectors to the EXISTING centroids and append the assigned rows to
    * the persisted corpus relation — the production shape, where the
    * coarse quantizer is trained once and held fixed between full
    * rebuilds and a daily increment only appends. Assignment runs
    * through [[Similarity.assignToCells]], the same expression the
    * build path uses, so the appended index answers queries exactly
    * like an index whose corpus had contained the new vectors at save
    * time (IndexStoreSpec proves the equality). Centroid drift is the
    * caller's rebuild policy — this call never retrains.
    *
    * `newVectors`: a (vec_id, embedding) relation. The ids are the
    * caller's responsibility to keep disjoint from the stored corpus
    * (re-appending an id does not replace the old row).
    */
  def appendIvf(s: SparkSession, path: String,
      newVectors: DataFrame): Unit = {
    val ix = loadIvf(s, path)
    require(ix.centroids.nonEmpty, s"index at $path has no centroids")
    Similarity.assignToCells(ix.centroids, newVectors)
      .write.mode("append").parquet(s"$path/corpus")
  }

  // ── LSH ───────────────────────────────────────────────────────────────

  def saveLsh(index: LshIndex, path: String): Unit = {
    val s = index.sigs.sparkSession
    index.sigs.write.mode("overwrite").parquet(s"$path/sigs")
    index.postings.write.mode("overwrite").parquet(s"$path/postings")
    writeManifest(s, path, "lsh", Map(
      "nBits" -> index.nBits.toString, "nTables" -> index.nTables.toString,
      "dim" -> index.dim.toString))
  }

  def loadLsh(s: SparkSession, path: String): LshIndex = {
    val p = readManifest(s, path, "lsh")
    LshIndex(s.read.parquet(s"$path/sigs"), s.read.parquet(s"$path/postings"),
      p("nBits").toInt, p("nTables").toInt, p("dim").toInt)
  }

  // ── IVF-PQ ────────────────────────────────────────────────────────────

  def saveIvfPq(index: (IvfIndex, DataFrame, DataFrame), path: String,
      m: Int, nCodes: Int): Unit = {
    val (coarse, codebook, codes) = index
    saveIvf(coarse, s"$path/coarse")
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    codes.write.mode("overwrite").parquet(s"$path/codes")
    writeManifest(codes.sparkSession, path, "ivfpq", Map(
      "m" -> m.toString, "nCodes" -> nCodes.toString,
      "dim" -> coarse.dim.toString))
  }

  def loadIvfPq(s: SparkSession,
      path: String): (IvfIndex, DataFrame, DataFrame) = {
    readManifest(s, path, "ivfpq")
    (loadIvf(s, s"$path/coarse"), s.read.parquet(s"$path/codebook"),
      s.read.parquet(s"$path/codes"))
  }

  // ── s14: the registered save→load→query path ─────────────────────────

  /** s14 — s3's IVF top-k answered by a PERSISTED index: ensure the
    * (memoized) index exists, save it to a per-(corpus, params)
    * directory, load it back through the parquet + manifest path, and
    * run the identical [[Similarity.ivfQuery]] plan over the loaded
    * relations. Deterministic and equal to s3's output by construction
    * (the round-trip spec asserts exact equality, and s3's recall vs
    * s1 is gated in spec + published in the bench artifact) — but
    * approximate vs the s1 truth like s3, hence rows-only in the
    * driver gate.
    *
    * The save is skipped when the target already holds a manifest for
    * the same corpus+params (indexes are immutable once written —
    * rebuilding per call would defeat the point of persistence).
    */
  def ivfPersistedTopK(s: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 5, nCells: Int = 16, nProbe: Int = 12,
      dim: Int = 64, lloydIters: Int = 2): DataFrame = {
    val path = VersionedStore.storePath(s, "target/graft_index/ivf/", dir,
      Seq("embeddings.parquet"), s"c${nCells}_d${dim}_l$lloydIters")
    lazy val built = Similarity.ivfIndexFor(s, dir, nCells, dim, lloydIters)
    // degenerate corpus: nothing to persist
    if (!manifestExists(s, path) && built.centroids.isEmpty)
      return Similarity.bruteForceTopK(s, dir, k, nQueries)
    buildOnce(s, path)(saveIvf(built, path))
    val index = loadIvf(s, path)
    val queries = index.corpus
      .filter(col("neighbor_id") < nQueries)
      .select(col("neighbor_id").as("query_id"), col("n_emb").as("q_emb"),
        col("n_nrm").as("q_nrm"))
    Similarity.ivfQuery(index, queries, k, nProbe)
  }

  // ── Exact-dedup fingerprint index (d23's persisted corpus state) ─────

  /** Save the existing-corpus fingerprint relation (doc_id, fp). The
    * manifest pins the fingerprint convention so a loader can refuse
    * an index hashed differently.
    */
  def saveFingerprints(fps: DataFrame, path: String,
      params: Map[String, String]): Unit = {
    fps.write.mode("overwrite").parquet(s"$path/fps")
    writeManifest(fps.sparkSession, path, "fpindex",
      params + ("convention" -> "md5(normalized)"))
  }

  def loadFingerprints(s: SparkSession, path: String): DataFrame = {
    readManifest(s, path, "fpindex")
    s.read.parquet(s"$path/fps")
  }

  /** Incremental maintenance: append a new batch's fingerprints to the
    * persisted relation — the write an ingest job performs after its
    * d23 anti-join admits the batch, so the NEXT batch dedups against
    * it. Disjointness of doc_ids is the caller's contract, as in
    * [[appendIvf]].
    */
  def appendFingerprints(path: String, newFps: DataFrame): Unit =
    newFps.write.mode("append").parquet(s"$path/fps")

  /** d28 — d23's incremental cross-corpus dedup answered from a
    * PERSISTED fingerprint index: build-or-reuse the existing-corpus
    * fingerprint table on disk (parquet + manifest), load it back, and
    * anti-join the incoming batch against the LOADED relation. Output
    * is provably identical to d23 (same incoming slice, same
    * fingerprint set — IndexStoreSpec asserts the equality), so unlike
    * s14 this persisted path carries d23's FULL hash oracle in the
    * driver gate.
    *
    * Scale posture: the persisted index is a plain parquet table — the
    * loaded side of the anti join ships one pruned fp column, and at
    * 100 TB the table is bucketed by fp so each ingest micro-batch
    * prunes to the buckets it touches. No session state survives; the
    * index IS the table, which is how a cluster shares it.
    */
  // ── MinHash-LSH banding index (d3's persisted corpus state) ──────────

  /** Save the band-bucket and shingle relations of a
    * [[Dedup.MinhashIndex]]. The manifest pins the signature scheme
    * (hash count, band width, shingle convention) — a loader must
    * refuse an index whose band keys were derived differently, since
    * a probe signed under another scheme would silently miss every
    * bucket.
    */
  // scheme values come from the Dedup constants, not literals: a
  // banding/tuning change then stamps a DIFFERENT scheme and load
  // refuses the stale index instead of silently missing every bucket
  private def minhashScheme: Map[String, String] = Map(
    "numHashes" -> Dedup.NumHashes.toString,
    "bandRows" -> Dedup.BandRows.toString,
    "shingle" -> "word3-hash64")

  private def writeMinhashRelations(index: Dedup.MinhashIndex,
      path: String, mode: String): Unit = {
    index.bands.write.mode(mode).parquet(s"$path/bands")
    index.shingles.select("doc_id", "sh", "sz")
      .write.mode(mode).parquet(s"$path/shingles")
  }

  def saveMinhash(index: Dedup.MinhashIndex, path: String,
      params: Map[String, String]): Unit = {
    writeMinhashRelations(index, path, "overwrite")
    // manifest LAST: it is the build-complete marker (the d28/s14
    // convention) — a crash mid-save must leave a rebuildable
    // directory, never a trusted half-index
    writeManifest(index.bands.sparkSession, path, "minhash-lsh",
      params ++ minhashScheme)
  }

  def loadMinhash(s: SparkSession, path: String): Dedup.MinhashIndex = {
    val m = readManifest(s, path, "minhash-lsh")
    minhashScheme.foreach { case (k, v) =>
      require(m.get(k).contains(v),
        s"minhash index at $path was built under a different signature " +
          s"scheme ($k = ${m.get(k)}, this library uses $v)")
    }
    Dedup.MinhashIndex(
      s.read.parquet(s"$path/bands"),
      s.read.parquet(s"$path/shingles"))
  }

  /** Incremental maintenance: append a new batch's bands and shingles.
    * Disjointness of doc_ids is the caller's contract (as in
    * [[appendIvf]]/[[appendFingerprints]]); the scheme is fixed by the
    * manifest, so an appended batch MUST be signed by the same
    * convention — which [[Dedup.minhashIndexFrom]] guarantees.
    */
  def appendMinhash(path: String, delta: Dedup.MinhashIndex): Unit =
    writeMinhashRelations(delta, path, "append")

  /** d30 — near-dup admission control from a PERSISTED LSH index: the
    * d3-streaming shape (incoming docs checked against a corpus index
    * before admission) answered across sessions. The registered query
    * derives three slices from one table (the d23/d28 id-split
    * convention): the index is BUILT from the `%mod == 1` slice,
    * EXTENDED by appending the remaining existing slices — so the
    * registered path itself proves incremental maintenance — then the
    * `%mod == 0` increment queries the LOADED relations. Exact Jaccard
    * verification follows candidate banding, so candidates are never
    * FALSE positives — but banding is probabilistic RECALL, not a
    * pure prune (r12 advice): a pair at Jaccard s misses all 64
    * 2-row bands with probability (1−s²)⁶⁴ (~1e-8 at s = 0.5, falling
    * fast above threshold), so the hash oracle holds with high
    * probability PER CORPUS, deterministically for a fixed corpus
    * (same hashes, same bands every run). A future gate failure on a
    * REGENERATED corpus should be triaged as an expected LSH miss
    * (d3's recall argument) before being treated as a regression.
    *
    * Scale posture: the persisted index is two parquet tables — at
    * 100 TB `bands` is bucketed by band_key so a micro-batch's probe
    * join prunes to touched buckets, and `shingles` bucketed by doc_id
    * feeds the verify join; appends are per-batch file adds, never a
    * rewrite of corpus history. No session state survives; the index
    * IS the table pair.
    */
  def persistedLshPairs(s: SparkSession, dir: String,
      mod: Int = 3, t: Double = 0.5): DataFrame = {
    val path = VersionedStore.storePath(s, "target/graft_index/lsh/", dir,
      Seq("documents.parquet"), s"m$mod")
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
    val slice = pmod(col("doc_id"), lit(mod))
    buildOnce(s, path) {
      // relations first (initial slice, then the incremental append),
      // manifest LAST: the manifest is the build-complete marker, so a
      // crash between the two writes leaves a rebuildable directory —
      // never a trusted index silently missing the appended slice
      writeMinhashRelations(
        Dedup.minhashIndexFrom(docs.filter(slice === 1)), path, "overwrite")
      writeMinhashRelations(
        Dedup.minhashIndexFrom(docs.filter(slice =!= 0 && slice =!= 1)),
        path, "append")
      writeManifest(s, path, "minhash-lsh",
        minhashScheme + ("mod" -> mod.toString))
    }
    // probe signatures via the per-row HOF fold (the stream form, run
    // in batch): rewrite-time A/B at sf0.1, ~2× over the
    // explode→MinHashAgg formulation — the per-row fold needs no shuffle and no
    // 500k-row explode for a 1/3-corpus increment, and it is
    // arithmetically identical (StreamingSpec's parity claim).
    //
    // The fold is also PERSISTED (r12 verdict #8: the warm pass used
    // to re-sign the full increment every run, making pass 1 SLOWER
    // than pass 0): each probe doc is signed once per corpus snapshot
    // and its (sh, sz, sig) row stored beside the index — the
    // production sign-once-store-forever shape; a warm run reads the
    // signed relation from parquet and goes straight to the band
    // join. Manifest-last, like the index itself. Values are
    // bit-identical either way (materialization of a deterministic
    // projection). The trailing orderBy is a presentation sort over
    // the low-thousands pair output — negligible next to the probe.
    val probeDir = buildOnce(s, s"$path/probe") {
      Dedup.signDocs(docs.filter(slice === 0))
        .write.mode("overwrite").parquet(s"$path/probe/signed")
      writeManifest(s, s"$path/probe", "minhash-probe",
        minhashScheme + ("mod" -> mod.toString))
    }
    Dedup.minhashCandidatesSigned(s.read.parquet(s"$probeDir/signed"),
        loadMinhash(s, path), t)
      .orderBy(col("doc_id"), col("corpus_doc_id"))
  }

  def persistedCrossDedup(s: SparkSession, dir: String,
      mod: Int = 3): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val path = VersionedStore.storePath(s, "target/graft_index/fp/", dir,
      Seq("documents.parquet"), s"m$mod")
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    buildOnce(s, path)(
      saveFingerprints(docs.filter(pmod(col("doc_id"), lit(mod)) =!= 0),
        path, Map("mod" -> mod.toString)))
    Dedup.crossDedupFrom(
      docs.filter(pmod(col("doc_id"), lit(mod)) === 0),
      loadFingerprints(s, path))
  }

  // ── CDC chunk store (d34's persisted corpus state) ───────────────────

  // scheme values come from the TextFunctions constants (the d30
  // convention): a chunker-parameter change stamps a different scheme
  // and load refuses the stale store instead of silently computing
  // novelty against boundaries cut under another rule
  private def chunkScheme(w: Int, m: Int): Map[String, String] = Map(
    "w" -> w.toString, "m" -> m.toString,
    "rollB" -> graft.functions.TextFunctions.RollB.toString,
    "rollP" -> graft.functions.TextFunctions.RollP.toString,
    "convention" -> "cdc-polyroll-md5")

  /** Save a (chunk_md5, chunk_len) relation as the corpus chunk store.
    * Only HASHES persist — the store answers membership and size, not
    * content, so it is PII-light and 1/m the corpus bytes.
    */
  def saveChunks(chunks: DataFrame, path: String, w: Int, m: Int): Unit = {
    chunks.write.mode("overwrite").parquet(s"$path/chunks")
    // manifest LAST: the build-complete marker (d28/s14 convention)
    writeManifest(chunks.sparkSession, path, "chunkstore", chunkScheme(w, m))
  }

  def loadChunks(s: SparkSession, path: String, w: Int, m: Int): DataFrame = {
    val got = readManifest(s, path, "chunkstore")
    chunkScheme(w, m).foreach { case (k, v) =>
      require(got.get(k).contains(v),
        s"chunk store at $path was cut under a different chunker " +
          s"($k = ${got.get(k)}, this query uses $v)")
    }
    s.read.parquet(s"$path/chunks")
  }

  /** Incremental maintenance: append a new batch's chunk hashes.
    * Same-chunker contract rides the manifest as in [[appendMinhash]].
    */
  def appendChunks(path: String, delta: DataFrame): Unit =
    delta.write.mode("append").parquet(s"$path/chunks")

  /** d35 — storage-novelty scoring from a PERSISTED chunk store: chunk
    * the incoming docs (the `%mod == 0` slice) with d34's
    * content-defined chunker and report, per doc, how much of it the
    * store already holds — chunk counts and the byte-weighted known
    * fraction. This is dedup-aware ingest accounting: "this document
    * is 85% already-stored bytes" prices the storage AND flags the
    * near-copy before any pairwise comparison runs. The store is
    * BUILT from the `%mod == 1` slice and EXTENDED by appending the
    * rest (the d30 convention — the registered path itself proves
    * incremental maintenance), then the increment queries the LOADED
    * relation.
    *
    * Exactness: chunk hashes are md5 strings cut by the d34 chunker
    * (bounded-long integer folds); counts and byte sums are exact
    * longs; `known_frac` is ONE double divide. Full hash oracle — the
    * SQL recomputes both slices' chunks from first principles and
    * replays the membership join.
    *
    * Scale posture: the store is a parquet table of hashes (bucketed
    * by chunk_md5 at 100 TB so a micro-batch's membership probe
    * prunes to touched buckets); the query is one LEFT join of the
    * increment's chunks against it plus a per-doc aggregate. Appends
    * are file adds, never a rewrite.
    */
  def persistedChunkNovelty(s: SparkSession, dir: String, mod: Int = 3,
      w: Int = 8, m: Int = 64): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    Dedup.chunkNoveltyAgainst(
        docs.filter(pmod(col("doc_id"), lit(mod)) === 0),
        chunkStoreFor(s, dir, mod, w, m), w, m)
      .orderBy(col("doc_id"))
  }

  /** Load-or-build the persisted chunk store for `dir`'s existing
    * slices (doc_id % mod != 0): the (chunk_md5, chunk_len) relation
    * d35 batch and its streaming mirror both probe. Build follows the
    * d30 convention — initial slice, incremental append, manifest
    * LAST.
    */
  def chunkStoreFor(s: SparkSession, dir: String, mod: Int = 3,
      w: Int = 8, m: Int = 64): DataFrame = {
    // chunker params ride the tag: a different (w, m) builds ITS OWN
    // store; the manifest scheme check guards externally-shared paths
    val path = VersionedStore.storePath(s, "target/graft_index/chunks/",
      dir, Seq("documents.parquet"), s"m${mod}_w${w}c$m")
    val docs = graft.Tables.documents(s, dir)
    def chunkHashes(slice: DataFrame): DataFrame =
      Dedup.cdcChunks(slice, w, m)
        .select(md5(col("chunk")).as("chunk_md5"),
          length(col("chunk")).cast("long").as("chunk_len"))
    buildOnce(s, path) {
      // relations first, manifest LAST (the persistedLshPairs
      // build-complete-marker convention): saveChunks stamps the
      // manifest itself, so using it here would publish the store
      // BEFORE the appended slice lands — a crash between the two
      // writes would leave a trusted store silently missing half its
      // chunks on every later run. Write the initial slice's parquet
      // directly, append the delta, then stamp.
      chunkHashes(docs.filter(pmod(col("doc_id"), lit(mod)) === 1))
        .write.mode("overwrite").parquet(s"$path/chunks")
      appendChunks(path, chunkHashes(
        docs.filter(pmod(col("doc_id"), lit(mod)) > 1)))
      writeManifest(s, path, "chunkstore", chunkScheme(w, m))
    }
    loadChunks(s, path, w, m)
  }
}

/** The registered queries that call [[IndexStore]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object IndexStoreQueries {
  import IndexStore._

  def queries: Seq[QueryDef] = Seq(
    // Storage-novelty scoring from a PERSISTED chunk store (build →
    // append → load → membership join; byte-weighted known fraction)
    QueryDef("d35_chunk_novelty", persistedChunkNovelty(_, _),
      // d35: both slices' chunks recomputed from first principles (the
      // d34 CTEs, emitted per slice), membership replayed as a LEFT
      // join; counts/bytes exact longs, known_frac ONE double divide.
      SqlFn(() => s"""WITH ${cdcChunkCte("st_", "doc_id % 3 <> 0")},
         |${cdcChunkCte("in_", "doc_id % 3 = 0")},
         |store AS (SELECT DISTINCT md5(chunk) AS chunk_md5 FROM st_ch),
         |inc AS (SELECT doc_id, md5(chunk) AS chunk_md5,
         |    CAST(length(chunk) AS BIGINT) AS chunk_len FROM in_ch)
         |SELECT i.doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN s.chunk_md5 IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_known,
         |  CAST(sum(chunk_len) AS BIGINT) AS n_bytes,
         |  CAST(sum(CASE WHEN s.chunk_md5 IS NOT NULL THEN chunk_len
         |    ELSE 0 END) AS BIGINT) AS n_known_bytes,
         |  CAST(sum(CASE WHEN s.chunk_md5 IS NOT NULL THEN chunk_len
         |    ELSE 0 END) AS DOUBLE) / CAST(sum(chunk_len) AS DOUBLE)
         |    AS known_frac
         |FROM inc i LEFT JOIN store s ON i.chunk_md5 = s.chunk_md5
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // d23 answered from a PERSISTED fingerprint index (parquet +
    // manifest round trip) — equal output, full d23 oracle
    QueryDef("d28_persisted_cross_dedup", persistedCrossDedup(_, _),
      // d28: identical semantics to d23 — the existing-corpus side just
      // routes through the persisted parquet+manifest index, which the
      // round-trip spec proves equal to the direct build. Same oracle.
      DedupQueries.crossDedupOracle),

    // LSH near-dup admission from a persisted banding index (save +
    // incremental append + load in the query path; exact verify)
    QueryDef("d30_persisted_lsh_dedup", persistedLshPairs(_, _),
      // d30: same word-3-gram Jaccard truth as d2/d3, restricted to
      // (increment × existing-corpus) pairs — the banding only PRUNES
      // (exact verify after), so the persisted-index path answers the
      // plain cross-pairs relation exactly.
      SqlFn(() => s"""${DedupQueries.shingleSets}
        |SELECT a.doc_id AS doc_id, b.doc_id AS corpus_doc_id,
        |  len(list_intersect(a.t, b.t)) * 1.0
        |    / (a.n + b.n - len(list_intersect(a.t, b.t))) AS jaccard
        |FROM sz a JOIN sz b
        |  ON a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
        |WHERE len(list_intersect(a.t, b.t)) * 1.0
        |    / (a.n + b.n - len(list_intersect(a.t, b.t))) >= 0.5
        |ORDER BY doc_id, corpus_doc_id""".stripMargin)),

    // s3's query answered by a PERSISTED index (save -> parquet+manifest
    // -> load -> query): exact equality with s3 gated in IndexStoreSpec;
    // rows-only in the gate for the same reason as s3, and s3's contract
    QueryDef("s14_ivf_persisted_topk", ivfPersistedTopK(_, _),
      Approx(Bound("s14_recall_at5",
        SimilarityQueries.recallVsS1(ivfPersistedTopK(_, _)), AtLeast(0.8)))),
  )

  /** d34's chunking pipeline as prefixed CTEs over a doc slice —
    * emitted twice by the d35 oracle (store slice + incoming slice).
    * `<prefix>ch` is the resulting (doc_id, chunk) relation.
    */
  private def cdcChunkCte(prefix: String, pred: String): String =
    s"""${prefix}d AS (SELECT doc_id, string_split(text, '') AS chars,
       |    CAST(length(text) AS INT) AS n
       |  FROM documents WHERE length(text) > 0 AND $pred),
       |${prefix}cd AS (SELECT doc_id, chars, n,
       |    [CAST(ascii(x) AS BIGINT) for x in chars] AS codes
       |  FROM ${prefix}d),
       |${prefix}b AS (SELECT doc_id, chars, n,
       |    CASE WHEN n >= 8 THEN
       |      [i for i in range(8, n + 1) if
       |        list_reduce(codes[i-7:i],
       |          (a, c) -> (a * 1000003 + c) % 2147483647) % 64 = 0]
       |    ELSE CAST([] AS BIGINT[]) END AS bnd
       |  FROM ${prefix}cd),
       |${prefix}sp AS (SELECT doc_id, chars,
       |    list_prepend(CAST(0 AS BIGINT), bnd) AS ss,
       |    list_append(bnd, CAST(n AS BIGINT)) AS ee
       |  FROM ${prefix}b),
       |${prefix}ch AS (SELECT doc_id,
       |    unnest([array_to_string(chars[CAST(ss[k] + 1 AS INT):
       |        CAST(ee[k] AS INT)], '')
       |      for k in range(1, len(ss) + 1) if ee[k] > ss[k]]) AS chunk
       |  FROM ${prefix}sp)""".stripMargin
}
