package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (north-star extension:
  * ANN over an Array[Float] column).
  *
  * Two paths:
  *   - bruteForceTopK — EXACT top-k per query: broadcast the (small)
  *     query set against the corpus scan, rank with a window whose
  *     rank-filter Spark 3.5+/4 rewrites to WindowGroupLimitExec —
  *     per-partition partial top-k then a tiny final merge, i.e. the
  *     scalable two-phase top-k for free, no full sort of the corpus.
  *   - lshTopK — sub-quadratic scale path: random-hyperplane signatures
  *     (fixed seed → deterministic), bucket join with Hamming<=1
  *     multiprobe, exact cosine re-rank inside candidate buckets.
  *     Approximate by design → no SQL oracle; its contract is its
  *     [[Similarity.recall]] against bruteForceTopK.
  *
  * Cosine arithmetic is sequential-double (VectorFunctions), matching
  * DuckDB's list_cosine_similarity on DOUBLE[] bit-for-bit.
  */
object Similarity {

  /** Exact cosine top-k: for each query vector (vec_id < nQueries), the
    * k nearest corpus vectors (self excluded).
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def bruteForceTopK(s: SparkSession, dir: String,
      k: Int = 5, nQueries: Int = 5): DataFrame =
    bruteForceTopKFrom(Tables.embeddings(s, dir)
      .transform(Tables.spread(_, col("vec_id"))), k, nQueries)

  /** Same, over any (vec_id, embedding) relation. */
  def bruteForceTopKFrom(e: DataFrame,
      k: Int = 5, nQueries: Int = 5): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      // null cos = undefined similarity (zero/null vector) — a rank
      // consumer must EXCLUDE it, or it fills top-k slots when fewer
      // than k valid neighbors exist
      .filter(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** recall@k of an approximate top-k against the exact one: the share
    * of exact (query_id, neighbor_id) pairs the approximate answer also
    * returns.
    */
  def recall(exact: DataFrame, approx: DataFrame): Double = {
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = pairs(exact)
    (e intersect pairs(approx)).size.toDouble / e.size
  }

  /** s11 — exact cosine RADIUS search: for each query vector (vec_id <
    * nQueries), EVERY corpus vector with cosine >= t (self excluded) —
    * the range-query companion to s1's top-k (top-k bounds the result
    * count, radius search bounds the similarity; a retrieval pipeline
    * needs both: "give me everything closer than t" has no k).
    *
    * Output: (query_id, neighbor_id, cos), ordered.
    *
    * Scale posture: identical to s1 — the query side is tiny and
    * broadcast, the corpus is scanned ONCE with no shuffle at all (the
    * threshold filter needs no ranking window, so unlike s1 there is
    * not even the per-query top-k shuffle: map-only over the corpus).
    * At 100 TB this is the cheapest possible exact form; the indexed
    * variants (s2 LSH / s3 IVF) bound the scan instead when the
    * threshold is high enough for pruning to be sound (see d6's tiling
    * note for why a LOW threshold cannot be pruned).
    */
  def radiusSearch(s: SparkSession, dir: String,
      t: Double = 0.35, nQueries: Int = 5): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .transform(Tables.spread(_, col("vec_id")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      // null cos = undefined (zero/null vector) — can satisfy no radius
      .filter(col("cos") >= t)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** s4 — exact k-NN self-JOIN: every vector gets its k nearest
    * neighbors among all others (the batch primitive under clustering /
    * near-dup candidate mining, vs s1's fixed small query set).
    *
    * Exact all-pairs is inherently O(n²) compute; what must NOT be
    * O(n²) is any single task or the driver. The tile decomposition
    * (same as d6's: each unordered tile-pair materializes exactly once,
    * via an equi-join on (ta, tb) — never BroadcastNestedLoop) spreads
    * the n²/2 cosine evaluations across nTiles·(nTiles+1)/2
    * equi-join groups; per-vector norms are factored out once. The
    * top-k filter is a rank-over-window that Spark rewrites to
    * WindowGroupLimit — per-partition partial top-k, then a merge of
    * k·n rows, so nothing holds the full pair set. At 100 TB scale the
    * exact form is the verification baseline; the sub-quadratic
    * candidates come from lshTopK / ivfTopK.
    *
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def knnJoin(s: SparkSession, dir: String,
      k: Int = 3, nTiles: Int = 8): DataFrame = {
    // Zero-norm and null vectors are excluded BEFORE the tile join (one
    // predicate over n rows), so the O(n²) inner loop runs a plain IEEE
    // divide with a provably nonzero divisor. Guarding the divide
    // itself (try_divide in r7, or dot/nullif(denom,0)) costs ~1.4x on
    // this hot path — r8 rewrite-time A/B at sf0.1, bisecting the r7
    // s-family regression (historical record; the guard inhibits
    // codegen/JIT around the 64-iteration dot loop). Result is
    // identical: a zero/null vector produced only null cosines, which
    // ranked nowhere. Two nonzero float norms cannot underflow to a
    // zero double product (float min ~1e-45, product >= ~1e-90), so
    // ANSI divide-by-zero is unreachable.
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.l2norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0.0)
      .withColumn("tile", pmod(col("vec_id"), lit(nTiles)).cast("int"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a"), col("tile").as("ta"),
        explode(sequence(col("tile"), lit(nTiles - 1))).as("tb"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b"), col("tile").as("tb"),
        explode(sequence(lit(0), col("tile"))).as("ta"))
    val pairs = a.join(b, Seq("ta", "tb"))
      .filter(col("ta") =!= col("tb") || col("vec_a") < col("vec_b"))
      .withColumn("cos",
        graft.functions.VectorFunctions.dot(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b")))
      .select(col("vec_a"), col("vec_b"), col("cos"))
    // each unordered pair feeds BOTH directions of the k-NN relation.
    // The union-of-swapped-selects deliberately plans the quadratic
    // tile join ONCE PER BRANCH (n²/2 cosines twice). Two single-
    // execution rewrites have now LOST their A/Bs (the s4 protocol):
    // r15's explode(array(struct(a,b,cos), struct(b,a,cos))) at
    // 2.59 → 4.93 solo (per-pair CreateArray + 2×CreateStruct), and
    // r16's allocation-free variant — explode a CONSTANT 2-array and
    // swap endpoints with branch-free conditionals — at 2.53 → 4.06
    // BenchQ min-of-5 same-session. The Generate splits the
    // join→project→partial-top-k codegen pipeline and materializes
    // every directed row where each union branch streams straight into
    // its WindowGroupLimit, and that pipeline break costs more than
    // re-running the codegen'd dot products. The union form stays.
    val directed = pairs.select(col("vec_a").as("query_id"),
        col("vec_b").as("neighbor_id"), col("cos"))
      .unionAll(pairs.select(col("vec_b").as("query_id"),
        col("vec_a").as("neighbor_id"), col("cos")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    // no null-cos filter needed: zero/null vectors never entered the join
    directed
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Mean embedding per group as a (c_label, cvec) frame — the M-step /
    * class-prototype primitive under s5, s6, s7, and the IVF index.
    *
    * Shape matters at scale: dim independent `avg(emb[i])` aggregates,
    * NOT a posexplode — the explode form multiplies the corpus row
    * count by dim before the shuffle; this form partial-aggregates
    * map-side and shuffles #groups × dim doubles total. Rows whose
    * vector length differs from `dim` are skipped (ANSI element_at
    * would throw on them).
    */
  private def meanBy(e: DataFrame, grp: Column, dim: Int): DataFrame =
    e.filter(size(col("emb")) === dim)
      .groupBy(grp.as("c_label"))
      .agg(array((0 until dim).map(i =>
        avg(element_at(col("emb"), i + 1))): _*).as("cvec"))

  /** Per-label mean embedding (the s5/s6 prototype table). */
  private def labelCentroids(e: DataFrame, dim: Int): DataFrame =
    meanBy(e, col("label"), dim)

  /** Squared-L2 distance to a broadcast `cvec` — the native codegen'd
    * L2SqDist (r15), bit-identical to the sequential zip_with/aggregate
    * fold both engines evaluate (see kmeansAssign; the HOF reference
    * lives in VectorFunctions.l2sqHof, spec-pinned).
    */
  private def l2sqToCentroid: Column =
    graft.functions.VectorFunctions.l2sq(col("emb"), col("cvec"))

  /** One E-step: every vector joined to its argmin-distance centroid
    * (ties to the smaller label). The centroid table is broadcast; the
    * only shuffle is the rank-1 WindowGroupLimit keyed by vec_id.
    */
  private def assignStep(e: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("c_label"))
    e.crossJoin(broadcast(cent))
      .withColumn("dist", l2sqToCentroid)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** s5 — per-label centroid, exploded to (label, dim, c) rows so the
    * result is flat-comparable. The explode happens AFTER aggregation —
    * on the #labels-row result, not the corpus.
    */
  def centroids(s: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
    labelCentroids(e, dim)
      .select(col("c_label").as("label"),
        posexplode(col("cvec")).as(Seq("dim", "c")))
      .orderBy(col("label"), col("dim"))
  }

  /** s6 — one k-means E-step: every vector assigned to its nearest
    * label centroid by squared L2 (ties to the smaller label). The
    * centroid table is #labels×dim doubles — broadcast; the corpus
    * scan streams past it, so the only shuffle is the rank-1 filter's
    * (vec_id)-partitioned WindowGroupLimit over #labels rows per
    * vector. Iterating this against `labelCentroids` of the PREVIOUS
    * assignment is full Lloyd's k-means; one deterministic step is
    * what's oracle-checkable.
    *
    * Distance is a sequential left fold (zip_with + aggregate), the
    * same arithmetic DuckDB's list_reduce does — cross-engine
    * bit-stable, like VectorFunctions.dot.
    */
  def kmeansAssign(s: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .filter(size(col("emb")) === dim)
    assignStep(e, labelCentroids(e, dim))
      .select(col("vec_id"), col("label"),
        col("c_label").as("assigned_label"), col("dist"))
      .orderBy(col("vec_id"))
  }

  /** s7 — full iterated Lloyd's k-means: initialize centroids as the
    * per-label means (deterministic — fixed init + fixed iteration
    * count is what makes this oracle-able in ANSI SQL, CTE-unrolled),
    * run `iters` complete E+M rounds, and return the final E-step
    * assignment.
    *
    * Scale posture per iteration: the corpus is scanned once from cache
    * (persist at cluster scale); the E-step broadcasts the k×dim
    * centroid table and shuffles only the rank-1 WindowGroupLimit; the
    * M-step is dim independent map-side-combined averages shuffling
    * k×dim doubles total. Iteration count is a FIXED parameter — an
    * until-convergence driver loop is the d9 fixpoint pattern
    * (checkpoint + convergence count) and deliberately not used here:
    * training-data pipelines run k-means for a budgeted round count.
    * The plan grows linearly with `iters` (each round appends one
    * aggregate + one join), which stays trivially plannable for the
    * single-digit budgets that matter; no checkpoint needed.
    *
    * Empty clusters (a centroid attracting no vectors) simply drop out
    * of the next round's M-step aggregate on both engines, so the
    * oracle and the plan agree without special-casing.
    */
  def kmeansIterate(s: SparkSession, dir: String, dim: Int = 64,
      iters: Int = 2): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .filter(size(col("emb")) === dim)
      .cache() // one scan per iteration; Bench/Verify clearCache per query
    var cent = labelCentroids(e, dim)
    for (_ <- 1 to iters) {
      val assigned = assignStep(e, cent)
        .select(col("vec_id"), col("emb"), col("c_label"))
      cent = meanBy(assigned, col("c_label"), dim)
    }
    assignStep(e, cent)
      .select(col("vec_id"), col("label"),
        col("c_label").as("assigned_label"), col("dist"))
      .orderBy(col("vec_id"))
  }

  /** d17 — SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication" — public): bound the quadratic near-dup search by
    * CLUSTERING FIRST, then dedup only within a cluster. A vector is
    * DROPPED iff some smaller-id vector in the SAME cluster has cosine
    * >= t to it (one-pass keep-min rule — the paper's keep-one-per-
    * ε-ball greedy, made deterministic by the id order; not a
    * transitive closure, which is d9/d13's job).
    *
    * The approximation is the point: cross-cluster near-dup pairs are
    * invisible BY DESIGN — that is what turns the O(n²) global search
    * into k independent O((n/k)²) blocks whose work scales out with
    * the cluster count (at 100 TB, k grows with the corpus so the
    * per-cluster quadratic stays bounded; a skewed giant cluster is
    * the known failure mode and is monitored, not load-balanced away,
    * because splitting it changes which pairs are compared). Recall
    * against the exact global pair set (d6) is spec-gated; precision
    * is exactly 1.0 by construction (within-cluster pairs are a subset
    * of all pairs, same cosine arithmetic).
    *
    * Assignment = s6's deterministic E-step (per-label mean centroids,
    * sequential-fold L2, ties to smaller label) so the whole operator
    * is DuckDB-oracle-checkable end to end.
    * Output: (vec_id, c_label, kept).
    */
  def semanticDedup(s: SparkSession, dir: String,
      t: Double = 0.4, dim: Int = 64): DataFrame =
    semanticDedupFrom(Tables.embeddings(s, dir), t, dim)

  /** d17 over any (vec_id, label, embedding) relation — the composable
    * form (the clustered-data spec feeds synthetic corpora through it).
    */
  def semanticDedupFrom(embeddings: DataFrame,
      t: Double = 0.4, dim: Int = 64): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .filter(size(col("emb")) === dim)
      .cache() // feeds centroids + assignment + both pair sides
    val assigned = assignStep(e, labelCentroids(e, dim))
      .select(col("vec_id"), col("c_label"), col("emb"))
    val a = assigned.select(col("c_label"), col("vec_id").as("id_a"),
      col("emb").as("emb_a"))
    val b = assigned.select(col("c_label"), col("vec_id").as("id_b"),
      col("emb").as("emb_b"))
    // within-cluster pairs only: equi-join on the cluster label — the
    // shuffle key is the cluster, never a doc pair
    val dropped = a.join(b, Seq("c_label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= t)
      .select(col("id_b").as("vec_id"))
      .distinct()
    assigned.join(dropped.withColumn("_drop", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_label"), col("_drop").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  // ── Random-hyperplane LSH ────────────────────────────────────────────
  /** Fixed-seed Gaussian hyperplanes: nBits × dim. Deterministic;
    * `table` varies the seed so multi-table LSH gets independent
    * hyperplane sets.
    */
  private[operators] def hyperplanes(nBits: Int, dim: Int,
      table: Int = 0): Array[Array[Double]] = {
    val rnd = new scala.util.Random(7 + 1000 * table)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** Sign-bit signature of a vector under the fixed hyperplanes,
    * packed into an int column.
    */
  private def signature(emb: org.apache.spark.sql.Column,
      planes: Array[Array[Double]]): org.apache.spark.sql.Column =
    planes.zipWithIndex.map { case (h, i) =>
      val proj = aggregate(
        zip_with(emb.cast("array<double>"),
          array(h.map(lit): _*), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  // ── IVF (inverted-file) ANN ──────────────────────────────────────────
  /** A built IVF index: trained cell centroids (K × dim doubles, driver
    * side) + the cell-assigned corpus (neighbor_id, n_emb, cell),
    * MATERIALIZED via localCheckpoint. The corpus side is checkpointed,
    * not cache()d, deliberately: the index must survive a session-level
    * `catalog.clearCache()` between queries (Bench's isolation step),
    * exactly as a cluster deployment's index is a TABLE (bucketed by
    * cell), not an entry in some session's cache. Lifecycle belongs to
    * the caller — an index is valid for one corpus snapshot
    * (`invalidateIvfIndexes()` drops the memo; superseded checkpoint
    * blocks are freed by the ContextCleaner once unreferenced).
    * Pattern mirrors Dedup.MinhashIndex (the build-once/query-many
    * split every index structure needs to be worth building).
    */
  final case class IvfIndex(centroids: Array[Array[Double]],
      corpus: DataFrame, nCells: Int, dim: Int)

  /** Build an IVF-flat index: partition the corpus into K cells around
    * k-means centroids (deterministic hash-partition init + `lloydIters`
    * Lloyd rounds — real cluster centers, not arbitrary seed vectors, so
    * cell populations are balanced and probes hit genuinely-near cells).
    *
    * Centroids train on a DETERMINISTIC 20% hash sample: centroid
    * quality needs on the order of 100 points per cell, not the corpus —
    * training on the full table made the index build cost more than the
    * scan it saves (rewrite-time A/B at sf0.1: full-table training
    * built at ~2.4× the brute-force scan's cost).
    * Hash-partition init, `lloydIters` Lloyd rounds over the sample,
    * then K × dim doubles to the driver. The corpus-side cell
    * assignment is ONE scan, then checkpointed.
    */
  def buildIvfIndex(s: SparkSession, dir: String, nCells: Int = 16,
      dim: Int = 64, lloydIters: Int = 2): IvfIndex =
    buildIvfIndexFrom(Tables.embeddings(s, dir)
      .transform(Tables.spread(_, col("vec_id"))), nCells, dim, lloydIters)

  /** Same, over any (vec_id, embedding) relation. */
  def buildIvfIndexFrom(e: DataFrame, nCells: Int = 16,
      dim: Int = 64, lloydIters: Int = 2): IvfIndex = {
    val eD = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .filter(size(col("emb")) === dim)
      .filter(pmod(col("vec_id"), lit(5)) === 0)
      .cache()
    var cent = meanBy(eD, pmod(col("vec_id"), lit(nCells)), dim)
    for (_ <- 1 to lloydIters)
      cent = meanBy(assignStep(eD, cent)
        .select(col("vec_id"), col("emb"), col("c_label")), col("c_label"), dim)
    val centroids: Array[Array[Double]] = cent
      .orderBy(col("c_label"))
      .select(col("cvec")).collect()
      .map(_.getSeq[Double](0).toArray)
    eD.unpersist()
    // A corpus with no `dim`-length vector in the hash sample yields no
    // centroids — no index is buildable; callers fall back to the exact
    // scan, which handles degenerate embeddings by construction.
    if (centroids.isEmpty)
      return IvfIndex(centroids, e.limit(0), nCells, dim)
    // Norms are paid ONCE at build time (n per corpus, not n×queries at
    // query time) and zero-norm vectors never enter the index — they
    // produced only null cosines, which ranked nowhere. The query side
    // can then run the hot cosine as one dot + a plain IEEE divide with
    // a provably nonzero divisor (the s4/d6 lesson: any per-pair guard
    // or re-derived norm costs measurably on the candidate join).
    val corpus = assignToCells(centroids, e).localCheckpoint(true)
    IvfIndex(centroids, corpus, nCells, dim)
  }

  /** Deterministic cell assignment of a (vec_id, embedding) relation
    * under FIXED centroids — the build-time corpus step, shared with
    * [[IndexStore.appendIvf]]'s incremental maintenance so an appended
    * increment gets the byte-identical assignment a full rebuild under
    * the same centroids would give it. Zero-norm/invalid vectors are
    * dropped here (they produced only null cosines downstream).
    */
  private[graft] def assignToCells(centroids: Array[Array[Double]],
      e: DataFrame): DataFrame =
    e.withColumn("dists", centroidDists(centroids, col("embedding")))
      .withColumn("cell",
        expr("array_position(dists, array_min(dists))").cast("int"))
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"), col("cell"),
        l2norm(col("embedding")).as("n_nrm"))
      .filter(col("n_nrm") > 0.0)

  /** squared-L2 distance to each centroid, as literal-array dots:
    * |x-c|^2 = |x|^2 - 2<x,c> + |c|^2 ; monotone equivalent for fixed x
    * across cells: -2<x,c> + |c|^2.
    */
  private def centroidDists(centroids: Array[Array[Double]],
      emb: Column): Column = array(centroids.map { c =>
    lit(-2.0) * dot(emb, typedLit(c.toSeq)) + lit(c.map(v => v * v).sum)
  }: _*)

  /** The query side of IVF-flat: each query probes the `nProbe` cells
    * nearest its vector and is exact-cosine re-ranked against only
    * those cells' members. Sub-quadratic: each query touches
    * ~nProbe/K of the corpus, from a pre-assigned (checkpointed)
    * corpus table — no per-call training, no per-call assignment scan.
    * `queries` is (query_id, q_emb).
    */
  def ivfQuery(index: IvfIndex, queries: DataFrame,
      k: Int = 5, nProbe: Int = 12): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    ivfCandidates(index, queries, nProbe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The candidate half of [[ivfQuery]] — probe + cell join + exact
    * cosine, BEFORE the rank window. Split out because this half is
    * streaming-compatible (stream-static join of a live query feed
    * against the checkpointed index; rank windows are not supported on
    * streams, so a streaming consumer ranks with a bounded per-query
    * aggregate instead — StreamingSpec drives exactly that). When the
    * query side is a stream the broadcast hint is left off: the
    * planner handles a stream-static equi-join natively and a stream
    * cannot be a broadcast build side.
    */
  def ivfCandidates(index: IvfIndex, queries: DataFrame,
      nProbe: Int = 12): DataFrame = {
    val q0 = probedCells(index.centroids, queries, nProbe)
    val q = if (q0.isStreaming) q0 else broadcast(q0)
    index.corpus.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")))
      .filter(col("cos").isNotNull) // length-mismatched vectors rank nowhere
      .select(col("query_id"), col("neighbor_id"), col("cos"))
  }

  /** (query_id, q_emb, q_nrm, cell) for each query's `nProbe` nearest
    * cells: sort (dist, idx) structs. Query norms are computed once per
    * query row (broadcast side), and zero-norm queries are dropped up
    * front — so the per-candidate cosine stays one dot + one plain
    * divide with both norm factors known nonzero (arithmetic identical
    * to VectorFunctions.cosine: same sqrt/product/divide order, minus
    * the per-pair guard). Shared by ivfCandidates (s3 and its streaming
    * form) and the s13 IVF-PQ coarse prune.
    */
  private def probedCells(centroids: Array[Array[Double]],
      queries: DataFrame, nProbe: Int): DataFrame =
    (if (queries.columns.contains("q_nrm")) queries
      else queries.withColumn("q_nrm", l2norm(col("q_emb"))))
      .filter(col("q_nrm") > 0.0)
      .withColumn("dists", centroidDists(centroids, col("q_emb")))
      .withColumn("ranked", expr(
        s"transform(slice(array_sort(transform(sequence(1, ${centroids.length}), " +
          s"i -> struct(dists[i-1] AS d, i AS idx))), 1, $nProbe), x -> x.idx)"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        explode(col("ranked")).as("cell"))
      .withColumn("cell", col("cell").cast("int"))


  /** Memoized index per (session, corpus dir, params): the registered
    * ANN entry points are (SparkSession, dir) => DataFrame, so the
    * amortization a production deployment gets from holding an index
    * value is expressed as build-on-first-call. Keyed by the session
    * REFERENCE (an index holds session-bound checkpoint blocks) and
    * the exact build params. ONE factory for all index families
    * (IVF / LSH / IVF-PQ) so a fix to the keying applies everywhere.
    */
  private def indexRegistry[V]() =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()

  private val ivfIndexes = indexRegistry[IvfIndex]()

  def ivfIndexFor(s: SparkSession, dir: String, nCells: Int = 16,
      dim: Int = 64, lloydIters: Int = 2): IvfIndex =
    ivfIndexes.computeIfAbsent((s, s"$dir|$nCells|$dim|$lloydIters"),
      _ => buildIvfIndex(s, dir, nCells, dim, lloydIters))

  /** Drop all memoized IVF indexes (corpus snapshot superseded, or a
    * bench wants to time a cold build).
    */
  def invalidateIvfIndexes(): Unit = ivfIndexes.clear()

  /** s3 — IVF-flat ANN top-k: query the (memoized) index. First call
    * per (session, corpus) pays the build; every later call is
    * query-only — the amortization that makes an ANN index worth
    * building at all (and what Bench's min-across-passes reports).
    *
    * The default nProbe is deliberately wide (12/16 — measured
    * recall@5 0.92 at sf0.1 vs 0.80 at 10/16, re-rank cost unchanged):
    * real k-means cells prune HARDER than arbitrary seed cells
    * (balanced populations, tight boundaries), and this corpus is
    * near-isotropic — neighbors sit at cos 0.4-0.55 against a 0.3
    * background, so recall needs candidate volume; on genuinely
    * clustered data the same index prunes far deeper at the same
    * recall (the s2 comment's argument, spec-proven on planted
    * clusters).
    */
  def ivfTopK(s: SparkSession, dir: String,
      k: Int = 5, nQueries: Int = 5, nCells: Int = 16, nProbe: Int = 12,
      dim: Int = 64, lloydIters: Int = 2): DataFrame = {
    val index = ivfIndexFor(s, dir, nCells, dim, lloydIters)
    if (index.centroids.isEmpty)
      return bruteForceTopK(s, dir, k, nQueries)
    // the query vectors ARE corpus members (vec_id < nQueries) — draw
    // them from the checkpointed index rather than re-scanning parquet:
    // norms ride along for free and the query plan touches no files.
    // Zero-norm queries were dropped at build; they produced only null
    // cosines in the exact scan (no output rows), so the results agree.
    val queries = index.corpus
      .filter(col("neighbor_id") < nQueries)
      .select(col("neighbor_id").as("query_id"), col("n_emb").as("q_emb"),
        col("n_nrm").as("q_nrm"))
    ivfQuery(index, queries, k, nProbe)
  }

  /** s16 — approximate all-pairs kNN JOIN via the IVF index: the scale
    * path for s4. s4's exact tiled join is the verification baseline
    * and costs O(n²) dot products regardless of tiling; this form
    * evaluates only pairs that share one of the query's `nProbe`
    * nearest cells — n²·(nProbe/K) expected dots with balanced k-means
    * cells, and K grows with the corpus (K ≈ √n is the standard IVF
    * sizing), so the fraction FALLS as the corpus grows. This is the
    * operator a 100 TB near-dup / semantic-clustering pipeline
    * actually runs: every document gets its top-k neighbors without
    * any side being broadcast.
    *
    * Unlike s3's query path, the query side here IS the corpus, so the
    * probe relation is NOT broadcast — the cell join is a plain
    * shuffle equi-join on the int cell id (both sides hash-partition
    * on `cell`; per-cell groups are |cell| × |probes into the cell|,
    * bounded because k-means balances cell populations). The top-k
    * rank is the same WindowGroupLimit partial top-k as s4 — nothing
    * materializes the candidate set.
    *
    * Approximate by design (a neighbor is missed iff its home cell is
    * outside the query's probe set): its registered contract is
    * recall@3 vs s4, published as a bench-artifact field, like s2/s3. The default probe width is wide for the same
    * reason s3's is (measured recall@3 at sf0.01: 0.80 at 8/16, 0.88
    * at 10/16, 0.94 at 12/16 — this corpus is near-isotropic, so
    * recall needs candidate volume); the structural win is that K
    * grows with the corpus while nProbe doesn't, and clustered
    * real-embedding corpora prune far harder at the same recall.
    */
  def ivfKnnJoin(s: SparkSession, dir: String,
      k: Int = 3, nProbe: Int = 12, nCells: Int = 16,
      dim: Int = 64, lloydIters: Int = 2): DataFrame = {
    val index = ivfIndexFor(s, dir, nCells, dim, lloydIters)
    if (index.centroids.isEmpty)
      return knnJoin(s, dir, k) // degenerate corpus: exact fallback
    val queries = index.corpus.select(col("neighbor_id").as("query_id"),
      col("n_emb").as("q_emb"), col("n_nrm").as("q_nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    index.corpus.join(probedCells(index.centroids, queries, nProbe),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // both norms are build-time-guaranteed nonzero: plain IEEE divide
      .withColumn("cos",
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Approximate top-k via MULTI-TABLE LSH buckets + Hamming-1
    * multiprobe + exact cosine re-rank of the unioned candidates.
    *
    * Parameter shape: `nTables` independent hyperplane sets, each
    * hashing to 2^nBits buckets; a query probes its own bucket and all
    * Hamming-1 buckets in every table; a neighbor is found if ANY table
    * collides. Multi-table is what buys recall on a corpus like this
    * one, whose top-5 neighbors sit at cos 0.4-0.55 (angle 60°+, per-
    * hyperplane collision ~0.65): one table at any bit width either
    * misses them or degenerates to a full scan. With b bits, H-1
    * probing and L tables, a θ-angle neighbor is missed with
    * ((1-p^b) - b·p^(b-1)(1-p))^L for p = 1-θ/π — the defaults hit
    * recall ≥ ~0.9 at candidate fraction ~40% on isotropic data, and
    * prune far harder when the data actually clusters.
    *
    * Scale posture: corpus side is hashed once per table (nTables×
    * replication of (id, bucket) keys — NOT of the vectors... the
    * embedding rides along only to the bucket join, which is an
    * equi-join on (table, bucket)); candidates dedup on (query,
    * neighbor) before the exact re-rank so each pair's cosine is
    * computed once.
    */
  def lshTopK(s: SparkSession, dir: String,
      k: Int = 5, nQueries: Int = 5, nBits: Int = 4, nTables: Int = 8,
      dim: Int = 64): DataFrame =
    lshQuery(lshIndexFor(s, dir, nBits, nTables, dim), k, nQueries)

  /** Prebuilt multi-table LSH index, two checkpointed relations:
    *
    *  - `sigs`: ONE row per vector — embedding + the `nTables` bucket
    *    signatures. The signatures are the expensive half of the
    *    scheme (nTables × nBits hyperplane dot products per corpus
    *    row: 32 dots of dim 64 at the defaults, ~6× the dot-product
    *    work of the exact s1 scan when only 5 queries probe), so like
    *    IvfIndex they are paid once at build.
    *  - `postings`: the exploded (bucket, neighbor_id) posting list —
    *    nTables skinny int rows per vector, NO embedding. Candidate
    *    generation at query time streams only these ~12 bytes/row;
    *    vectors are fetched from `sigs` by id AFTER the (query,
    *    neighbor) dedup, so embedding bytes move once per surviving
    *    candidate instead of nTables× per corpus row (the posture
    *    that matters at 100 TB: posting-list join, then fetch).
    *
    * Bucket keys are ints — (table << nBits) | signature — not
    * concat_ws strings: integer equi-join keys hash cheaper and pack
    * the nTables disjoint key spaces without collisions.
    * Pattern mirrors IvfIndex / Dedup.MinhashIndex.
    */
  final case class LshIndex(sigs: DataFrame, postings: DataFrame,
      nBits: Int, nTables: Int, dim: Int)

  def buildLshIndex(s: SparkSession, dir: String, nBits: Int = 4,
      nTables: Int = 8, dim: Int = 64): LshIndex =
    buildLshIndexFrom(Tables.embeddings(s, dir)
      .transform(Tables.spread(_, col("vec_id"))), nBits, nTables, dim)

  /** Same, over any (vec_id, embedding) relation. */
  def buildLshIndexFrom(e: DataFrame, nBits: Int = 4,
      nTables: Int = 8, dim: Int = 64): LshIndex = {
    val sigCols = (0 until nTables).map { t =>
      signature(col("embedding"), hyperplanes(nBits, dim, t)).as(s"sig$t")
    }
    val sigs = e.select(col("vec_id") +: col("embedding") +: sigCols: _*)
      .localCheckpoint(true)
    val postingKeys = (0 until nTables).map(t =>
      (lit(t << nBits).bitwiseOR(col(s"sig$t"))).cast("int"))
    val postings = sigs
      .select(col("vec_id").as("neighbor_id"),
        explode(array(postingKeys: _*)).as("bucket"))
      .localCheckpoint(true)
    LshIndex(sigs, postings, nBits, nTables, dim)
  }

  /** Memoized per (session, corpus dir, params) — build-on-first-call,
    * same amortization contract as `ivfIndexFor`.
    */
  private val lshIndexes = indexRegistry[LshIndex]()

  def lshIndexFor(s: SparkSession, dir: String, nBits: Int = 4,
      nTables: Int = 8, dim: Int = 64): LshIndex =
    lshIndexes.computeIfAbsent((s, s"$dir|$nBits|$nTables|$dim"),
      _ => buildLshIndex(s, dir, nBits, nTables, dim))

  def invalidateLshIndexes(): Unit = lshIndexes.clear()

  /** The query side of s2: probe + Hamming-1 posting-list join →
    * (query, neighbor) dedup → fetch vectors by id → exact cosine
    * re-rank. No per-call corpus hashing, and no embedding bytes in
    * the candidate-generation stream.
    */
  /** The skinny candidate pairs the posting-list join produces — the
    * pruning half of s2, exposed so its selectivity is measurable
    * (DedupSimilaritySpec asserts it prunes hard on clustered data;
    * on THIS near-isotropic corpus it is documented to flood).
    */
  def lshCandidates(index: LshIndex, nQueries: Int = 5): DataFrame = {
    val nBits = index.nBits
    val nTables = index.nTables
    // queries probe own + Hamming-1 buckets in EVERY table
    val probeKeys = (0 until nTables).flatMap { t =>
      val own = col(s"sig$t")
      (own +: (0 until nBits).map(i => own.bitwiseXOR(lit(1 << i))))
        .map(sig => (lit(t << nBits).bitwiseOR(sig)).cast("int"))
    }
    val qProbes = index.sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(array(probeKeys: _*)).as("bucket"))
    // a pair found in several tables re-ranks once
    index.postings.join(broadcast(qProbes), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
  }

  def lshQuery(index: LshIndex, k: Int = 5, nQueries: Int = 5): DataFrame = {
    val cand = lshCandidates(index, nQueries)
    val qVecs = index.sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    index.sigs
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .filter(col("cos").isNotNull) // zero/null vectors rank nowhere
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ── Embedding storage quantization ───────────────────────────────────
  /** s8 — per-vector int8 scalar quantization: q[i] = floor((x[i]-mn)/
    * scale + 0.5) with scale = (mx-mn)/255 — 4× smaller embedding
    * storage (the difference between fitting an embedding corpus in
    * cluster memory or not at 100 TB), with reconstruction error
    * bounded by scale/2 per element (spec-asserted).
    *
    * All arithmetic is explicit-double and expressed as floor(x+0.5),
    * not an engine `round`: float-vs-double promotion and
    * half-even/half-up rounding are exactly where two engines silently
    * disagree, and the oracle is a value-level hash. Constant vectors
    * (scale 0) quantize to all zeros on both engines by the same CASE.
    * Shuffle-free codegen'd scan.
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame =
    quantized(s, dir).orderBy(col("vec_id"))

  /** Unordered quantization core shared by the registered s8 form and
    * the s9 consumer (no orderBy: a sort below a join/rank is wasted
    * work the optimizer cannot always remove).
    */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .transform(Tables.spread(_, col("vec_id")))
      .select(col("vec_id"),
        expr("CAST(array_min(embedding) AS DOUBLE)").as("mn"),
        expr("CAST(array_max(embedding) AS DOUBLE)").as("mx"),
        col("embedding"))
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
      .select(col("vec_id"), col("mn"), col("mx"),
        when(col("scale") === 0.0,
          expr("transform(embedding, x -> 0)"))
          .otherwise(expr(
            "transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE) - mn) / scale + 0.5d) AS INT))"))
          .as("qvec"))

  /** s8, registered form — the int8 codes emitted as a comma-joined
    * string instead of `array<int>`: the correctness gate's column-wise
    * sort cannot order array cells (pandas factorize chokes on ndarray
    * values), and the joined string carries the identical value-level
    * evidence — every code, in element order — in a sortable scalar.
    */
  def quantizeInt8Flat(s: SparkSession, dir: String): DataFrame =
    quantized(s, dir)
      .select(col("vec_id"), col("mn"), col("mx"),
        array_join(col("qvec"), ",").as("qvec_csv"))
      .orderBy(col("vec_id"))

  /** s9 — exact cosine top-k over DEQUANTIZED vectors
    * (x̂[i] = mn + q[i]·scale): the consumer that closes the
    * quantization loop. Searching the 4×-smaller int8 corpus must rank
    * (nearly) like the float corpus — recall vs s1 is gated in
    * DedupSimilaritySpec. Unlike s2/s3 the ranking is fully
    * deterministic (no probing, no candidate generation), so it carries
    * a complete SQL oracle: DuckDB reconstructs with the same
    * double-precision expression and ranks with the same tie-break.
    */
  def dequantizedTopK(s: SparkSession, dir: String,
      k: Int = 5, nQueries: Int = 5): DataFrame = {
    val recon = quantized(s, dir)
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
      .select(col("vec_id"),
        expr("transform(qvec, q -> mn + CAST(q AS DOUBLE) * scale)")
          .as("embedding"))
    bruteForceTopKFrom(recon, k, nQueries)
  }

  // ── Product quantization (PQ) ANN ────────────────────────────────────
  /** s10 — product-quantization ANN (Jégou, Douze & Schmid 2011,
    * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI —
    * public): the third point in the index family's compression/recall
    * space. s8/s9 compress per-vector (256 bytes -> 64 + 2 doubles);
    * PQ compresses to `m` SUBSPACE CODES (here 16 subspaces × 4-bit
    * codes = 8 bytes a vector — a 100 TB float corpus becomes ~3 TB
    * of codes, small enough to keep the whole searchable index in
    * cluster memory) by learning a per-subspace k-means codebook and
    * quantizing each dim/m-slice to its nearest centroid. The 16×16
    * parameterization is the "4-bit fast-scan" layout (André, Kermarrec
    * & Le Scouarnec 2015, "Cache locality is not enough" — public):
    * same bytes per vector as the classic 8×8-bit codebook but an 8×
    * smaller candidate stream during training/assignment, and a
    * 256-entry per-query LUT. Measured on this corpus: shortlist-50
    * capture of the true top-5 is 0.92 at (16,16) vs 1.00 at (8,256) —
    * both clear the 0.8 recall gate; (16,16) assigns ~8× faster.
    *
    * Search is the paper's two-stage shape: asymmetric distance
    * computation (ADC) over the codes — the query stays float; per
    * query a (m × codes)-entry lookup table of partial squared-L2
    * distances is computed against the codebook, and a candidate's
    * distance is the sum of its m table hits — then an EXACT re-rank
    * of the top-`shortlist` ADC candidates against their float
    * vectors. Pure ADC recall@5 on this unclustered corpus is ~0.4
    * (measured across (m, codes) grids); the re-rank is not a local
    * embellishment but how PQ deploys — the codes prune 100 TB to a
    * per-query shortlist, the floats of only that shortlist are
    * fetched. Vectors are L2-NORMALIZED first, so ADC's L2² ranking
    * is 2 − 2·cos and the re-rank's dot IS cosine — the recall gate
    * against s1 (DedupSimilaritySpec) compares like with like.
    *
    * Scale posture: codebook training is s7's Lloyd shape run over ALL
    * m subspaces in ONE plan (subvector rows keyed by sub_id; the
    * codebook — m·codes·(dim/m) doubles — broadcasts; the only
    * corpus-sized shuffle per round is the rank-1 WindowGroupLimit).
    * The ADC join streams the n·m code rows past the broadcast
    * nQueries·m·codes LUT and partial-aggregates map-side down to
    * n·nQueries sums — no quadratic pair set, no BNLJ anywhere. The
    * re-rank touches nQueries·shortlist rows: the shortlist broadcasts
    * and the float corpus streams past it once (fetch-by-id, same as
    * s2's verify stage). Deterministic end to end (pmod init, fixed
    * rounds, ties to the smaller code/id) but the 8-subspace unrolled
    * k-means makes a SQL oracle impractical — registered rows-only,
    * recall-gated in spec like s2/s3.
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def pqTopK(s: SparkSession, dir: String,
      k: Int = 5, nQueries: Int = 5, m: Int = 16, nCodes: Int = 16,
      iters: Int = 2, dim: Int = 64, shortlist: Int = 200): DataFrame = {
    val sub = dim / m
    val e = pqUnitCorpus(s, dir, dim)
    val subv = pqSubvectors(e, "vec_id", m, sub)
    val (cent, codes) = pqTrain(subv, m, nCodes, iters, sub)
    val lut = pqLut(e, cent, nQueries, m, sub)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    val short = codes.join(broadcast(lut), Seq("sub_id", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("pdist")).as("adc_dist"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    pqRerank(e, short, nQueries, k)
  }

  /** L2-normalized, dim-validated embedding corpus (cached — subvector
    * explode and the query side both re-scan it; Bench/Verify
    * clearCache per query).
    */
  private def pqUnitCorpus(s: SparkSession, dir: String, dim: Int): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
        graft.functions.VectorFunctions.l2norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0.0 && size(col("emb")) === dim)
      .select(col("vec_id"), transform(col("emb"), x => x / col("nrm")).as("emb"))
      .cache()

  /** (id, sub_id, sv): each unit vector split into its m dim/m slices. */
  private def pqSubvectors(df: DataFrame, idAs: String,
      m: Int, sub: Int): DataFrame =
    df.select(col("vec_id").as(idAs), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("emb"), i * lit(sub) + 1, lit(sub))))
        .as(Seq("sub_id", "sv")))

  /** Per-subspace codebook training + final code assignment.
    *
    * All distance math is dot-based (||a−c||² = ||a||² + ||c||² − 2a·c)
    * through the native codegen'd DotProduct, NOT the zip_with/aggregate
    * fold s6/s7 use: those are oracle-mirrored and must stay
    * bit-identical to DuckDB's list_reduce; PQ has no SQL oracle, and
    * the interpreted fold dominated the n·m·codes candidate stream.
    * Together with the 16×16 layout and the per-round checkpoint,
    * rewrite-time sf0.1 warm time improved ~9× (historical A/B
    * record). ||c||² is precomputed once per
    * centroid. (Also rejected, with measurements: driver-collected
    * codebook + literal-array argmin à la IVF — fine at 16 cells, but
    * 2048 literal dot expressions made planning/codegen the
    * bottleneck, an order of magnitude over the shipped form.)
    */
  private def pqTrain(subv: DataFrame, m: Int, nCodes: Int,
      iters: Int, sub: Int): (DataFrame, DataFrame) = {
    import graft.functions.VectorFunctions.dot
    def subMeans(df: DataFrame): DataFrame =
      df.groupBy(col("sub_id"), col("code"))
        .agg(array((0 until sub).map(i =>
          avg(element_at(col("sv"), i + 1))): _*).as("cvec"))
        .withColumn("cnorm2", dot(col("cvec"), col("cvec")))
    // argmin via min(struct(score, code)) — partial-aggregable map-side
    // (the window rank-1 alternative shuffles the full candidate
    // stream; this shuffles n·m picked rows), ties to the smaller code
    // by struct ordering. score drops the per-row ||sv||² constant,
    // which cannot change the argmin.
    def assign(cent: DataFrame): DataFrame =
      subv.join(broadcast(cent), "sub_id")
        .withColumn("score",
          col("cnorm2") - lit(2.0) * dot(col("sv"), col("cvec")))
        .groupBy(col("vec_id"), col("sub_id"))
        .agg(min(struct(col("score"), col("code"))).as("pick"),
          first(col("sv")).as("sv")) // sv is constant within the group
        .select(col("vec_id"), col("sub_id"), col("sv"),
          col("pick.code").as("code"))
    // deterministic init (code = vec_id mod nCodes), fixed Lloyd
    // budget. Each round's centroid table is localCheckpoint'ed (tiny:
    // m·codes rows) — without the lineage cut, round r's plan re-runs
    // every earlier round's full n·m·codes candidate pass (the d13
    // recompute pathology; rewrite-time A/B at sf0.1: ~3×), and the
    // pinned stats keep the broadcast decision on the fixpoint frame.
    def materialized(cent: DataFrame): DataFrame =
      org.apache.spark.sql.graft.Shims.localCheckpointWithStats(
        cent, sizeInBytes = m.toLong * nCodes * (sub * 8 + 32))
    var cent = materialized(
      subMeans(subv.withColumn("code", pmod(col("vec_id"), lit(nCodes)))))
    for (_ <- 1 to iters) cent = materialized(subMeans(assign(cent)))
    (cent, assign(cent).select(col("vec_id"), col("sub_id"), col("code")))
  }

  /** Per-query ADC lookup table: exact partial distance to every
    * (sub_id, code) centroid (the ADC sums must be true distances, so
    * ||q_m||² stays).
    */
  private def pqLut(e: DataFrame, cent: DataFrame, nQueries: Int,
      m: Int, sub: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    pqSubvectors(e.filter(col("vec_id") < nQueries), "query_id", m, sub)
      .withColumnRenamed("sv", "qv")
      .join(cent, "sub_id")
      .withColumn("pdist", dot(col("qv"), col("qv")) + col("cnorm2")
        - lit(2.0) * dot(col("qv"), col("cvec")))
      .select(col("query_id"), col("sub_id"), col("code"), col("pdist"))
  }

  /** Exact re-rank: fetch the shortlist's float vectors by id (the
    * corpus streams past the broadcast nQueries×shortlist id set),
    * dot on unit vectors = cosine.
    */
  private def pqRerank(e: DataFrame, short: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("emb").as("n_emb"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))),
        "query_id")
      .withColumn("cos",
        graft.functions.VectorFunctions.dot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s13 — IVF-PQ ANN: the composed deployment shape (Jégou et al.
    * 2011 §IV, the layout Faiss ships as `IndexIVFPQ` — public): a
    * coarse IVF quantizer prunes the corpus to the `nProbe` cells
    * nearest each query, and ADC over the PQ codes ranks only those
    * cells' members; the exact float re-rank then touches just the
    * shortlist. s3 prunes cells but scans floats; s10 scans all codes;
    * s13 does neither — at 100 TB the scan is nProbe/nCells of a
    * 3 TB code table instead of either full corpus, which is the
    * difference between an in-memory probe and a table scan.
    *
    * Scale posture: the coarse index is s3's (bounded K×dim centroid
    * collect, one checkpointed assignment scan); the codebook is s10's
    * (broadcast, one Lloyd plan over all subspaces). The cell filter
    * lands BEFORE the ADC join — codes join their cell labels on
    * vec_id (co-partitioned at scale: both are corpus-keyed), the
    * nQueries·nProbe probe table broadcasts, and everything after runs
    * on the surviving ~nProbe/nCells fraction. The default nProbe is
    * deliberately wide (14/16, shortlist 200 — measured recall@5 0.96
    * at sf0.1 vs 0.88 at 12/16+120 and 0.68 at 8/16+50; the shortlist
    * re-rank is nQueries·shortlist rows, so widening it is free): this
    * corpus is near-isotropic (the s3
    * comment's measurement), so the two stacked approximations both
    * need candidate volume; clustered corpora prune far deeper at the
    * same recall (spec-proven for s2/s3).
    * Approximate by design -> rows-only like s2/s3/s10; recall vs s1
    * gated in spec. The index side (coarse centroids + checkpointed
    * (vec_id, cell, code) table + codebook) is memoized per
    * (session, corpus, params) exactly like s3's index — first call
    * builds, every later call is query-only, and Bench reports the
    * split (s13_ivfpq_build/query). Output: (query_id, rank,
    * neighbor_id, cos).
    */
  /** The built (index-side) half of s13, memoized like s3's IVF index:
    * coarse centroids + per-vector (cell, PQ codes) + codebook, all
    * checkpointed — the build-once/query-many amortization a deployed
    * IVF-PQ lives by. Keyed by session reference + exact build params.
    */
  private val ivfPqIndexes =
    indexRegistry[(IvfIndex, DataFrame, DataFrame)]()

  def invalidateIvfPqIndexes(): Unit = ivfPqIndexes.clear()

  private[graft] def ivfPqIndexFor(s: SparkSession, dir: String,
      nCells: Int = 16, m: Int = 16, nCodes: Int = 16, iters: Int = 2,
      dim: Int = 64): (IvfIndex, DataFrame, DataFrame) =
    ivfPqIndexes.computeIfAbsent(
      (s, s"$dir|$nCells|$m|$nCodes|$iters|$dim"), { _ =>
        val sub = dim / m
        val e = pqUnitCorpus(s, dir, dim)
        // coarse quantizer over the SAME unit vectors the codes encode —
        // L2 cells on unit vectors are cosine cells, so the two stages
        // agree on geometry
        val coarse = buildIvfIndexFrom(
          e.select(col("vec_id"), col("emb").as("embedding")), nCells, dim)
        val subv = pqSubvectors(e, "vec_id", m, sub)
        val (cent, codes) = pqTrain(subv, m, nCodes, iters, sub)
        // codes joined to their coarse cell once at build time, then
        // checkpointed: the queryable unit is (vec_id, cell, sub_id,
        // code) — n·m tiny rows, the "3 TB for 100 TB" table
        val codesWithCells = codes
          .join(coarse.corpus
            .select(col("neighbor_id").as("vec_id"), col("cell")), "vec_id")
          .localCheckpoint(true)
        e.unpersist() // the build scans are done; queries re-derive
        (coarse, cent, codesWithCells)
      })

  def ivfPqTopK(s: SparkSession, dir: String,
      k: Int = 5, nQueries: Int = 5, nCells: Int = 16, nProbe: Int = 14,
      m: Int = 16, nCodes: Int = 16, iters: Int = 2, dim: Int = 64,
      shortlist: Int = 200): DataFrame = {
    val index = ivfPqIndexFor(s, dir, nCells, m, nCodes, iters, dim)
    ivfPqQuery(index, s, dir, k, nQueries, nProbe, m, dim, shortlist)
  }

  /** The query half of s13 over an explicit index triple — the entry
    * point a LOADED index ([[IndexStore.loadIvfPq]]) shares with the
    * memoized build path, so persisted and fresh indexes are queried
    * by the same plan.
    */
  private[graft] def ivfPqQuery(index: (IvfIndex, DataFrame, DataFrame),
      s: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5,
      nProbe: Int = 14, m: Int = 16, dim: Int = 64,
      shortlist: Int = 200): DataFrame = {
    val sub = dim / m
    val (coarse, cent, codes) = index
    // buildIvfIndexFrom's contract: no valid vector in the training
    // sample -> empty centroids -> callers fall back to the exact scan
    // (same guard as s3's ivfTopK; probedCells on zero centroids would
    // index an empty array under ANSI)
    if (coarse.centroids.isEmpty) return bruteForceTopK(s, dir, k, nQueries)
    val e = pqUnitCorpus(s, dir, dim)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val probes = probedCells(coarse.centroids, queries, nProbe)
      .select(col("query_id"), col("cell"))
    val lut = pqLut(e, cent, nQueries, m, sub)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    val short = codes
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(lut), Seq("query_id", "sub_id", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("pdist")).as("adc_dist"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    pqRerank(e, short, nQueries, k)
  }

  /** s12 — greedy k-center coreset selection (farthest-point traversal,
    * Gonzalez 1985, "Clustering to minimize the maximum intercluster
    * distance" — public; the selection rule behind k-means++ seeding and
    * the coreset approach to training-data pruning, Sener & Savarese
    * 2018 — public): pick k maximally-spread representatives of the
    * embedding corpus. Seed = smallest vec_id; each round adds the point
    * FARTHEST (cosine distance, 1 − cos) from everything already
    * selected, ties to the smaller id. The 2-approximation guarantee of
    * the greedy rule is what makes the k picks a defensible diversity
    * sample of a 100 TB corpus — the dual of d17's near-dup DROP rule:
    * dedup removes what is too close, the coreset keeps what is most
    * spread.
    *
    * Scale posture: the selected set lives on the driver — k·dim
    * floats, the same bounded-collect contract as s3's K×dim centroid
    * table — and each round is ONE shuffle-free corpus pass: the r
    * selected centers enter the plan as literal arrays, the per-row
    * min-distance is `least` over r codegen'd dot products, and the
    * argmax is a 1-row min(struct) aggregate that combines map-side.
    * k passes total, no quadratic term anywhere, no state frame to
    * checkpoint (each round recomputes against literals — k² dots per
    * row total, the trade that keeps the loop stateless; a cached
    * running-min frame would save k²→k dots but add k cache/checkpoint
    * lifecycles). Deterministic end to end, so unlike s2/s3/s10 it
    * carries a FULL SQL oracle: the same greedy unrolled as k chained
    * CTEs in DuckDB (kcenterOracle in SparkEntry).
    * Output: (rank, vec_id, mind) — selection order and each pick's
    * distance to the prior set (NULL for the seed); mind is
    * non-increasing, which the spec asserts.
    */
  def kcenterCoreset(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import scala.collection.mutable.ArrayBuffer
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .transform(Tables.spread(_, col("vec_id")))
      .cache()
    // the seed must itself be a VALID vector (non-null, nonzero norm) —
    // the "same exclusion as s1" has to start at round 1, or a corpus
    // whose smallest vec_id is a null/zero embedding seeds the
    // traversal with an undefined center and every later round NPEs
    val seedOpt = e
      .filter(col("embedding").isNotNull &&
        graft.functions.VectorFunctions.l2norm(col("embedding")) > 0.0)
      .orderBy(col("vec_id")).limit(1).collect().headOption
    if (seedOpt.isEmpty) { // no valid vector anywhere: empty coreset
      e.unpersist()
      import s.implicits._
      return Seq.empty[(Int, Long, Option[Double])]
        .toDF("rank", "vec_id", "mind")
    }
    val seedRow = seedOpt.get
    val selected = ArrayBuffer[(Int, Long, Option[Double])](
      (1, seedRow.getLong(0), None))
    val centers = ArrayBuffer[Seq[Float]](seedRow.getSeq[Float](1))
    var exhausted = false
    for (r <- 2 to k if !exhausted) {
      val dists = centers.map(c => lit(1.0) -
        graft.functions.VectorFunctions.cosine(
          col("embedding"), array(c.map(lit(_)): _*))).toSeq
      val mind = if (dists.size == 1) dists.head else least(dists: _*)
      val picked = e.filter(!col("vec_id").isin(selected.map(_._2).toSeq: _*))
        .select(col("vec_id"), mind.as("mind"), col("embedding"))
        // null mind = zero-norm vector (undefined distance) — it can
        // never be a meaningful representative; same exclusion as s1
        .filter(col("mind").isNotNull)
        .agg(min(struct((-col("mind")).as("nd"), col("vec_id").as("id"),
          col("embedding").as("emb"))).as("p"))
        .select(col("p.id"), col("p.nd"), col("p.emb"))
        .collect().toSeq
      picked match {
        // fewer than k valid vectors: stop with what exists rather
        // than crash on the empty argmax (k is a budget, not a promise)
        case Seq(row) if !row.isNullAt(0) =>
          selected += ((r, row.getLong(0), Some(-row.getDouble(1))))
          centers += row.getSeq[Float](2)
        case _ => exhausted = true
      }
    }
    e.unpersist()
    import s.implicits._
    selected.toSeq.toDF("rank", "vec_id", "mind")
      .orderBy(col("rank"))
  }

  /** s15 — Maximal Marginal Relevance re-ranking (Carbonell &
    * Goldstein 1998, "The use of MMR, diversity-based reranking for
    * reordering documents and producing summaries" — public): diversify
    * a retrieval shortlist. Per query, take the `nCand` highest-cosine
    * candidates (s1's exact pass), then greedily select `k`:
    * rank 1 = the most relevant; each later pick maximizes
    * λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s), ties to the smaller
    * id. RAG retrieval and training-batch curation both use this to
    * stop a shortlist collapsing onto one near-duplicate cluster —
    * it is the shortlist-side dual of d17's SemDeDup drop rule.
    *
    * Every cosine — query relevance AND candidate-pair similarity — is
    * computed by the same codegen'd sequential-double expression the
    * corpus passes use, DISTRIBUTED, before a bounded collect of the
    * shortlist scalars (nQueries·nCand cos values + nQueries·nCand²
    * pair sims — user constants, the same bounded-collect contract as
    * s12's k·dim centers). The driver then runs only the greedy
    * argmax over those collected doubles with literal λ coefficients;
    * the DuckDB oracle unrolls the identical greedy as k chained CTEs
    * with an incrementally-`greatest`ed max-sim column, so both
    * engines fold the same IEEE values through the same comparisons.
    * (Selection could flip only if two MMR scores tie within the
    * cross-engine cosine ulp — the q62 threshold-straddle class,
    * vanishing on continuous embeddings.)
    *
    * Scale posture: one broadcast-query corpus pass with a
    * WindowGroupLimit top-nCand (no corpus sort), then an
    * nCand×nCand pair join per query on relations of constant size.
    * The O(k·nCand) greedy is inherently sequential — running it on
    * the driver over collected scalars is the same call made for s12;
    * nothing corpus-sized ever leaves the executors.
    */
  def mmrRerank(s: SparkSession, dir: String, k: Int = 5,
      nCand: Int = 20, nQueries: Int = 3, lambda: Double = 0.7): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .transform(Tables.spread(_, col("vec_id")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cand = e.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      // null cos = zero/null vector, undefined relevance — same
      // exclusion as s1
      .filter(col("cos").isNotNull)
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= nCand)
      .select(col("query_id"), col("vec_id").as("cand_id"), col("cos"),
        col("embedding"))
      .cache()
    // pairwise sims INSIDE each query's shortlist (constant-size join)
    val a = cand.select(col("query_id"), col("cand_id").as("i"),
      col("embedding").as("ea"))
    val b = cand.select(col("query_id"), col("cand_id").as("j"),
      col("embedding").as("eb"))
    val pairRows = a.join(b, "query_id").filter(col("i") =!= col("j"))
      .select(col("query_id"), col("i"), col("j"),
        cosine(col("ea"), col("eb")).as("sim"))
      .collect()
    val candRows = cand.select(col("query_id"), col("cand_id"), col("cos"))
      .collect()
    cand.unpersist()

    val sim = pairRows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val out = candRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
        val cosOf = cs.map(c => c._2 -> c._3).toMap
        var remaining = cs.map(_._2).toSet
        var ms = Map.empty[Long, Double] // running max-sim to selected
        val picks =
          scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double, Double)]()
        var r = 1
        while (r <= k && remaining.nonEmpty) {
          // empty-selected-set max-sim is 0.0 by MMR convention, so the
          // rank-1 score is λ·cos and rank 1 = argmax cos (λ > 0)
          val (pid, pscore) = remaining.toSeq
            .map(id => (id, lambda * cosOf(id) -
              (1.0 - lambda) * ms.getOrElse(id, 0.0)))
            .minBy { case (id, sc) => (-sc, id) }
          picks += ((qid, r, pid, cosOf(pid), pscore))
          remaining -= pid
          remaining.foreach { id =>
            val v = sim((qid, id, pid))
            ms = ms.updated(id,
              math.max(ms.getOrElse(id, Double.NegativeInfinity), v))
          }
          r += 1
        }
        picks
      }
    import s.implicits._
    out.sortBy(t => (t._1, t._2))
      .toDF("query_id", "rank", "neighbor_id", "cos", "mmr")
  }

  // ── s17: Johnson–Lindenstrauss random projection ───────────────────────

  /** The ±1 sign matrix for the JL projection, derived from the repo's
    * md5 hash convention (`hash64("jl<j>_<d>") mod 2`) so it is a
    * DATA-INDEPENDENT constant both engines can agree on without
    * evaluating any hash at query time — the signs are baked into the
    * Spark expression and the oracle SQL as literals. No coordination,
    * no stored projection matrix: any worker (or engine) rebuilds the
    * same matrix from the convention — the practical point of
    * hash-derived projections at cluster scale.
    */
  private[graft] def jlSigns(kDim: Int, dim: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(kDim, dim) { (j, d) =>
      val hex = md.digest(s"jl${j}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    }
  }

  /** s17 — JL random projection (Achlioptas 2003, database-friendly
    * ±1 entries): project every embedding 64 → `kDim` dims,
    * y_j = (Σ_d s_jd · x_d) / √kDim. The 4× dimension cut is the
    * standard pre-ANN compression rung between raw vectors and the
    * s8/s10 quantizers, with pairwise distances preserved in
    * expectation (spec-gated on this corpus).
    *
    * Cross-engine exactness: each component is a LEFT-ASSOCIATIVE
    * chain of double adds/subtracts over the casted floats — the
    * fold order is pinned by the expression tree on the Spark side
    * and by explicit `+`/`-` chains in the oracle, so the doubles are
    * bit-identical (no aggregation, no merge order in play).
    *
    * Scale posture: map-only — one shuffle-free codegen'd projection;
    * the output is the relation an ANN index build then consumes.
    */
  def jlProject(s: SparkSession, dir: String, kDim: Int = 16): DataFrame =
    jlProjectFrom(Tables.embeddings(s, dir), kDim)

  /** The two-relation form over any (vec_id, embedding) relation. */
  private[graft] def jlProjectFrom(e: DataFrame, kDim: Int = 16): DataFrame = {
    val dim = 64
    val signs = jlSigns(kDim, dim)
    val scale = math.sqrt(kDim.toDouble)
    val comps = (0 until kDim).map { j =>
      val terms = (0 until dim).map { d =>
        val x = element_at(col("embedding"), d + 1).cast("double")
        if (signs(j)(d) > 0) x else -x
      }
      (terms.reduceLeft(_ + _) / lit(scale)).as(s"v$j")
    }
    e.select(col("vec_id") +: comps: _*)
      .select(col("vec_id"),
        posexplode(array((0 until kDim).map(j => col(s"v$j")): _*)))
      .select(col("vec_id"), col("pos").cast("int").as("proj_dim"),
        col("col").as("value"))
      .orderBy(col("vec_id"), col("proj_dim"))
  }

  /** The oracle SQL for s17, generated from the SAME baked sign matrix
    * so the two sides cannot drift (lives here rather than inline in
    * SparkEntry because the sign literals are code, not prose).
    */
  private[graft] def jlOracleSql(kDim: Int = 16): String = {
    val dim = 64
    val signs = jlSigns(kDim, dim)
    val comps = (0 until kDim).map { j =>
      val terms = (0 until dim).map { d =>
        val op = if (d == 0) { if (signs(j)(d) > 0) "" else "-" }
        else { if (signs(j)(d) > 0) " + " else " - " }
        s"${op}CAST(embedding[${d + 1}] AS DOUBLE)"
      }.mkString
      s"($terms) / sqrt(${kDim}.0) AS v$j"
    }.mkString(",\n    ")
    val list = (0 until kDim).map(j => s"v$j").mkString("[", ", ", "]")
    s"""WITH c AS (SELECT vec_id,
       |    $comps
       |  FROM embeddings)
       |SELECT vec_id, CAST(u.j AS INT) AS proj_dim,
       |  $list[u.j + 1] AS value
       |FROM c, (SELECT unnest(range($kDim)) AS j) u
       |ORDER BY vec_id, proj_dim""".stripMargin
  }

  /** s18 — hybrid retrieval by reciprocal-rank fusion (Cormack et al.
    * 2009, the fusion every production search stack runs): ONE search
    * expressed twice — dense (cosine ranks of query vector 0 against
    * the corpus, top `kDense`) and lexical (t15's BM25 ranks for the
    * fixed term set, top 20) — fused per doc as
    * Σ 1/(c + rank), missing-from-a-list contributing 0. RRF needs
    * only the RANKS, never the incomparable raw scores, which is
    * exactly why it fuses a cosine in [-1,1] with an unbounded BM25
    * soundly.
    *
    * FP discipline: ranks are ints from hash-green rankings (s1's
    * sequential-double cosine order, t15's BM25 order); the fused
    * score is two IEEE divisions and one add in fixed literal order —
    * engine-identical, no accumulation. Ties break on doc_id.
    *
    * Scale posture: each list is top-K bounded BEFORE the fusion join
    * (the rankings themselves are s1's WindowGroupLimit scan and
    * t15's broadcast-stats aggregate); the full-outer fusion joins two
    * <= K-row relations — driver-free, shuffle-trivial. At 100 TB the
    * dense list swaps to the IVF/PQ index path (s3/s13) without
    * touching the fusion.
    */
  def hybridRrf(s: SparkSession, dir: String, kDense: Int = 50,
      c: Int = 60, topK: Int = 10): DataFrame = {
    val dense = bruteForceTopK(s, dir, kDense, nQueries = 1)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val lex = TextAnalysis.bm25Rank(s, dir)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val fused = dense.join(lex, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(c) + col("dense_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(c) + col("lex_rank")), lit(0.0)))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(topK)
    // rank window AFTER the limit: <= topK rows (the adjudicated
    // t15/t17 post-limit pattern — bounded by construction)
    fused.withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_score").desc, col("doc_id"))).cast("int"))
      .select(col("rank"), col("doc_id"), col("dense_rank"),
        col("lex_rank"), col("rrf_score"))
      .orderBy(col("rank"))
  }

  /** s19 — binary (sign-bit) embedding search: quantize every vector
    * to its per-dimension sign pattern — 1 bit per dim, a 32× memory
    * shrink over float32 — and rank corpus vectors per query by
    * HAMMING distance on the packed words. This is the cheapest
    * candidate-generation tier in a retrieval stack (popcount-speed
    * scans; rerank survivors with s1's exact cosine or the s13 ADC
    * shortlist), and unlike s2's random hyperplanes the code is
    * axis-aligned: no projection matrix to ship, and the bit pattern
    * doubles as a storable index column (the d28/s14 persistence
    * story applies unchanged).
    *
    * Exactness contract: sign tests, shifts, XOR and popcounts are
    * all integer ops — the REGISTERED query is bit-exact by
    * construction (no ranking-quality approximation enters: the top-k
    * BY HAMMING is itself the statistic, oracled in full). Packing is
    * 32 dims per long word (bits 0..31 — never the sign bit, so no
    * signed-overflow asymmetry between engines); ties in hamming
    * break on neighbor_id.
    *
    * Scale posture: s1's exact-top-k shape — the query side (vec_id <
    * nQueries) broadcasts, the corpus packs in a shuffle-free codegen
    * projection and ranks through the WindowGroupLimit partial top-k;
    * nothing materializes the float vectors past the pack. At index-
    * build time the packed words persist next to the corpus and the
    * scan reads 1/32 of the embedding bytes.
    */
  def signHammingTopK(s: SparkSession, dir: String,
      k: Int = 5, nQueries: Int = 5, dim: Int = 64): DataFrame =
    signHammingRanked(s, dir, nQueries, dim)
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
      .orderBy(col("query_id"), col("rank"))

  /** Sign-bit packing: 32 dims per long word (bits 0..31 — never the
    * sign bit, so no signed-overflow asymmetry between engines).
    */
  private def packSignWords(v: Column, dim: Int): Column = {
    val nWords = (dim + 31) / 32
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, j) =>
        acc + when(element_at(v, w * 32 + j + 1) >= 0.0f,
          call_function("shiftleft", lit(1L), j.cast("int")))
          .otherwise(lit(0L))))
  }

  /** The full hamming ranking shared by s19 (top-k) and s20
    * (shortlist): (query_id, neighbor_id, hamming, rank), rank dense
    * per query by (hamming, neighbor_id).
    */
  private def signHammingRanked(s: SparkSession, dir: String,
      nQueries: Int, dim: Int): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .transform(Tables.spread(_, col("vec_id")))
      .filter(size(col("embedding")) === dim)
      .select(col("vec_id"), packSignWords(col("embedding"), dim).as("words"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("words").as("q_words"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("words").as("n_words"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        aggregate(zip_with(col("q_words"), col("n_words"),
          (a, b) => call_function("bit_count", a.bitwiseXOR(b)).cast("long")),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(w))
  }

  /** s20 — two-tier retrieval: s19's hamming popcount scan shortlists
    * `shortlist` candidates per query (1-bit codes, 1/32 of the
    * embedding bytes read), then EXACT cosine re-ranks only the
    * shortlist and keeps the top `k` — the standard
    * cheap-filter → exact-rerank tier stack of a production retrieval
    * system (s13's ADC-then-exact is the same shape one tier up).
    * Both stages are deterministic (hamming ties break on
    * neighbor_id, cosine ties too), so unlike the LSH/IVF family the
    * COMPOSITION is fully oracle-able: the driver gate proves the
    * tier hand-off, not just each tier.
    *
    * Scale posture: the shortlist stage is s19's broadcast-query scan
    * with a WindowGroupLimit partial top-`shortlist`; the re-rank
    * joins the (queries × shortlist)-sized id list back to the corpus
    * for float vectors — at 100 TB that hash join touches only
    * shortlist-many corpus rows per query rather than scanning floats
    * corpus-wide, which is the entire point of the tiering.
    */
  def hammingRerankTopK(s: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 5, dim: Int = 64, shortlist: Int = 50): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .filter(size(col("embedding")) === dim)
    val short = signHammingRanked(s, dir, nQueries, dim)
      .filter(col("rank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qe = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    short
      .join(broadcast(qe), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .filter(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }
}
