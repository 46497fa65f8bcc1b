package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.SparkEntry.{Approx, AtMost, Bound, QueryDef, Sql, SqlFn}

/** Corpus-curation operators: the steps a training-data pipeline runs
  * between raw ingest and dedup/mix — benchmark decontamination and
  * stratified rebalancing. (North-star extension surface; the reference
  * engine has no corpus ops — its only text handling is Split,
  * Sample.cs:151.)
  */
object CorpusOps {

  /** One benchmark-slice definition for BOTH decontamination sides: the
    * bench-shingle builder and the corpus-exclusion filter must agree
    * on it or corpus docs report self-contamination. The streaming path
    * enforces the agreement structurally — [[BenchSet]] carries the
    * modulus it was built from.
    */
  val DefaultBenchMod: Int = 20

  /** The deterministic per-mille sampling predicate every sampler here
    * shares: hash64 of a salted doc key compared against a rate. Each
    * use is paired bit-for-bit with a DuckDB md5 oracle — keep the key
    * construction in this ONE place.
    */
  private def hashPermille(prefix: String): Column =
    pmod(hash64(concat(lit(prefix), col("doc_id").cast("string"))), lit(1000L))

  /** The shared decontamination tail: per-doc distinct-shingle counts
    * against the broadcast bench set. Used verbatim by batch d11 and
    * its streaming form so the two can never diverge.
    */
  private def contamination(shingledDocs: DataFrame, bench: DataFrame): DataFrame =
    shingledDocs
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode(col("sh")).as("g"))
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles")).as("contamination"))

  /** d11 — benchmark decontamination: flag every corpus document that
    * shares at least one word-3-gram shingle with the held-out
    * "benchmark" slice (here derived as doc_id % benchMod == 0; in
    * production the benchmark is its own small table, which makes the
    * broadcast below even more natural).
    *
    * Scale posture: the benchmark side is tiny relative to the corpus
    * (eval sets are MBs against TBs), so its distinct shingle set is
    * BROADCAST — the corpus-side scan streams past it with a hash
    * probe; no shuffle of corpus shingles at all, and the corpus is
    * read exactly once for the contamination join. A shuffle-side
    * semi-join here would move the 100 TB side; broadcasting the
    * benchmark moves the MB side.
    *
    * Output: (doc_id, n_shingles, n_shared, contamination) for
    * contaminated docs only — shingles are per-doc distinct, so
    * n_shared counts distinct shared shingles.
    */
  /** The cached corpus shingle table d11 and d14 share. Shingling is
    * the one-pass WordShingleStrs kernel (r15; string shingles — the
    * contamination tier joins on gram STRINGS and d14 xxhashes them,
    * so string identity is part of this tier's contract, unlike the
    * Dedup tier's hashed-long shingles). The cache remains
    * load-bearing: the eval-slice and corpus-slice branches both read
    * this relation, and Spark keys the cache by plan, so d11 and d14
    * in one session share ONE InMemoryRelation (it also keeps
    * InferFiltersFromGenerate's size(sh) > 0 probe on the materialized
    * column instead of re-running the kernel below the projection).
    * Lifecycle ends with the query — Bench/Verify clearCache between
    * queries. At cluster scale this is a persist of the shingle table
    * every branch reads; swap in MEMORY_AND_DISK_SER or a checkpoint
    * if executors are memory-tight. Tables.spread parallelizes the
    * CPU-heavy shingling past the single-row-group scan, as in Dedup.
    */
  private def docShinglesCached(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(Tables.spread(_, col("doc_id")))
      .select(col("doc_id"),
        coalesce(wordShingleStrs(col("text"), 3),
          array().cast("array<string>")).as("sh"))
      .cache()

  def decontaminate(s: SparkSession, dir: String,
      benchMod: Int = DefaultBenchMod): DataFrame = {
    val docs = docShinglesCached(s, dir)
    val bench = docs.filter(pmod(col("doc_id"), lit(benchMod)) === 0)
      .select(explode(col("sh")).as("g")).distinct()
    val corpus = docs.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
    contamination(corpus, bench).orderBy(col("doc_id"))
  }

  /** Word-3-gram shingle projection shared by the streaming
    * decontamination path (batch d11 above keeps its own copy inline
    * because its cache() + Tables.spread tuning is load-bearing there
    * and neither applies to a streaming relation).
    */
  private def shingled(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      coalesce(wordShingleStrs(col("text"), n),
        array().cast("array<string>")).as("sh"))

  /** The static side of streaming decontamination, BUNDLED with the
    * benchMod it was built from: the bench-shingle set and the corpus
    * exclusion filter must agree on the slice definition, and carrying
    * the modulus inside the value makes it impossible for a caller to
    * override one side and not the other (a silent self-contamination
    * report otherwise).
    */
  final case class BenchSet(shingles: DataFrame, benchMod: Int)

  /** The static side of streaming decontamination: the benchmark
    * slice's distinct shingle set, computed once from the (batch)
    * documents table. Tiny by construction (eval sets are MBs), so the
    * stream side joins it via broadcast.
    */
  def benchShingles(s: SparkSession, dir: String,
      benchMod: Int = DefaultBenchMod): BenchSet =
    BenchSet(
      shingled(Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(benchMod)) === 0)
          .select(col("doc_id"), col("text")))
        .select(explode(col("sh")).as("g")).distinct(),
      benchMod)

  /** d11's streaming form: decontaminate a LIVE corpus feed against a
    * static benchmark shingle set — the shape of continuous ingest,
    * where newly crawled documents are checked for eval contamination
    * as they arrive rather than in a nightly batch pass.
    *
    * `streamDocs` is a `readStream` relation with (doc_id, text);
    * `bench` is the static [[benchShingles]] output, which carries its
    * own slice modulus so the two sides cannot diverge. The join is
    * stream-static with the static side BROADCAST — identical 100 TB
    * posture to batch d11 (the MB-scale benchmark moves, the corpus
    * streams past it), and stream-static joins are stateless: no
    * watermark needed on the join itself, per-doc state exists only in
    * the downstream aggregation. Run with complete/update output mode
    * (the per-doc counts are an aggregation); StreamingSpec asserts
    * the result equals batch d11 row-for-row.
    */
  def decontaminateStream(streamDocs: DataFrame, bench: BenchSet): DataFrame =
    contamination(
      shingled(streamDocs
        .filter(pmod(col("doc_id"), lit(bench.benchMod)) =!= 0)
        .select(col("doc_id"), col("text"))),
      bench.shingles)

  /** d14 — decontamination against a BLOOM FILTER of the benchmark
    * shingles instead of the exact broadcast set. At 100 TB the exact
    * set is the right tool while the benchmark is MBs; once the
    * held-out suite grows to GBs of distinct shingles, the broadcast
    * becomes the bottleneck and a fixed-size Bloom filter (here
    * `numBits` bits regardless of benchmark size) restores the
    * stream-past-it shape at a bounded false-positive cost.
    *
    * Semantics: conservative — a Bloom filter has NO false negatives,
    * so every exactly-contaminated doc is flagged and `n_shared_bloom`
    * >= the exact shared count per doc; false positives only ever
    * ADD flags (the safe direction for decontamination: never admit a
    * contaminated doc). DedupSimilaritySpec asserts the superset
    * relation and bounds the false-positive inflation against exact
    * d11. Engine-specific sketch bytes → no SQL oracle (rows-only
    * check), same policy as q27's HLL.
    *
    * Spark's Bloom expressions consume 64-bit longs, so the string
    * shingles are hashed with the built-in xxhash64 AFTER the explode,
    * on both sides identically. xxhash64, not the engine's md5-derived
    * hash64: that convention buys cross-engine determinism for
    * oracle-checked operators, which d14 — rows-only checked — does
    * not need, and xxhash64 is an order of magnitude cheaper on the
    * corpus-hot side. Hashing post-explode also means d14 shares d11's
    * cached string-shingle relation instead of forking a second
    * full-corpus cache.
    */
  def decontaminateBloom(s: SparkSession, dir: String,
      benchMod: Int = DefaultBenchMod,
      expectedItems: Long = 100000L, numBits: Long = 1600000L): DataFrame = {
    val docs = docShinglesCached(s, dir)
    import org.apache.spark.sql.graft.Shims
    // The sketch is collected to the driver and embedded as a BINARY
    // literal: might_contain requires a constant (or scalar subquery)
    // bloom side, and the whole point of the sketch is that its size is
    // FIXED at numBits/8 bytes (~200 KB here) no matter how large the
    // benchmark grows — the same bounded-driver-state class as the IVF
    // centroid collect.
    val bfBytes: Array[Byte] = docs
      .filter(pmod(col("doc_id"), lit(benchMod)) === 0)
      .select(explode(col("sh")).as("g0"))
      .select(xxhash64(col("g0")).as("g"))
      .agg(Shims.bloomFilterAgg(col("g"), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val corpus = docs.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode(col("sh")).as("g"))
      .select(col("doc_id"), col("n_shingles"), xxhash64(col("g")).as("g"))
    // a shingle-less benchmark slice aggregates to a null sketch — then
    // nothing can be contaminated (mirrors exact d11's empty-set join)
    val flagged =
      if (bfBytes == null) corpus.filter(lit(false))
      else corpus.filter(Shims.mightContain(lit(bfBytes), col("g")))
    flagged
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared_bloom"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared_bloom"),
        (col("n_shared_bloom").cast("double") / col("n_shingles"))
          .as("contamination_bloom"))
      .orderBy(col("doc_id"))
  }

  /** d12 — end-to-end corpus curation, the whole pre-training data prep
    * as ONE declarative plan: exact dedup (keep the lowest doc_id per
    * content fingerprint) → per-language median quality gate computed
    * over the DEDUPED population (duplicates must not drag the median)
    * → deterministic stratified downsample. Composing the steps in one
    * DataFrame lets Catalyst fuse them: fingerprint and quality score
    * are computed in a single projection over a single scan.
    *
    * Scale posture: the corpus is scanned once and shuffled once — on
    * the fingerprint for the dedup window (WindowGroupLimit:
    * per-partition rank-1, then merge); the deduped relation is
    * cache()d because BOTH the median aggregate and the gate consume it
    * and column pruning specializes the two branches' scans, defeating
    * AQE exchange reuse (measured: without the cache the plan scans AND
    * fp-shuffles the corpus twice — the TwoLevelMean groups-branch
    * pathology). Same lifecycle contract as d11's shingle cache:
    * Bench/Verify/EntrySpec clearCache per query; at cluster scale swap
    * in MEMORY_AND_DISK_SER or a checkpoint. The percentile pass over
    * the cached rows moves only (lang, score) pairs (swap in
    * approx_percentile at 100 TB, identical shape — see t8); the
    * #langs-row median table is broadcast back; the sample is a pure
    * hash predicate, no RNG state, no extra pass.
    */
  def curate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("source"),
        fingerprint(col("text")).as("fp"),
        TextAnalysis.qualityExpr(col("text"), col("toks")).as("quality_score"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val deduped = scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "fp")
      .cache()
    val med = deduped.groupBy(col("lang"))
      .agg(percentile(col("quality_score"), lit(0.5)).as("lang_median"))
    deduped.join(broadcast(med), "lang")
      .filter(col("quality_score") > col("lang_median"))
      .filter(hashPermille("curate_") <
        when(col("lang") === "en", lit(500L)).otherwise(lit(900L)))
      .select(col("doc_id"), col("lang"), col("source"),
        col("quality_score"), col("lang_median"))
      .orderBy(col("doc_id"))
  }

  /** q52 — weighted mix sampling with the per-stratum rates as DATA:
    * q51's hash-predicate idiom, but the keep-rates come from a (tiny)
    * weights relation instead of literals baked into the plan — the
    * production shape, where the mix config ships as a table and
    * changes without redeploying the job. The weights frame is
    * BROADCAST onto the corpus scan (no shuffle), then the same
    * deterministic per-mille hash predicate gates each row; strata
    * absent from the config keep the default rate via the outer join's
    * coalesce.
    *
    * Scale posture: one corpus scan, zero shuffles before the
    * presentation sort; the predicate is reproducible across engines
    * and runs (no RNG state), so the mix is auditable row-by-row.
    */
  def weightedMix(s: SparkSession, dir: String,
      rates: Seq[(String, Long)] = Seq("en" -> 150L, "de" -> 800L, "zh" -> 400L),
      defaultPerMille: Long = 600L): DataFrame = {
    import s.implicits._
    val w = rates.toDF("lang", "keep_permille")
    Tables.documents(s, dir)
      .join(broadcast(w), Seq("lang"), "left")
      .filter(hashPermille("mix_") <
        coalesce(col("keep_permille"), lit(defaultPerMille)))
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("keep_permille"), lit(defaultPerMille)).as("keep_permille"))
      .orderBy(col("doc_id"))
  }

  /** d18 — quality-representative fuzzy dedup: for every near-duplicate
    * cluster (d9's MinHash-verified connected components) keep the
    * HIGHEST-quality member instead of d10's lowest-id convention —
    * the curation policy production pipelines actually want, since
    * near-dup groups usually contain one clean original and several
    * degraded copies (truncated, boilerplate-wrapped, re-encoded).
    * Ties break to the smaller doc_id; unscoreable docs (NULL quality:
    * empty/whitespace-only text) rank last but can still represent a
    * cluster that has no scoreable member. Output: (component,
    * kept_doc_id, kept_quality, cluster_size).
    *
    * Scale posture: d9's labels are one log-round CC fixpoint; quality
    * is a shuffle-free projection over one documents scan; the argmax
    * is a single (component) shuffle whose min(struct(...)) aggregate
    * combines map-side — per-cluster rank windows would sort where a
    * running min suffices. The negated-score struct key makes "max
    * quality, then min id" one ascending struct comparison, and the
    * struct also CARRIES the un-coalesced score so the output keeps
    * NULL for unscoreable winners rather than the sort sentinel.
    */
  def qualityDedup(s: SparkSession, dir: String, t: Double = 0.5): DataFrame = {
    val labels = Dedup.dedupClusters(s, dir, t)
    val q = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextAnalysis.qualityExpr(col("text"), col("toks")).as("quality_score"))
    labels.join(q, "doc_id")
      .groupBy(col("component"))
      .agg(
        min(struct(
          (-coalesce(col("quality_score"), lit(-1e18))).as("nq"),
          col("doc_id").as("id"),
          col("quality_score").as("q"))).as("pick"),
        count(lit(1)).as("cluster_size"))
      .select(col("component"), col("pick.id").as("kept_doc_id"),
        col("pick.q").as("kept_quality"), col("cluster_size"))
      .orderBy(col("component"))
  }

  /** d19 — leakage-safe train/val/test split assignment: the split key
    * is the NEAR-DUP CLUSTER (d9's component), not the document — a
    * document and its near-duplicates land in the same split by
    * construction, so evaluation can never be inflated by a training
    * doc's fuzzy copy sitting in the test set (the split-leakage failure
    * mode benchmark-decontamination papers warn about; d11 removes
    * leaks against an EXTERNAL benchmark, d19 prevents creating
    * INTERNAL ones). Assignment is the same deterministic salted-hash
    * per-mille predicate as q51/q52 — auditable, reproducible, no RNG
    * state — applied to the component id: test < 100 ≤ val < 200 ≤
    * train. Output: (doc_id, component, split).
    *
    * Scale posture: d9's log-round CC labels + ONE hash projection;
    * the split is a pure function of the label, so the assignment adds
    * zero shuffles on top of the clustering and new documents can be
    * assigned incrementally by looking up (or computing) their
    * component alone.
    */
  def leakageSafeSplit(s: SparkSession, dir: String,
      testPermille: Long = 100L, valPermille: Long = 100L): DataFrame = {
    val h = pmod(hash64(concat(lit("split_"),
      col("component").cast("string"))), lit(1000L))
    Dedup.dedupClusters(s, dir)
      .select(col("doc_id"), col("component"),
        when(h < testPermille, lit("test"))
          .when(h < testPermille + valPermille, lit("val"))
          .otherwise(lit("train")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** q51 — stratified (per-language) deterministic downsampling: the
    * rebalance step that keeps an over-represented stratum from
    * dominating the training mix. Sampling is a pure hash predicate on
    * the row key (same convention as q24): rate per-mille compared
    * against hash64 of a salted key — reproducible across engines and
    * runs, no RNG state, and it pushes down to the scan as an ordinary
    * deterministic filter (no shuffle, no sort, no per-stratum pass).
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(hashPermille("strat_") <
        when(col("lang") === "en", lit(200L)).otherwise(lit(600L)))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** d22 — the END-TO-END curation pipeline as ONE declarative plan:
    * exact dedup (keep-first) → per-language quality gate →
    * benchmark decontamination → per-source domain cap → split
    * assignment, emitting the final corpus manifest (doc_id, lang,
    * source, quality_score, split). d12 is the mini form (dedup +
    * quality + sample); d22 is the full sequence a production
    * training-data build runs, expressed as one DataFrame so Catalyst
    * sees the whole DAG — the quality projection and the dedup window
    * share one scan, the decontamination filter runs only on quality
    * survivors (cheapest-first filter ordering), and nothing
    * materializes between stages except the one deliberate cache.
    *
    * Stage choices, each mirrored in the oracle: dedup keeps the
    * smallest doc_id per content fingerprint (d1's convention); the
    * quality gate is t8's per-language median over the DEDUPED
    * survivors (d12's ordering — score the canon, not the copies);
    * decontamination drops the bench slice itself AND any survivor
    * whose d11 contamination fraction (shared word-3-grams over own
    * shingles) exceeds `contThresh` — the thresholded form real
    * pipelines use; drop-on-ANY-overlap left 7 of 500 docs on this
    * corpus, a policy no one ships; the cap is d20's deterministic
    * hash draw; the
    * split is the d19 hash rule keyed on doc_id — after exact dedup
    * the byte-identical leakage channel is gone, and the cluster-keyed
    * upgrade (d19 proper) swaps in by replacing one column.
    *
    * Scale posture: one corpus scan feeds the fp window (one shuffle);
    * the survivors' shingle explode happens AFTER the quality gate cut
    * the corpus in half; the bench set broadcasts (d11's argument);
    * the cap is WindowGroupLimit-bounded (d20's argument); the split
    * is a projection. Total: three corpus-key shuffles (fp, source,
    * presentation sort) + one bounded broadcast — no stage rescans
    * the raw table.
    */
  def curationPipeline(s: SparkSession, dir: String,
      benchMod: Int = DefaultBenchMod, cap: Int = 20,
      contThresh: Double = 0.2,
      testPermille: Long = 100L, valPermille: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("source"), col("toks"),
        fingerprint(col("text")).as("fp"),
        TextAnalysis.qualityExpr(col("text"), col("toks")).as("quality_score"))
    val deduped = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn", "fp")
      .cache() // median agg + gate + shingle branch (d12's lifecycle contract)
    val med = deduped.groupBy(col("lang"))
      .agg(percentile(col("quality_score"), lit(0.5)).as("lang_median"))
    val quality = deduped.join(broadcast(med), "lang")
      .filter(col("quality_score") > col("lang_median"))
    val contaminated = contamination(
      quality.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
        .select(col("doc_id"), shinglesFromTokens(col("toks"), 3).as("sh")),
      benchShingles(s, dir, benchMod).shingles)
      .filter(col("contamination") > contThresh)
      .select("doc_id")
    val clean = quality
      .filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    val capped = clean
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(
          hash64(concat(lit("cap_"), col("doc_id").cast("string"))),
          col("doc_id"))))
      .filter(col("rk") <= cap)
    val h = hashPermille("split_")
    capped.select(col("doc_id"), col("lang"), col("source"),
        col("quality_score"),
        when(h < testPermille, lit("test"))
          .when(h < testPermille + valPermille, lit("val"))
          .otherwise(lit("train")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** d20 — per-source document cap (the C4/RefinedWeb "no domain may
    * dominate the mix" rule): keep at most `cap` documents per source,
    * chosen by a deterministic salted hash of the doc key — a
    * reproducible uniform draw, not "first N in file order", which
    * would bias toward whatever the ingest happened to list first.
    * Output: (doc_id, source, rk) for the survivors.
    *
    * Scale posture: `row_number() <= cap` over (source) is exactly the
    * shape Spark's WindowGroupLimit rewrite turns into a per-partition
    * top-`cap` heap BEFORE the shuffle — each map task forwards at most
    * `cap` rows per source it sees, so a 100 TB source with a billion
    * docs moves ~`cap`·#map-tasks rows, not a full per-source sort.
    * One shuffle on source, bounded state per key, no skew blow-up
    * even when one domain is half the crawl (the pathological case
    * this operator exists to police).
    */
  def domainCap(s: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(hash64(concat(lit("cap_"), col("doc_id").cast("string"))),
        col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .orderBy(col("doc_id"))
  }

  /** One admitted document from the streaming domain cap: `rk` is the
    * per-source admission ordinal (1-based, dense).
    */
  case class CapAdmit(doc_id: Long, source: String, rk: Int)

  /** d20's streaming form — per-source ADMISSION cap over a live
    * ingest feed: the first `cap` documents of each source pass, the
    * rest are dropped at the door. Where batch d20 draws a
    * deterministic uniform sample per source (it sees the whole corpus
    * and can hash-order it), a stream cannot know a better candidate
    * arrives later, so the streaming form is the rate-limiter shape:
    * first-come-first-admitted, the guard a crawl frontier or backfill
    * replay puts in front of the corpus store. Admission order within
    * a micro-batch follows iteration order after the (source) shuffle —
    * WHICH docs are admitted is arrival-dependent by design (the spec
    * asserts the cap, rank density, and cross-batch state carry, not a
    * particular winner set).
    *
    * Scale posture: `flatMapGroupsWithState` keeps ONE integer of
    * state per source — bounded by the domain universe, not the
    * stream — and emits admitted rows incrementally (Append mode, no
    * result-table rescan). The (source) shuffle is the same key the
    * batch form groups on; a hot source costs one counter, not a
    * buffer.
    */
  def domainCapStream(streamDocs: DataFrame, cap: Int = 10): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = streamDocs.sparkSession
    import s.implicits._
    streamDocs
      // a doc without an id cannot be admitted-or-counted
      // deterministically — dropped before the tuple encoder, whose
      // primitive doc_id field would otherwise kill the stream on the
      // first dirty row (a null SOURCE is fine: it groups as its own
      // domain, same as batch d20's null partition)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long"), col("source"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Int, CapAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[Int]) =>
          var n = state.getOption.getOrElse(0)
          val out = scala.collection.mutable.ListBuffer.empty[CapAdmit]
          while (rows.hasNext && n < cap) {
            val r = rows.next(); n += 1; out += CapAdmit(r._1, src, n)
          }
          state.update(n)
          out.iterator
      }
      .toDF()
  }

  /** d21 — soft dedup: duplicate-aware DOWN-WEIGHTING instead of
    * removal. Hard dedup (d10/d18) throws every copy but one away;
    * soft dedup keeps all members of a near-duplicate cluster (d9's
    * MinHash-verified connected components) and assigns each a
    * training weight of 1/cluster_size, so the cluster contributes one
    * document's worth of gradient mass no matter how many times the
    * crawler re-fetched it — the repetition-penalty alternative the
    * data-mix literature prefers when duplicates carry distribution
    * signal. Output: (doc_id, component, cluster_size, weight).
    *
    * Scale posture: everything after d9's log-round CC is one
    * (component) shuffle — the window count needs no ordering, so it's
    * a hash exchange + per-key count, combineable and skew-tolerant
    * (cluster sizes are bounded by the near-dup verification, not by
    * corpus size). The weight is a pure projection of the count; new
    * documents get weights incrementally by computing their component
    * alone.
    */
  def softDedupWeights(s: SparkSession, dir: String, t: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Dedup.dedupClusters(s, dir, t)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("doc_id"), col("component"), col("cluster_size"),
        (lit(1.0) / col("cluster_size")).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** d24 — output shard manifest: the write-side planning step of a
    * 100 TB corpus build. Docs are assigned to `nShards` output shards
    * by the engine-standard salted 60-bit hash of the doc key (d19's
    * rule — deterministic, reproducible, no RNG, co-located with
    * nothing so the write stage is embarrassingly parallel), and the
    * manifest reports each shard's document count and byte volume —
    * what a writer needs to size output files and what an auditor
    * checks for balance before committing a layout. Hash sharding's
    * balance guarantee is statistical; the spec pins it on this corpus
    * (max/mean bounded), and a skewed manifest is exactly the signal
    * that the shard key must change BEFORE a petabyte lands on disk.
    *
    * Scale posture: one projection + one `nShards`-key aggregate —
    * map-side combine reduces each partition to at most `nShards`
    * rows before the single bounded shuffle.
    */
  def shardManifest(s: SparkSession, dir: String,
      nShards: Int = 64): DataFrame =
    Tables.documents(s, dir)
      .select(pmod(hash64(concat(lit("shard_"), col("doc_id").cast("string"))),
        lit(nShards.toLong)).cast("int").as("shard_id"),
        col("n_chars"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("shard_id"))

  /** d27 — deterministic epoch shuffle: the READ-side companion to
    * d24's write-side manifest. Training runs need a different
    * document order every epoch, and the same order every RERUN of
    * that epoch (crash recovery, ablations, multi-host loaders that
    * must agree on the permutation without talking to each other) —
    * so the permutation is pure arithmetic, not state: each doc's
    * place for epoch E is (shard, position) derived from the salted
    * 60-bit `hash64("epoch<E>_" || doc_id)`. Same epoch → same
    * permutation on any engine or host; different epoch → a fresh
    * effectively-independent permutation (the salt swaps every hash
    * bit). Output: (doc_id, shard_id, pos).
    *
    * Scale posture: the ONLY pattern that gives a global-feeling
    * shuffle without a global sort — one hash-partition shuffle on
    * shard_id, then each shard sorts its own slice by hash key (the
    * per-shard rank window); no stage ever orders the full corpus.
    * Shard count scales with corpus size to keep per-shard sorts
    * in-memory; the hash key tie-breaks by doc_id, so the rank is a
    * total order and positions are reproducible bit-for-bit.
    */
  def epochShuffle(s: SparkSession, dir: String,
      epoch: Int = 1, nShards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard_id"))
      .orderBy(col("k"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        hash64(concat(lit(s"epoch${epoch}_"), col("doc_id").cast("string")))
          .as("k"))
      .withColumn("shard_id",
        pmod(col("k"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard_id"), col("pos"))
      .orderBy(col("shard_id"), col("pos"))
  }

  /** d25 — eval-side contamination REPORT: for every benchmark document
    * (the same doc_id % benchMod == 0 slice d11 uses), what fraction of
    * its distinct word-3-gram shingles appears ANYWHERE in the training
    * corpus. d11 answers the curation question (which training docs to
    * drop); this answers the eval-integrity question an evaluation
    * owner asks before trusting a score — including the ZERO-overlap
    * rows d11's join drops, because "this eval doc is clean" is the
    * point of the report.
    *
    * Scale posture: the direction d11's broadcast cannot serve — here
    * the TRAINING side is the haystack. The train corpus is scanned
    * ONCE, probing the broadcast eval shingle relation (eval sets are
    * MBs); matches are cut to distinct (eval_doc, shingle) pairs — an
    * eval shingle counts once no matter how many train docs contain
    * it — and that dedup shuffle is bounded by the eval shingle count,
    * never by corpus size. No shuffle of train shingles at any point.
    */
  def contaminationReport(s: SparkSession, dir: String,
      benchMod: Int = DefaultBenchMod): DataFrame = {
    val docs = docShinglesCached(s, dir)
    val eval = docs.filter(pmod(col("doc_id"), lit(benchMod)) === 0)
    val evalSh = eval.select(col("doc_id"), explode(col("sh")).as("g"))
    val trainSh = docs.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
      .select(explode(col("sh")).as("g"))
    val hits = trainSh.join(broadcast(evalSh), Seq("g"))
      .select(col("doc_id"), col("g")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    eval.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(coalesce(col("n_hit"), lit(0L)).cast("double")
            / col("n_shingles").cast("double")).as("contamination"))
      .orderBy(col("doc_id"))
  }

  /** d26 — temperature-sampled domain mixture (α = 1/2): per-document
    * REPEAT factors that flatten the LANGUAGE distribution toward the
    * published multilingual/multi-domain temperature-sampling rule
    * p_d ∝ n_d^α (Devlin et al. 2019 mBERT; Conneau-Lample XLM use the
    * same exponent family). q52 applies GIVEN per-stratum rates; this
    * op DERIVES them from corpus counts — the "upsample the tail
    * domains, don't starve them" knob a pretraining mix is tuned with —
    * and emits epochs-per-document (head domains < 1 epoch via the
    * fractional gate, tail domains > 1).
    *
    * Exactness contract: integer arithmetic end to end. w_d =
    * floor(sqrt(n_d)) (IEEE sqrt is correctly rounded and n_d < 2⁵²,
    * so the floor is the exact integer square root on both engines);
    * the per-language target T_d = (N·w_d) div Σw is exact integer
    * math; a document's extra repeat beyond the base T_d div n_d
    * epochs is gated by the corpus-standard salted md5 hash —
    * h mod n_d < T_d mod n_d — deterministic, engine-identical, and
    * in expectation exactly the remainder. The EXACT-remainder
    * alternative (rank docs per source, give the first T_d mod n_d
    * the extra copy) needs a per-source sort of the whole corpus;
    * the hash gate is shuffle-free and is what production mixers do.
    *
    * Scale posture: one count aggregate to a domain-sized relation
    * (~#sources rows), all derived stats computed on that tiny
    * relation and BROADCAST back onto a single corpus scan — no
    * shuffle of documents at all, no window, no sort before the
    * presentation ORDER BY.
    */
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val cnts = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      .withColumn("w_lang", floor(sqrt(col("n_lang"))).cast("long"))
    val tot = cnts.agg(sum(col("w_lang")).as("tw"),
      sum(col("n_lang")).as("tn"))
    val stats = cnts.crossJoin(tot)
      .select(col("lang"), col("n_lang"), col("w_lang"),
        expr("tn * w_lang div tw").as("target_docs"))
    Tables.documents(s, dir)
      .join(broadcast(stats), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_lang"),
        col("w_lang"), col("target_docs"),
        expr("target_docs div n_lang").as("base_epochs"),
        (expr("target_docs div n_lang") +
          when(pmod(hash64(concat(lit("tmix_"), col("doc_id").cast("string"))),
            col("n_lang")) < expr("target_docs % n_lang"), lit(1L))
            .otherwise(lit(0L))).as("repeats"))
      .orderBy(col("doc_id"))
  }

  /** d31 — corpus snapshot diff: classify every doc_id across two
    * corpus snapshots as added / removed / changed / unchanged by
    * content fingerprint — the audit a versioned-dataset build runs
    * between releases (what exactly moved between corpus v1 and v2,
    * and does the delta match the changelog). The registered query
    * derives both snapshots from the one table deterministically:
    * "old" drops the `%4 == 3` slice, "new" drops the `%9 == 8` slice
    * and revises the text of the `%5 == 0` slice — so all four
    * statuses occur and the oracle can mirror the construction
    * exactly.
    *
    * Null-text docs fingerprint to a sentinel (a null fp would
    * misclassify a doc present on both sides as added/removed — the
    * full-outer join's presence test must never read absence from a
    * null VALUE).
    *
    * Scale posture: one full-outer equi-join on doc_id — at 100 TB
    * both snapshot manifests are bucketed by doc_id, so the diff is
    * co-partitioned with no shuffle of either corpus body (fps ride
    * the manifest; text never moves). No windows, no driver state.
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    def fp(c: Column): Column = coalesce(fingerprint(c), lit("null"))
    val old = docs.filter(pmod(col("doc_id"), lit(4)) =!= 3)
      .select(col("doc_id"), fp(col("text")).as("fp_old"))
    val neu = docs.filter(pmod(col("doc_id"), lit(9)) =!= 8)
      .select(col("doc_id"), fp(
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .as("fp_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .orderBy(col("doc_id"))
  }
}

/** The registered queries that call [[CorpusOps]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object CorpusOpsQueries {
  import CorpusOps._

  def queries: Seq[QueryDef] = Seq(
    // Stratified per-language hash sampling (training-mix rebalance)
    QueryDef("q51_stratified_sample", stratifiedSample(_, _),
      // Same md5-hash-predicate idiom as q24, applied to the salted
      // stratified key with the per-language rate from CorpusOps.
      Sql("""SELECT doc_id, lang, source FROM documents
        |WHERE CAST('0x' || substr(md5('strat_' || doc_id), 1, 15) AS BIGINT) % 1000 <
        |  CASE WHEN lang = 'en' THEN 200 ELSE 600 END
        |ORDER BY doc_id""")),

    // Mix rates as a broadcast config TABLE, not plan literals
    QueryDef("q52_weighted_mix", weightedMix(_, _),
      Sql("""WITH w(lang, keep_permille) AS (
        |  VALUES ('en', 150), ('de', 800), ('zh', 400))
        |SELECT d.doc_id, d.lang, d.source,
        |  CAST(coalesce(w.keep_permille, 600) AS BIGINT) AS keep_permille
        |FROM documents d LEFT JOIN w USING (lang)
        |WHERE CAST('0x' || substr(md5('mix_' || d.doc_id), 1, 15) AS BIGINT) % 1000 <
        |  coalesce(w.keep_permille, 600)
        |ORDER BY d.doc_id""")),

    // Benchmark decontamination: broadcast the held-out shingle set
    QueryDef("d11_decontaminate", decontaminate(_, _),
      // d11: the same word-3-gram shingle derivation as d2/d3, split on
      // doc_id % 20 — bench side's distinct shingles probed by the corpus
      // side (the Spark plan broadcasts the bench set; semantics are this
      // plain join+group).
      Sql("""WITH words AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) >= 3
        |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |      ELSE [] END) AS t
        |  FROM words),
        |bench AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(t) AS g FROM sh WHERE doc_id % 20 = 0) u),
        |corpus AS (SELECT doc_id, len(t) AS n_shingles, unnest(t) AS g
        |  FROM sh WHERE doc_id % 20 <> 0)
        |SELECT c.doc_id, CAST(c.n_shingles AS BIGINT) AS n_shingles,
        |  count(*) AS n_shared,
        |  CAST(count(*) AS DOUBLE) / c.n_shingles AS contamination
        |FROM corpus c JOIN bench b USING (g)
        |GROUP BY c.doc_id, c.n_shingles
        |ORDER BY c.doc_id""")),

    // End-to-end curation: dedup → quality gate → stratified sample,
    // one declarative plan (single scan, two data shuffles)
    QueryDef("d12_curate", curate(_, _),
      // Composition of the d1 fingerprint, t8 score/median, and q51
      // hash-sample idioms — each already hash-proven individually.
      Sql("""WITH t AS (SELECT doc_id, lang, source, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |scored AS (SELECT doc_id, lang, source, fp,
        |  0.5 * (CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks))
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
        |   + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality_score
        |  FROM t),
        |dedup AS (SELECT doc_id, lang, source, quality_score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM scored) WHERE rn = 1),
        |med AS (SELECT lang, quantile_cont(quality_score, 0.5) AS lang_median
        |  FROM dedup GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.source, d.quality_score, m.lang_median
        |FROM dedup d JOIN med m USING (lang)
        |WHERE d.quality_score > m.lang_median
        |  AND CAST('0x' || substr(md5('curate_' || d.doc_id), 1, 15) AS BIGINT) % 1000 <
        |      CASE WHEN d.lang = 'en' THEN 500 ELSE 900 END
        |ORDER BY d.doc_id""")),

    // Bloom-filter decontamination (bounded broadcast). The sketch bytes
    // are engine-specific (Spark's bloom_filter_agg), so no cross-engine
    // result equality exists. Contract: flags are a SUPERSET of exact
    // d11's (no false negatives) with bounded false-positive inflation —
    // this corpus's distinct bench shingles sit far under the 1.6M-bit
    // filter's 100k design capacity, so bloom-only flags stay a sliver.
    QueryDef("d14_decontaminate_bloom", decontaminateBloom(_, _),
      Approx(
        Bound("d14_false_negatives", bloomFalseNegatives, AtMost(0)),
        Bound("d14_extra_flag_frac", bloomExtraFlagFrac, AtMost(0.05)))),

    // Quality-representative fuzzy dedup: keep the best-quality member
    // of each d9 cluster (ties to smaller id), not the lowest id
    QueryDef("d18_quality_dedup", qualityDedup(_, _),
      // d18: d9's component closure + t3's quality formula, argmax per
      // component as a rank-1 window (quality DESC with a -1e18 NULL
      // sentinel in the ORDER — matching the Spark struct-min sort key —
      // then doc_id ASC; the emitted kept_quality is the UN-coalesced
      // score, so unscoreable winners stay NULL on both engines).
      SqlFn(() => s"""WITH RECURSIVE
        |${DedupQueries.jaccardComponents},
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |q AS (SELECT doc_id,
        |    0.5 * (CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks))
        |     + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
        |     + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality_score
        |  FROM (SELECT doc_id, text,
        |      list_filter(string_split_regex(lower(text), '\\s+'),
        |        x -> x <> '') AS toks
        |    FROM documents)),
        |r AS (SELECT component, l.doc_id, quality_score,
        |    row_number() OVER (PARTITION BY component
        |      ORDER BY coalesce(quality_score, -1e18) DESC, l.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY component) AS cluster_size
        |  FROM lab l JOIN q ON l.doc_id = q.doc_id)
        |SELECT component, doc_id AS kept_doc_id,
        |  quality_score AS kept_quality, cluster_size
        |FROM r WHERE rn = 1 ORDER BY component""".stripMargin)),

    // Leakage-safe split assignment: near-dup clusters, not docs, are
    // the split unit — fuzzy copies can never straddle train/test
    QueryDef("d19_split_assign", leakageSafeSplit(_, _),
      // d19: d9's component closure + the engine's md5-derived 60-bit
      // hash convention on the salted component id — the same per-mille
      // predicate the q51/q52 oracles mirror.
      SqlFn(() => s"""WITH RECURSIVE
        |${DedupQueries.jaccardComponents},
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |h AS (SELECT doc_id, component,
        |    CAST('0x' || substr(md5('split_' || component), 1, 15) AS BIGINT)
        |      % 1000 AS hv
        |  FROM lab)
        |SELECT doc_id, component,
        |  CASE WHEN hv < 100 THEN 'test'
        |       WHEN hv < 200 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM h ORDER BY doc_id""".stripMargin)),

    // Per-source doc cap (C4-style anti-domination), WindowGroupLimit
    QueryDef("d20_domain_cap", domainCap(_, _),
      Sql("""SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source, CAST(ROW_NUMBER() OVER (
        |      PARTITION BY source
        |      ORDER BY CAST('0x' || substr(md5('cap_' || doc_id), 1, 15)
        |        AS BIGINT), doc_id) AS INT) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""")),

    // Duplicate-aware down-weighting: 1/cluster_size training weights
    QueryDef("d21_soft_dedup", softDedupWeights(_, _),
      SqlFn(() => s"""WITH RECURSIVE
        |${DedupQueries.jaccardComponents},
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        |SELECT doc_id, component,
        |  count(*) OVER (PARTITION BY component) AS cluster_size,
        |  CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY component)
        |    AS weight
        |FROM lab ORDER BY doc_id""".stripMargin)),

    // The full curation sequence as ONE plan: dedup -> quality gate ->
    // decontaminate -> domain cap -> split (the corpus manifest)
    QueryDef("d22_curation_pipeline", curationPipeline(_, _),
      // d22: the stage CTEs are the verbatim oracles of the pieces —
      // d1's keep-first window, t8's score + per-lang median, d11's
      // shingle/bench join, d20's cap window, d19's split rule on doc_id.
      Sql("""WITH base AS (SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS toks,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |scored AS (SELECT doc_id, lang, source, toks, fp,
        |    0.5 * (CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
        |      / len(toks))
        |     + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]'))
        |        AS DOUBLE) / length(text))
        |     + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |      AS quality_score
        |  FROM base),
        |dedup AS (SELECT * FROM (SELECT s.*, ROW_NUMBER() OVER (
        |    PARTITION BY fp ORDER BY doc_id) AS rn FROM scored s)
        |  WHERE rn = 1),
        |med AS (SELECT lang, quantile_cont(quality_score, 0.5)
        |    AS lang_median FROM dedup GROUP BY lang),
        |quality AS (SELECT d.* FROM dedup d JOIN med m USING (lang)
        |  WHERE d.quality_score > m.lang_median),
        |benchsh AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_distinct(CASE WHEN len(w) >= 3
        |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |        for i in range(1, len(w) - 1)] ELSE [] END)) AS g
        |  FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS w
        |    FROM documents WHERE doc_id % 20 = 0)) u),
        |contaminated AS (SELECT c.doc_id FROM (
        |  SELECT doc_id, len(t) AS n_shingles, unnest(t) AS g FROM (
        |    SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |        THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |          for i in range(1, len(toks) - 1)] ELSE [] END) AS t
        |    FROM quality WHERE doc_id % 20 <> 0)) c
        |  JOIN benchsh b USING (g)
        |  GROUP BY c.doc_id, c.n_shingles
        |  HAVING CAST(count(*) AS DOUBLE) / c.n_shingles > 0.2),
        |clean AS (SELECT q.* FROM quality q
        |  WHERE q.doc_id % 20 <> 0
        |    AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |capped AS (SELECT * FROM (SELECT c.*, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY
        |      CAST('0x' || substr(md5('cap_' || doc_id), 1, 15) AS BIGINT),
        |      doc_id) AS rk FROM clean c)
        |  WHERE rk <= 20)
        |SELECT doc_id, lang, source, quality_score,
        |  CASE WHEN hv < 100 THEN 'test'
        |       WHEN hv < 200 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM (SELECT *, CAST('0x' || substr(md5('split_' || doc_id), 1, 15)
        |    AS BIGINT) % 1000 AS hv FROM capped)
        |ORDER BY doc_id""")),

    // Snapshot diff: added/removed/changed/unchanged audit between two
    // corpus versions via one co-partitioned full-outer fp join
    QueryDef("d31_snapshot_diff", snapshotDiff(_, _),
      // d31: both snapshots and the revision are the same deterministic
      // construction; fingerprints share the md5(normalized) convention
      // with a 'null' sentinel for null texts on BOTH engines.
      Sql("""WITH old AS (SELECT doc_id,
        |    coalesce(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
        |      'null') AS fp_old
        |  FROM documents WHERE doc_id % 4 <> 3),
        |neu AS (SELECT doc_id,
        |    coalesce(md5(trim(regexp_replace(lower(
        |      CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END),
        |      '\s+', ' ', 'g'))), 'null') AS fp_new
        |  FROM documents WHERE doc_id % 9 <> 8)
        |SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
        |  CASE WHEN fp_old IS NULL THEN 'added'
        |    WHEN fp_new IS NULL THEN 'removed'
        |    WHEN fp_old <> fp_new THEN 'changed'
        |    ELSE 'unchanged' END AS status
        |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
        |ORDER BY doc_id""")),

    // Output shard manifest: deterministic hash sharding + per-shard
    // doc/byte totals (the write-side planning step)
    QueryDef("d24_shard_manifest", shardManifest(_, _),
      // d24: the d19 hash rule ('0x' + 15 md5 hex chars → 60-bit
      // nonnegative BIGINT, so plain % equals pmod) on the salted doc
      // key, then per-shard totals
      Sql("""WITH h AS (SELECT
        |    CAST(CAST('0x' || substr(md5('shard_' || doc_id), 1, 15)
        |      AS BIGINT) % 64 AS INT) AS shard_id,
        |    n_chars
        |  FROM documents)
        |SELECT shard_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM h GROUP BY shard_id ORDER BY shard_id""")),

    // Deterministic per-epoch training order: salted-hash permutation,
    // per-shard rank — reproducible without any global sort
    QueryDef("d27_epoch_shuffle", epochShuffle(_, _),
      // d27: the hash key is the shared md5 convention, the rank is a
      // total order (key, doc_id) — positions identical on both engines.
      Sql("""WITH h AS (SELECT doc_id,
        |    CAST('0x' || substr(md5('epoch1_' || doc_id), 1, 15)
        |      AS BIGINT) AS k
        |  FROM documents),
        |s AS (SELECT doc_id, k,
        |    CAST(k % 64 AS INT) AS shard_id FROM h)
        |SELECT doc_id, shard_id,
        |  CAST(row_number() OVER (PARTITION BY shard_id
        |    ORDER BY k, doc_id) AS INT) AS pos
        |FROM s ORDER BY shard_id, pos""")),

    // Eval-side contamination report: per benchmark doc, the fraction
    // of its shingles found in the training corpus (zero rows kept)
    QueryDef("d25_contamination_report", contaminationReport(_, _),
      // d25: same shingle convention as d11, reversed direction — report
      // rows for EVERY eval doc, zero-overlap included.
      Sql("""WITH words AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) >= 3
        |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |      ELSE [] END) AS t
        |  FROM words),
        |train AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(t) AS g FROM sh WHERE doc_id % 20 <> 0) u),
        |ex AS (SELECT doc_id, unnest(t) AS g FROM sh WHERE doc_id % 20 = 0),
        |hits AS (SELECT doc_id, count(*) AS n_hit
        |  FROM ex JOIN train USING (g) GROUP BY doc_id)
        |SELECT e.doc_id, CAST(len(e.t) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CASE WHEN len(e.t) = 0 THEN 0.0
        |    ELSE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / len(e.t)
        |  END AS contamination
        |FROM sh e LEFT JOIN hits h USING (doc_id)
        |WHERE e.doc_id % 20 = 0
        |ORDER BY e.doc_id""")),

    // Temperature-sampled domain mixture (p_d ∝ √n_d): integer-exact
    // per-doc repeat factors, hash-gated fractional epochs
    QueryDef("d26_temperature_mix", temperatureMix(_, _),
      // d26: floor(sqrt) is the exact integer square root for bigint
      // counts (IEEE sqrt correctly rounded, n < 2^52); // and % on
      // non-negatives truncate identically to Spark's div/%; the extra-
      // epoch gate rides the corpus-standard salted md5 hash.
      Sql("""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents
        |  GROUP BY lang),
        |w AS (SELECT lang, n_lang,
        |    CAST(floor(sqrt(n_lang)) AS BIGINT) AS w_lang FROM c),
        |t AS (SELECT CAST(sum(w_lang) AS BIGINT) AS tw,
        |    CAST(sum(n_lang) AS BIGINT) AS tn FROM w),
        |s AS (SELECT lang, n_lang, w_lang,
        |    (tn * w_lang) // tw AS target_docs FROM w, t)
        |SELECT d.doc_id, d.lang, s.n_lang, s.w_lang, s.target_docs,
        |  s.target_docs // s.n_lang AS base_epochs,
        |  s.target_docs // s.n_lang + CASE WHEN
        |      CAST('0x' || substr(md5('tmix_' || d.doc_id), 1, 15) AS BIGINT)
        |        % s.n_lang < s.target_docs % s.n_lang
        |    THEN 1 ELSE 0 END AS repeats
        |FROM documents d JOIN s USING (lang)
        |ORDER BY doc_id""")),
  )

  /** Exact d11 flags (doc_id, n_shared) and d14's (doc_id, n_shared_bloom). */
  private def decontaminationFlags(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (decontaminate(s, dir).select(col("doc_id"), col("n_shared")),
      decontaminateBloom(s, dir).select(col("doc_id"), col("n_shared_bloom")))

  /** d14 false negatives: exactly-flagged docs the bloom form misses or
    * flags with a smaller shared count (a bloom count can only inflate).
    */
  private def bloomFalseNegatives(s: SparkSession, dir: String): Double = {
    val (exact, bloom) = decontaminationFlags(s, dir)
    exact.as("e").join(bloom.as("b"), Seq("doc_id"), "left")
      .filter(col("b.n_shared_bloom").isNull ||
        col("b.n_shared_bloom") < col("e.n_shared")).count().toDouble
  }

  /** d14 bloom-only flags per corpus document. */
  private def bloomExtraFlagFrac(s: SparkSession, dir: String): Double = {
    val (exact, bloom) = decontaminationFlags(s, dir)
    bloom.join(exact, Seq("doc_id"), "left_anti").count().toDouble /
      Tables.documents(s, dir).count()
  }
}
