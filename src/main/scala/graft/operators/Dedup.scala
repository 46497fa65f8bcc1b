package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.SparkEntry.{QueryDef, Sql, SqlFn}

/** Deduplication suite over `documents` / `embeddings` — the core
  * training-data-pipeline extension (north star; absent in the
  * reference, which has no string ops at all).
  *
  * Five operators, all shuffle-architected for 100 TB:
  *
  *  - exact:       fingerprint groupBy — one shuffle on a 128-bit key.
  *  - jaccard:     EXACT all-pairs-over-threshold via prefix filtering
  *                 (PPJoin-style): provably lossless candidate blocking,
  *                 so the result equals the quadratic oracle without the
  *                 quadratic join. Candidates shuffle by (rare) prefix
  *                 shingle, never by document.
  *  - minhash LSH: 128 permutations, 64 bands × 2 rows; candidates from
  *                 band-bucket equality, then EXACT Jaccard verification
  *                 — so false positives cost only compute, and the band
  *                 design makes false negatives at J >= 0.5 vanishingly
  *                 rare (P(miss) = (1-J^2)^64; 1e-9 at J=0.5).
  *  - simhash:     60-bit signature per doc computed with 60 per-bit
  *                 conditional-sum aggregates (one pass, no bit
  *                 explosion); near-pairs via 4×15-bit band blocking
  *                 (pigeonhole-complete for hamming <= 3).
  *  - embedding:   cosine >= t pairs, exact, via a tiled block-matrix
  *                 self-join — even work spread, no corpus broadcast
  *                 (the ANN/LSH scale path for prunable thresholds
  *                 lives in Similarity.scala).
  *
  * All hashing derives from md5 (TextFunctions.hash64), so every
  * operator is cross-engine deterministic and DuckDB-oracle-checkable.
  */
object Dedup {

  // ── Exact dedup ───────────────────────────────────────────────────────
  /** Content-exact dedup groups: per fingerprint keep the smallest
    * doc_id; n_copies counts members (1 = unique).
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("fp"), col("n_copies"))
      .orderBy(col("keep_doc_id"))

  /** d23 — incremental cross-corpus dedup: deduplicate an INCOMING
    * batch first against itself (keep-first) and then against the
    * fingerprints of an EXISTING corpus — the shape every production
    * ingest runs (today's crawl against the 100 TB already curated),
    * where d1's whole-corpus groupBy would re-shuffle the entire
    * history for every increment. The registered query derives the two
    * sides from one table by a deterministic id split (doc_id % mod ==
    * 0 is "incoming"); [[crossDedupFrom]] is the two-relation form the
    * spec drives with planted duplicates. Output: the incoming
    * survivors (doc_id, fp).
    *
    * Scale posture: the self-dedup is one (fp) window rank-1 over the
    * INCREMENT only; the history check is a LEFT ANTI join on fp —
    * both sides shuffle on the same key (at scale the existing
    * fingerprint table is bucketed by fp, so the increment alone
    * moves), and the existing side ships only its fp column, pruned at
    * the scan. For a first cheap pass, d14's fixed-size Bloom of the
    * existing fps filters the increment before the exact anti-join —
    * same two-step sketch-then-exact contract as d14/t14.
    */
  def crossDedup(s: SparkSession, dir: String, mod: Int = 3): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    crossDedupFrom(
      docs.filter(pmod(col("doc_id"), lit(mod)) === 0),
      docs.filter(pmod(col("doc_id"), lit(mod)) =!= 0))
  }

  /** The two-relation form of [[crossDedup]]: both inputs are
    * (doc_id, fp) relations.
    */
  def crossDedupFrom(incoming: DataFrame, existing: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    incoming
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
      .join(existing.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** Exact dedup's streaming form: fingerprint-keyed first-wins dedup
    * over a live ingest feed (`streamDocs` is a `readStream` relation
    * with (doc_id, text)). `dropDuplicates` on the fingerprint keeps
    * ONE row of state per distinct content — the same bound as batch
    * d1's aggregate — and emits each fingerprint's first arrival.
    * Arrival-order semantics: the keeper is the first-SEEN doc, not
    * necessarily the min doc_id (batch d1's deterministic tie-break);
    * the kept fingerprint SET is identical, which is what
    * StreamingSpec asserts against batch d1.
    *
    * `watermark` bounds the state: pass the event-time column name and
    * a delay (e.g. Some("ts" -> "1 hour")) and the operator switches to
    * `dropDuplicatesWithinWatermark`, aging fingerprint state out after
    * the delay instead of growing with corpus history. The unbounded
    * default — exact global dedup — remains an explicit caller choice:
    * whether a duplicate a week apart must still dedup is a semantic
    * decision, not a tuning knob.
    */
  def exactDedupStream(streamDocs: DataFrame,
      watermark: Option[(String, String)] = None): DataFrame = {
    val fps = streamDocs
      .select(streamDocs.columns.map(col) :+ fingerprint(col("text")).as("fp"): _*)
    watermark match {
      case Some((tsCol, delay)) =>
        fps.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark("fp")
          .select(col("doc_id"), col("fp"))
      case None =>
        fps.select(col("doc_id"), col("fp")).dropDuplicates("fp")
    }
  }

  /** d23's streaming form — the production ingest topology: a live doc
    * feed (`streamDocs`: readStream with (doc_id, text)) deduped
    * against the STATIC existing-corpus fingerprint relation
    * (`existing`: (…, fp)) via a stream-static LEFT ANTI join, then
    * against itself with first-wins fingerprint state (the
    * exactDedupStream mechanism). The anti join runs BEFORE the
    * stateful dedup, so fingerprints already in the corpus never enter
    * dedup state — state holds only genuinely-new content, the same
    * increment-only bound as batch d23.
    *
    * Scale posture: the static side ships one pruned fp column (at
    * 100 TB: a bucketed fingerprint table, partition-pruned per
    * micro-batch); the stream shuffles once on fp for the join + once
    * for the dedup state. Keeper semantics are arrival-order
    * (first-SEEN), vs batch d23's min-doc_id tie-break — the kept
    * fingerprint SET is identical, which is what StreamingSpec
    * asserts.
    */
  def crossDedupStream(streamDocs: DataFrame, existing: DataFrame): DataFrame =
    streamDocs
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .join(existing.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .dropDuplicates("fp")
      .select(col("doc_id"), col("fp"))

  // ── Shared shingle prep ───────────────────────────────────────────────
  /** (doc_id, sh: array<long> of distinct hashed word-3-gram shingles,
    * sz). The whole tokenize→shingle→distinct→hash chain is ONE
    * codegen'd kernel (r15; graft.functions.WordShingles64) — the
    * pre-kernel HOF formulation lives in ShingleExprsSpec as the
    * executable reference the kernel is pinned against.
    */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame =
    docShinglesBy(s, dir, t => wordShingles64(t, 3))

  /** Character n-gram variant: shingles = distinct n-char substrings of
    * the whitespace-normalized text (normalization stays a codegen'd
    * built-in; gram+distinct+hash is the CharShingles64 kernel).
    */
  private def docCharShingles(s: SparkSession, dir: String, n: Int): DataFrame =
    docShinglesBy(s, dir, t => charShingles64(normalized(t), n))

  /** Shingles are HASHED to 64-bit longs (md5-derived, the engine's
    * standard hash64) inside the kernel: every downstream consumer —
    * df counts, prefix ranks, band keys, minhash, the verify
    * intersections — needs shingle IDENTITY, not text. Long arrays cut
    * the verify join's shuffle volume ~8x vs string arrays and make
    * every join key a primitive. Set sizes and intersection sizes are
    * preserved exactly unless md5 collides on this corpus's
    * ~27k-shingle vocabulary (P ~ 1e-10 at 60 bits) — the Jaccard
    * values, and hence the oracle hash, are unchanged.
    */
  private def docShinglesBy(s: SparkSession, dir: String,
      shingle: Column => Column): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      // Hash-spread docs before the CPU-heavy shingling: locally the
      // table is one row group = one task; on a cluster this is the
      // same shuffle the explode/groupBy below needs anyway.
      .transform(Tables.spread(_, col("doc_id")))
      .transform(shingleProject(_, shingle))

  /** The (doc_id, text) → (doc_id, sh, sz) shingle projection shared by
    * the batch tables and the streaming near-dup path (a readStream
    * relation can't be spread()/cached, so the batch wrapper above owns
    * those concerns). The coalesce preserves the old HOF chain's
    * null-text behavior (null → empty set via the `when` fallback, so
    * sz = 0, not null).
    */
  private def shingleProject(docs: DataFrame, shingle: Column => Column,
      carry: Seq[String] = Nil): DataFrame = {
    // `carry` columns ride through unchanged (the streaming path keeps
    // its event-time column so a watermark can bound downstream state)
    val ex = carry.map(col)
    docs
      .select(col("doc_id") +: ex :+
        coalesce(shingle(col("text")), array().cast("array<long>")).as("sh"): _*)
      .withColumn("sz", size(col("sh")))
  }
      // NO .filter(sz > 0) here: semantically redundant — explode()
      // emits nothing for an empty array, so shingle-less docs can
      // never reach a candidate join, a signature, or a verify branch
      // (and pushdown would clone the kernel call into a Filter below
      // the projection, paying the scan twice).

  private def jaccard(shA: Column, shB: Column, szA: Column, szB: Column): Column = {
    val inter = size(array_intersect(shA, shB)).cast("double")
    inter / (szA + szB - inter)
  }

  // ── Exact Jaccard pairs via prefix filtering ─────────────────────────
  /** All pairs (a < b) with shingle-set Jaccard >= t. Lossless prefix
    * blocking: order each doc's shingles by ascending global frequency
    * (rarest first, ties by value); any pair with J >= t must share a
    * shingle within the first |S| - ceil(t*|S|) + 1 of that ordering, so
    * joining only on prefix shingles prunes without loss. The pair join
    * keys on rare shingles — the frequent-shingle hot keys never enter
    * the join.
    */
  def jaccardPairs(s: SparkSession, dir: String, t: Double = 0.5): DataFrame =
    prefixFilteredPairs(docShingles(s, dir), t)

  /** Character-5-gram Jaccard near-dup pairs (robust to token-boundary
    * edits), threshold 0.7. Candidate generation uses MinHash-LSH
    * banding, NOT prefix filtering: char 5-grams over this corpus's
    * tiny vocabulary have a flat, high document frequency, so even a
    * rarest-30% prefix explodes (design-time A/B at sf0.1: ~30× the
    * shipped form), and r=2 banding floods because BACKGROUND pair
    * similarity is ~0.2 (~45× the shipped form).
    * r=8 x 16 bands: background p99=0.26 -> false-candidate rate
    * ~1e-5; true pairs >= 0.93 -> miss probability ~2e-6. Candidates are verified with EXACT Jaccard — output
    * equals the exact quadratic oracle.
    */
  def charGramPairs(s: SparkSession, dir: String, t: Double = 0.7): DataFrame =
    minhashBandedPairs(docCharShingles(s, dir, 5), t, bandRows = 8)

  /** (g, doc_id, sz, rk): every df>1 posting with its rank in the doc's
    * global-(df, g) shingle ordering. Shared by the Jaccard and
    * containment prefix filters.
    *
    * - df lookup restricted to REPEATED shingles: a df=1 shingle can
    *   only self-match within its own doc, so it can never produce a
    *   candidate — and the restriction is what bounds the broadcast
    *   (repeated-shingle vocab, not corpus vocab). On an open-domain
    *   corpus where even that exceeds driver memory, drop the
    *   broadcast() hint and this degrades gracefully to a shuffle join.
    * - Broadcasting the lookup keeps `exploded` partitioned by doc_id
    *   (from spread()), so the per-doc ranking window runs with no
    *   exchange — the explode→groupBy(g)→join→window chain that cost
    *   three wide stages in the shuffle formulation collapses to one
    *   broadcast hash join + an in-partition sort.
    * - df=1 shingles participate in the RANKING (they have df
    *   coalesced to 1 and sort first, so prefix positions reflect the
    *   doc's FULL list) but are dropped from the output.
    */
  private def rankedPostings(docs: DataFrame): DataFrame = {
    val exploded = docs.select(col("doc_id"), col("sz"), explode(col("sh")).as("g"))
    val freq = exploded.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
    // cache is load-bearing (r16 plan audit): BOTH consumers reference
    // this relation on the two sides of a self-join (d2: prefix ⋈
    // prefix; d8: prefix ⋈ yPruned), and AQE plans the build side as a
    // BroadcastExchange, which never reuses the probe side's shuffle —
    // uncached, the whole explode → freq-aggregate → window chain
    // executed TWICE per query (d2's before-plan carries two complete
    // Generate/HashAggregate/Window subtrees over the cached shingle
    // table). Size is the df>1 posting list (four fixed-width
    // columns), corpus-bounded; lifecycle ends with the query (the d2
    // shingle-table convention — Bench/Verify clearCache per query).
    exploded.join(broadcast(freq), Seq("g"), "left")
      .withColumn("df", coalesce(col("df"), lit(1L)))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))))
      .filter(col("df") > 1)
      .select(col("g"), col("doc_id"), col("sz"), col("rk"))
      .cache()
  }

  /** A doc's prefix length for threshold `t`: the first
    * |S| - ceil(t*|S|) + 1 positions of its ranked shingle list.
    */
  private def prefixLen(t: Double): Column =
    col("sz") - ceil(lit(t) * col("sz")).cast("int") + 1

  private def prefixFilteredPairs(docsRaw: DataFrame, t: Double): DataFrame = {
    // cache is load-bearing: the freq, prefix-join, and verify branches
    // each reference the shingle table; uncached, every branch
    // recomputes the docs subtree. Lifecycle ends with the query — the
    // harness (Bench/Verify) clears the cache between queries.
    val docs = docsRaw.cache()
    val prefix = rankedPostings(docs).filter(col("rk") <= prefixLen(t))
    // Two further lossless prunes (PPJoin):
    //  - length filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|);
    //  - positional filter: at a shared prefix shingle at ranks
    //    (rk_x, rk_y), the max achievable overlap is
    //    1 + min(sz_x - rk_x, sz_y - rk_y), which must reach
    //    ceil(t/(1+t) * (sz_x + sz_y)).
    val alpha = ceil(lit(t / (1 + t)) * (col("x.sz") + col("y.sz")))
    val candidates = prefix.as("x").join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          col("x.sz") >= lit(t) * col("y.sz") &&
          col("y.sz") >= lit(t) * col("x.sz") &&
          (lit(1) + least(col("x.sz") - col("x.rk"), col("y.sz") - col("y.rk"))) >= alpha)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(candidates, docs, t)
  }

  // ── Containment (sub-document duplication) ───────────────────────────
  /** Pairs whose shingle-set OVERLAP COEFFICIENT |A∩B| / min(|A|,|B|)
    * >= t — catches a document contained in (or heavily overlapping) a
    * much larger one, where Jaccard stays low because the size imbalance
    * dilutes the union. A first-class training-data dedup op: boilerplate
    * wrappers and quote-reply chains duplicate *sub*-documents.
    *
    * Lossless candidate blocking, prefix-filter style: order each doc's
    * shingles by (global df, value). If |A∩B| >= ceil(t*|A|) for the
    * smaller doc A, then A cannot avoid sharing one of the first
    * |A| - ceil(t*|A|) + 1 shingles of that ordering with B's FULL set —
    * so joining every doc's prefix against every doc's full df>1
    * postings catches each qualifying pair via its smaller side (no
    * length-ratio prune exists for containment; sizes are unconstrained).
    * Shuffles key on shingles, never on doc pairs; df=1 shingles can't
    * co-occur and never enter the join.
    */
  def containmentPairs(s: SparkSession, dir: String, t: Double = 0.8): DataFrame = {
    val docs = docShingles(s, dir).cache()
    verifyPairs(containmentCandidates(docs, t), docs, t, "containment",
      (shA, shB, szA, szB) =>
        size(array_intersect(shA, shB)).cast("double") / least(szA, szB))
  }

  /** d8's candidate generator, exposed so the selectivity is observable
    * in-code (DedupSimilaritySpec counts it; measured at t=0.8: 40
    * candidates for 28 true pairs over 500 docs at sf0.001, 36 for 25
    * at sf0.01 — ~3e-4 of the 124,750 unordered pairs, so the
    * blocking, not the verify, does the work).
    */
  private[graft] def containmentCandidates(docs: DataFrame, t: Double): DataFrame = {
    val ranked = rankedPostings(docs)
    val prefix = ranked.filter(col("rk") <= prefixLen(t))
    // y-side positional prune: the join's positional bound needs
    // 1 + (sz_y - rk_y) >= ceil(t * min(sz_x, sz_y)) and
    // min(sz_x, sz_y) >= s_min (the corpus-wide minimum doc size), so
    // any y posting with rk_y > sz_y - ceil(t*s_min) + 1 cannot satisfy
    // the bound against ANY partner — drop it before the shuffle
    // instead of carrying it into the join (the full ranked side is the
    // join's bulk; measured at sf0.01 this keeps 82% of it — modest
    // here because s_min is only 8, but it is free and grows with the
    // corpus's minimum doc size). Lossless:
    // the pair-catching posting always has capacity for the actual
    // requirement, which is >= the s_min-relaxed requirement.
    // s_min is evaluated EAGERLY (one int off a bounded aggregate) so
    // the prune is a plain filter that fuses into y's scan projection —
    // joining the 1-row aggregate in lazily always degrades to a
    // non-equi 1-row join (BroadcastNestedLoop; a constant equi-key
    // gets folded away and the condition pulled into the join), which
    // the d8 plan gate rejects as a shape. Cost: plan-only callers pay
    // one small driver job at construction (min over the cached
    // shingle table), bounded and shared with the query's own work.
    val sMinRow = docs.agg(min(col("sz"))).head
    val sMinVal = if (sMinRow.isNullAt(0)) 0 else sMinRow.getInt(0)
    val yPruned = ranked.filter(
      col("rk") <= col("sz") - lit(math.ceil(t * sMinVal).toInt) + 1)
    // Positional prune (PPJoin's bound adapted to containment): at the
    // first shared shingle of the global (df, g) order — where both
    // remaining capacities are maximal — the achievable intersection is
    // 1 + min(|A| - rk_a, |B| - rk_b), which must reach the required
    // ceil(t * min(|A|,|B|)). Lossless because shared elements keep the
    // same relative order in both docs' rankings, so the first shared
    // element lies inside the smaller doc's prefix.
    val needed = ceil(lit(t) * least(col("x.sz"), col("y.sz")))
    prefix.as("x").join(yPruned.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") =!= col("y.doc_id") &&
          (lit(1) + least(col("x.sz") - col("x.rk"),
            col("y.sz") - col("y.rk"))) >= needed)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
  }

  /** d29 — edit-distance near-dup pairs (the Ed-Join shape, Xiao et
    * al., VLDB'08): every unordered doc pair whose whitespace-
    * normalized texts are within Levenshtein distance `k`, found
    * WITHOUT the quadratic all-pairs compare. Unlike the set-based
    * families (d2/d7/d8), this is an ORDER-SENSITIVE measure — the
    * dedup signal for templated boilerplate where a few character
    * edits separate copies that shingle-Jaccard scores identically.
    *
    * Lossless candidate generation by POSITIONAL q-gram prefix
    * filtering. One edit destroys at most q of a doc's positional
    * q-gram occurrences, so ed(a,b) <= k leaves >= m − k·q surviving
    * occurrences, each paired content-equal across the docs with a
    * position shift of at most k (an edit script moves a surviving
    * character by at most the number of net insertions/deletions
    * before it, <= k). Rank each doc's occurrences by the global
    * (df, g) key with position as the tie-break; because edit
    * alignments are MONOTONE, the first matched occurrence of the
    * minimal matched key class is preceded only by unmatched
    * occurrences on BOTH sides (<= k·q each), so some surviving pair
    * sits inside both k·q+1 prefixes — the join on (gram,
    * |pos diff| <= k, |len diff| <= k) is therefore lossless. The
    * positional conditions are what make the filter selective on
    * low-entropy corpora: a FIRST cut of this operator joined on gram
    * content alone and produced 24.8M candidates over 5000 docs at
    * sf0.1 (boilerplate corpora share most of their gram VOCABULARY
    * at wildly different offsets — an order of magnitude slower at
    * design-time A/B); position+length
    * residuals cut that to the low thousands with the identical
    * output.
    *
    * The pigeonhole is vacuous only when BOTH docs have <= k·q
    * occurrences (normalized length < (k+1)·q chars); that
    * bounded-length class is covered by a separate length-band
    * equi-join — quadratic only within a fixed band of an O(1)-length
    * class, so the block stays bounded per band at any corpus size.
    * Candidates then pass the exact `levenshtein(a, b, k)` verify —
    * the threshold form early-exits the DP at bandwidth k, O(k·len)
    * per pair instead of O(len²).
    *
    * Scale posture: the prefix self-join keys on the gram hash (an
    * equi shuffle with pos/len residuals; df=1 grams dropped before
    * it); the short-doc block keys on the length band (equi); the
    * verify joins key on doc_id. No cartesian, no nested loop; the
    * gram-frequency broadcast is the repeated-gram vocab (drop the
    * hint on an open-domain corpus and it degrades to a shuffle
    * join); driver state is nil.
    */
  def editDistancePairs(s: SparkSession, dir: String,
      k: Int = 10, q: Int = 5): DataFrame = {
    val prefixLen = k * q + 1
    val norm = Tables.documents(s, dir)
      .select(col("doc_id"), normalized(col("text")).as("t"))
      .transform(Tables.spread(_, col("doc_id")))
      .withColumn("len", length(col("t")))
      .cache()
    // positional occurrences (multiset — no array_distinct): pos is
    // 0-based. Grams hash via xxhash64, NOT the md5 engine convention:
    // gram identity never leaves this operator (the oracle verifies
    // with levenshtein on the texts, no hash crosses engines), and
    // xxhash64 is a codegen'd single-pass hash where md5 allocates —
    // this is the operator's hottest per-char loop. Cached: the
    // relation feeds both the df count and the prefix ranking, and
    // re-deriving it re-runs the explode+hash over every char.
    val grams = norm.filter(col("len") >= q)
      // gram array via the PosGramsXx64 kernel (r15): same xxhash64
      // over the same q-char slices, one pass instead of an
      // interpreted transform+substr per position
      .select(col("doc_id"), col("len"),
        posexplode(posGramsXx64(col("t"), q)))
      .withColumnRenamed("col", "g")
      .cache()
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
    val prefixes = grams.join(broadcast(freq), Seq("g"), "left")
      .withColumn("df", coalesce(col("df"), lit(1L)))
      // df=1 occurrences rank (prefix positions reflect the full
      // occurrence list) but can never match — drop them after
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("g"), col("pos"))))
      .filter(col("df") > 1 && col("rk") <= prefixLen)
      .select(col("g"), col("doc_id"), col("pos"), col("len"))
    val candLarge = prefixes.as("x").join(prefixes.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.pos") - col("y.pos")) <= k &&
          abs(col("x.len") - col("y.len")) <= k)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // Short-doc block: both sides <= k·q occurrences. Length bands of
    // width k: a pair within ed k differs by <= k chars, so its bands
    // are equal or adjacent — probe side emits {band, band+1}, build
    // side keeps {band}, then canonicalize to unordered pairs.
    val short = norm.filter(col("len") - (q - 1) <= k * q)
      .select(col("doc_id"), floor(col("len") / k).as("band"))
    val probe = short.select(col("doc_id"),
      explode(array(col("band"), col("band") + 1)).as("band"))
    val candShort = probe.as("x").join(short.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    val a = norm.select(col("doc_id").as("doc_a"), col("t").as("t_a"),
      col("len").as("len_a"))
    val b = norm.select(col("doc_id").as("doc_b"), col("t").as("t_b"),
      col("len").as("len_b"))
    candLarge.union(candShort).distinct()
      .join(a, "doc_a").join(b, "doc_b")
      .filter(abs(col("len_a") - col("len_b")) <= k)
      .withColumn("edit_dist", levenshtein(col("t_a"), col("t_b"), k))
      .filter(col("edit_dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Join candidate (doc_a, doc_b) pairs back to shingle arrays and keep
    * those whose exact `measure` (Jaccard by default; containment for
    * containmentPairs) reaches t.
    */
  private def verifyPairs(candidates: DataFrame, docs: DataFrame, t: Double,
      measureName: String = "jaccard",
      measure: (Column, Column, Column, Column) => Column = jaccard): DataFrame = {
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("sz").as("sz_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("sz").as("sz_b"))
    candidates.join(a, "doc_a").join(b, "doc_b")
      .withColumn(measureName,
        measure(col("sh_a"), col("sh_b"), col("sz_a"), col("sz_b")))
      .filter(col(measureName) >= t)
      .select(col("doc_a"), col("doc_b"), col(measureName))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ── MinHash + LSH ─────────────────────────────────────────────────────
  /** MinHash parameters: 128 permutations h_i(x) = (a_i*x + b_i) mod p
    * over the 31-bit Mersenne prime (operands stay < 2^62 — no long
    * overflow). Constants from a fixed seed: deterministic run-to-run.
    */
  private val MinhashP = 2147483647L // 2^31 - 1
  // visible to IndexStore so the persisted-index manifest derives the
  // scheme from THESE constants — a tuning change then automatically
  // invalidates incompatible on-disk indexes instead of loading them
  private[operators] val NumHashes = 128
  private[operators] val BandRows = 2 // 64 bands × 2 rows
  private[operators] val hashParams: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)((1L + rnd.nextInt((MinhashP - 1).toInt).toLong,
      rnd.nextInt(MinhashP.toInt).toLong))
  }

  /** Per-doc MinHash signature as array<long> of length 128, computed
    * by the codegen'd MinHashSig PROJECTION over the already-
    * materialized shingle array (r15; arithmetic identical to the
    * MinHashAgg aggregate it replaced). The old explode → partial agg
    * → Exchange → final agg dataflow is gone outright (guide §2.4):
    * the signature is a per-row function of `sh`, so nothing needs to
    * shuffle. The sz > 0 filter reproduces the explode form's
    * dropping of shingle-less docs (explode emitted no row for them).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs.filter(col("sz") > 0)
      .select(col("doc_id"), minhashSig(col("sh"), hashParams, MinhashP).as("sig"))

  /** Near-dup pairs via MinHash-LSH banding + exact Jaccard verify.
    * Output contract matches jaccardPairs (the LSH is a candidate
    * pruner, not an approximation of the result).
    */
  def minhashLshPairs(s: SparkSession, dir: String, t: Double = 0.5): DataFrame =
    minhashBandedPairs(docShingles(s, dir), t)

  /** The MinHash-LSH core over any shingle table: signatures, band
    * bucketing, candidate self-join, exact verification.
    *
    * `bandRows` tunes the S-curve: r=2 (64 bands) catches low
    * thresholds but floods when the BACKGROUND pair similarity is
    * non-trivial; r=8 (16 bands) needs J >~ 0.8 to fire reliably but
    * stays sparse even when unrelated pairs sit at J ~ 0.2-0.3 (the
    * char-gram case on this corpus: background p99 = 0.26, true pairs
    * >= 0.93 -> miss probability ~ 2e-6, false-candidate rate ~ 1e-5).
    */
  /** One band key per (band, row-slice of the signature) — shared by the
    * batch self-join and the streaming stream-vs-static join so the two
    * bucketings can never diverge.
    */
  private def bandKeyCols(sig: Column, bandRows: Int): Seq[Column] = {
    val nBands = NumHashes / bandRows
    (0 until nBands).map { j =>
      concat_ws("_", lit(j) +: (0 until bandRows).map(r =>
        element_at(sig, j * bandRows + r + 1)): _*)
    }
  }

  private def minhashBandedPairs(docsRaw: DataFrame, t: Double,
      bandRows: Int = BandRows): DataFrame = {
    val docs = docsRaw.cache()
    val sigs = minhashSignatures(docs)
    val bands = sigs.select(col("doc_id"),
        explode(array(bandKeyCols(col("sig"), bandRows): _*)))
      .select(col("doc_id"), col("col").as("band_key"))
    val candidates = bands.as("x").join(bands.as("y"), Seq("band_key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(candidates, docs, t)
  }

  // ── Streaming MinHash near-dup (live feed vs static corpus) ──────────
  /** The static side of streaming near-dup detection, bundled so the
    * band bucketing and the verify shingles always come from the same
    * build: `bands` is (doc_id, band_key), `shingles` is
    * (doc_id, sh, sz). At cluster scale both are materialized tables —
    * bucketed by band_key / doc_id respectively — built once per corpus
    * snapshot and queried by every micro-batch.
    */
  final case class MinhashIndex(bands: DataFrame, shingles: DataFrame)

  /** Build the static MinHash index of the (batch) documents table.
    * Both frames are cache()d: a stream-static join re-executes the
    * static side's plan EVERY micro-batch, so an uncached index would
    * re-shingle and re-sign the whole corpus per batch. The cache is
    * the local stand-in for the materialized (bucketed) index tables a
    * cluster deployment would build once per corpus snapshot;
    * lifecycle belongs to the caller (unpersist when the index is
    * superseded).
    */
  def minhashIndex(s: SparkSession, dir: String): MinhashIndex = {
    val docs = docShingles(s, dir).cache()
    val sigs = minhashSignatures(docs)
    MinhashIndex(
      sigs.select(col("doc_id"),
          explode(array(bandKeyCols(col("sig"), BandRows): _*)))
        .select(col("doc_id"), col("col").as("band_key"))
        .cache(),
      docs)
  }

  /** Index relations from an arbitrary (doc_id, text) relation —
    * UNCACHED, unlike [[minhashIndex]] above: the persistence path
    * ([[IndexStore.saveMinhash]]) owns materialization (parquet), and
    * building uncached avoids double residency when the relations go
    * straight to disk.
    */
  private[graft] def minhashIndexFrom(docs: DataFrame): MinhashIndex = {
    val shingled = shingleProject(
      docs.select(col("doc_id"), col("text"))
        .transform(Tables.spread(_, col("doc_id"))),
      t => wordShingles64(t, 3))
    val sigs = minhashSignatures(shingled)
    MinhashIndex(
      sigs.select(col("doc_id"),
          explode(array(bandKeyCols(col("sig"), BandRows): _*)))
        .select(col("doc_id"), col("col").as("band_key")),
      shingled)
  }

  /** d3's streaming form: near-dup detection of a LIVE document feed
    * against a static corpus — the continuous-ingest shape, where each
    * newly crawled doc is checked for near-duplicates before admission
    * rather than by a nightly all-pairs batch.
    *
    * The stream side is fully STATELESS per row: the MinHash signature
    * is computed with per-row array HOFs — arithmetically identical to
    * the batch MinHashAgg (min over shingles of (a·(g mod p)+b) mod p),
    * so stream and batch produce the same band keys and the candidate
    * sets agree exactly (StreamingSpec asserts parity with batch d3).
    * Candidates come from an equi-join of the stream's exploded band
    * keys against the static index (stream-static joins are stateless);
    * `dropDuplicates` collapses multi-band hits — the one stateful op,
    * keyed by (stream doc, corpus doc), bounded the same way d1's
    * streaming dedup is (add a watermark upstream for age-out).
    * Verification joins the static shingle table and applies the EXACT
    * Jaccard, so false candidates cost compute, never precision.
    *
    * Output: (doc_id — stream side, corpus_doc_id, jaccard) for every
    * corpus doc within threshold `t` of an arriving doc.
    */
  def minhashCandidatesStream(streamDocs: DataFrame, index: MinhashIndex,
      t: Double = 0.5,
      watermark: Option[(String, String)] = None): DataFrame = {
    // Optional watermark (mirrors exactDedupStream): the multi-band
    // candidate collapse is this operator's ONE stateful op, keyed by
    // (stream doc, corpus doc) — unbounded without an age-out. With
    // (tsCol, delay) the event-time column rides through the shingle
    // projections and the collapse becomes dropDuplicatesWithinWatermark,
    // so state for docs older than the watermark is dropped. Without it
    // (ad-hoc/batch-parity runs) plain dropDuplicates keeps exact
    // all-time semantics.
    val (src, carry) = watermark match {
      case Some((tsCol, delay)) =>
        (streamDocs.withWatermark(tsCol, delay)
          .select(col("doc_id"), col("text"), col(tsCol)), Seq(tsCol))
      case None =>
        (streamDocs.select(col("doc_id"), col("text")), Nil)
    }
    minhashCandidatesSigned(signDocs(src, carry), index, t,
      watermarked = watermark.isDefined, carry = carry)
  }

  /** Per-row MinHash signing of a (doc_id, text[, carry…]) relation:
    * shingle set, size, and the 128-permutation signature via array
    * HOFs — stateless per row, arithmetically identical to the batch
    * MinHashAgg. Split out of [[minhashCandidatesStream]] so the
    * persisted-index probe path ([[IndexStore.persistedLshPairs]])
    * can materialize this output ONCE per corpus snapshot — the
    * production sign-once-store-forever shape — instead of re-folding
    * every probe doc's text on every warm run.
    */
  private[graft] def signDocs(src: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    // one codegen'd kernel per stage (r15): WordShingles64 for the
    // shingle set, MinHashSig for the 128-permutation signature — the
    // old form walked 128 interpreted array HOFs per row. Arithmetic
    // identical (min over (a·(g mod p)+b) mod p); sz > 0 keeps the old
    // empty-set exclusion (array_min of an empty array was null).
    val shingled = shingleProject(src, t => wordShingles64(t, 3), carry)
      .filter(col("sz") > 0)
    shingled.select(col("doc_id") +: carry.map(col) ++:
      Seq(col("sh"), col("sz"),
        minhashSig(col("sh"), hashParams, MinhashP).as("sig")): _*)
  }

  /** Candidate generation + exact-Jaccard verify over an already-
    * SIGNED probe relation (the [[signDocs]] output schema). The other
    * half of [[minhashCandidatesStream]]'s split.
    */
  private[graft] def minhashCandidatesSigned(signed: DataFrame,
      index: MinhashIndex, t: Double, watermarked: Boolean = false,
      carry: Seq[String] = Nil): DataFrame = {
    val carryCols = carry.map(col)
    val bands = signed
      .select(col("doc_id") +: carryCols ++: Seq(col("sh"), col("sz"),
        explode(array(bandKeyCols(col("sig"), BandRows): _*)).as("band_key")): _*)
    val corpus = index.bands.select(
      col("doc_id").as("corpus_doc_id"), col("band_key"))
    val verify = index.shingles.select(col("doc_id").as("corpus_doc_id"),
      col("sh").as("c_sh"), col("sz").as("c_sz"))
    val hits = bands.join(corpus, Seq("band_key"))
      .filter(col("doc_id") =!= col("corpus_doc_id"))
      .select(col("doc_id") +: carryCols ++:
        Seq(col("sh"), col("sz"), col("corpus_doc_id")): _*)
    val collapsed =
      if (watermarked)
        hits.dropDuplicatesWithinWatermark("doc_id", "corpus_doc_id")
      else hits.dropDuplicates("doc_id", "corpus_doc_id")
    collapsed
      .join(verify, Seq("corpus_doc_id"))
      .withColumn("jaccard",
        jaccard(col("sh"), col("c_sh"), col("sz"), col("c_sz")))
      .filter(col("jaccard") >= t)
      .select(col("doc_id"), col("corpus_doc_id"), col("jaccard"))
  }

  // ── Dedup clusters (connected components) ─────────────────────────────
  /** Collapse the near-dup PAIR graph into clusters: every doc gets the
    * minimum doc_id of its connected component (itself when unique) —
    * the "pick one canonical doc per duplicate group" step a dedup
    * pipeline runs after pair generation.
    *
    * Algorithm: iterative min-label propagation (the Pregel-style CC
    * that scales — each round is one shuffle join keyed by vertex, and
    * the round count is the cluster DIAMETER, not the corpus size;
    * near-dup clusters are shallow, so this converges in 2-3 rounds).
    * The driver loop only checks a converged count per round — labels
    * never leave the cluster. Pairs come from the MinHash-LSH operator,
    * so the whole chain (candidates → verify → clusters) is
    * sub-quadratic.
    */
  def dedupClusters(s: SparkSession, dir: String, t: Double = 0.5): DataFrame =
    minLabelComponents(
      minhashLshPairs(s, dir, t).select(col("doc_a"), col("doc_b")),
      Tables.documents(s, dir).select(col("doc_id")))
      .orderBy(col("doc_id"))

  /** d36 — QUALITY-KEEPER consolidation of the near-dup clusters: d9
    * picks each component's MIN-ID doc as canonical; a real curation
    * pipeline keeps the BEST one. This operator ranks every cluster
    * member by t3's composite quality score and marks the argmax
    * (ties → smallest doc_id) as the keeper, emitting the keep/drop
    * decision with cluster context per doc — dedup that preserves
    * corpus QUALITY instead of insertion order, d18's exact-group
    * quality decision generalized to NEAR-dup components.
    *
    * Exactness: components are d9's exact min-label CC; quality_score
    * is t3's deterministic double (bit-exact cross-engine for 13
    * rounds); the keeper window is the total order (score desc,
    * doc_id) — exact duplicates inside a cluster carry EQUAL scores
    * and resolve on id identically in both engines. Full hash oracle:
    * d9's recursive-CTE closure + t3's score expression + the same
    * window, composed.
    *
    * Scale posture: everything upstream is d9's sub-quadratic chain
    * (banded candidates → exact verify → log-round CC); this adds one
    * join of the component labels to the scored scan (both keyed by
    * doc_id — co-partitioned) and one window over components, whose
    * partitions are cluster-sized (shallow by construction).
    */
  def qualityKeeperDedup(s: SparkSession, dir: String,
      t: Double = 0.5): DataFrame = {
    val comp = dedupClusters(s, dir, t)
    val q = TextAnalysis.qualityScore(s, dir)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    comp.join(q, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("doc_id"), col("component"), col("cluster_size"),
        col("quality_score"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** d37 — URL-canonicalization dedup: the CommonCrawl-style first
    * pass of every web-corpus pipeline — collapse fetches of the SAME
    * page that differ only in URL noise (host case, tracking
    * parameters, parameter order, trailing slashes, fragments) BEFORE
    * any content hashing runs. The corpus has no URL column, so the
    * registered query derives a deterministic URL per doc from
    * (doc_id, source) on BOTH sides — t11's synthetic-column
    * convention — planting exactly the variation classes the
    * canonicalizer must collapse.
    *
    * Canonical form (RFC 3986 normalization + the tracking-param scrub
    * every crawler applies): lowercase scheme+host, drop the fragment,
    * drop `utm_*`/`ref=` params, SORT surviving params, strip trailing
    * path slashes. Emits one row per canonical URL with the kept doc
    * (min doc_id — insertion-order keep, d1's convention), the group
    * size, and how many members carried tracking noise.
    *
    * Exactness: pure string algebra — regexp splits on anchored
    * classes valid in both engines, prefix tests by substr (no LIKE
    * metacharacter pitfalls), lexicographic param sort. Bit-exact by
    * construction; full hash oracle.
    *
    * Scale posture: one shuffle (groupBy canonical_url) after a
    * shuffle-free codegen projection — the cheapest dedup tier there
    * is, which is why production pipelines run it FIRST to shrink the
    * corpus before shingling (d3) or embedding (d6) spend anything.
    */
  def urlCanonicalDedup(s: SparkSession, dir: String): DataFrame =
    withCanonicalUrl(
      Tables.documents(s, dir).select(col("doc_id"), col("source")))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_dups"),
        sum(when(col("raw_url") =!= col("canonical_url"), 1L).otherwise(0L))
          .as("n_noisy"))
      .orderBy(col("canonical_url"))

  /** d37's canonicalization kernel: adds (raw_url, canonical_url) to a
    * (doc_id, source) relation — a stateless codegen projection shared
    * verbatim by the batch dedup and the streaming ingest gate. */
  private[graft] def withCanonicalUrl(docs: DataFrame): DataFrame = {
    val raw = concat(
      lit("https://"),
      when(pmod(col("doc_id"), lit(3)) === 0, upper(col("source")))
        .otherwise(col("source")),
      lit(".example.com/articles/"),
      pmod(col("doc_id"), lit(100)).cast("string"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
          lit("?utm_source=feed&b=2&a=1"))
        .when(pmod(col("doc_id"), lit(5)) === 1, lit("?a=1&ref=home&b=2"))
        .when(pmod(col("doc_id"), lit(5)) === 2, lit("?b=2&a=1"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0, lit("#section-2"))
        .otherwise(lit("")))
    val noFrag = regexp_replace(raw, "#.*$", "")
    val schemeHost = lower(regexp_extract(noFrag, "^(https?://[^/?]*)", 1))
    val path = regexp_replace(
      regexp_extract(noFrag, "^https?://[^/?]*([^?]*)", 1), "/+$", "")
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val kept = array_sort(filter(split(query, "&"), p =>
      p =!= "" && substring(p, 1, 4) =!= "utm_" &&
        substring(p, 1, 4) =!= "ref="))
    val canonical = concat(schemeHost, path,
      when(size(kept) === 0, lit(""))
        .otherwise(concat(lit("?"), array_join(kept, "&"))))
    docs.select(col("doc_id"), raw.as("raw_url"),
      canonical.as("canonical_url"))
  }

  /** d38 — token-sort-invariant exact dedup: group documents by the
    * md5 of their SORTED lowercase token sequence, so two docs that
    * are word-for-word reorderings of each other (shuffled boilerplate
    * lists, templated sentences re-ordered by a scraper, the
    * "token sort ratio" family's exact case) collapse into one group —
    * strictly coarser than d1's exact-text dedup at the identical
    * one-shuffle cost, strictly cheaper than d2/d3's shingle pipeline
    * (which this gate runs BEFORE, shrinking its input). Emits the
    * keeper (min doc_id), group size, and the count of distinct raw
    * texts in the group — `n_distinct_texts > 1` is exactly the
    * reorder-collapse evidence an operator inspects before trusting
    * the gate.
    *
    * Exactness: tokenization, lexicographic sort, and md5 are
    * identical string algebra in both engines — bit-exact, full hash
    * oracle. Scale posture: a shuffle-free codegen projection
    * (split/sort/hash per row) and ONE groupBy shuffle on the
    * signature — d1's plan shape with a token-multiset key.
    */
  def tokenSortDedup(s: SparkSession, dir: String): DataFrame =
    tokenSortGroups(Tables.documents(s, dir))

  /** d38's kernel on any (doc_id, text) relation. */
  private[graft] def tokenSortGroups(docs: DataFrame): DataFrame = {
    val sig = md5(array_join(array_sort(tokens(col("text"))), " "))
    docs.select(col("doc_id"), col("text"), sig.as("sig"))
      .groupBy(col("sig"))
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"))
      .orderBy(col("sig"))
  }

  /** d38's STREAMING form (mirror #14) — the token-sort gate in the
    * ingest path: each incoming doc computes its sorted-token md5
    * signature in-stream (the same codegen projection as batch d38)
    * and first-seen-wins state keeps one doc per signature —
    * word-for-word reorderings arriving later are dropped before they
    * cost a byte of downstream shingling. Same state contract as
    * [[exactDedupStream]] (d1's mirror): first-SEEN keeper (arrival
    * order, where batch keeps min doc_id — the spec equates the
    * SIGNATURE set, which is order-free), optional watermark to bound
    * state on unbounded feeds.
    */
  def tokenSortDedupStream(streamDocs: DataFrame,
      watermark: Option[(String, String)] = None): DataFrame = {
    val sigd = streamDocs.select(
      streamDocs.columns.map(col) :+
        md5(array_join(array_sort(tokens(col("text"))), " ")).as("sig"): _*)
    watermark match {
      case Some((tsCol, delay)) =>
        sigd.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark("sig")
          .select(col("doc_id"), col("sig"))
      case None =>
        sigd.select(col("doc_id"), col("sig")).dropDuplicates("sig")
    }
  }

  /** d37's STREAMING form — the crawl-frontier URL gate: every incoming
    * doc canonicalizes in-stream (stateless projection, no state store)
    * and probes the STATIC keeper table (batch d37's output, the
    * d23/d35 stream-static pattern) — emitting, per incoming doc, its
    * canonical URL and whether a keeper already holds it. A crawler
    * consumes the `known = false` rows (fetch) and drops the rest
    * (skip) — the cheapest dedup decision in the ingest path, made
    * before a byte of content is read. Spec-asserted equal to the
    * batch join on the same slice.
   
    * The static side is an ordinary DataFrame — HttpIngestSpec drives
    * this same gate with the keeper table read over the `http://`
    * transport (the two r14 transports composed).
    */
  def urlNoveltyStream(streamDocs: DataFrame, keepers: DataFrame): DataFrame =
    withCanonicalUrl(streamDocs.select(col("doc_id"), col("source")))
      .join(keepers.select(col("canonical_url"),
        col("keeper_id")), Seq("canonical_url"), "left")
      .select(col("doc_id"), col("canonical_url"),
        col("keeper_id").isNotNull.as("known"))

  /** d13 — near-dup clusters in EMBEDDING space: the same min-label CC
    * fixpoint as d9, but over the cosine-threshold pair graph (d6)
    * instead of the MinHash shingle graph — semantic near-dups
    * (paraphrases) that share no shingles still collapse. One shared
    * fixpoint implementation serves both: clustering is pair-source-
    * agnostic by construction.
    * Output: (vec_id, component = min vec_id of its component).
    */
  def embeddingClusters(s: SparkSession, dir: String, t: Double = 0.4): DataFrame =
    minLabelComponents(
      // the unsorted pair feed: d6's presentation orderBy buys nothing
      // under the CC edge build (the edges are exploded and
      // repartitioned by dst immediately)
      embeddingNearDupPairsUnsorted(s, dir, t)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")),
      Tables.embeddings(s, dir).select(col("vec_id").as("doc_id")))
      .select(col("doc_id").as("vec_id"), col("component"))
      .orderBy(col("vec_id"))

  /** The min-label connected-components fixpoint shared by d9 (shingle
    * pairs) and d13 (embedding pairs): `pairs` is any (doc_a, doc_b)
    * edge relation, `vertices` the (doc_id) universe; returns every
    * vertex with the minimum id of its component (itself when untouched
    * by any pair).
    *
    * Convergence is LOG-round, not diameter-round: each round runs a
    * Shiloach-Vishkin-style gather (one-hop neighbor min over edges),
    * scatter (each vertex sends its gathered min UP to its current
    * parent), and shortcut (pointer-jump self-compositions flattening
    * the parent trees) — see the comment block inside the loop for why
    * all three flows are needed. A chain of diameter d converges in
    * O(log d) rounds instead of d. On a 100 TB corpus the threshold
    * graph's chain diameters GROW with corpus size, so round count —
    * each round is a driver-scheduled job — is the quantity that must
    * stay logarithmic. Labels only ever decrease, every flow propagates
    * vertex ids from within the component, and at a fixpoint the label
    * is constant per component, so the result is exactly the component
    * min (same contract the one-hop form had).
    */
  private[graft] def minLabelComponents(pairs: DataFrame,
      vertices: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    // Materialize the edge cache BEFORE the loop: the first round's job
    // references `edges` through several subtrees (labels lineage +
    // neighbor join), and a cold cache would recompute the whole pair
    // pipeline once per subtree within that job.
    //  - Both edge directions come from ONE scan of the pair relation
    //    via explode — `pairs.select(a,b).union(pairs.select(b,a))`
    //    would execute the entire (expensive) pair-generation pipeline
    //    twice inside the cache-materialization job, since the cache
    //    sits above the union (rewrite-time A/B at sf0.1: ~2× on
    //    d13's edge build).
    //  - repartition by dst WITHOUT a partition count: AQE coalesces
    //    the exchange by bytes, so the KB-sized near-dup graphs of the
    //    common case collapse to one task per round while a
    //    billion-pair graph keeps full width — no second cache +
    //    count round-trip to size it manually.
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .cache()
    val nEdges = edges.count()
    // Iterate ONLY over vertices that appear in a pair — near-dup
    // graphs are sparse, so the fixpoint frames are a sliver of the
    // corpus and every round's joins stay broadcast-sized; the
    // untouched majority joins back once as self-components at the end.
    // Warm start: the same aggregation that would enumerate the
    // vertices also yields each vertex's direct-neighbor minimum, so
    // round 1 already sees 1-hop labels — one fewer fixpoint round
    // (each round is ~fixed scheduling latency on a sparse graph).
    // localCheckpoint (eager), NOT cache(): caching truncates
    // EXECUTION but not the LOGICAL plan — `labels` appears twice per
    // round (neighbor join + carry join), so an uncheckpointed plan
    // tree DOUBLES every round and the driver's per-action plan
    // instrumentation (operator-ID numbering for the SQL-execution
    // event, built even with the UI off) turns exponential. Observed:
    // d13's ~deeper-chain graph pinned the driver for minutes inside
    // ExplainUtils before any task ran; d9's 2-3 rounds merely hid the
    // same growth. localCheckpoint persists the round's blocks and
    // replaces the plan with a leaf; superseded rounds are freed by the
    // ContextCleaner once unreferenced. On a cluster where executor
    // loss mid-fixpoint must be recoverable, swap in reliable
    // checkpoint() to a checkpoint dir (lineage is gone by design).
    // Checkpoints inside the loop pin HONEST leaf statistics
    // (Shims.localCheckpointWithStats): plain localCheckpoint copies the
    // source plan's estimated stats onto the leaf, and since this loop's
    // round plan references the previous leaf several times, inherited
    // estimates exponentiate round over round until the OPTIMIZER (not
    // the data) becomes the bottleneck — the driver stalls multiplying
    // million-bit BigIntegers inside the size-estimation visitor. The
    // label table has at most nEdges rows of two longs.
    val labelBytes = math.max(64L, nEdges * 24L)
    var labels = Shims.localCheckpointWithStats(
      edges.groupBy(col("src").as("doc_id"))
        .agg(least(min(col("dst")), col("src")).as("component")),
      labelBytes)
    // Each round is a Shiloach-Vishkin-style gather / scatter /
    // shortcut, giving LOG-round convergence where plain min-label
    // propagation needs diameter rounds:
    //
    //  1. GATHER  g(v) = min(label(v), min of neighbors' labels) — the
    //     one-hop hook every label-propagation CC has.
    //  2. SCATTER each v sends g(v) UP to its current parent
    //     label(v): the parent learns the smallest thing any of its
    //     members has seen. This reverse flow is what makes the
    //     contraction multiplicative — without it, pull-only pointer
    //     jumping stalls at every locally-minimal vertex (c(c(v)) =
    //     c(v) whenever c(v) is a local min), and measured convergence
    //     on a 4000-vertex shuffled-id path degraded to ~3 steps/round
    //     (1283 rounds). With it, member stars merge through their
    //     boundary edges every round.
    //  3. SHORTCUT two pointer-jump self-compositions on the updated
    //     table flatten the pointer trees (label := label(label(v))).
    //
    // Measured on the same 4000-vertex shuffled path: 1283 rounds
    // (pull-only) -> 8 rounds. Labels only ever decrease and carry
    // vertex ids from within the component, so the fixpoint is exactly
    // the component minimum, as before.
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
      // carry the pre-update label row-wise: the convergence count is a
      // filter over the checkpointed frame, not a join against the old one
      val gather = labels.join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
        .select(col("doc_id"), col("component").as("_old"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // scatter: parent _old receives the min gathered value of its
      // members. `gather` is referenced twice (the groupBy and the
      // join-back) WITHOUT an intermediate checkpoint: its whole plan
      // is one join + one aggregate over the cached edges and the
      // previous checkpoint leaf, so executing it twice inside this
      // stage is cheaper than materializing a third checkpoint per
      // round — round latency is driver-scheduled jobs, not data.
      val toParent = gather.groupBy(col("_old").as("p_id"))
        .agg(min(col("component")).as("p_min"))
      val hooked = gather.join(toParent, gather("doc_id") === col("p_id"), "left")
        .select(col("doc_id"), col("_old"),
          least(col("component"), coalesce(col("p_min"), col("component")))
            .as("component"))
      val hookedCp = Shims.localCheckpointWithStats(hooked, labelBytes)
      // shortcut: two self-compositions on the post-hook table (a
      // checkpoint leaf, so the 4 leaf references stay a flat plan)
      var jump = hookedCp
      for (_ <- 1 to 2) {
        val r = jump.select(col("doc_id").as("r_id"), col("component").as("r_comp"))
        jump = jump.join(r, jump("component") === col("r_id"), "left")
          .select(jump("doc_id"), col("_old"),
            least(jump("component"), coalesce(col("r_comp"), jump("component")))
              .as("component"))
      }
      // LAZY checkpoint: the convergence count is the round's next
      // action anyway, so let it materialize the blocks — one fewer
      // driver-scheduled job per round (round latency on a sparse graph
      // IS driver job scheduling). hookedCp stays eager: it is
      // referenced 4x by the jump joins, and racing branches over an
      // unmaterialized checkpoint recompute it.
      val next = Shims.localCheckpointWithStats(jump, labelBytes, eager = false)
      changed = next.filter(col("component") =!= col("_old")).count()
      labels = next.select(col("doc_id"), col("component"))
    }
    // round count is the scale-critical number — surface it both for
    // humans (stderr) and for specs (local property on this SparkContext)
    s.sparkContext.setLocalProperty("graft.cc.rounds", rounds.toString)
    System.err.println(
      s"[graft] minLabelComponents: $rounds rounds, $nEdges directed edges")
    vertices
      .join(labels.withColumnRenamed("component", "_c"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("_c"), col("doc_id")).as("component"))
  }

  /** d10 — the deduplicated corpus itself: one representative (the
    * min-id member, which IS the component label after the min-label
    * fixpoint) per near-dup cluster, with the cluster size — the
    * materialization a training pipeline actually feeds downstream.
    * Cost on top of d9: one tiny aggregate over the (doc, component)
    * table.
    */
  def dedupCorpus(s: SparkSession, dir: String, t: Double = 0.5): DataFrame =
    dedupClusters(s, dir, t)
      .groupBy(col("component").as("doc_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy(col("doc_id"))

  // ── SimHash ───────────────────────────────────────────────────────────
  /** 60-bit SimHash per doc over the distinct token set: bit i of the
    * signature is 1 iff sum over tokens of sign(bit i of hash64(token))
    * is positive. One groupBy with 60 conditional-sum aggregates — no
    * per-bit row explosion, map-side combinable.
    */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    simhashSignaturesUnsorted(s, dir).orderBy(col("doc_id"))

  /** The signature relation without d4's presentation sort: d5's band
    * join destroys ordering anyway, and the inherited orderBy cost a
    * rangepartitioning Exchange + Sort per join side in d5's plan
    * (r16; the sort belongs to d4's output contract, not to the
    * signature computation).
    */
  private def simhashSignaturesUnsorted(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), explode(tokenSet(col("text"))).as("tok"))
      .withColumn("hv", hash64(col("tok")))
    val bitSums = (0 until 60).map { i =>
      sum(when(shiftright(col("hv"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$i")
    }
    val sig = (0 until 60).map { i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    d.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Near-pairs with hamming distance <= 3 via 4×15-bit band blocking
    * (pigeonhole: <= 3 differing bits leave at least one of 4 bands
    * identical — lossless for radius 3).
    */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashSignaturesUnsorted(s, dir), "simhash", maxHamming)

  /** Banded hamming-radius self-join over ANY (doc_id, 60-bit sig)
    * relation — shared by d5 (token simhash) and m7 (payload aHash).
    * 4×15-bit pigeonhole blocking: <= 3 differing bits leave at least
    * one of 4 bands identical — lossless for radius 3.
    */
  private[operators] def hammingPairs(sigsIn: DataFrame, sigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band blocking is only complete for radius <= 3")
    // cache the (doc_id, sig) relation: the self-join's two sides are
    // identical subtrees, but AQE plans the build side as a
    // BroadcastExchange, which never reuses the probe side's shuffle —
    // uncached, the WHOLE signature aggregation (d5: the 60-sum
    // SimHash groupBy) executed twice (r16 plan audit; the
    // hammingPairsMultiProbe sibling has carried the same cache with
    // the same rationale since r14). One row per doc; Bench/Verify
    // clearCache per query (the d2 shingle-table lifecycle).
    val sigs = sigsIn.select(col("doc_id"), col(sigCol)).cache()
    val bandKeys = (0 until 4).map { k =>
      concat_ws("_", lit(k),
        shiftright(col(sigCol), k * 15).bitwiseAND(0x7FFF))
    }
    val bands = sigs.select(col("doc_id"), col(sigCol).as("sig"),
        explode(array(bandKeys: _*)))
      .select(col("doc_id"), col("sig"), col("col").as("band_key"))
    bands.as("x").join(bands.as("y"), Seq("band_key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.sig").as("sim_a"),
        col("y.doc_id").as("doc_b"), col("y.sig").as("sim_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Hamming-radius pairs for radii beyond [[hammingPairs]]' 4-band
    * limit: lossless single-error multi-probe pigeonhole (the HmSearch
    * family's public core idea). Split the `bits`-bit signature into
    * b = ceil((r+1)/2) disjoint bands — if hamming(x,y) <= r, some band
    * differs in AT MOST ONE bit (every band >= 2 errors would total
    * >= 2b >= r+1 > r). So joining each band's exact key on the index
    * side against the key's {exact, one-bit-flip} probe set on the
    * query side is a complete candidate generator; exact `bit_count`
    * verification then removes false positives.
    *
    * Scale posture: probe fan-out is b·(w+1) rows per signature —
    * a CONSTANT (for r=12 over 60 bits: 7 bands × ~9-10 keys = 67) —
    * and candidates shuffle on (band, key), bounded by width-w key
    * collisions. At production corpus sizes a wider signature (128+
    * bits) widens w and restores per-key selectivity; the plan shape
    * (explode → equi-join → verify) is unchanged. No all-pairs join
    * ever materializes.
    */
  private[graft] def hammingPairsMultiProbe(sigs0: DataFrame,
      sigCol: String, maxHamming: Int, bits: Int = 60): DataFrame = {
    val b = (maxHamming + 2) / 2                    // ceil((r+1)/2)
    val widths = Array.tabulate(b)(k => bits / b + (if (k < bits % b) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    // cache the signature relation: the index and probe sides are
    // DIFFERENT projections of it (unlike hammingPairs' identical self
    // sides), so nothing below them is exchange-reusable and the whole
    // upstream signature computation would otherwise run twice —
    // measured 8 parquet scans in m8's uncached plan. One (doc_id, sig)
    // row per doc; Bench/Verify clearCache per query (the d2 shingle-
    // table convention).
    val sigs = sigs0.select(col("doc_id"), col(sigCol)).cache()
    def bandKey(k: Int): Column =
      shiftright(col(sigCol), offsets(k)).bitwiseAND(lit((1L << widths(k)) - 1))
    val idx = sigs.select(col("doc_id"), col(sigCol).as("sig"),
        explode(array((0 until b).map(k =>
          struct(lit(k).as("band"), bandKey(k).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val probes = sigs.select(col("doc_id"), col(sigCol).as("sig"),
        explode(array((0 until b).flatMap { k =>
          struct(lit(k).as("band"), bandKey(k).as("key")) +:
            (0 until widths(k)).map(i => struct(lit(k).as("band"),
              bandKey(k).bitwiseXOR(lit(1L << i)).as("key")))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    probes.as("x").join(idx.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        // sig travels with its doc: re-order alongside the ids
        when(col("x.doc_id") < col("y.doc_id"), col("x.sig"))
          .otherwise(col("y.sig")).as("sim_a"),
        when(col("x.doc_id") < col("y.doc_id"), col("y.sig"))
          .otherwise(col("x.sig")).as("sim_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ── Embedding near-dup ────────────────────────────────────────────────
  /** Pairs of embeddings with cosine similarity >= t, computed EXACTLY
    * via a tiled (block-matrix) self-join.
    *
    * Why exact and why tiled: at t = 0.4 on this corpus the qualifying
    * pairs are the smooth tail of the background cosine distribution
    * (measured at sf0.1: background p99.9 = 0.376, qualifying pairs
    * spread over 59% of all vectors at avg degree 1.6 — no cluster
    * structure). Any LSH/blocking scheme at that threshold either
    * floods (candidates ≈ all pairs: a 0.4-vs-0.3 hyperplane collision
    * gap of 0.63 vs 0.60 per bit cannot be amplified cheaply) or loses
    * pairs (red oracle). Exact all-pairs is therefore the honest
    * algorithm — the engineering question is HOW the O(n²) work is laid
    * out:
    *
    *  - `a.join(b, vec_a < vec_b)` plans as BroadcastNestedLoopJoin:
    *    the ENTIRE corpus is broadcast to every task — driver/executor
    *    OOM long before 100 TB. A scale-killer in memory, not compute.
    *  - Tiling assigns each vector to one of nTiles buckets and
    *    equi-joins on (tile_a, tile_b) pairs with tile_a <= tile_b:
    *    each task holds two tiles of n/nTiles vectors, work is spread
    *    evenly across the cluster, and each side is shuffled ~nTiles/2
    *    times — the standard distributed exact-similarity layout
    *    (choose nTiles ≈ sqrt(cluster parallelism) so replication grows
    *    with the square ROOT of the cluster, not its size).
    *
    * Each unordered pair lands in exactly one tile-pair: the a-side
    * owns keys (tile_a, j >= tile_a), the b-side keys (i <= tile_b,
    * tile_b), so a pair with tiles (u, v), u < v, joins only as
    * (a=u-side, b=v-side); diagonal tiles dedup with vec_id order.
    *
    * The sub-quadratic path for thresholds where pruning IS sound
    * (true near-dups, cos >= ~0.8 against a ~0.3 background) is
    * Similarity.lshTopK / ivfTopK.
    */
  def embeddingNearDupPairs(s: SparkSession, dir: String, t: Double = 0.4,
      nTiles: Int = 8): DataFrame =
    embeddingNearDupPairsUnsorted(s, dir, t, nTiles)
      .orderBy(col("vec_a"), col("vec_b"))

  /** The pair relation without the presentation sort — what consumers
    * that immediately reshuffle (d13's CC edge build) should read.
    */
  private[graft] def embeddingNearDupPairsUnsorted(s: SparkSession,
      dir: String, t: Double = 0.4, nTiles: Int = 8): DataFrame = {
    // Precompute each vector's norm ONCE (1 dot per pair instead of 3 at
    // the join). cos = dot/(nrm_a*nrm_b) is the bit-identical arithmetic,
    // just with the norm factored out. Zero-norm and null vectors are
    // excluded HERE — one predicate over n rows — so the O(n²) inner
    // loop runs a plain IEEE divide with a provably nonzero divisor
    // (guarding the divide itself measured ~1.4x slower; see
    // Similarity.knnJoin). A zero/null vector can satisfy no cosine
    // threshold, so the result is unchanged.
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.l2norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0.0)
      .withColumn("tile", pmod(col("vec_id"), lit(nTiles)).cast("int"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a"), col("tile").as("ta"),
        explode(sequence(col("tile"), lit(nTiles - 1))).as("tb"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b"), col("tile").as("tb"),
        explode(sequence(lit(0), col("tile"))).as("ta"))
    a.join(b, Seq("ta", "tb"))
      .filter(col("ta") =!= col("tb") || col("vec_a") < col("vec_b"))
      .withColumn("cos",
        VectorFunctions.dot(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= t)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("cos"))
  }

  // ── Duplicated-span detection (exact-substring dedup) ────────────────
  /** d15 — per-document duplicated n-gram span fraction, the detection
    * half of exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": duplicated ~50-token
    * spans across a corpus measurably hurt the trained model; the cure
    * is finding every n-gram position whose n-gram recurs in ANOTHER
    * document). Output: (doc_id, n_grams, dup_grams, dup_frac) — the
    * per-doc count of word-`n`-gram positions, how many of those grams
    * also occur in a different doc, and the fraction. Docs shorter than
    * `n` words contribute a (doc_id, 0, 0, 0.0) row: "no spans" is a
    * statement about the doc, not a reason to drop it.
    *
    * Shape at scale: one shuffle to compute per-gram document frequency
    * (map-side partial aggregation collapses a doc's repeated grams
    * before the wire), one broadcast-able-when-small / shuffle join of
    * positions against the df>1 gram set, one shuffle back to doc_id.
    * The gram strings are the join key here because the DuckDB oracle
    * must form identical groups; a 100 TB deployment keys the df table
    * by a 128-bit gram hash instead (collision odds ~n²/2¹²⁸), which
    * cuts the shuffle payload ~5× for 8-word grams. n-gram generation
    * is transform(sequence)+explode inside codegen — no driver-side
    * lists, rows stream out of the scan.
    */
  def ngramSpanStats(s: SparkSession, dir: String, n: Int = 8): DataFrame =
    ngramSpanStatsFrom(
      Tables.documents(s, dir).transform(Tables.spread(_, col("doc_id"))), n)

  /** d16 — exact-substring dedup with span REMOVAL (the consumer d15's
    * detection feeds): cut every duplicated n-gram span under a
    * KEEP-FIRST policy and emit the cleaned text.
    *
    * Semantics (deterministic, oracle-checkable):
    *  - an occurrence of an n-gram (doc_id, pos) is a DUPLICATE iff it
    *    is not the globally first occurrence of that gram in
    *    (doc_id, pos) order — within-doc repeats count;
    *  - each duplicate occurrence marks its word interval
    *    [pos, pos+n-1]; per doc, overlapping-or-adjacent intervals are
    *    merged (gaps-and-islands);
    *  - the cleaned text is the doc's words outside every merged
    *    interval, rejoined with single spaces; a fully-covered doc
    *    becomes the empty string.
    *
    * Output: (doc_id, n_spans, cut_words, text_clean) — one row per
    * document, zero-stats for docs with nothing duplicated.
    *
    * Shape at scale: one shuffle keyed on the gram (row_number picks
    * the keep-first occurrence — a per-gram partition is occurrence
    * count, bounded), one shuffle back to doc_id for the interval
    * merge (per-doc window over marked intervals only), and the cut is
    * an equi-join on doc_id with the interval-containment residual —
    * co-partitioned, no cross-doc traffic. Gram strings key the shuffle
    * for oracle parity; a 100 TB deployment keys a 128-bit gram hash
    * (see ngramSpanStats' note).
    */
  def ngramSpanRemoval(s: SparkSession, dir: String, n: Int = 8): DataFrame =
    ngramSpanRemovalFrom(
      Tables.documents(s, dir).transform(Tables.spread(_, col("doc_id"))), n)

  /** d16 over any (doc_id, text) relation — the composable form. */
  def ngramSpanRemovalFrom(docsRaw: DataFrame, n: Int = 8): DataFrame = {
    val docs = docsRaw
      .select(col("doc_id"), col("text"))
      .cache()
    // the d15 SpaceGramStrs kernel (r16; see ngramSpanStatsFrom) with
    // posexplode supplying the 1-based position the struct-building
    // HOF used to carry — same (pos, gram) rows, no per-gram
    // interpreted struct/slice/join allocation
    val grams = docs.select(col("doc_id"),
        posexplode(spaceGramStrs(col("text"), n)).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram"))
    // keep-first: occurrence rank in global (doc_id, pos) order per
    // gram; rank 1 survives, every later occurrence marks its span.
    val marked = grams
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("gram")).orderBy(col("doc_id"), col("pos"))))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(n - 1)).as("e"))
    // merge overlapping-or-adjacent intervals per doc: running max of
    // prior ends; a row starts a new island when it clears that max.
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val islands = marked
      .withColumn("pme", max(col("e")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pme").isNull || col("s") > col("pme") + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    // cut: a word survives iff no merged interval covers its position;
    // equi-join on doc_id, containment as residual — co-partitioned.
    val words = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("idx0", "word")))
      .select(col("doc_id"), (col("idx0") + 1).as("idx"), col("word"))
    val kept = words.as("w").join(islands.as("m"),
        col("w.doc_id") === col("m.doc_id") &&
          col("w.idx") >= col("m.s") && col("w.idx") <= col("m.e"),
        "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("word")))),
          x => x("word")), " ").as("text_clean"))
    val stats = islands.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("cut_words"))
    docs.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("cut_words"), lit(0L)).as("cut_words"),
        // a doc with every word cut has no kept rows — empty, not null
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** d15 over any (doc_id, text) relation — the composable form. */
  def ngramSpanStatsFrom(docsRaw: DataFrame, n: Int = 8): DataFrame = {
    val docs = docsRaw.select(col("doc_id"), col("text"))
    // gram generation is the SpaceGramStrs kernel (r16, guide §1.2
    // step 2): the split → transform(sequence) → slice → array_join
    // chain walked an interpreted lambda per gram and allocated a
    // slice array + a joined string each; single-space-split grams
    // are contiguous substrings of the text, so the kernel emits
    // zero-copy slices in one byte pass. Value-identical
    // (ShingleExprsSpec pins it against the HOF tree, empties/short
    // docs/trailing spaces included); explode of the empty array and
    // of the null-text result drop the same rows the CASE form did.
    val grams = docs
      .select(col("doc_id"),
        explode(spaceGramStrs(col("text"), n)).as("gram"))
    // df>1 grams only: the singleton majority never leaves the agg.
    val dupGrams = grams.groupBy(col("gram"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") > 1)
      .select(col("gram"))
    val perDoc = grams
      .join(dupGrams.withColumn("is_dup", lit(1L)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("is_dup")), lit(0L)).as("dup_grams"))
    // Left join from the doc spine so gram-less (short) docs keep a row.
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("dup_grams").cast("double") /
            col("n_grams").cast("double")))
      .orderBy(col("doc_id"))
  }

  /** d32 — winnowing fingerprint pairs (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): hash every word k-gram IN
    * ORDER, slide a width-`w` window over the hash sequence, keep
    * each window's MINIMUM as a fingerprint, and pair documents that
    * share at least `minShared` distinct fingerprint values. The
    * winnowing guarantee: any shared run of at least k+w−1 tokens
    * yields at least one shared fingerprint — so unlike MinHash
    * (whole-document similarity), this finds LOCAL overlap: a copied
    * paragraph inside two otherwise-different documents. The selected
    * set is ~2/(w+1) of all k-grams — the density/guarantee tradeoff
    * the paper proves optimal.
    *
    * Exactness contract: grams hash via the corpus-standard md5
    * convention (`hash64`, engine-identical); window minima and the
    * distinct-set collapse are integer ops; the pair counts are
    * bigint. Full hash oracle — the DuckDB side runs the identical
    * comprehension over the same hashes.
    *
    * Scale posture: fingerprinting is a shuffle-free projection
    * (array HOFs per doc); the pair join is the classic inverted
    * index on fingerprint value — one shuffle on fp, one count
    * shuffle on the pair. Fingerprints appearing in more than
    * `maxDocFreq` docs are dropped BEFORE pairing (boilerplate
    * passages — license headers, templates — would otherwise emit
    * C(df,2) pairs each; at sf0.01 the observed max df is 7, so the
    * default cap of 50 is purely the 100× guard and changes nothing
    * at test scale). The cap is part of the contract and the oracle.
    */
  def winnowPairs(s: SparkSession, dir: String, k: Int = 3, w: Int = 4,
      minShared: Int = 3, maxDocFreq: Int = 50): DataFrame =
    winnowPairsFrom(Tables.documents(s, dir), k, w, minShared, maxDocFreq)

  /** The relation form for spec-planted corpora ((doc_id, text)). */
  private[graft] def winnowPairsFrom(docsIn: DataFrame, k: Int = 3,
      w: Int = 4, minShared: Int = 3, maxDocFreq: Int = 50): DataFrame = {
    // tokens → ordered k-gram hashes (positional, NO distinct) →
    // distinct window-w minima: one codegen'd kernel (r15,
    // WinnowFps64; the pre-kernel HOF chain is the executable
    // reference in ShingleExprsSpec). Docs with fewer than k+w-1
    // tokens yield an empty array — explode emits nothing, exactly
    // what the old size filter did.
    // NEGATIVE RESULT (r16, the s4 protocol): caching fps — it feeds
    // the df aggregate and both self-join sides, 4 document scans in
    // the plan — measured 0.88 → 0.97 s (BenchQ min-of-5,
    // same-session): the codegen'd WinnowFps64 re-run is CHEAPER than
    // materializing ~600k cached rows at this SF. REVERTED; at 100 TB
    // the trade reverses with corpus size, which is why the streaming
    // twin persists its fingerprint table instead of recomputing.
    // (A collect_set pair expansion per fp — the g2 copurchase shape —
    // was considered and rejected without measuring: the df cap
    // filters hubs only AFTER counting, so a boilerplate fingerprint
    // in 10⁶ docs would have to build a 10⁶-element array first — the
    // g6 lesson; the self-join streams it.)
    val fps = docsIn
      .select(col("doc_id"),
        explode(winnowFps64(col("text"), k, w)).as("fp"))
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select(col("fp"))
    val kept = fps.join(rare, Seq("fp"))
    kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d34 — content-defined chunking (CDC) dedup: split every document
    * at positions where a rolling hash of the trailing `w`-char
    * window hits `0 mod m` (expected chunk length ≈ m), then find the
    * chunk contents repeated across the corpus. Because boundaries
    * are CONTENT-defined, an insertion near a document's head shifts
    * only the chunks it touches — the storage-dedup property (rsync /
    * LBFS, Muthitacharoen 2001) that fixed-size blocking lacks, and
    * the sub-document complement to d15's n-gram span dedup (spans
    * need a fixed gram width; CDC finds repeats of ANY length ≥ the
    * chunker's granularity).
    *
    * Exactness: the window hash is the library's polynomial rolling
    * hash (RollP/RollB, all bounded-long integer arithmetic —
    * intermediate `acc·B + c < 2^51`); chunk reassembly slices the
    * CHAR ARRAY (never substring, whose code-point indexing would
    * have to be re-audited per engine); the group keys are md5
    * strings. Nothing can drift — full hash oracle.
    *
    * Scale posture: chunking is a shuffle-free codegen scan (O(n·w)
    * integer ops per doc); the only shuffle is the chunk-hash
    * group-by with map-side combine. At 100 TB the chunk table IS the
    * dedup store (the d28/d30 persistence pattern applies verbatim:
    * append new docs' chunks, group incrementally). A boundary hash
    * window of 8 with m = 64 targets ~64-char chunks — small enough
    * to catch boilerplate, large enough that the chunk relation stays
    * ~1/64th of the corpus rows... times chunk text; tune m upward
    * for storage-oriented deployments.
    */
  def cdcChunkDedup(s: SparkSession, dir: String,
      w: Int = 8, m: Int = 64): DataFrame =
    cdcChunkDedupFrom(Tables.documents(s, dir), w, m)

  /** The CDC chunk relation: (doc_id, chunk) — every content-defined
    * chunk of every document, shared by d34's corpus dedup and d35's
    * persisted chunk store.
    */
  private[graft] def cdcChunks(docsIn: DataFrame,
      w: Int = 8, m: Int = 64): DataFrame =
    // The whole char-explode → O(n·w) interpreted rolling-hash fold →
    // span-zip chain is one codegen'd kernel (r15, CdcChunkArr; the
    // pre-kernel HOF chain is the executable reference in
    // ShingleExprsSpec). Boundary rule unchanged: hash of the trailing
    // w-char window ≡ 0 mod m, fold starting at 0 — matching the
    // oracle's init-free list_reduce exactly.
    docsIn
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(cdcChunkArr(col("text"), w, m)).as("chunk"))

  /** The relation form for spec-planted corpora ((doc_id, text)). */
  private[graft] def cdcChunkDedupFrom(docsIn: DataFrame,
      w: Int = 8, m: Int = 64): DataFrame =
    cdcChunks(docsIn, w, m)
      .groupBy(md5(col("chunk")).as("chunk_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(length(col("chunk"))).cast("long").as("chunk_len"),
        min(col("doc_id")).as("keep_doc"))
      .filter(col("n_copies") >= 2)
      .orderBy(col("n_copies").desc, col("chunk_md5"))

  /** d35's novelty accounting against a chunk store, shared VERBATIM
    * by the batch registered query (IndexStore.persistedChunkNovelty)
    * and the streaming mirror [[chunkNoveltyStream]]: chunk the docs
    * with the d34 chunker, LEFT-join membership against the store's
    * distinct chunk hashes, and aggregate per doc into chunk counts,
    * byte masses, and the byte-weighted `known_frac` (one double
    * divide of exact longs). No presentation sort here — batch adds
    * its orderBy, a stream cannot sort an unbounded relation.
    */
  private[graft] def chunkNoveltyAgainst(docsIn: DataFrame,
      store: DataFrame, w: Int = 8, m: Int = 64): DataFrame = {
    val known = store.select(col("chunk_md5")).distinct()
      .withColumn("known", lit(true))
    cdcChunks(docsIn, w, m)
      .select(col("doc_id"), md5(col("chunk")).as("chunk_md5"),
        length(col("chunk")).cast("long").as("chunk_len"))
      .join(known, Seq("chunk_md5"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("known"), 1L).otherwise(0L)).as("n_known"),
        sum(col("chunk_len")).as("n_bytes"),
        sum(when(col("known"), col("chunk_len")).otherwise(0L))
          .as("n_known_bytes"))
      .withColumn("known_frac",
        col("n_known_bytes").cast("double") / col("n_bytes").cast("double"))
  }

  /** d35's STREAMING form (r13 verdict #4) — the storage-dedup ingest
    * gate run continuously: a live doc feed (`streamDocs`: readStream
    * with (doc_id, text)) is chunked IN-STREAM by the d34
    * content-defined chunker and membership-joined against the STATIC
    * persisted chunk store, emitting the same per-doc novelty
    * accounting as batch d35 — "this arriving document is 85%
    * already-stored bytes" at ingest time, before any pairwise
    * comparison or even a full batch accumulates.
    *
    * Mechanism: the chunker is a pure per-row projection + explode
    * (bounded-long rolling-hash folds, no window, no sort), so it
    * runs unchanged on an unbounded relation; the store side of the
    * join is static (at 100 TB: a bucketed hash table, pruned per
    * micro-batch); the per-doc aggregate keeps one small state row
    * per in-flight document. Values are BIT-identical to batch d35 on
    * any closed prefix — both paths run [[chunkNoveltyAgainst]]
    * verbatim — which is what StreamingSpec asserts row-for-row.
    * State note: doc_ids are assumed non-recurring across the feed
    * (an ingest id contract); under `complete` output the aggregate
    * state is corpus-lifetime like every global-key streaming agg —
    * bound it with a watermarked window when ids carry event time.
    */
  def chunkNoveltyStream(streamDocs: DataFrame, store: DataFrame,
      w: Int = 8, m: Int = 64): DataFrame =
    chunkNoveltyAgainst(
      streamDocs.select(col("doc_id"), col("text")), store, w, m)
}

/** The registered queries that call [[Dedup]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object DedupQueries {
  import Dedup._

  def queries: Seq[QueryDef] = Seq(
    // Content-defined chunking dedup: rolling-hash boundaries,
    // cross-corpus repeated-chunk groups (the rsync/LBFS shape)
    QueryDef("d34_cdc_chunks", cdcChunkDedup(_, _),
      // d34: the identical rolling-hash boundary rule (init-free
      // list_reduce == Spark's 0-seeded fold, first step < P), char-
      // array slicing for reassembly (never substring), md5 group keys.
      Sql("""WITH d AS (SELECT doc_id, string_split(text, '') AS chars,
        |    CAST(length(text) AS INT) AS n
        |  FROM documents WHERE length(text) > 0),
        |cd AS (SELECT doc_id, chars, n,
        |    [CAST(ascii(x) AS BIGINT) for x in chars] AS codes FROM d),
        |b AS (SELECT doc_id, chars, n,
        |    CASE WHEN n >= 8 THEN
        |      [i for i in range(8, n + 1) if
        |        list_reduce(codes[i-7:i],
        |          (a, c) -> (a * 1000003 + c) % 2147483647) % 64 = 0]
        |    ELSE CAST([] AS BIGINT[]) END AS bnd
        |  FROM cd),
        |sp AS (SELECT doc_id, chars,
        |    list_prepend(CAST(0 AS BIGINT), bnd) AS ss,
        |    list_append(bnd, CAST(n AS BIGINT)) AS ee
        |  FROM b),
        |ch AS (SELECT doc_id,
        |    unnest([array_to_string(chars[CAST(ss[k] + 1 AS INT):
        |        CAST(ee[k] AS INT)], '')
        |      for k in range(1, len(ss) + 1) if ee[k] > ss[k]]) AS chunk
        |  FROM sp)
        |SELECT md5(chunk) AS chunk_md5, count(*) AS n_copies,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(min(length(chunk)) AS BIGINT) AS chunk_len,
        |  min(doc_id) AS keep_doc
        |FROM ch GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_copies DESC, chunk_md5""")),

    // Token-sort-invariant dedup: word-reordered docs collapse at
    // d1's one-shuffle cost (the pre-shingle gate)
    QueryDef("d38_token_sort_dedup", tokenSortDedup(_, _),
      // d38: identical string algebra — regex tokenize, lexicographic
      // list sort, md5 of the space-joined sorted tokens (the d34 md5
      // group-key convention).
      Sql("""WITH t AS (SELECT doc_id, text,
        |    md5(array_to_string(list_sort(list_filter(
        |      string_split_regex(lower(text), '\s+'), x -> x <> '')), ' '))
        |      AS sig
        |  FROM documents)
        |SELECT sig, min(doc_id) AS keeper_id, count(*) AS n_docs,
        |  count(DISTINCT text) AS n_distinct_texts
        |FROM t GROUP BY sig ORDER BY sig""")),

    QueryDef("d1_exact_dedup", exactDedup(_, _),
      Sql("""SELECT min(doc_id) AS keep_doc_id, fp, count(*) AS n_copies FROM (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |GROUP BY fp ORDER BY keep_doc_id""")),

    QueryDef("d2_jaccard_pairs", jaccardPairs(_, _),
      SqlFn(() => jaccardPairsOracle)),

    // LSH prunes candidates; exact verify makes output == d2's oracle
    QueryDef("d3_minhash_pairs", minhashLshPairs(_, _),
      // The MinHash-LSH operator verifies candidates with exact Jaccard;
      // with 64 bands x 2 rows the miss probability at the J>=0.9 data
      // pairs is ~1e-46, so its output equals the exact-pairs oracle.
      SqlFn(() => jaccardPairsOracle)),

    QueryDef("d7_chargram_pairs", charGramPairs(_, _),
      Sql("""WITH s AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN length(t) >= 5
        |      THEN [substr(t, i, 5) for i in range(1, length(t) - 3)]
        |      ELSE [] END) AS g
        |  FROM s),
        |sz AS (SELECT doc_id, g, len(g) AS n FROM sh WHERE len(g) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.g, b.g)) * 1.0 / (a.n + b.n - len(list_intersect(a.g, b.g))) AS jaccard
        |FROM sz a JOIN sz b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.g, b.g)) * 1.0 / (a.n + b.n - len(list_intersect(a.g, b.g))) >= 0.7
        |ORDER BY doc_a, doc_b""")),

    QueryDef("d4_simhash", simhashSignatures(_, _),
      SqlFn(() => s"""WITH bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM ($simhashTokenHashes)
        |  CROSS JOIN (SELECT unnest(range(60)) AS i)
        |  GROUP BY doc_id, i)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("d5_simhash_pairs", simhashPairs(_, _),
      SqlFn(() => s"""WITH bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM ($simhashTokenHashes)
        |  CROSS JOIN (SELECT unnest(range(60)) AS i)
        |  GROUP BY doc_id, i),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    QueryDef("d6_embedding_dedup", embeddingNearDupPairs(_, _),
      SqlFn(() => s"""$embPairsOracle
        |ORDER BY vec_a, vec_b""".stripMargin)),

    // Overlap-coefficient (sub-document) dedup, lossless prefix blocking
    QueryDef("d8_containment_pairs", containmentPairs(_, _),
      SqlFn(() => s"""$shingleSets
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.t, b.t)) * 1.0 / least(a.n, b.n) AS containment
        |FROM sz a JOIN sz b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.t, b.t)) * 1.0 / least(a.n, b.n) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Edit-distance pairs: Ed-Join constant-length prefix filter +
    // banded short-doc block + threshold-bandwidth levenshtein verify
    QueryDef("d29_edit_distance_pairs", editDistancePairs(_, _),
      // d29: exact integer edit distance — the engines' levenshtein DPs
      // agree exactly; the oracle brute-forces with the lossless length
      // filter standing in for the Spark side's prefix blocking
      Sql("""WITH s AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.t, b.t) AS INT) AS edit_dist
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  AND abs(length(a.t) - length(b.t)) <= 10
        |WHERE levenshtein(a.t, b.t) <= 10
        |ORDER BY doc_a, doc_b""")),

    // Pair graph → canonical keeper per cluster (iterative min-label CC)
    QueryDef("d9_dedup_clusters", dedupClusters(_, _),
      // Transitive closure over the (small) pair graph via a recursive
      // CTE, then min reachable id per doc — every doc not in a pair is
      // its own component. Mirrors the Spark min-label fixpoint exactly.
      SqlFn(() => s"""WITH RECURSIVE
        |$jaccardComponents
        |SELECT d.doc_id,
        |  CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT) AS component
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // Quality-keeper consolidation: each near-dup cluster keeps its
    // highest-t3-quality member, not the min id
    QueryDef("d36_quality_keeper", qualityKeeperDedup(_, _),
      // d36: d9's closure + t3's quality expression + the keeper window
      // (score desc, doc_id) — exact-dup cluster members carry equal
      // scores and resolve on id identically on both engines.
      SqlFn(() => s"""WITH RECURSIVE
        |$jaccardComponents,
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |tq AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |q AS (SELECT doc_id,
        |  0.5 * (CAST(len(list_filter(toks,
        |      x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
        |    / len(toks))
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]'))
        |      AS DOUBLE) / length(text))
        |   + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |    AS quality_score
        |  FROM tq),
        |r AS (SELECT l.doc_id, l.component, q.quality_score,
        |    row_number() OVER (PARTITION BY l.component
        |      ORDER BY q.quality_score DESC, l.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY l.component) AS cs
        |  FROM lab l JOIN q USING (doc_id))
        |SELECT doc_id, component, CAST(cs AS BIGINT) AS cluster_size,
        |  quality_score, rn = 1 AS keep
        |FROM r ORDER BY doc_id""".stripMargin)),

    // URL-canonicalization dedup: tracking-param scrub, host lowering,
    // param sort — the cheapest (pre-content) web-corpus dedup tier
    QueryDef("d37_url_canonical", urlCanonicalDedup(_, _),
      // d37: same synthetic URL derivation, same normalization algebra —
      // anchored regexp splits, substr prefix tests (no LIKE
      // metacharacters), lexicographic param sort. Pure string ops:
      // bit-exact.
      Sql("""WITH u AS (SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END ||
        |    '.example.com/articles/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&b=2&a=1'
        |         WHEN doc_id % 5 = 1 THEN '?a=1&ref=home&b=2'
        |         WHEN doc_id % 5 = 2 THEN '?b=2&a=1' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END
        |      AS raw_url
        |  FROM documents),
        |nf AS (SELECT doc_id, raw_url,
        |    regexp_replace(raw_url, '#.*$', '') AS nofrag FROM u),
        |parts AS (SELECT doc_id, raw_url,
        |    lower(regexp_extract(nofrag, '^(https?://[^/?]*)', 1)) AS sh,
        |    regexp_replace(regexp_extract(nofrag,
        |      '^https?://[^/?]*([^?]*)', 1), '/+$', '') AS path,
        |    regexp_extract(nofrag, '\?(.*)$', 1) AS query
        |  FROM nf),
        |canon AS (SELECT doc_id, raw_url,
        |    sh || path || CASE WHEN len(kept) = 0 THEN ''
        |      ELSE '?' || array_to_string(kept, '&') END AS canonical_url
        |  FROM (SELECT *, list_sort(list_filter(string_split(query, '&'),
        |      p -> p <> '' AND substr(p, 1, 4) <> 'utm_'
        |        AND substr(p, 1, 4) <> 'ref=')) AS kept
        |    FROM parts))
        |SELECT canonical_url, min(doc_id) AS keeper_id,
        |  count(*) AS n_dups,
        |  CAST(sum(CASE WHEN raw_url <> canonical_url THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_noisy
        |FROM canon GROUP BY 1 ORDER BY 1""")),

    // The deduplicated corpus: one representative per cluster + size
    QueryDef("d10_dedup_corpus", dedupCorpus(_, _),
      // Same component relation as d9, aggregated to the kept corpus:
      // the representative IS the component label (min id), so grouping
      // the d9 closure by component yields (kept doc, cluster size).
      SqlFn(() => s"""WITH RECURSIVE
        |$jaccardComponents,
        |lab AS (SELECT d.doc_id,
        |    CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
        |      AS component
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        |SELECT component AS doc_id, count(*) AS cluster_size
        |FROM lab GROUP BY component ORDER BY doc_id""".stripMargin)),

    // d9's CC fixpoint over the d6 embedding pair graph (semantic dups)
    QueryDef("d13_embedding_clusters", embeddingClusters(_, _),
      // d9's recursive-CTE closure over the d6 pair graph instead of the
      // jaccard one — the Spark side shares one CC fixpoint the same way.
      SqlFn(() => s"""WITH RECURSIVE
        |p AS (SELECT vec_a, vec_b FROM ($embPairsOracle)),
        |edges(src, dst) AS (
        |  SELECT vec_a, vec_b FROM p UNION SELECT vec_b, vec_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS vid, min(dst) AS mn FROM reach GROUP BY src)
        |SELECT v.vec_id,
        |  CAST(coalesce(least(c.vid, c.mn), v.vec_id) AS BIGINT) AS component
        |FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.vid
        |ORDER BY v.vec_id""".stripMargin)),

    // Per-doc duplicated word-8-gram span fraction (exact-substring
    // dedup detection, Lee et al. 2022)
    QueryDef("d15_ngram_spans", ngramSpanStats(_, _),
      // d15: both engines split on a single space and build word-8-grams
      // positionally (DuckDB 1-based inclusive slice == Spark slice(ws,i,8)),
      // so the gram groups are string-identical; dup_frac is explicit
      // double division on both sides.
      Sql("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |g AS (SELECT doc_id,
        |    array_to_string(words[CAST(i AS INT):CAST(i+7 AS INT)], ' ') AS gram
        |  FROM w, UNNEST(generate_series(1, len(words)-7)) AS t(i)
        |  WHERE len(words) >= 8),
        |df AS (SELECT gram FROM g GROUP BY gram
        |       HAVING count(DISTINCT doc_id) > 1),
        |pd AS (SELECT g.doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN df.gram IS NOT NULL THEN 1 ELSE 0 END) AS dup_grams
        |  FROM g LEFT JOIN df USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(pd.dup_grams, 0) AS BIGINT) AS dup_grams,
        |  CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0.0
        |       ELSE CAST(pd.dup_grams AS DOUBLE) / CAST(pd.n_grams AS DOUBLE)
        |  END AS dup_frac
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""")),

    // Exact-substring span REMOVAL (keep-first): merged duplicate
    // intervals cut from the text — the consumer of d15's detection
    QueryDef("d16_ngram_span_removal", ngramSpanRemoval(_, _),
      // d16: same gram formation as d15; keep-first via row_number over
      // (doc_id, pos) per gram; gaps-and-islands interval merge; the cut
      // is NOT EXISTS containment; text rebuilt as kept words joined —
      // both engines rebuild from the same split, so spacing normalizes
      // identically.
      Sql("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |g AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(words[CAST(i AS INT):CAST(i+7 AS INT)], ' ') AS gram
        |  FROM w, UNNEST(generate_series(1, len(words)-7)) AS t(i)
        |  WHERE len(words) >= 8),
        |m AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM
        |    (SELECT doc_id, pos, row_number() OVER (
        |       PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g)
        |  WHERE rn > 1),
        |i AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
        |    ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS pme FROM m),
        |i2 AS (SELECT doc_id, s, e, sum(CASE WHEN pme IS NULL OR s > pme + 1
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM i),
        |mi AS (SELECT doc_id, island, min(s) AS s, max(e) AS e
        |  FROM i2 GROUP BY 1, 2),
        |wp AS (SELECT doc_id, CAST(i AS INT) AS idx, words[CAST(i AS INT)] AS word
        |  FROM w, UNNEST(generate_series(1, len(words))) AS t(i)),
        |kept AS (SELECT wp.* FROM wp WHERE NOT EXISTS
        |  (SELECT 1 FROM mi WHERE mi.doc_id = wp.doc_id
        |     AND wp.idx BETWEEN mi.s AND mi.e)),
        |rb AS (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS text_clean
        |  FROM kept GROUP BY 1),
        |st AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS cut_words
        |  FROM mi GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(st.cut_words, 0) AS BIGINT) AS cut_words,
        |  coalesce(rb.text_clean, '') AS text_clean
        |FROM documents d LEFT JOIN st USING (doc_id) LEFT JOIN rb USING (doc_id)
        |ORDER BY doc_id""")),

    // Incremental ingest: dedup the incoming batch against itself,
    // then anti-join the existing corpus's fingerprints
    QueryDef("d23_cross_dedup", crossDedup(_, _), crossDedupOracle),

    // Winnowing (MOSS) local-overlap fingerprint pairs: window-min
    // k-gram hashes + inverted-index join, boilerplate df-cap
    QueryDef("d32_winnow_pairs", winnowPairs(_, _),
      // d32: the identical winnowing comprehension over the identical
      // md5-convention gram hashes; slice h[i : i+w-1] (inclusive) is
      // Spark's slice(h, i, w); df-cap and minShared mirrored.
      Sql("""WITH wds AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    [CAST(CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' '
        |        || w[i+2]), 1, 15) AS BIGINT) AS BIGINT)
        |      for i in range(1, len(w) - 1)] AS h
        |  FROM wds WHERE len(w) >= 6),
        |fp AS (SELECT doc_id, unnest(list_distinct(
        |    [list_min(h[i:i+3]) for i in range(1, len(h) - 2)])) AS fp
        |  FROM h),
        |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50),
        |kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY doc_a, doc_b""")),
  )

  /** Word-3-gram shingle sets per doc (shared by d2/d3 oracles). */
  private[operators] val shingleSets: String =
    """WITH words AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |sh AS (SELECT doc_id, list_distinct(
      |    CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
      |      ELSE [] END) AS t
      |  FROM words),
      |sz AS (SELECT doc_id, t, len(t) AS n FROM sh WHERE len(t) > 0)""".stripMargin

  private[operators] val jaccardPairsOracle: String =
    s"""$shingleSets
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  len(list_intersect(a.t, b.t)) * 1.0 / (a.n + b.n - len(list_intersect(a.t, b.t))) AS jaccard
      |FROM sz a JOIN sz b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.t, b.t)) * 1.0 / (a.n + b.n - len(list_intersect(a.t, b.t))) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The near-dup pair graph's components, as CTEs for a `WITH
    * RECURSIVE` (shared by the d9/d10/d18/d19/d21/d36 oracles):
    * `comp(doc_id, mn)` is each paired doc's least reachable id.
    */
  private[operators] val jaccardComponents: String =
    s"""p AS (SELECT doc_a, doc_b FROM ($jaccardPairsOracle)),
      |edges(src, dst) AS (
      |  SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src)""".stripMargin

  /** d23's oracle, also d28's: the persisted index changes the path,
    * not the answer.
    */
  private[operators] val crossDedupOracle: Sql =
    Sql("""WITH f AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |inc AS (SELECT doc_id, fp FROM (
        |  SELECT f.*, ROW_NUMBER() OVER (PARTITION BY fp
        |      ORDER BY doc_id) AS rn
        |  FROM f WHERE doc_id % 3 = 0) WHERE rn = 1),
        |ex AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 <> 0)
        |SELECT doc_id, fp FROM inc
        |WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.fp = inc.fp)
        |ORDER BY doc_id""")

  /** Cosine-threshold embedding pairs (shared by d6 and d13 oracles). */
  private val embPairsOracle: String =
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""".stripMargin

  /** Distinct-token md5-derived 60-bit hashes (shared by d4/d5 oracles). */
  private val simhashTokenHashes: String =
    """SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS hv FROM (
      |    SELECT doc_id, unnest(list_distinct(
      |      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS t
      |    FROM documents)""".stripMargin
}
