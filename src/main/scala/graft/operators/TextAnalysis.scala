package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.SparkEntry.{QueryDef, Sql, SqlFn}

/** Text-analysis operators over the `documents` table: token counting,
  * heuristic language-ID, quality scoring, and content fingerprinting
  * (the training-data-pipeline surface the north star asks for beyond
  * the reference's own ops).
  *
  * Scale posture: all four are embarrassingly parallel scans — no
  * shuffle at all except the aggregation in langIdAccuracy; all string
  * work is built-in codegen'd expressions.
  */
object TextAnalysis {

  /** Token statistics per document: whitespace tokens, distinct tokens,
    * BPE-ish word pieces (letter runs / digits / single punctuation —
    * the classic pre-tokenizer shape), and mean token length.
    */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    // Materialize the token array once: each downstream reference to a
    // tokenization *expression* would re-run split+filter per use.
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
    val toks = col("toks")
    d.select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("n_wordpieces"),
        try_divide(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
          .cast("double"), size(toks)).as("mean_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic language-ID: stopword-hit count per language, argmax with
    * fixed precedence (en, de, es, fr, zh). Returns the prediction next
    * to the labeled lang for downstream accuracy measurement.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val toks = col("toks")
    val withHits = d.select(
      (col("doc_id") +: col("lang").as("labeled_lang") +:
        stopwordLists.map { case (l, words) =>
          stopwordHits(toks, words).as(s"hits_$l")
        }): _*)
    // argmax with Seq-order precedence: first lang whose hits >= all others
    val langs = stopwordLists.map(_._1)
    val pred = langs.foldRight(lit(langs.last)) { case (l, elseCol) =>
      val isMax = langs.filter(_ != l)
        .map(o => col(s"hits_$l") >= col(s"hits_$o"))
        .reduce(_ && _)
      when(isMax, lit(l)).otherwise(elseCol)
    }
    withHits.select(col("doc_id"), col("labeled_lang"),
        pred.as("predicted_lang"),
        col("hits_en"), col("hits_de"), col("hits_es"), col("hits_fr"), col("hits_zh"))
      .orderBy(col("doc_id"))
  }

  /** The fixed-weight composite quality score over a (text, toks) pair —
    * shared by t3 (full metric table) and t8 (quantile filter) so the
    * two operators can never drift apart.
    */
  private[operators] def qualityExpr(text: Column, toks: Column): Column = {
    val nChars = length(text).cast("double")
    val nToks = size(toks).cast("double")
    val punct = size(regexp_extract_all(text,
      lit("[.,;:!?]"), lit(0))).cast("double")
    val stops = stopwordHits(toks, stopwordLists.head._2).cast("double")
    // try_divide, not `/`: ANSI mode makes division by zero THROW, and
    // a 100 TB corpus will contain empty/whitespace-only texts (nToks =
    // nChars = 0). Null score = "unscoreable" — quantile gates drop it.
    // (The projection-pruning trap: a count()-only action prunes the
    // division away, so the throw only surfaces once something FILTERS
    // on the score — DirtyCorpusSpec materializes every column.)
    lit(0.5) * try_divide(stops, nToks) +
      lit(0.3) * (lit(1.0) - try_divide(punct, nChars)) +
      lit(0.2) * least(nToks / lit(100.0), lit(1.0))
  }

  /** Quality scoring: length, punctuation density, stopword ratio,
    * uppercase density, and a fixed-weight composite score in [0,1]-ish.
    * The formula is arbitrary but deterministic and oracle-mirrored.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
    val toks = col("toks")
    val nChars = length(col("text")).cast("double")
    val nToks = size(toks).cast("double")
    val punct = size(regexp_extract_all(col("text"),
      lit("[.,;:!?]"), lit(0))).cast("double")
    val upper = size(regexp_extract_all(col("text"),
      lit("[A-Z]"), lit(0))).cast("double")
    val stops = stopwordHits(toks, stopwordLists.head._2).cast("double")
    d.select(
        col("doc_id"),
        nChars.as("n_chars"),
        nToks.as("n_tokens"),
        try_divide(punct, nChars).as("punct_ratio"),
        try_divide(upper, nChars).as("upper_ratio"),
        try_divide(stops, nToks).as("stopword_ratio"),
        qualityExpr(col("text"), toks).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** t8 — per-language median quality gate: keep documents whose
    * composite quality score is strictly above their language's median
    * (the "filter the bottom half of each stratum" curation step —
    * per-stratum so a high-resource language's score distribution
    * doesn't set the bar for a low-resource one).
    *
    * Two-pass shape, same as q26's deviation stats: exact per-group
    * percentile (interpolated — matches DuckDB's quantile_cont), then
    * the #langs-row median table is BROADCAST back against the scored
    * scan. The exact percentile needs the group's values together (one
    * shuffle on lang); at 100 TB you'd swap `percentile` for
    * `approx_percentile` and keep the identical plan shape — the gate
    * itself stays a broadcast-join filter either way.
    *
    * Output: (doc_id, lang, quality_score, lang_median).
    */
  def qualityFilter(s: SparkSession, dir: String,
      approx: Boolean = false, approxAccuracy: Int = 10000): DataFrame = {
    // cached (r16): scored feeds the median aggregate AND the gate
    // join — uncached, the qualityExpr composite (two regexp scans +
    // tokenize per document) evaluated twice over the corpus (two
    // document scans in the before-plan). Three narrow columns, the
    // d12 per-query cache lifecycle.
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        qualityExpr(col("text"), col("toks")).as("quality_score"))
      .cache()
    // approx=true is the 100 TB path: approx_percentile's KLL-style
    // sketch is map-side combinable, so the per-lang shuffle moves
    // fixed-size sketches instead of every (lang, score) pair. The gate
    // below is identical either way; TextAnalysisSpec pins the approx
    // path's agreement with the exact one.
    val medExpr = if (approx)
      approx_percentile(col("quality_score"), lit(0.5), lit(approxAccuracy))
    else percentile(col("quality_score"), lit(0.5))
    val med = scored.groupBy(col("lang")).agg(medExpr.as("lang_median"))
    scored.join(broadcast(med), "lang")
      .filter(col("quality_score") > col("lang_median"))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        col("lang_median"))
      .orderBy(col("doc_id"))
  }

  /** t9 — corpus mix statistics: per-(lang, source) stratum sizes in
    * documents, tokens, and chars, plus each stratum's share of all
    * corpus tokens — the table a training-mix designer reads to set
    * per-source sampling weights (and the denominator q51-style
    * stratified rates are derived from).
    *
    * Scale posture: one shuffle with map-side combine collapses the
    * corpus to #strata rows; that tiny aggregate is cache()d because
    * both the grand-total aggregate and the share projection consume it
    * (without the cache the corpus would be scanned and aggregated
    * twice — the d12/TwoLevelMean branch pathology; same clearCache
    * lifecycle). The total joins back via broadcast.
    */
  def mixStats(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("_t"),
        length(col("text")).cast("long").as("_c"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_t")).as("n_tokens"),
        sum(col("_c")).as("n_chars"))
      .cache()
    val tot = per.agg(sum(col("n_tokens")).as("_tot"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        // try_divide: a corpus of only unscoreable texts has _tot = 0
        try_divide(col("n_tokens").cast("double"), col("_tot")).as("token_share"))
      .orderBy(col("lang"), col("source"))
  }

  /** t7 — top-k word bigrams per language by occurrence count (corpus
    * n-gram statistics — the language-model-ish summary a mix designer
    * reads before weighting sources). NON-distinct bigrams: frequency
    * needs every occurrence, so no array_distinct (unlike the dedup
    * shingles); tie-break on the bigram text keeps the rank
    * deterministic.
    *
    * Scale posture: one (lang, bigram) shuffle with map-side combine
    * does all the counting; the rank-1..k filter over the count table
    * plans as WindowGroupLimit — per-partition partial top-k, then a
    * k·#langs-row merge. Nothing materializes the full bigram
    * vocabulary on one node.
    */
  def bigramTopK(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("lang"), tokens(col("text")).as("toks"))
    val g2 = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1))))
      .otherwise(array())
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("bigram"))
    d.select(col("lang"), explode(g2).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("bigram"), col("cnt"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Repetition signals (the Gopher-style quality filters): duplicate
    * token fraction, duplicate 2-gram fraction, and the share of all
    * 2-gram occurrences taken by the single most frequent 2-gram.
    * Degenerate docs (<2 tokens) get NULL gram ratios rather than a
    * divide-by-zero (try_divide / nullif on both engines).
    *
    * Scale posture: the set/size columns are shuffle-free array ops; the
    * top-gram count is one (doc_id, gram) shuffle with map-side combine
    * — never a per-doc collect.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    // caching d (it feeds both stat branches, so the corpus tokenizes
    // twice) A/B'd as a WASH at sf0.1 (0.647 → 0.642 BenchQ min-of-5,
    // r16): the TokensLower kernel re-run costs what materializing the
    // token arrays costs. Left uncached — the simpler plan.
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // token-side stats: one pass over the materialized token array
    val tokStats = d.select(col("doc_id"),
      size(col("toks")).as("n_tokens"),
      size(array_distinct(col("toks"))).as("n_distinct_tokens"))
    // 2-gram stats: stream NON-distinct 2-grams out of a generator
    // (explode of the position sequence; the gram string is built in
    // the projection ABOVE the generator, so no per-doc gram array is
    // ever materialized) and take every aggregate from one (doc, gram)
    // count table — sum(c) = n_2grams, count(*) = n_distinct_2grams,
    // max(c) = top count. The earlier shape materialized the gram
    // array per row twice (main + top branches) and ran array_distinct
    // over it per row — 3 full gram passes the aggregation replaces;
    // per-doc worst-case memory is now one token array, not O(doc²)
    // gram bytes. `when` guard: sequence(1, 0) would run DESCENDING
    // (Spark infers step -1), not empty. explode (not _outer) drops
    // the <2-token docs, restored by the left join below — NULL stats
    // for them, exactly the old top-join miss semantics.
    val g2Stats = d
      .select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) >= 2,
          sequence(lit(1), size(col("toks")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("toks"), col("i")),
        element_at(col("toks"), col("i") + 1)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("int").as("n_2grams"),
        count(lit(1)).cast("int").as("n_distinct_2grams"),
        max(col("c")).as("top_2gram_count"))
    tokStats.join(g2Stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (lit(1.0) - try_divide(col("n_distinct_tokens").cast("double"),
          col("n_tokens"))).as("dup_token_ratio"),
        coalesce(col("n_2grams"), lit(0)).as("n_2grams"),
        (lit(1.0) - try_divide(col("n_distinct_2grams").cast("double"),
          col("n_2grams"))).as("dup_2gram_ratio"),
        col("top_2gram_count"),
        try_divide(col("top_2gram_count").cast("double"), col("n_2grams"))
          .as("top_2gram_frac"))
      .orderBy(col("doc_id"))
  }

  /** t6 (REGISTERED form, r13 verdict #1) — top-k terms per document
    * under tf-idf with the RATIONAL idf variant: score = (cnt/n_tok)·
    * (nd/dfr), emitted as `tfidf_lin` = (cnt·nd)/(n_tok·dfr) — ONE
    * IEEE divide of two exact bigint products, bit-identical across
    * engines (the t28 lift-over-PMI / t32 TVD convention: a
    * transcendental-free companion is the hash-gated statistic; the
    * classic ln-idf form's JVM `Math.log` drifts from DuckDB's libm in
    * the last ulp). Linear idf is its own documented weighting, not
    * an approximation of ln: within a document it ranks by the exact
    * rational cnt/dfr (n_tok and nd are per-doc constants), which
    * up-weights rare terms more aggressively than ln-idf.
    *
    * Exactness envelope: cnt·nd and n_tok·dfr stay below 2^53 while
    * docs are ≲1e5 tokens and the corpus ≲1e9 documents (cnt ≤ doc
    * length, dfr ≤ nd), so the double casts are value-exact and the
    * single divide is correctly rounded on both engines; equal-double
    * ties (including genuinely equal rationals) break on `term` —
    * fully deterministic. The exact integer evidence (cnt, dfr,
    * n_tok, nd) rides along so ANY idf weighting is recomputable
    * downstream without a corpus rescan.
    *
    * The corpus statistics are classic two-phase aggregates: term
    * frequency per (doc, term), doc length and document frequency as
    * windows over that ONE tf table (a groupBy + self-join would plan
    * the tokenize + aggregate subtree twice), and the corpus size as a
    * broadcast one-row aggregate (kept lazy — no driver count() at plan
    * time). Rank filter → WindowGroupLimit, so only k rows per doc
    * survive the final shuffle: ~3 shuffles (doc+term, term, doc)
    * regardless of corpus size.
    */
  def tfidfTopKLin(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dfr", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("n_tok", sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_lin").desc, col("term"))
    tf.crossJoin(broadcast(nDocs))
      .withColumn("tfidf_lin",
        (col("cnt") * col("nd")).cast("double") /
          (col("n_tok") * col("dfr")).cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("cnt"),
        col("dfr"), col("n_tok"), col("nd"), col("tfidf_lin"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Content fingerprints: md5 of normalized text, the 60-bit integer
    * hash used by the sketching operators, and an order-sensitive
    * polynomial rolling hash over the token sequence.
    */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("fp_md5"),
        hash64(normalized(col("text"))).as("fp_hash64"),
        rollingHash(col("toks")).as("fp_rolling"))
      .orderBy(col("doc_id"))

  /** t10 — unigram language-model quality proxy: each document's mean
    * negative log-probability of its tokens under the CORPUS unigram
    * distribution with add-one smoothing, p(t) = (count(t)+1)/(N+V).
    * Low values = stereotyped text (high-frequency tokens only), high
    * values = rare-token soup — the cheap LM-perplexity stand-in
    * training pipelines gate on between heuristic quality (t3) and a
    * real model scorer.
    *
    * Scale posture: one tokenize pass feeds all three consumers (term
    * counts, corpus totals, the per-token score join) via the cached
    * token table — the d11 cache-lifecycle contract (Bench/Verify
    * clearCache per query; persist/checkpoint at cluster scale). The
    * term-count join shuffles by term with map-side-combined counts;
    * the vocabulary is ≪ the corpus (Heaps' law), so at 100 TB the
    * count table is broadcastable instead — same plan, one fewer
    * shuffle. Totals are a 1-row broadcast. Docs with zero tokens have
    * no probability mass and are absent, on both engines, by the inner
    * join's construction.
    */
  /** DEMOTED to spec-gated (r13 verdict #1): the per-token `ln` terms
    * carry engine last-ulp drift. The REGISTERED t10 is
    * [[unigramMeanProb]] (exact integer mass + one divide); this
    * geometric-mean form stays the t19 tercile input (t19 rounds at
    * 1e-6 before any comparison, absorbing the drift) and is gated in
    * TextAnalysisSpec at 1e-9 against a driver-side reference. */
  def unigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .cache()
    // cnt feeds both the membership join and the totals (r16): cached,
    // and the totals DERIVE from it — n = Σc (the null-token group, if
    // any, counts in both forms), v = count(t) (non-null groups only,
    // count_distinct's null rule) — bit-identical to the corpus-pass
    // aggregate they replace, one explode pass instead of two. The
    // vocab side of every membership join carries an EXPLICIT broadcast
    // hint (canonical note; the other r16 consolidation sites cite it):
    // vocab ≪ corpus by Heaps' law at any scale, but once cnt is cached
    // its planning-time estimate can exceed the cached token stream's,
    // and Spark then builds the hash relation from the CORPUS side
    // (measured: t20 1.5 → 12 s before the hint pinned the build side).
    val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("c")).cache()
    val tot = cnt.agg(coalesce(sum(col("c")), lit(0L)).as("n"),
      count(col("t")).as("v"))
    toks.join(broadcast(cnt), "t")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        avg(-log((col("c") + lit(1.0)) / (col("n") + col("v"))))
          .as("avg_neg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** t10 (REGISTERED form, r13 verdict #1) — the unigram LM quality
    * proxy as EXACT arithmetic: per document the ARITHMETIC-mean token
    * probability under the corpus add-one unigram model,
    * mean p = Σ_t (c(t)+1) / (n_tokens · (N+V)), alongside the exact
    * integer mass Σ_t (c(t)+1) it derives from. Same signal axis as
    * the geometric-mean [[unigramLogprob]] (low = stereotyped
    * high-frequency text, high = rare-token soup, inverted: HIGH mean
    * prob = stereotyped) but transcendental-free: the sum is an exact
    * bigint, the denominator an exact bigint product, and the score
    * ONE correctly-rounded IEEE divide — bit-identical across engines
    * (the t32 TVD convention). The −ln form is spec-gated and remains
    * t19's tercile input.
    *
    * Exactness envelope: Σ(c+1) ≤ n_tokens·(max c+1) and
    * n_tokens·(N+V) both stay below 2^53 for ≲1e5-token docs against
    * a ≲1e12-token corpus — documented headroom, not an assumption.
    * Same dataflow/scale posture as [[unigramLogprob]] (one cached
    * tokenize pass, term-count join, 1-row broadcast totals).
    */
  def unigramMeanProb(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .cache()
    // the unigramLogprob r16 consolidation: cached cnt, totals derived
    // from it (n = Σc, v = count(t)) — bit-identical, one pass fewer
    val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("c")).cache()
    val tot = cnt.agg(coalesce(sum(col("c")), lit(0L)).as("n"),
      count(col("t")).as("v"))
    toks.join(broadcast(cnt), "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        sum(col("c") + lit(1L)).as("sum_cp1"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"), col("sum_cp1"),
        (col("sum_cp1").cast("double") /
          (col("n_tokens").cast("bigint") * (col("n") + col("v")))
            .cast("double")).as("mean_token_prob"))
      .orderBy(col("doc_id"))
  }

  /** t11 — PII redaction: replace emails, IPv4 addresses, and
    * international-format phone numbers with typed placeholders, and
    * count the redactions per class. The canonical pre-training scrub
    * step; shuffle-free codegen'd regexp scan.
    *
    * The synthetic corpus contains no PII, so the registered query
    * derives a deterministic PII-bearing column from doc_id on BOTH
    * engines first — the oracle then genuinely checks that the two
    * regex engines (Java regex here, RE2 in DuckDB) agree on every
    * match boundary, instead of trivially diffing no-ops. The patterns
    * stay inside the dialect intersection: character classes, bounded
    * repetition, \b and \d (no lookaround, no backrefs).
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phonePat = "\\+\\d[\\d ]{6,}\\d"
    val raw = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com from 10.0."),
      pmod(col("doc_id"), lit(256)).cast("string"),
      lit(".7 call +1 415 555 0"),
      pmod(col("doc_id"), lit(100)).cast("string"))
    Tables.documents(s, dir)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(emailPat), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(ipPat), lit(0))).as("n_ips"),
        // phones counted AFTER email/IP removal, as redaction applies them
        // in that order (an IP's digits must not count as a phone)
        size(regexp_extract_all(
          regexp_replace(regexp_replace(col("raw"), emailPat, "<EMAIL>"),
            ipPat, "<IP>"), lit(phonePat), lit(0))).as("n_phones"),
        regexp_replace(
          regexp_replace(regexp_replace(col("raw"), emailPat, "<EMAIL>"),
            ipPat, "<IP>"), phonePat, "<PHONE>").as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** t12 — sequence packing: assign documents to fixed-token-budget
    * training sequences (bins) by cumulative token count, per shard.
    * The boundary-overflow greedy variant (a doc that crosses the
    * budget closes the bin it started in): bin = floor(tokens-before /
    * capacity) over doc_id order within a shard — ONE window per
    * shard, fully distributable (exact first-fit packing is inherently
    * sequential; per-shard chunking is how it actually runs at scale,
    * and shard count = write parallelism). Output is the pack manifest
    * a sequence-builder job consumes: (doc, shard, bin, tokens,
    * offset-in-bin).
    */
  def sequencePack(s: SparkSession, dir: String,
      capacity: Int = 256, nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(nShards)).as("shard"),
        size(tokens(col("text"))).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("shard").cast("int").as("shard"),
        col("n_tok"),
        floor((col("cum") - col("n_tok")) / lit(capacity)).cast("int")
          .as("bin"),
        pmod(col("cum") - col("n_tok"), lit(capacity)).cast("int")
          .as("bin_offset"))
      .orderBy(col("doc_id"))
  }

  /** t14 — exact corpus heavy hitters via a two-pass Misra–Gries
    * sketch: every token whose frequency exceeds n/(kCap+1) of all n
    * corpus tokens, with its EXACT count and share.
    *
    * Why not one plain groupBy? At 100 TB the full token distribution
    * is itself huge and Zipf-skewed — the very thing being measured —
    * and a global count-per-token shuffles the whole vocabulary. The
    * two-pass shape is the classic fix (and what the MG guarantee
    * exists for):
    *   pass 1 — MisraGriesAgg (custom mergeable TypedImperativeAggregate,
    *     fixed k-entry state) sketches each partition map-side; the
    *     shuffle moves ≤ k entries per task; every item with true
    *     frequency > n/(k+1) is GUARANTEED present in the merged
    *     candidate set (superset; counts are undercounts and unused).
    *   pass 2 — re-scan counts ONLY the ≤ k broadcast candidates
    *     exactly (map-side combine on ≤ k keys), filter by the
    *     threshold.
    * The sketch's approximation never reaches the output — the result
    * is exactly "GROUP BY token HAVING cnt·(k+1) > n", and the oracle
    * states it that way. Two scans of the corpus, zero wide shuffles.
    * Output: (token, cnt, share), ordered by cnt desc.
    */
  def heavyHitters(s: SparkSession, dir: String, kCap: Int = 64): DataFrame =
    heavyHittersFrom(
      Tables.documents(s, dir).select(explode(tokens(col("text"))).as("token")),
      kCap)

  /** t14 core over any single-column (token) relation — fixture-testable. */
  def heavyHittersFrom(tok0: DataFrame, kCap: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.Shims
    val tok = tok0.cache() // both passes scan it; Bench/Verify clearCache
    val sketch = Shims.column(
      graft.functions.MisraGriesAgg(Shims.expression(col("token")), kCap)
        .toAggregateExpression())
    val cand = tok.agg(sketch.as("cands"), count(lit(1)).as("n"))
    val c = cand.select(explode(col("cands")).as("token"), col("n"))
    tok.join(broadcast(c), "token")
      .groupBy(col("token"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(kCap + 1) > col("n"))
      .select(col("token"), col("cnt"),
        (col("cnt").cast("double") / col("n")).as("share"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** t13 — Gopher-style quality rule bundle (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Appendix A1.1 — public): the fixed-threshold document
    * filters every web-scale curation pipeline applies before the
    * model-based scores — word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, bullet-line and ellipsis-line fractions,
    * alphabetic-word fraction, and a minimum count of DISTINCT
    * stopword kinds (the "is this prose at all" probe). Emits every
    * metric plus the conjunctive keep verdict, so downstream can audit
    * WHICH rule fired, not just the boolean.
    *
    * Scale posture: a single embarrassingly-parallel codegen'd scan —
    * no shuffle, no UDFs; all counting is replace()/higher-order-
    * function arithmetic chosen over regex alternation so both engines
    * count identically (overlapping-match semantics of `#|\.\.\.` vary
    * by regex engine; length-difference counting does not). Division
    * is try_divide: an empty/whitespace-only document (n_words = 0)
    * must yield null metrics and keep = false, not an ANSI throw.
    */
  def gopherQuality(s: SparkSession, dir: String): DataFrame =
    gopherQualityFrom(
      Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** t13 core over any (doc_id, text) relation — fixture-testable. */
  def gopherQualityFrom(docs: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopKinds: Int = 2): DataFrame = {
    val stops = stopwordLists.head._2 // the en list, shared with t2/t3
    val d = docs.select(col("doc_id"), col("text"),
      tokens(col("text")).as("toks"),
      split(col("text"), "\n").as("lines"))
    val nWords = size(col("toks")).cast("double")
    val nLines = size(col("lines")).cast("double") // >= 1 always: split("") = [""]
    val sumLen = aggregate(col("toks"), lit(0L), (a, t) => a + length(t))
    // '#' and '...' occurrence counts via length difference — exact,
    // regex-free, identical in both engines
    val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
    val nEllipsis = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3)
    val bulletLines = size(filter(col("lines"),
      l => substring(ltrim(l), 1, 1).isin("-", "*", "•")))
    val ellipsisLines = size(filter(col("lines"),
      l => rtrim(l).endsWith("...")))
    val alphaWords = size(filter(col("toks"), t => t.rlike("[a-z]")))
    val stopKinds = size(filter(array(stops.map(lit): _*),
      w => array_contains(col("toks"), w)))
    d.select(col("doc_id"),
        size(col("toks")).as("n_words"),
        try_divide(sumLen.cast("double"), nWords).as("mean_word_len"),
        try_divide((nHash + nEllipsis).cast("double"), nWords).as("symbol_ratio"),
        (bulletLines.cast("double") / nLines).as("bullet_frac"),
        (ellipsisLines.cast("double") / nLines).as("ellipsis_frac"),
        try_divide(alphaWords.cast("double"), nWords).as("alpha_frac"),
        stopKinds.as("stop_kinds"))
      .withColumn("keep", coalesce(
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minWordLen &&
          col("mean_word_len") <= maxWordLen &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_frac") <= maxEllipsisFrac &&
          col("alpha_frac") >= minAlphaFrac &&
          col("stop_kinds") >= minStopKinds,
        lit(false)))
      .orderBy(col("doc_id"))
  }

  /** t15 — Okapi BM25 document ranking for a fixed query term set (the
    * retrieval scorer next to t6's per-document TF-IDF keywords: t6
    * describes documents, BM25 RANKS them against a query — the
    * standard lexical-retrieval baseline a training pipeline uses to
    * mine topical subsets and hard negatives).
    *
    *   idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))   (Okapi+1 form)
    *   score(D,Q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))
    *
    * Determinism: the per-term contributions are summed in FIXED query-
    * term order via one conditional aggregate per term (each sums at
    * most ONE row, so there is no partial-aggregation reorder) — a
    * plain sum(w) would add the 1–3 doubles in whichever order partial
    * merge delivers them, and ulp drift near the top-K boundary could
    * then disagree with the oracle's own addition order.
    *
    * Scale posture: one tokenize pass builds the cached tf table (the
    * t10 cache-lifecycle contract — Bench/Verify clearCache per query;
    * persist/checkpoint at cluster scale) feeding doc-length windows,
    * the corpus stats aggregate, and the hit scoring; the dfr window
    * runs AFTER the query-term filter, over #query-terms partitions of
    * matching docs only. Global top-K is TakeOrderedAndProject
    * (distributed heap-k, no total sort); the rank window runs over the
    * ≤ topK surviving rows — bounded, not a scale concern.
    */
  /** DEMOTED to spec-gated (r13 verdict #1): the idf `ln` carries
    * engine last-ulp drift. The REGISTERED t15 is [[bm25RankLin]]
    * (RSJ-odds idf — ln-free, deterministic double tree);
    * TextAnalysisSpec gates this classic form at 1e-9 against a
    * driver-side scalar reference, and s18's RRF fusion keeps
    * consuming it (RRF reads only the rank ORDER, which drift can
    * touch only where two docs' scores sit within an ulp). */
  def bm25Rank(s: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("table", "scan", "join"),
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_tok",
        sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
      .cache()
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
    val stats = tf.agg((sum(col("cnt")) * lit(1.0) /
      count_distinct(col("doc_id"))).as("avgdl"))
    val hits = tf.filter(col("term").isin(queryTerms: _*))
      .withColumn("dfr", count(lit(1)).over(Window.partitionBy(col("term"))))
    val idf = log(lit(1.0) +
      (col("nd") - col("dfr") + lit(0.5)) / (col("dfr") + lit(0.5)))
    val w = (idf * (col("cnt") * (lit(k1) + lit(1.0)))) /
      (col("cnt") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("n_tok") / col("avgdl")))
    // per-term columns are aliased by INDEX, not by the raw term: a
    // term containing '.', space, or a backtick would otherwise break
    // col() re-resolution (w_e.g. parses as field access), and
    // duplicate terms would collide
    val perTerm = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("w"))).as(s"w_$i") }
    val scored = hits
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(stats))
      .withColumn("w", w)
      .groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .withColumn("bm25",
        queryTerms.indices.map(i => coalesce(col(s"w_$i"), lit(0.0)))
          .reduce(_ + _))
    scored
      .orderBy(col("bm25").desc, col("doc_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"), col("bm25"))
      .orderBy(col("rank"))
  }

  /** t15 (REGISTERED form, r13 verdict #1) — BM25 ranking with the
    * RSJ ODDS idf variant: idf_lin = (N − df + 0.5)/(df + 0.5) — the
    * exact odds whose logarithm classic BM25 takes (Robertson &
    * Spärck Jones's relevance weight without the log). Everything
    * else is BM25 verbatim (k1/b saturation, per-term conditional
    * sums in fixed query-term order). Ln-free, so every score is a
    * FIXED tree of correctly-rounded IEEE basic ops evaluated in the
    * same order on both engines — bit-identical, full hash oracle
    * (the t32 TVD convention). The odds transform is monotone PER
    * TERM but not across a multi-term sum, so this is its own
    * documented ranking (it sharpens the rare-term preference), not a
    * reproduction of the ln ranking — which survives as the
    * spec-gated [[bm25Rank]].
    *
    * Determinism inventory: avgdl is one double divide of exact
    * aggregates; idf_lin two exact-int adds + one divide; the weight
    * one multiply chain and one divide, parenthesized identically in
    * the oracle SQL; the ≤|queryTerms| additions fold in pinned
    * order. No sum of data-dependent cardinality touches a double.
    */
  def bm25RankLin(s: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("table", "scan", "join"),
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_tok",
        sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
      .cache()
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
    val stats = tf.agg((sum(col("cnt")) * lit(1.0) /
      count_distinct(col("doc_id"))).as("avgdl"))
    val hits = tf.filter(col("term").isin(queryTerms: _*))
      .withColumn("dfr", count(lit(1)).over(Window.partitionBy(col("term"))))
    val idfLin =
      (col("nd") - col("dfr") + lit(0.5)) / (col("dfr") + lit(0.5))
    val w = (idfLin * (col("cnt") * (lit(k1) + lit(1.0)))) /
      (col("cnt") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("n_tok") / col("avgdl")))
    val perTerm = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("w"))).as(s"w_$i") }
    val scored = hits
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(stats))
      .withColumn("w", w)
      .groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .withColumn("bm25_lin",
        queryTerms.indices.map(i => coalesce(col(s"w_$i"), lit(0.0)))
          .reduce(_ + _))
    scored
      .orderBy(col("bm25_lin").desc, col("doc_id")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25_lin").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"), col("bm25_lin"))
      .orderBy(col("rank"))
  }

  /** t16 (REGISTERED form, r13 verdict #1) — the bigram fluency
    * signal as EXACT count moments: per document the exact integer
    * sums of the three count components every interpolated LM score
    * is built from — Σc₂ (bigram counts), Σc_prev, Σc_cur (unigram
    * counts at each pair position) — plus two ratio-of-sums scores
    * that are each deterministic double arithmetic:
    *
    *   pooled_cond    = Σc₂ / Σc_prev           (one IEEE divide)
    *   pooled_backoff = (Σc_cur + n_bigrams) / (n_bigrams·(N+V))
    *   pooled_interp  = 0.7·pooled_cond + 0.3·pooled_backoff
    *
    * Ratio-of-sums (aggregate THEN divide) replaces t16's
    * mean-of-ratios: the sums are exact bigints whatever the
    * aggregation order, so nothing transcendental or
    * order-sensitive remains and the hash oracle is full
    * (the t32 TVD convention). Same fluency axis — a shuffled-token
    * doc has low pooled_cond (its pairs are rare relative to their
    * head words); a per-pair geometric mean of ln terms would carry
    * engine last-ulp drift. Exactness envelope: each sum ≤
    * n_bigrams·max-count < 2^53 for ≲1e5-token docs against a
    * ≲1e12-token corpus; n_bigrams·(N+V) likewise.
    *
    * Scale posture: ONE tokenize pass materializes the token arrays
    * (cached: the unigram stream, the pair stream and the scoring all
    * consume it — d11's cache-lifecycle contract); pairs stream out of a
    * position-sequence generator exactly like t5/t9 (no per-doc gram
    * array). The bigram count is one (w_prev, w_cur) shuffle with
    * map-side combine; the three vocabulary joins move vocab-sized
    * tables (≪ corpus by Heaps' law — broadcastable at 100 TB, same plan
    * minus the shuffles); totals are a 1-row broadcast. Docs with <2
    * tokens have no pairs and are absent, on both engines.
    */
  def bigramMoments(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .cache()
    val toks = d.select(col("doc_id"), explode(col("toks")).as("t"))
    // r16 consolidation: cached cnt (feeds cp, cc, totals), totals
    // derived (n = Σc, v = count(t)) — bit-identical to a corpus pass
    val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("c")).cache()
    val tot = cnt.agg(coalesce(sum(col("c")), lit(0L)).as("n"),
      count(col("t")).as("v"))
    val pairs = d
      .select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) >= 2,
          sequence(lit(1), size(col("toks")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"),
        element_at(col("toks"), col("i")).as("wp"),
        element_at(col("toks"), col("i") + 1).as("wc"))
    val bcnt = pairs.groupBy(col("wp"), col("wc")).agg(count(lit(1)).as("c2"))
    val cp = cnt.select(col("t").as("wp"), col("c").as("cp"))
    val cc = cnt.select(col("t").as("wc"), col("c").as("cc"))
    pairs.join(bcnt, Seq("wp", "wc"))
      .join(broadcast(cp), "wp").join(broadcast(cc), "wc")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum(col("c2")).as("sum_c2"),
        sum(col("cp")).as("sum_cp"),
        sum(col("cc")).as("sum_cc"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_bigrams"), col("sum_c2"),
        col("sum_cp"), col("sum_cc"),
        (col("sum_c2").cast("double") / col("sum_cp").cast("double"))
          .as("pooled_cond"),
        ((col("sum_cc") + col("n_bigrams")).cast("double") /
          (col("n_bigrams").cast("bigint") * (col("n") + col("v")))
            .cast("double")).as("pooled_backoff"))
      .withColumn("pooled_interp",
        lit(0.7) * col("pooled_cond") + lit(0.3) * col("pooled_backoff"))
      .orderBy(col("doc_id"))
  }

  /** t17 (REGISTERED form, r13 verdict #1) — the Zipf health check as
    * an EXACT rank-octave histogram: the top-R unigrams bucketed by
    * octave = ⌊log₂ rank⌋ (computed by an integer CASE ladder — no
    * transcendental anywhere), with per-octave exact aggregates
    * (n_terms, sum_count, min_count, max_count). Under Zipf's law
    * c(r) ≈ K/r, each octave's count SUM is ≈ K·ln 2 — a FLAT
    * sum_count across octaves is slope ≈ −1; a rising/falling trend
    * is the shallow/steep-slope red flag "What's in My Big Data?"
    * (Elazar et al. 2024) monitors — so the histogram carries the
    * same distributional health signal as an OLS fit of ln(count) on
    * ln(rank), in exact integers with a full hash oracle (the t32 TVD
    * convention; the regression's closing divides amplify last-ulp
    * `ln` drift ~77×, r12).
    *
    * Scale posture: the term count is the t10 vocabulary aggregate (one
    * shuffle, map-side combine); the head is TakeOrderedAndProject
    * (distributed heap-R, never a vocabulary sort), and the rank window
    * runs over the ≤ topR surviving rows; the octave aggregate groups
    * ≤⌈log₂ topR⌉+1 rows.
    */
  def zipfOctaves(s: SparkSession, dir: String, topR: Int = 1000): DataFrame = {
    require(topR <= 4096, s"octave ladder covers topR <= 4096, got $topR")
    val cnt = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id")))
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val top = cnt.orderBy(col("c").desc, col("t")).limit(topR)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("t"))))
    // ⌊log₂ rank⌋ as a CASE ladder over integer literals: exact on
    // both engines (floor(ln(r)/ln 2) would put exact powers of two
    // one ulp from the boundary)
    val octave = (1 to 11).foldLeft(when(col("rank") < 2, 0)) {
      (acc, k) => acc.when(col("rank") < (1 << (k + 1)), k)
    }.otherwise(12).cast("int")
    top.withColumn("octave", octave)
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("sum_count"),
        min(col("c")).as("min_count"), max(col("c")).as("max_count"))
      .orderBy(col("octave"))
  }

  /** t18 — Heaps'-law vocabulary growth: cumulative corpus tokens vs
    * cumulative distinct vocabulary across `nBuckets` doc-id slices of
    * the corpus (Heaps/Herdan: V ≈ K·Nᵝ, β<1 — vocabulary grows
    * sublinearly in natural text; a flattening-to-linear curve is the
    * template/id-soup red flag, t17's companion on the growth axis).
    *
    * The distributed trick: "cumulative DISTINCT vocabulary" needs no
    * ordered scan — each term contributes to every bucket ≥ its FIRST
    * bucket, so one min-bucket aggregate per term (a vocab-sized
    * shuffle with map-side combine) turns the curve into two tiny
    * histograms. The cumulative sums then run as a triangular self-join
    * over the nBuckets rows — bounded, fully parallel, and no
    * single-partition window. Bucketing is a pure doc_id projection
    * against a broadcast 1-row max, so new documents extend the curve
    * without re-reading old buckets.
    * Output: (bucket, cum_tokens, cum_vocab).
    */
  def heapsCurve(s: SparkSession, dir: String, nBuckets: Int = 10): DataFrame = {
    // cached: the max-id aggregate, the token histogram, and the vocab
    // histogram all consume this relation — without the cache the
    // corpus is re-scanned and re-tokenized per consumer (the d11
    // cache-lifecycle contract; Bench/Verify clearCache per query)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .cache()
    val mx = d.agg(max(col("doc_id")).as("mx"))
    val toksB = d.crossJoin(broadcast(mx))
      .select((col("doc_id") * nBuckets / (col("mx") + 1)).cast("int")
        .as("bucket"), explode(col("toks")).as("t"))
    val tokHist = toksB.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val vocabHist = toksB.groupBy(col("t"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_terms"))
    val h = tokHist.join(vocabHist, Seq("bucket"), "full_outer")
      .na.fill(0, Seq("n_tokens", "n_new_terms"))
    h.as("a").join(h.as("b"), col("b.bucket") <= col("a.bucket"))
      .groupBy(col("a.bucket").as("bucket"))
      .agg(sum(col("b.n_tokens")).as("cum_tokens"),
        sum(col("b.n_new_terms")).as("cum_vocab"))
      .orderBy(col("bucket"))
  }

  /** t19 — CCNet-style perplexity bucketing: split each language's
    * documents into head/middle/tail terciles of the unigram-LM score
    * (t10's mean −ln p(token); lower = more natural text). CCNet's
    * central curation move — downstream mixes train on head+middle and
    * drop or down-weight the tail — and per-LANGUAGE cuts are the
    * point: absolute perplexity is incomparable across languages, so a
    * global cut would silently discard whole low-resource languages.
    *
    * The score is rounded to 6 decimals BEFORE the tercile aggregate
    * and the bucket compare: both consumers re-derive the score in
    * separate plan branches, and float-sum merge order is not
    * deterministic across branches, so an unrounded boundary doc could
    * land in different buckets run-to-run (the q50 double-equality
    * race). 1e-6 granularity is ~6 orders above ulp drift and well
    * below the ~1e-2 gaps between real scores.
    *
    * Scale posture: one t10 scoring pass (vocab-bounded shuffles), then
    * an exact per-lang `percentile` whose per-group buffer holds ONE
    * double per document of that language — the per-stratum quantile
    * pattern shared with t8/d12; at 100 TB swap in approx_percentile
    * (identical shape, documented there). The #langs×2 cut table
    * broadcasts back onto the score relation; the bucket label is a
    * pure projection. Output: (doc_id, lang, score, bucket).
    */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val scores = unigramLogprob(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id")
      .select(col("doc_id"), col("lang"),
        round(col("avg_neg_logprob"), 6).as("score"))
      .cache()
    // one shared percentile buffer for both tercile cuts (r16, the q25
    // array-percentage form): same sorted map, two interpolation
    // points, bit-identical values
    val cuts = scores.groupBy(col("lang"))
      .agg(percentile(col("score"),
        array(lit(1.0 / 3), lit(2.0 / 3))).as("ts"))
      .select(col("lang"), element_at(col("ts"), 1).as("t1"),
        element_at(col("ts"), 2).as("t2"))
    scores.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("score"),
        when(col("score") <= col("t1"), lit("head"))
          .when(col("score") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** t20 — DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" —
    * public): score every document by how target-like its token
    * distribution is, as the per-token mean log likelihood ratio
    * ln p_target(t) − ln p_raw(t) between two add-one-smoothed unigram
    * LMs — the target LM trained on the target slice (here lang =
    * `targetLang`, standing in for "docs that look like my eval
    * domain"), the raw LM on the whole corpus, both smoothed over the
    * SHARED raw vocabulary so unseen-in-target tokens score a genuine
    * penalty rather than blowing up. Positive = target-like; the
    * resampling step is then q52's weighted-mix hash predicate with
    * these weights as rates. Output: (doc_id, n_tokens,
    * avg_log_ratio).
    *
    * Scale posture: t10's exact shape twice — two vocab-bounded count
    * aggregates (map-side combined), one 3-row totals frame
    * cross-broadcast, one corpus-token join against the broadcastable
    * vocab tables, one per-doc aggregate. The target slice is read
    * from the SAME cached token relation as the raw counts (one corpus
    * scan total); nothing is quadratic and nothing leaves the executor
    * tier except the 3 totals.
    */
  def dsirWeights(s: SparkSession, dir: String,
      targetLang: String = "en"): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("t"))
      .cache()
    // ONE vocabulary pass builds BOTH language models (r16): the raw
    // count and the target-slice count are two aggregates of the same
    // groupBy (ct = 0 where the old left join produced null — the
    // coalesce moved into the aggregate), and the totals DERIVE from
    // the cached result (nr = Σcr, v = count(t), nt = Σct) — all
    // bit-identical to the three corpus passes they replace.
    val grouped = toks.groupBy(col("t")).agg(
        count(lit(1)).as("cr"),
        count(when(col("lang") === targetLang, lit(1))).as("ct"))
      .cache()
    val totals = grouped.agg(
      coalesce(sum(col("cr")), lit(0L)).as("nr"),
      count(col("t")).as("v"),
      coalesce(sum(col("ct")), lit(0L)).as("nt"))
    toks.join(broadcast(grouped), "t")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        avg(log((col("ct") + lit(1.0)) / (col("nt") + col("v")))
          - log((col("cr") + lit(1.0)) / (col("nr") + col("v"))))
          .as("avg_log_ratio"))
      .orderBy(col("doc_id"))
  }

  /** t21 — context-window chunking: split each document's token
    * sequence into windows of `window` tokens starting every `stride`
    * tokens (stride < window ⇒ `window − stride` tokens of overlap —
    * the standard training-example preparation, where overlap
    * preserves cross-boundary context). Start positions are 1,
    * 1+stride, … ≤ n, so every token lands in at least one chunk and
    * the trailing chunk may be short.
    *
    * Scale posture: shuffle-free — one codegen'd scan, the explode
    * fans out ~n/stride rows per doc and each chunk's text is a slice
    * of the already-materialized token array (no re-tokenization per
    * chunk). At 100 TB the output is written partitioned by shard of
    * doc_id; nothing here needs a wider plan.
    */
  def chunk(s: SparkSession, dir: String, window: Int = 64,
      stride: Int = 48): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("w"), col("n"),
        posexplode(sequence(lit(1), col("n"), lit(stride))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col").cast("int").as("start_tok"),
        least(lit(window), col("n") - col("col") + 1).cast("int").as("n_tok"),
        array_join(slice(col("w"), col("col"), lit(window)), " ")
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** t22 — vocabulary OOV rate: per document, the fraction of tokens
    * outside the corpus's top-`vocabSize` vocabulary (by frequency,
    * ties to the lexicographically smaller token — deterministic on
    * both engines). The tokenizer-coverage diagnostic run before
    * committing a vocab: a rising OOV rate on a new source is the
    * canonical "this data needs a tokenizer revisit" alarm.
    *
    * Scale posture: the vocabulary is a top-k over the token-count
    * aggregate (TakeOrdered-sized: vocabSize rows) and BROADCASTS to
    * the per-token membership join; the token stream shuffles once for
    * the count and once for the per-doc rollup. The join is a LEFT
    * SEMI-shaped membership mark (left join + null check) so no token
    * row duplicates.
    */
  def vocabOov(s: SparkSession, dir: String,
      vocabSize: Int = 512): DataFrame = {
    // cached: the token stream feeds both the vocab aggregate and the
    // membership join — without it the scan+tokenize runs twice (the
    // t20 dsirWeights convention; Bench/Verify clearCache per query)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .cache()
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t"))
      .limit(vocabSize)
      .select(col("t"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        count(when(col("in_vocab").isNull, lit(1))).cast("int").as("n_oov"))
      .withColumn("oov_rate", col("n_oov") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** t23 — token-ID encoding: the training-data encode step — every
    * token mapped to its id in a DETERMINISTIC vocabulary (frequency-
    * ranked, lexicographic tie-break, ids dense from 0; out-of-vocab →
    * `unkId` = vocabSize). Emitted flattened as (doc_id, pos,
    * token_id) — positional rows instead of an id array, both because
    * a downstream packer consumes positions anyway and because array
    * outputs are outside the gate-safe type set.
    *
    * Scale posture: vocab = one token-count aggregate + a
    * TakeOrdered-sized top-k that BROADCASTS onto the token stream;
    * the encode itself is then a map-side hash probe per token — no
    * shuffle besides the vocab count. row_number over the global
    * vocab ranking runs on vocabSize rows (post-limit), not the
    * corpus.
    */
  def encode(s: SparkSession, dir: String,
      vocabSize: Int = 512): DataFrame = {
    // cached for the same two-consumer reason as t22's token stream
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos").cast("int").as("pos"),
        col("col").as("t"))
      .cache()
    val wAll = Window.orderBy(col("cnt").desc, col("t"))
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t"))
      .limit(vocabSize)
      // rank the (<= vocabSize)-row result, not the corpus: the
      // unpartitioned window is bounded by the limit above it
      .withColumn("token_id", (row_number().over(wAll) - 1).cast("int"))
      .select(col("t"), col("token_id"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(vocabSize)).as("token_id"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** t24 — per-document n-gram NOVELTY against everything ingested
    * before it (doc_id order = ingest order): the fraction of a doc's
    * distinct word-3-gram shingles whose FIRST occurrence in the
    * corpus is this doc. The dedup-aware mixing signal (SemDeDup /
    * D4-style data-diet curation scores docs by how much genuinely new
    * content they add, not just whether they are near-duplicates) —
    * d2/d8 find pairs, t24 scores each doc's marginal contribution.
    *
    * Shingles ride the corpus-standard 60-bit md5 hash (d2's argument:
    * primitive shuffle keys, identity preserved at ~1e-10 collision
    * odds — and the oracle hashes the SAME way, so even a collision
    * cannot diverge the engines). The key identity that keeps this
    * cheap: n_novel(doc) = |{g : min_doc(g) = doc}| — so after the
    * per-shingle min aggregate, counting novel shingles is a second
    * aggregate on first_doc, and the corpus-sized exploded relation
    * never joins back to anything and never sorts. (A window-min
    * formulation with uncached branches computes the same values but
    * pays a full per-shingle sort plus a SECOND md5 shingling pass:
    * rewrite-time A/B at sf0.1, ~17× after switching to hash
    * aggregates and caching the shared shingle relation.) n_shingles
    * comes free from the shingle-array length. Docs with no shingles
    * (< 3 tokens) have no novelty to measure and are absent, matching
    * the oracle's len(t) > 0 guard.
    */
  def noveltyScores(s: SparkSession, dir: String): DataFrame = {
    // both branches (per-doc sizes, per-shingle minima) consume the
    // shingled relation; cache it or the md5 shingling — the real cost
    // here, not the aggregates — runs twice (d12's lifecycle contract:
    // the session owner clears the cache between queries)
    val sh = Dedup.docShingles(s, dir).cache()
    val docs = sh
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .filter(col("n_shingles") > 0)
    val novel = sh
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    docs.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double")
          / col("n_shingles").cast("double")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** t25 — Count-Min sketch (Cormode & Muthukrishnan 2005): the
    * fixed-size frequency summary next to t14's Misra–Gries rung.
    * `depth` hash rows × `width` counters; a token's estimate is the
    * MIN of its `depth` cells, which can only OVER-count (collisions
    * add, never subtract) — the one-sided guarantee the spec asserts
    * row-by-row.
    *
    * Everything is DETERMINISTIC — the hash rows are `hash64` (the
    * cross-engine md5 convention) salted by the row index, so the
    * whole sketch AND every estimate are bit-identical in DuckDB:
    * unlike HLL (q27), this sketch carries a full hash-checked oracle.
    *
    * Scale posture: the sketch is built from the (token, count)
    * aggregate, not from raw occurrences — the cell value is the same
    * sum either way, but this way the depth-fold explode runs over
    * |vocab| rows instead of N tokens, and the corpus pays exactly ONE
    * occurrence-level shuffle (the same one t7/t14 pay). The sketch
    * itself is depth × width = 2,048 cells regardless of corpus size —
    * the point of a sketch: it's the relation a production pipeline
    * persists and merges across corpus shards (cell-wise sum, which is
    * exactly how the partial aggregates already combine). The top-k
    * probe set and exact counts exist for the verification story; a
    * deployment queries the 2,048-row sketch alone.
    */
  def countMin(s: SparkSession, dir: String, depth: Int = 4,
      width: Int = 512, topK: Int = 20): DataFrame =
    countMinFrom(Tables.documents(s, dir), depth, width, topK)

  /** The Count-Min cell for hash row `r` and token `tok` — the ONE
    * definition the batch build, the streaming build, and the DuckDB
    * oracle mirror all share. */
  private def cmCell(width: Int)(r: Column, tok: Column): Column =
    pmod(hash64(concat(lit("cm"), r.cast("string"), lit("_"), tok)),
      lit(width)).cast("int")

  /** Streaming Count-Min: the same `depth × width` sketch maintained
    * over a live document feed. Cell values are order-independent sums,
    * so the stream's sketch after any prefix EQUALS the batch sketch of
    * that prefix — an exact parity the spec asserts, not a
    * within-error bound like the streaming HLL (w8). State is the
    * fixed 2,048-cell aggregate regardless of feed volume — the whole
    * point of giving the monitor a sketch instead of a (tok, count)
    * table whose state grows with the vocabulary.
    */
  def countMinStream(streamDocs: DataFrame, depth: Int = 4,
      width: Int = 512): DataFrame =
    streamDocs
      .select(explode(tokens(col("text"))).as("tok"))
      .select(col("tok"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .groupBy(col("r"), cmCell(width)(col("r"), col("tok")).as("cell"))
      .agg(count(lit(1)).as("cn"))

  /** The two-relation form — spec-planted corpora use a tiny `width`
    * to force collisions and exercise the over-count guarantee. */
  private[graft] def countMinFrom(docs: DataFrame, depth: Int = 4,
      width: Int = 512, topK: Int = 20): DataFrame = {
    val counts = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .persist() // vocab-sized; feeds the sketch AND the probe set
    val cell = cmCell(width) _
    val sketch = counts
      .select(col("tok"), col("n"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .groupBy(col("r"), cell(col("r"), col("tok")).as("cell"))
      .agg(sum(col("n")).as("cn"))
    val probes = counts
      .orderBy(col("n").desc, col("tok")).limit(topK)
      .select(col("tok"), col("n"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("cell", cell(col("r"), col("tok")))
    probes.join(sketch, Seq("r", "cell"))
      .groupBy(col("tok"), col("n").as("exact_n"))
      .agg(min(col("cn")).as("cm_est"))
      .select(col("tok"), col("exact_n"), col("cm_est"),
        (col("cm_est") - col("exact_n")).as("overcount"))
      .orderBy(col("exact_n").desc, col("tok"))
  }

  /** t27 — sentence-aware chunking: split each document at sentence
    * boundaries ([.!?]+ runs), then pack consecutive sentences into
    * chunks under a SOFT `cap`-token budget — the retrieval/context
    * preparation that t21's fixed token windows can't provide when
    * chunks must not cut a sentence mid-way. The packing rule is
    * chunk_id = (tokens before this sentence) div cap: deterministic
    * integer arithmetic, so chunk membership, counts, and the joined
    * chunk text are engine-identical (a chunk may exceed cap by at
    * most one sentence — the documented soft-cap semantics; a hard cap
    * would have to split sentences, which defeats the operator).
    *
    * Scale posture: one scan; the per-doc window for the running token
    * total and the chunk-group aggregate both shuffle on doc_id only.
    * Chunk text is rebuilt with sort_array over (sidx, sentence)
    * structs — collect_list order is NOT deterministic under shuffle,
    * the sort is what makes the output stable.
    */
  def sentenceChunks(s: SparkSession, dir: String, cap: Int = 48): DataFrame =
    sentenceChunksFrom(Tables.documents(s, dir), cap)

  /** The two-relation form for spec-planted corpora. */
  private[graft] def sentenceChunksFrom(docs: DataFrame,
      cap: Int = 48): DataFrame = {
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("sidx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), posexplode(split(col("text"), "[.!?]+")))
      .select(col("doc_id"), col("pos").as("sidx"), trim(col("col")).as("sent"))
      .select(col("doc_id"), col("sidx"), col("sent"),
        size(tokens(col("sent"))).as("ntok"))
      .filter(col("ntok") > 0)
      .withColumn("cum",
        coalesce(sum(col("ntok")).over(wCum), lit(0L)))
      .withColumn("chunk_id", expr(s"cum div ${cap}").cast("int"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).cast("int").as("n_sentences"),
        sum(col("ntok")).as("n_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("sidx"), col("sent")))),
          x => x.getField("sent")), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** t26 — readability scoring: Flesch reading ease and Flesch–Kincaid
    * grade per document, the classic curation signal next to t3's
    * heuristic quality score (too-hard and too-degenerate documents
    * both hurt a pretraining mix).
    *
    * The three counts are deterministic integer features — words
    * (whitespace tokens), sentences (runs of [.!?], floored at 1),
    * syllables (per-word vowel-group count [aeiouy]+, floored at 1 per
    * word — the standard heuristic when no pronunciation dictionary is
    * in play) — and each formula is then a single double expression
    * over those integers, so results are engine-identical with no
    * aggregation-order hazard.
    *
    * Scale posture: one shuffle-free codegen'd scan; the per-word
    * syllable fold is a HOF over the materialized token array (NOT a
    * re-tokenizing lambda — the shinglesFromTokens gotcha).
    */
  def readability(s: SparkSession, dir: String): DataFrame =
    readabilityFrom(Tables.documents(s, dir))

  /** The two-relation form for spec-planted corpora. */
  private[graft] def readabilityFrom(docs: DataFrame): DataFrame = {
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_words"),
        greatest(lit(1), regexp_count(col("text"), lit("[.!?]+")))
          .as("n_sentences"),
        aggregate(
          transform(col("toks"),
            t => greatest(lit(1), regexp_count(t, lit("[aeiouy]+")))),
          lit(0L), (a, x) => a + x).as("n_syllables"))
      .filter(col("n_words") >= 1)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch"),
        (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  /** t28 — collocation mining by LIFT: the corpus's top adjacent word
    * pairs ranked by lift(a,b) = N·c(a,b) / (c(a)·c(b)) — the
    * association-strength statistic behind phrase detection
    * (word2vec-style phrase merging, "new york" → "new_york") and the
    * multiplicative core of PMI (PMI = ln lift). Lift over PMI is a
    * deliberate exactness choice: every count is a bigint, N·c₂ and
    * cₐ·c_b are exactly representable doubles (< 2⁵³ at any corpus
    * this side of 10¹⁵ pairs per shard), so the single closing
    * division is IEEE-identical across engines and the oracle is a
    * full hash gate with no transcendental in sight. `minCount`
    * suppresses the classic lift pathology (two hapaxes that co-occur
    * once score N) — the same floor word2vec's phrase pass applies.
    *
    * Scale posture: t16's data flow minus the per-document re-scan —
    * ONE tokenize pass feeds the unigram aggregate, the pair
    * aggregate, and the 1-row total (cached token arrays, d11's
    * lifecycle contract); both aggregates shuffle with map-side
    * combine; the two vocabulary joins move vocab-sized relations
    * (broadcastable by Heaps' law); the final top-k is
    * TakeOrderedAndProject, never a sort of the pair vocabulary.
    */
  def collocations(s: SparkSession, dir: String,
      minCount: Int = 5, topK: Int = 30): DataFrame =
    collocationsFrom(Tables.documents(s, dir), minCount, topK)

  /** The two-relation form for spec-planted corpora. */
  private[graft] def collocationsFrom(docs: DataFrame,
      minCount: Int = 5, topK: Int = 30): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .cache()
    val toks = d.select(explode(col("toks")).as("t"))
    // NEGATIVE RESULT (r16, the s4 protocol): the bigramMoments
    // consolidation (cache cnt, derive tot = Σc) was implemented here
    // too and A/B-measured TWICE at min-of-6: 1.05 → 1.20 s and
    // 1.10 → 1.18 s — unlike t16, the joins below move the SMALL bcnt
    // relation (not the corpus stream), so the saved explode passes
    // are worth less than the cache materialization at sf0.1.
    // REVERTED; the uncached form stays.
    val cnt = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val tot = toks.agg(count(lit(1)).as("n"))
    val pairs = d
      .select(col("toks"),
        explode(when(size(col("toks")) >= 2,
          sequence(lit(1), size(col("toks")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(element_at(col("toks"), col("i")).as("wa"),
        element_at(col("toks"), col("i") + 1).as("wb"))
    val bcnt = pairs.groupBy(col("wa"), col("wb"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    bcnt
      .join(cnt.select(col("t").as("wa"), col("c").as("ca")), "wa")
      .join(cnt.select(col("t").as("wb"), col("c").as("cb")), "wb")
      .crossJoin(broadcast(tot))
      .select(col("wa"), col("wb"), col("n_pair"),
        ((col("n") * col("n_pair")).cast("double") /
          (col("ca") * col("cb")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("wa"), col("wb"))
      .limit(topK)
  }

  /** t29 — BPE merge learning (Sennrich et al. 2016): the first `steps`
    * byte-pair-encoding merges over the corpus, each row one learned
    * merge (step, left_sym, right_sym, pair_count). THE tokenizer-
    * training primitive of an LLM data pipeline — t22/t23 consume a
    * vocabulary; this is the op that builds one.
    *
    * Exactness contract: counts are integers, the argmax tie-breaks on
    * (count desc, left, right), and the greedy within-word merge is a
    * single `replace` over a delimiter-wrapped symbol string — every
    * symbol spelled u0001+sym+u0002, so the merge pattern
    * u0001+l+u0002+u0001+r+u0002 matches exactly at symbol boundaries
    * (markers delimit BOTH sides of every symbol, so consecutive
    * matches never share a character)
    * and non-overlapping left-to-right replacement (the same scan rule
    * in Java and DuckDB, prototype-verified on consecutive runs:
    * "aaaa" + merge(a,a) → "aa aa") IS the BPE merge rule. No floats
    * anywhere → full hash oracle, unrolled CTE per step.
    *
    * Scale posture: the corpus is tokenized ONCE into a (word, count)
    * relation — the working set for every iteration is vocabulary-
    * sized (Heaps' law: ≪ corpus), not corpus-sized, which is what
    * makes BPE training tractable at 100 TB. Per step: one pair-count
    * aggregate (map-side combined) over the word relation, a
    * TakeOrdered(1) argmax, and a broadcast-1-row map-side rewrite;
    * each round is pinned with a stats-honest localCheckpoint so the
    * K-step plan/lineage stays constant-size (the d9 fixpoint lesson).
    */
  def bpeMerges(s: SparkSession, dir: String, steps: Int = 6): DataFrame =
    bpeMergesFrom(Tables.documents(s, dir), steps)

  /** The relation form for spec-planted corpora. */
  private[graft] def bpeMergesFrom(docs: DataFrame, steps: Int): DataFrame = {
    import org.apache.spark.sql.graft.Shims
    val A = "\u0001"; val B = "\u0002" // per-symbol open/close markers
    val words0 = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      // the wrap is the WrapSyms kernel (r15) — byte-identical to
      // concat(A, array_join(filter(split(w, "")), B+A), B)
      .select(wrapSyms(col("w")).as("wrapped"), col("cnt"))
    var words = words0.persist()
    val nWords = words.count()
    val wordBytes = math.max(64L, nWords * 64L)
    var merges: Seq[DataFrame] = Nil
    for (k <- 1 to steps) {
      val pairs = words
        .select(col("cnt"), split(
          expr("substring(wrapped, 2, length(wrapped) - 2)"), B + A)
          .as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
      val top = pairs.orderBy(col("pc").desc, col("l"), col("r")).limit(1)
        .persist() // two consumers: the merge row and the rewrite join
      merges :+= top.select(lit(k).as("step"), col("l").as("left_sym"),
        col("r").as("right_sym"), col("pc").as("pair_count"))
      // the rewrite is a broadcast of ONE row onto a map-side replace;
      // the checkpoint truncates lineage so step k+1's plan does not
      // re-reference every prior round (2^k growth otherwise)
      words = Shims.localCheckpointWithStats(
        words.crossJoin(broadcast(
          top.select(col("l").as("ml"), col("r").as("mr"))))
          .select(replace(col("wrapped"),
            concat(lit(A), col("ml"), lit(B + A), col("mr"), lit(B)),
            concat(lit(A), col("ml"), col("mr"), lit(B))).as("wrapped"),
          col("cnt")),
        wordBytes)
    }
    merges.reduce(_ unionAll _).orderBy(col("step"))
  }

  /** t35 — BPE ENCODE: apply the merge table t29 LEARNS to every
    * document, closing the tokenizer loop (learn → encode) the way a
    * real pipeline runs it — t29 is the training job, this is the
    * corpus-wide application pass. Each document's words are wrapped
    * in the same per-symbol markers, the `steps` learned merges
    * replay IN LEARNED ORDER (each a broadcast-1-row map-side
    * replace — the exact rewrite the learner itself applies between
    * rounds, so learn-time and encode-time segmentation agree by
    * construction), and the output is per-doc wordpiece accounting:
    * words, characters, pieces after merging, and the
    * chars-per-piece compression ratio a tokenizer report tracks.
    *
    * Exactness: all counts are exact integers; compression is ONE
    * divide of two exact sums (ratio-of-sums, the t16 convention).
    * The oracle unrolls the same learning CTEs as t29's and then
    * replays the application per doc-word — full hash oracle.
    *
    * Scale posture: learning is t29 (vocab-sized rounds); encoding
    * is `steps` chained map-side replaces over the doc-word stream —
    * shuffle-free until the final per-doc aggregate (map-side
    * combined). The merge rows ride broadcasts; nothing collects.
    */
  def bpeEncode(s: SparkSession, dir: String, steps: Int = 6): DataFrame =
    bpeEncodeFrom(Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(graft.Tables.spread(_, col("doc_id"))), steps)

  /** The relation form for spec-planted corpora ((doc_id, text)). */
  private[graft] def bpeEncodeFrom(docs: DataFrame, steps: Int): DataFrame = {
    val A = "\u0001"; val B = "\u0002" // t29's open/close markers
    val merges = bpeMergesFrom(docs, steps).persist()
    // The learned merge table is `steps` rows (bounded by the
    // argument - the topK-collect class), already materialized
    // eagerly by the learner's per-step checkpoints. Collecting it
    // once and inlining each (l, r) as LITERALS in the replace chain
    // removes `steps` BroadcastExchange builds + crossJoins from the
    // encode plan (r16, guide §2.4): the replay becomes one
    // straight-line codegen'd projection. Values are identical by
    // construction (the same rows rode the broadcasts; order = step).
    val learned = merges
      .select(col("step").cast("int"), col("left_sym"), col("right_sym"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    var cur = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), length(col("w")).as("n_chars"),
        wrapSyms(col("w")).as("wrapped")) // the t29 kernel wrap (r15)
    // a degenerate corpus can exhaust pairs before `steps` merges
    // exist; the broadcast form's crossJoin with the then-EMPTY
    // 1-row relation emptied the output - replicate that contract
    if (learned.length < steps) cur = cur.filter(lit(false))
    for ((ml, mr) <- learned) {
      cur = cur.select(col("doc_id"), col("n_chars"),
        replace(col("wrapped"),
          concat(lit(A), lit(ml), lit(B + A), lit(mr), lit(B)),
          concat(lit(A), lit(ml), lit(mr), lit(B))).as("wrapped"))
    }
    cur
      // pieces = (#occurrences of the B+A separator) + 1: split with
      // limit -1 keeps empties, so its size is ALWAYS separator
      // count + 1, and every B+A occurrence lies strictly inside the
      // stripped substring (wrapped starts with A and ends with B) —
      // counting via length-minus-replace is value-identical and
      // avoids a regex split + array materialization per word (r15)
      .select(col("doc_id"), col("n_chars"),
        (shiftright(length(col("wrapped")) -
          length(replace(col("wrapped"), lit(B + A), lit(""))), 1) +
          lit(1)).as("pieces"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_chars")).as("n_chars"),
        sum(col("pieces")).as("n_pieces"))
      .withColumn("compression",
        col("n_chars").cast("double") / col("n_pieces").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** t30 — token-budget report per language: document/word/wordpiece
    * mass, tokenizer FERTILITY (wordpieces per word — the tokenizer-
    * efficiency number multilingual pipelines track per language,
    * since a high-fertility language burns sequence budget faster),
    * and packing efficiency at a fixed sequence length: sequences
    * needed when each document packs alone (per-doc ceil) vs. the
    * contiguous ideal, and the padding fraction the gap implies —
    * t12 packs sequences; this reports what the packing will cost
    * BEFORE the run, per language.
    *
    * Exactness contract: every mass is a bigint sum; ceils are integer
    * arithmetic ((x + L−1) div L); fertility and padding are single
    * divisions of exactly-representable integers — IEEE-identical on
    * both engines, full hash oracle. Languages whose scoreable mass is
    * zero report NULL ratios rather than ±Inf (the dirty-corpus
    * contract).
    *
    * Scale posture: one scan, one language-keyed aggregate with
    * map-side combine; no joins, no windows, nothing corpus-sized
    * after the aggregate.
    */
  /** t31 — hashed-n-gram linear classifier inference (the fastText
    * shape: Joulin et al. 2016, the filter family behind CCNet/GPT-3
    * style "model-based quality" gates): every token feature-hashes
    * into a fixed `dims`-bucket space, each bucket carries a baked
    * integer weight (millis), and the doc's logit is the weight sum —
    * linear-model inference expressed as a pure projection, no UDF, no
    * model server. Here the weight table is a deterministic hash of
    * the bucket index (a stand-in with the exact compute shape of
    * trained weights — a real deployment swaps in a broadcast lookup
    * table and nothing else changes); both engines derive the same
    * weights by construction, so the gate is a full hash oracle.
    *
    * FP discipline (the q58 lesson, applied up front): weights are
    * INTEGER millis and the logit is an exact BIGINT sum — no
    * merge-order drift, no exp/sigmoid (libm exp differs across
    * engines in the last ulp; the DECISION `logit > 0` and the one
    * presentation division are the only consumers and both are
    * engine-identical). mean_logit is one bigint/bigint IEEE divide.
    *
    * Scale posture: shuffle-free codegen scan — tokenize, fold, project;
    * the only wide op is the presentation sort. At 100 TB this is the
    * cheapest operator class in the engine (t1's class); with a real
    * weight table the lookup is one broadcast join against a
    * `dims`-row relation.
    */
  def classifierFilter(s: SparkSession, dir: String,
      dims: Int = 4096): DataFrame =
    Tables.documents(s, dir)
      // two-phase projection (the shinglesFromTokens rule): toks
      // materializes BEFORE the fold so the lambda doesn't re-tokenize;
      // null text normalizes to the empty list (n_tokens 0, logit 0 —
      // mirrored by the oracle's coalesce) so the keep decision is a
      // real boolean on every row, not a null
      .select(col("doc_id"),
        coalesce(tokens(col("text")), array()).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) =>
          acc + (pmod(hash64(concat(lit("cfw_"),
            pmod(hash64(concat(lit("cf_"), t)), lit(dims.toLong))
              .cast("string"))), lit(2001L)) - lit(1000L)))
          .as("logit_milli"))
      .select(col("doc_id"), col("n_tokens"), col("logit_milli"),
        when(col("n_tokens") > 0, col("logit_milli").cast("double")
          / (lit(1000.0) * col("n_tokens").cast("double")))
          .as("mean_logit"),
        (col("logit_milli") > 0).as("keep"))
      .orderBy(col("doc_id"))

  /** t32 — per-source token-distribution drift: TOTAL VARIATION
    * DISTANCE of each source's unigram distribution against the
    * corpus distribution — the distribution-level mixture monitor
    * (t9 tracks count shares; this detects a source whose VOLUME is
    * stable but whose CONTENT drifted). TVD = 0.5·Σ|p−q| is
    * symmetric, bounded by 1, defined at disjoint supports, and —
    * the reason it is the REGISTERED statistic — transcendental-free:
    * r12's driver gate proved that JVM `Math.log` and DuckDB's libm
    * disagree in the last ulp on identical args (max 8.7e-19 here),
    * so any ln-bearing column fails a bit-exact hash even with a
    * pinned fold order. TVD's terms are one subtract and one abs of
    * two correctly-rounded IEEE divides — bit-identical across
    * engines (the t28 lift-over-PMI convention). The JSD variant
    * survives as [[mixtureDriftJsd]], epsilon-gated in spec.
    *
    * Exactness scheme: probabilities are single divides of exact
    * counts; the per-source SUM folds over the token-sorted list
    * (q61's order-fixing trick), so no aggregation-order drift
    * exists. Tokens ABSENT from a source contribute |0 − q| = q
    * each, which telescopes to 0.5·(1 − Σ_present q) — a closed form
    * over the PRESENT tokens only. That identity is also the scale
    * story: nothing ever iterates the (source × vocab) matrix — only
    * observed (source, token) pairs flow.
    *
    * Scale posture: one explode + one (source, token) aggregate (the
    * t6/t15 shape); the corpus-marginal join keys on token; the fold
    * list holds one entry per DISTINCT token of the source — vocab-
    * sized, not corpus-sized.
    */
  def mixtureDrift(s: SparkSession, dir: String): DataFrame =
    mixtureTerms(s, dir)(
      xs => (lit(0.5) * aggregate(xs, lit(0.0), (a, x) => a + x.getField("term"))
        + lit(0.5) * (lit(1.0) -
          aggregate(xs, lit(0.0), (a, x) => a + x.getField("q"))))
        .as("tvd"),
      abs(col("p") - col("q")))

  /** t32's JSD companion: identical pipeline, Jensen–Shannon term.
    * NOT hash-gated (ln ulp drift across engines — see
    * [[mixtureDrift]]); TextAnalysisSpec gates it at 1e-12 against a
    * driver-side recompute. Absent-token mass: 0.5·q·ln2 each (m =
    * q/2 when p = 0) telescoping to 0.5·ln2·(1 − Σ_present q).
    */
  def mixtureDriftJsd(s: SparkSession, dir: String): DataFrame = {
    val halfLn2 = 0.34657359027997264 // 0.5 * ln 2, pinned literal
    mixtureTerms(s, dir)(
      xs => (aggregate(xs, lit(0.0), (a, x) => a + x.getField("term"))
        + lit(halfLn2) * (lit(1.0) -
          aggregate(xs, lit(0.0), (a, x) => a + x.getField("q"))))
        .as("jsd"),
      lit(0.5) * col("p") * log(col("p") / col("m"))
        + lit(0.5) * col("q") * log(col("q") / col("m")))
  }

  /** Shared t32 dataflow: (source, token) counts joined to the corpus
    * marginal, per-token `termExpr` over (p, q, m) columns, then the
    * token-sorted fold closed by `close` over the present-token list.
    */
  private def mixtureTerms(s: SparkSession, dir: String)(
      close: Column => Column, termExpr: Column): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
    val cst = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st")).cache()
    val ns = cst.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val ct = cst.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val tot = ct.agg(sum(col("c_t")).as("n_tot"))
    val terms = cst
      .join(ct, "token")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .withColumn("p", col("c_st").cast("double") / col("n_s").cast("double"))
      .withColumn("q", col("c_t").cast("double") / col("n_tot").cast("double"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .withColumn("term", termExpr)
    terms.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        sort_array(collect_list(struct(col("token"), col("term"), col("q"))))
          .as("xs"))
      .select(col("source"), col("n_tokens"),
        size(col("xs")).as("vocab_source"),
        close(col("xs")))
      .orderBy(col("source"))
  }

  def tokenBudgetReport(s: SparkSession, dir: String,
      seqLen: Int = 512): DataFrame = {
    val L = lit(seqLen.toLong)
    Tables.documents(s, dir)
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("nw"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).cast("long").as("np"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("np")).as("n_wordpieces"),
        sum(expr(s"(np + ${seqLen - 1}) div $seqLen")).as("n_seqs_doc_packed"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_wordpieces"),
        when(col("n_words") > 0, col("n_wordpieces").cast("double")
          / col("n_words").cast("double")).as("fertility"),
        col("n_seqs_doc_packed"),
        expr(s"(n_wordpieces + ${seqLen - 1}) div $seqLen").as("n_seqs_ideal"),
        when(col("n_seqs_doc_packed") > 0,
          (col("n_seqs_doc_packed") * L - col("n_wordpieces")).cast("double")
            / (col("n_seqs_doc_packed") * L).cast("double"))
          .as("padding_frac"))
      .orderBy(col("lang"))
  }

  /** t33 — duplicate word-3-gram fraction, the Gopher-style REPETITION
    * quality signal (Rae et al. 2021 §A1.1 use duplicate n-gram
    * fractions to drop loops/boilerplate; the reference has no text
    * surface at all): per document, the fraction of its word 3-grams
    * that are repeats of an earlier one. Shuffle-free — one projection
    * with HOFs (split → transform/sequence → array_distinct), codegen
    * end to end; at 100 TB this is a pure map over the corpus scan.
    *
    * Exactness: counts are integers (size / array_distinct on exact
    * string 3-grams — no hashing, unlike the MinHash shingle path) and
    * the fraction is ONE double division of two small ints — IEEE-
    * identical on both engines. Widths pinned to BIGINT (DuckDB len()
    * is BIGINT, Spark size() is INT).
    */
  def dupNgramFraction(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        expr("transform(sequence(0, size(ws) - 3), " +
          "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))").as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("bigint").as("n_ngrams"),
        (size(col("gs")) - size(array_distinct(col("gs"))))
          .cast("bigint").as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_ngrams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** t34 — RAKE keyword extraction (Rose et al. 2010, whitespace
    * variant): candidate phrases are the maximal stopword-free token
    * runs of each document; a word scores `degree/frequency` within
    * its document (degree = Σ phrase-length over the word's phrase
    * occurrences — co-occurrence favors words living in long
    * phrases); a phrase scores the sum of its member-word scores; the
    * top `k` phrases per document are the keywords. The zero-model
    * keyphrase extractor every corpus-triage pipeline wants next to
    * t6's corpus-level tf-idf (RAKE is per-document: no IDF table, no
    * second scan).
    *
    * Exactness scheme: degree and frequency are exact ints; each word
    * score is ONE double divide (correctly-rounded, engine-identical);
    * the phrase score folds those doubles IN PHRASE ORDER on both
    * engines (aggregate-over-sorted-list here, list_reduce over a
    * pos-ordered list in the oracle — the q61 order-fixing trick), so
    * no aggregation-order drift exists. Ranking ties break on the
    * phrase string.
    *
    * Scale posture: one posexplode + a per-doc running-count window
    * (partitioned by doc — bounded by document length, never global),
    * two grouped aggregates on (doc, word) / (doc, phrase) keys, and
    * the top-k is the WindowGroupLimit partial-rank scan. Everything
    * keys on doc_id first — co-partitioned, skew-free (documents are
    * length-capped upstream by t8/d12-style gates).
    */
  def rakeKeywords(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val stops = stopwordLists.head._2 // the en list, shared with t2/t3
    val stopSet = array(stops.map(lit): _*)
    // (doc, pos, word, phrase_id): phrase id = running stopword count
    val pos = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("st", array_contains(stopSet, col("w")))
      .withColumn("phrase_id", sum(when(col("st"), 1).otherwise(0)).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(!col("st"))
      .select(col("doc_id"), col("phrase_id"), col("pos"), col("w"))
    val withLen = pos.withColumn("plen",
      count(lit(1)).over(Window.partitionBy(col("doc_id"), col("phrase_id"))))
    val wordScore = withLen.groupBy(col("doc_id"), col("w"))
      .agg((sum(col("plen")).cast("double") /
        count(lit(1)).cast("double")).as("score"))
    val phrases = pos.join(wordScore, Seq("doc_id", "w"))
      .groupBy(col("doc_id"), col("phrase_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("w"), col("score"))))
        .as("ws"))
      .select(col("doc_id"),
        concat_ws(" ", expr("transform(ws, x -> x.w)")).as("phrase"),
        aggregate(col("ws"), lit(0.0), (acc, x) =>
          acc + x.getField("score")).as("phrase_score"))
      // identical phrases in one doc: keep one (RAKE scores the TYPE,
      // not the occurrence; both engines see the same max — the score
      // is a function of the phrase's words, identical per copy)
      .groupBy(col("doc_id"), col("phrase"))
      .agg(max(col("phrase_score")).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("phrase"))
    phrases.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("phrase"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }
}

/** The registered queries that call [[TextAnalysis]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object TextAnalysisQueries {
  import TextAnalysis._

  def queries: Seq[QueryDef] = Seq(
    // Gopher repetition signal: per-doc duplicate word-3-gram fraction
    QueryDef("t33_dup_ngrams", dupNgramFraction(_, _),
      // t33: exact string 3-grams (no hashing), integer counts, ONE
      // double division; 1-based DuckDB list indexing vs 0-based Spark.
      Sql("""WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |     for i in range(1, len(ws) - 1)] AS gs
        |  FROM w WHERE len(ws) >= 3)
        |SELECT doc_id, len(gs) AS n_ngrams,
        |  len(gs) - len(list_distinct(gs)) AS n_dup,
        |  CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE)
        |    / CAST(len(gs) AS DOUBLE) AS dup_frac
        |FROM g ORDER BY doc_id""")),

    QueryDef("t1_token_stats", tokenStats(_, _),
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS INT) AS n_wordpieces,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mean_token_len
        |FROM t ORDER BY doc_id""")),

    QueryDef("t2_lang_id", langId(_, _),
      Sql("""WITH t AS (SELECT doc_id, lang AS labeled_lang,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, labeled_lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS INT) AS hits_en,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS INT) AS hits_de,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','es','un'))) AS INT) AS hits_es,
        |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','est','une'))) AS INT) AS hits_fr,
        |  CAST(len(list_filter(toks, x -> x IN ('的','是','了','在','和'))) AS INT) AS hits_zh
        |  FROM t)
        |SELECT doc_id, labeled_lang,
        |  CASE
        |    WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        |    WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
        |    WHEN hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        |    WHEN hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
        |    ELSE 'zh' END AS predicted_lang,
        |  hits_en, hits_de, hits_es, hits_fr, hits_zh
        |FROM h ORDER BY doc_id""")),

    QueryDef("t3_quality", qualityScore(_, _),
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(len(toks) AS DOUBLE) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text) AS punct_ratio,
        |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / length(text) AS upper_ratio,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks) AS stopword_ratio,
        |  0.5 * (CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks))
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
        |   + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality_score
        |FROM t ORDER BY doc_id""")),

    QueryDef("t4_fingerprint", fingerprints(_, _),
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
        |  CAST('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15) AS BIGINT) AS fp_hash64,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(toks, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 2147483647)),
        |    (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fp_rolling
        |FROM t ORDER BY doc_id""")),

    QueryDef("t5_repetition", repetition(_, _),
      Sql("""WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) >= 2
        |    THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
        |    ELSE [] END AS g2
        |  FROM t),
        |base AS (SELECT doc_id,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
        |    g2,
        |    CAST(len(g2) AS INT) AS n_2grams,
        |    CAST(len(list_distinct(g2)) AS INT) AS n_distinct_2grams
        |  FROM g),
        |top AS (SELECT doc_id, max(c) AS top_2gram_count FROM (
        |    SELECT doc_id, gr, count(*) AS c
        |    FROM (SELECT doc_id, unnest(g2) AS gr FROM base)
        |    GROUP BY doc_id, gr)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, n_tokens,
        |  1.0 - CAST(n_distinct_tokens AS DOUBLE) / nullif(n_tokens, 0) AS dup_token_ratio,
        |  n_2grams,
        |  1.0 - CAST(n_distinct_2grams AS DOUBLE) / nullif(n_2grams, 0) AS dup_2gram_ratio,
        |  top_2gram_count,
        |  CAST(top_2gram_count AS DOUBLE) / nullif(n_2grams, 0) AS top_2gram_frac
        |FROM base b LEFT JOIN top USING (doc_id)
        |ORDER BY doc_id""")),

    // r13 verdict #1: registered form is the rational-idf companion
    // (exact arithmetic, full hash oracle); ln idf drifts in the last ulp
    QueryDef("t6_tfidf", tfidfTopKLin(_, _),
      // t6 (rational-idf registered form): tfidf_lin is one double
      // divide of two exact bigint products — bit-identical; the exact
      // integer evidence columns hash trivially.
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |tfw AS (SELECT *,
        |    count(*) OVER (PARTITION BY term) AS dfr,
        |    sum(cnt) OVER (PARTITION BY doc_id) AS n_tok
        |  FROM tf),
        |n AS (SELECT count(*) AS nd FROM documents),
        |scored AS (SELECT doc_id, term, cnt, dfr, n_tok, nd,
        |    CAST(cnt * nd AS DOUBLE) / CAST(n_tok * dfr AS DOUBLE)
        |      AS tfidf_lin
        |  FROM tfw CROSS JOIN n),
        |rk AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf_lin DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(dfr AS BIGINT) AS dfr, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(nd AS BIGINT) AS nd, tfidf_lin FROM rk
        |WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // Corpus n-gram statistics: top-k bigrams per language
    QueryDef("t7_bigram_topk", bigramTopK(_, _),
      // Bigram counts are fully deterministic (non-distinct grams, count
      // tie broken on the bigram text), so the top-k mirrors exactly.
      Sql("""WITH toks AS (SELECT lang,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |bg AS (SELECT lang, unnest(CASE WHEN len(w) >= 2
        |    THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |    ELSE [] END) AS bigram
        |  FROM toks),
        |cnt AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |rk AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY cnt DESC, bigram) AS INT) AS rank
        |  FROM cnt)
        |SELECT lang, rank, bigram, cnt FROM rk WHERE rank <= 5
        |ORDER BY lang, rank""")),

    // Per-language median quality gate (keep the top half per stratum)
    QueryDef("t8_quality_filter", qualityFilter(_, _),
      // Score formula identical to the hash-green t3 oracle (both sides
      // share qualityExpr on the Spark side); Spark exact `percentile`
      // interpolates the same way DuckDB quantile_cont does, and the
      // strict > gate excludes exact-median rows in both engines.
      Sql("""WITH t AS (SELECT doc_id, lang, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |scored AS (SELECT doc_id, lang,
        |  0.5 * (CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) / len(toks))
        |   + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text))
        |   + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality_score
        |  FROM t),
        |med AS (SELECT lang, quantile_cont(quality_score, 0.5) AS lang_median
        |  FROM scored GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.quality_score, m.lang_median
        |FROM scored s JOIN med m USING (lang)
        |WHERE s.quality_score > m.lang_median
        |ORDER BY s.doc_id""")),

    // Corpus mix table: per-(lang, source) doc/token/char mass + share
    QueryDef("t9_mix_stats", mixStats(_, _),
      // DuckDB sum(BIGINT) widens to HUGEINT — cast back so the schema
      // compare sees int64 on both sides.
      Sql("""WITH per AS (SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY lang, source)
        |SELECT lang, source, n_docs, n_tokens, n_chars,
        |  CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM per) AS token_share
        |FROM per ORDER BY lang, source""")),

    // Unigram-LM quality proxy, registered as the EXACT arithmetic-mean
    // probability companion (r13 verdict #1); -ln form is spec-gated
    QueryDef("t10_unigram_logprob", unigramMeanProb(_, _),
      // t10 (exact registered form): the sums are exact integers and
      // mean_token_prob is one double divide — bit-identical.
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |tot AS (SELECT count(*) AS n,
        |    (SELECT count(*) FROM cnt) AS v FROM toks)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  CAST(sum(c + 1) AS BIGINT) AS sum_cp1,
        |  CAST(sum(c + 1) AS DOUBLE) / CAST(count(*) * (n + v) AS DOUBLE)
        |    AS mean_token_prob
        |FROM toks JOIN cnt USING (t) CROSS JOIN tot
        |GROUP BY doc_id, n, v ORDER BY doc_id""")),

    // PII scrub: email/IPv4/phone -> typed placeholders, per-class counts
    QueryDef("t11_pii_redact", piiRedact(_, _),
      // t11: the raw column is derived identically on both engines so the
      // oracle checks Java-regex-vs-RE2 agreement on real matches; the
      // patterns stay inside the two dialects' intersection.
      Sql("""WITH raw AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com from 10.0.'
        |      || (doc_id % 256) || '.7 call +1 415 555 0' || (doc_id % 100)
        |      AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(raw,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d ]{6,}\d')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d ]{6,}\d', '<PHONE>', 'g') AS redacted
        |FROM raw ORDER BY doc_id""")),

    // Token-budget sequence packing: per-shard cumulative-count bins
    QueryDef("t12_sequence_pack", sequencePack(_, _),
      Sql("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, CAST(shard AS INT) AS shard, CAST(n_tok AS INT) AS n_tok,
        |  CAST(floor((cum - n_tok) / 256) AS INT) AS bin,
        |  CAST((cum - n_tok) % 256 AS INT) AS bin_offset
        |FROM c ORDER BY doc_id""")),

    // Gopher-rule bundle: fixed-threshold prose filters + keep verdict
    QueryDef("t13_gopher_quality", gopherQuality(_, _),
      // t13: every count is length-difference or list arithmetic (no
      // regex alternation, whose overlapping-match semantics differ by
      // engine); DuckDB's divide-by-zero -> NULL matches try_divide.
      Sql("""WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
        |  string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_words,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |    / len(toks) AS mean_word_len,
        |  ((length(text) - length(replace(text, '#', '')))
        |    + (length(text) - length(replace(text, '...', ''))) / 3)
        |    / len(toks) AS symbol_ratio,
        |  CAST(len(list_filter(lines, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
        |    / len(lines) AS bullet_frac,
        |  CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS DOUBLE)
        |    / len(lines) AS ellipsis_frac,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |    / len(toks) AS alpha_frac,
        |  CAST(len(list_filter(['the','a','and','of','to','in','is'],
        |    w -> list_contains(toks, w))) AS INT) AS stop_kinds
        |  FROM t)
        |SELECT *, COALESCE(
        |  n_words >= 50 AND n_words <= 100000
        |  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |  AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |  AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |  AND stop_kinds >= 2, FALSE) AS keep
        |FROM m ORDER BY doc_id""")),

    // Exact heavy hitters: Misra-Gries candidate sketch + exact recount
    QueryDef("t14_heavy_hitters", heavyHitters(_, _),
      // t14: the MG sketch only generates candidates — the registered
      // result is exactly this HAVING query (threshold n/(k+1), k=64),
      // so the oracle is plain SQL despite the custom aggregate.
      Sql("""WITH tok AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT token, count(*) AS cnt,
        |  CAST(count(*) AS DOUBLE) / (SELECT n FROM tot) AS share
        |FROM tok GROUP BY token
        |HAVING count(*) * 65 > (SELECT n FROM tot)
        |ORDER BY cnt DESC, token""")),

    // Context-window chunking: overlapping token windows per doc
    QueryDef("t21_chunk", chunk(_, _),
      Sql("""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sz AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
        |st AS (SELECT doc_id, n, w,
        |    unnest(range(1, n + 1, 48)) AS start
        |  FROM sz)
        |SELECT doc_id, CAST((start - 1) // 48 AS INT) AS chunk_idx,
        |  CAST(start AS INT) AS start_tok,
        |  CAST(least(64, n - start + 1) AS INT) AS n_tok,
        |  array_to_string(w[start : least(start + 63, n)], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_idx""")),

    // Vocabulary OOV rate vs the corpus top-k vocab (tokenizer coverage)
    QueryDef("t22_vocab_oov", vocabOov(_, _),
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |vocab AS (SELECT t FROM (
        |    SELECT t, count(*) AS cnt FROM toks GROUP BY t)
        |  ORDER BY cnt DESC, t LIMIT 512),
        |sel AS (SELECT k.doc_id, v.t AS vt
        |  FROM toks k LEFT JOIN vocab v ON k.t = v.t)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  CAST(count(*) FILTER (vt IS NULL) AS INT) AS n_oov,
        |  CAST(count(*) FILTER (vt IS NULL) AS DOUBLE) / count(*) AS oov_rate
        |FROM sel GROUP BY doc_id ORDER BY doc_id""")),

    // Token-ID encoding against the deterministic top-k vocab (the
    // training encode step), flattened to (doc_id, pos, token_id)
    QueryDef("t23_encode", encode(_, _),
      Sql("""WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |ix AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM w),
        |toks AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |    w[CAST(i AS INT)] AS t
        |  FROM ix),
        |vocab AS (SELECT t,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, t) - 1 AS INT) AS token_id
        |  FROM (SELECT t, count(*) AS cnt FROM toks GROUP BY t
        |    ORDER BY cnt DESC, t LIMIT 512))
        |SELECT k.doc_id, k.pos,
        |  CAST(coalesce(v.token_id, 512) AS INT) AS token_id
        |FROM toks k LEFT JOIN vocab v ON k.t = v.t
        |ORDER BY doc_id, pos""")),

    // Per-doc shingle novelty vs everything ingested before it (window
    // min over the hashed shingle — one shuffle, no self-join)
    QueryDef("t24_novelty", noveltyScores(_, _),
      // t24: the d2-standard shingle sets, hashed with the SAME md5
      // 60-bit rule as the Spark side (so even a hash collision cannot
      // diverge the engines), first-occurrence via a window min
      SqlFn(() => s"""${DedupQueries.shingleSets},
        |ex AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(unnest(t)), 1, 15) AS BIGINT) AS g
        |  FROM sz),
        |fd AS (SELECT doc_id, g,
        |    min(doc_id) OVER (PARTITION BY g) AS first_doc FROM ex)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
        |FROM fd GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Count-Min frequency sketch — deterministic hashes, so unlike the
    // HLL (q27) it carries a full bit-identical DuckDB oracle
    QueryDef("t25_countmin", countMin(_, _),
      // t25: the sketch is pure integer arithmetic over deterministic
      // md5-convention hashes — cells, estimates, and overcounts are
      // bit-identical across engines. Built from the (token, count)
      // aggregate on both sides (cell sums are identical either way).
      Sql("""WITH toks AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
        |rows_ AS (SELECT unnest(range(4)) AS r),
        |cells AS (SELECT r,
        |    CAST(CAST('0x' || substr(md5('cm' || r || '_' || tok), 1, 15)
        |      AS BIGINT) % 512 AS INT) AS cell,
        |    sum(n) AS cn
        |  FROM counts CROSS JOIN rows_ GROUP BY 1, 2),
        |q AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 20),
        |qc AS (SELECT tok, n, r,
        |    CAST(CAST('0x' || substr(md5('cm' || r || '_' || tok), 1, 15)
        |      AS BIGINT) % 512 AS INT) AS cell
        |  FROM q CROSS JOIN rows_)
        |SELECT qc.tok AS tok, CAST(qc.n AS BIGINT) AS exact_n,
        |  CAST(min(cn) AS BIGINT) AS cm_est,
        |  CAST(min(cn) - qc.n AS BIGINT) AS overcount
        |FROM qc JOIN cells ON qc.r = cells.r AND qc.cell = cells.cell
        |GROUP BY qc.tok, qc.n ORDER BY exact_n DESC, tok""")),

    // Flesch / Flesch–Kincaid readability: integer counts + one double
    // formula per doc — engine-identical, shuffle-free scan
    QueryDef("t26_readability", readability(_, _),
      // t26: the three counts are integers (tokens / [.!?]+ runs /
      // per-word [aeiouy]+ vowel groups, each floored at 1) and each
      // score is one double expression over them — engine-identical.
      Sql("""WITH d AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(toks) AS INT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS INT) AS n_sentences,
        |    CAST(list_sum(list_transform(toks, x ->
        |      greatest(1, len(regexp_extract_all(x, '[aeiouy]+')))))
        |      AS BIGINT) AS n_syllables
        |  FROM d WHERE len(toks) >= 1)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch,
        |  0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
        |    - 15.59 AS fk_grade
        |FROM c ORDER BY doc_id""")),

    // Sentence-aware soft-cap chunking (RAG/context prep); packing is
    // integer arithmetic so chunks + text are engine-identical
    QueryDef("t27_sentence_chunks", sentenceChunks(_, _),
      // t27: sentence split + integer soft-cap packing — chunk ids,
      // counts, and the ORDER-BY-rebuilt chunk text are all
      // engine-identical.
      Sql("""WITH parts AS (SELECT doc_id,
        |    string_split_regex(text, '[.!?]+') AS ps FROM documents),
        |s0 AS (SELECT doc_id, i AS sidx, trim(ps[i]) AS sent
        |  FROM parts, LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i)),
        |s1 AS (SELECT doc_id, sidx, sent,
        |    len(list_filter(string_split_regex(lower(sent), '\s+'),
        |      x -> x <> '')) AS ntok
        |  FROM s0),
        |s2 AS (SELECT doc_id, sidx, sent, ntok,
        |    coalesce(sum(ntok) OVER (PARTITION BY doc_id ORDER BY sidx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM s1 WHERE ntok > 0),
        |s3 AS (SELECT doc_id, sidx, sent, ntok,
        |    CAST(cum // 48 AS INT) AS chunk_id FROM s2)
        |SELECT doc_id, chunk_id,
        |  CAST(count(*) AS INT) AS n_sentences,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  string_agg(sent, ' ' ORDER BY sidx) AS chunk_text
        |FROM s3 GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""")),

    // Collocation mining by lift (phrase detection): bigint counts +
    // one exact-integer division — hash-gated, no transcendental
    QueryDef("t28_collocations", collocations(_, _),
      // t28: all counts bigint; N·c₂ and cₐ·c_b are exact doubles, the
      // one division IEEE-rounds identically — full hash gate.
      Sql("""WITH base AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT unnest(w) AS t FROM base),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |tot AS (SELECT count(*) AS n FROM toks),
        |pairs AS (SELECT
        |    unnest(w[1:len(w)-1]) AS wa, unnest(w[2:len(w)]) AS wb
        |  FROM base WHERE len(w) >= 2),
        |bcnt AS (SELECT wa, wb, count(*) AS n_pair FROM pairs
        |  GROUP BY wa, wb HAVING count(*) >= 5)
        |SELECT wa, wb, n_pair,
        |  CAST(n * n_pair AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE) AS lift
        |FROM bcnt
        |  JOIN cnt ca ON bcnt.wa = ca.t
        |  JOIN cnt cb ON bcnt.wb = cb.t
        |  CROSS JOIN tot
        |ORDER BY lift DESC, wa, wb LIMIT 30""")),

    // BPE merge learning (Sennrich 2016): the tokenizer-training
    // primitive — integer pair counts + deterministic argmax + an
    // exact boundary-wrapped replace, unrolled-CTE hash oracle
    QueryDef("t29_bpe_merges", bpeMerges(_, _),
      // t29: pure integer counts, deterministic (pc desc, l, r) argmax,
      // and the SAME boundary-wrapped replace as Spark's — unrolled CTE
      // per merge step, full hash gate.
      SqlFn(() => bpeOracle(steps = 6))),

    // BPE ENCODE: apply t29's learned merges corpus-wide (the
    // learn->encode tokenizer loop closed); per-doc piece accounting
    QueryDef("t35_bpe_encode", bpeEncode(_, _),
      SqlFn(() => bpeEncodeOracle(steps = 6))),

    // Per-language token-budget report: tokenizer fertility + packing
    // efficiency at a fixed sequence length (pre-run cost estimate)
    QueryDef("t30_token_budget", tokenBudgetReport(_, _),
      // t30: bigint masses + integer ceils; fertility and padding are
      // each ONE division of exact integers (IEEE-identical).
      Sql("""WITH d AS (SELECT lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS nw,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS np
        |  FROM documents),
        |a AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(nw) AS BIGINT) AS n_words,
        |    CAST(sum(np) AS BIGINT) AS n_wordpieces,
        |    CAST(sum((np + 511) // 512) AS BIGINT) AS n_seqs_doc_packed
        |  FROM d GROUP BY lang)
        |SELECT lang, n_docs, n_words, n_wordpieces,
        |  CASE WHEN n_words > 0
        |    THEN CAST(n_wordpieces AS DOUBLE) / CAST(n_words AS DOUBLE)
        |  END AS fertility,
        |  n_seqs_doc_packed,
        |  (n_wordpieces + 511) // 512 AS n_seqs_ideal,
        |  CASE WHEN n_seqs_doc_packed > 0
        |    THEN CAST(n_seqs_doc_packed * 512 - n_wordpieces AS DOUBLE)
        |      / CAST(n_seqs_doc_packed * 512 AS DOUBLE)
        |  END AS padding_frac
        |FROM a ORDER BY lang""")),

    // fastText-shape linear classifier inference: feature-hash +
    // integer-milli weight fold, decision and logit engine-exact
    QueryDef("t31_classifier_filter", classifierFilter(_, _),
      // t31: integer-milli weights from the shared md5 hash convention
      // (hash64 is in [0, 2^60), so plain % equals pmod); the logit is
      // an exact BIGINT sum, mean_logit ONE bigint/double divide, and
      // the keep decision a pure integer compare — nothing drifts.
      Sql("""WITH t AS (SELECT doc_id,
        |    coalesce(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''), []) AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(list_sum(list_transform(toks, x ->
        |      CAST('0x' || substr(md5('cfw_' ||
        |        CAST(CAST('0x' || substr(md5('cf_' || x), 1, 15) AS BIGINT)
        |          % 4096 AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000)),
        |      0) AS BIGINT) AS logit_milli
        |  FROM t)
        |SELECT doc_id, n_tokens, logit_milli,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(logit_milli AS DOUBLE) / (1000.0 * CAST(n_tokens AS DOUBLE))
        |  END AS mean_logit,
        |  logit_milli > 0 AS keep
        |FROM s ORDER BY doc_id""")),

    // Per-source JSD drift vs the corpus unigram distribution —
    // token-sorted folds + absent-token closed form, no vocab cross
    QueryDef("t32_mixture_drift", mixtureDrift(_, _),
      // t32: exact-count divides, transcendental-free |p−q| terms (r12:
      // ln differs in the last ulp between JVM and DuckDB libm, so the
      // hash-gated statistic is TVD; JSD lives in mixtureDriftJsd under
      // an epsilon spec), TOKEN-SORTED list_reduce folds (left fold from
      // the first element equals Spark's 0.0-seeded fold exactly since
      // 0.0 + x == x), and the absent-token mass 0.5·(1 − Σ_present q).
      Sql("""WITH toks AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS token
        |  FROM documents),
        |cst AS (SELECT source, token, count(*) AS c_st FROM toks GROUP BY 1, 2),
        |ns AS (SELECT source, sum(c_st) AS n_s FROM cst GROUP BY 1),
        |ct AS (SELECT token, sum(c_st) AS c_t FROM cst GROUP BY 1),
        |tot AS (SELECT sum(c_t) AS n_tot FROM ct),
        |pq AS (SELECT source, token,
        |    CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE) AS p,
        |    CAST(c_t AS DOUBLE) / CAST(n_tot AS DOUBLE) AS q
        |  FROM cst JOIN ct USING (token) JOIN ns USING (source)
        |  CROSS JOIN tot),
        |terms AS (SELECT source, token, q, abs(p - q) AS term FROM pq),
        |g AS (SELECT source, max(n_s) AS n_tokens,
        |    list_sort(list(struct_pack(token := token, term := term,
        |      q := q))) AS xs
        |  FROM terms JOIN ns USING (source) GROUP BY source)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(len(xs) AS INT) AS vocab_source,
        |  0.5 * list_reduce(list_transform(xs, x -> x.term), (a, b) -> a + b)
        |    + 0.5 * (1.0 -
        |      list_reduce(list_transform(xs, x -> x.q), (a, b) -> a + b))
        |    AS tvd
        |FROM g ORDER BY source""")),

    // Okapi BM25 ranking for a fixed query term set (lexical
    // retrieval), registered with the ln-free RSJ-odds idf variant
    // (r13 verdict #1); classic ln idf is spec-gated
    QueryDef("t15_bm25_rank", bm25RankLin(_, _),
      // t15: per-term BM25 contributions summed in FIXED query-term order
      // (table, scan, join) on BOTH engines — see bm25Rank's determinism
      // note; all constant arithmetic is written with the same literal
      // ops ((1.2 + 1.0), not 2.2) so the doubles are bit-identical.
      // t15 (RSJ-odds registered form): w's expression tree is written
      // with the same parenthesization as the Spark Column tree — every
      // op is a correctly-rounded IEEE basic op over deterministic
      // inputs, so the scores are bit-identical (no ln anywhere). The
      // ::DOUBLE casts on every fractional literal matter: DuckDB parses
      // bare 1.2/0.5 as DECIMAL and routes the adjacent ops through
      // decimal arithmetic — a DIFFERENT tree that landed 1 ulp off on 4
      // rows at sf0.01 (caught by the bit-exact local gate, r14).
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |tfw AS (SELECT *, sum(cnt) OVER (PARTITION BY doc_id) AS n_tok FROM tf),
        |n AS (SELECT count(*) AS nd FROM documents),
        |st AS (SELECT sum(cnt) * 1.0::DOUBLE / count(DISTINCT doc_id)
        |  AS avgdl FROM tf),
        |hits AS (SELECT *, count(*) OVER (PARTITION BY term) AS dfr
        |  FROM tfw WHERE term IN ('table', 'scan', 'join')),
        |wv AS (SELECT doc_id, term,
        |    (((nd - dfr + 0.5::DOUBLE) / (dfr + 0.5::DOUBLE))
        |      * (cnt * (1.2::DOUBLE + 1.0::DOUBLE)))
        |      / (cnt + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
        |        + 0.75::DOUBLE * n_tok / avgdl)) AS w
        |  FROM hits CROSS JOIN n CROSS JOIN st),
        |sc AS (SELECT doc_id,
        |    coalesce(sum(CASE WHEN term = 'table' THEN w END), 0.0)
        |      + coalesce(sum(CASE WHEN term = 'scan' THEN w END), 0.0)
        |      + coalesce(sum(CASE WHEN term = 'join' THEN w END), 0.0)
        |      AS bm25_lin
        |  FROM wv GROUP BY doc_id),
        |rk AS (SELECT doc_id, bm25_lin, CAST(row_number() OVER (
        |    ORDER BY bm25_lin DESC, doc_id) AS INT) AS rank FROM sc)
        |SELECT doc_id, rank, bm25_lin FROM rk WHERE rank <= 20
        |ORDER BY rank""")),

    // Bigram fluency signal, registered as the exact count-moment +
    // ratio-of-sums companion (r13 verdict #1), free of per-pair -ln
    // drift
    QueryDef("t16_bigram_logprob", bigramMoments(_, _),
      // t16 (count-moment registered form): zipped double-unnest of the
      // shifted token-list slices builds the adjacent pairs; the sums
      // are exact integers whatever the merge order, and the pooled
      // scores are the same fixed divide/multiply trees on both sides.
      Sql("""WITH base AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(w) AS t FROM base),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |tot AS (SELECT count(*) AS n,
        |    (SELECT count(*) FROM cnt) AS v FROM toks),
        |pairs AS (SELECT doc_id,
        |    unnest(w[1:len(w)-1]) AS wp, unnest(w[2:len(w)]) AS wc
        |  FROM base WHERE len(w) >= 2),
        |bcnt AS (SELECT wp, wc, count(*) AS c2 FROM pairs GROUP BY wp, wc)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
        |  CAST(sum(c2) AS BIGINT) AS sum_c2,
        |  CAST(sum(cp.c) AS BIGINT) AS sum_cp,
        |  CAST(sum(cc.c) AS BIGINT) AS sum_cc,
        |  CAST(sum(c2) AS DOUBLE) / CAST(sum(cp.c) AS DOUBLE) AS pooled_cond,
        |  CAST(sum(cc.c) + count(*) AS DOUBLE)
        |    / CAST(count(*) * (n + v) AS DOUBLE) AS pooled_backoff,
        |  0.7 * (CAST(sum(c2) AS DOUBLE) / CAST(sum(cp.c) AS DOUBLE))
        |    + 0.3 * (CAST(sum(cc.c) + count(*) AS DOUBLE)
        |      / CAST(count(*) * (n + v) AS DOUBLE)) AS pooled_interp
        |FROM pairs JOIN bcnt USING (wp, wc)
        |  JOIN cnt cp ON pairs.wp = cp.t
        |  JOIN cnt cc ON pairs.wc = cc.t
        |  CROSS JOIN tot
        |GROUP BY doc_id, n, v ORDER BY doc_id""")),

    // Zipf health check, registered as the exact rank-octave histogram
    // (r13 verdict #1), free of the ln-ln OLS fit's amplified ulp drift
    QueryDef("t17_zipf_fit", zipfOctaves(_, _),
      // t17 (octave-histogram registered form): ⌊log₂ rank⌋ via the same
      // integer CASE ladder as the Spark side — exact at power-of-two
      // boundaries where floor(ln/ln2) sits one ulp away; all outputs
      // exact integers.
      Sql("""WITH toks AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |top AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 1000),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rank
        |  FROM top),
        |oc AS (SELECT c, CAST(CASE
        |    WHEN rank < 2 THEN 0 WHEN rank < 4 THEN 1 WHEN rank < 8 THEN 2
        |    WHEN rank < 16 THEN 3 WHEN rank < 32 THEN 4 WHEN rank < 64 THEN 5
        |    WHEN rank < 128 THEN 6 WHEN rank < 256 THEN 7
        |    WHEN rank < 512 THEN 8 WHEN rank < 1024 THEN 9
        |    WHEN rank < 2048 THEN 10 WHEN rank < 4096 THEN 11
        |    ELSE 12 END AS INT) AS octave FROM rk)
        |SELECT octave, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(c) AS BIGINT) AS sum_count,
        |  CAST(min(c) AS BIGINT) AS min_count,
        |  CAST(max(c) AS BIGINT) AS max_count
        |FROM oc GROUP BY octave ORDER BY octave""")),

    // Heaps'-law growth curve: cumulative tokens vs cumulative distinct
    // vocabulary, via per-term first-bucket (no ordered scan)
    QueryDef("t18_heaps_curve", heapsCurve(_, _),
      // t18: both engines' `/` on integers is double division, but their
      // double→INT casts DIFFER — Spark truncates, DuckDB rounds — so the
      // bucket floor is explicit; the cumulative sums are the same
      // triangular self-join, no window.
      Sql("""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |toks AS (SELECT CAST(floor(doc_id * 10 / (mx + 1)) AS INT) AS bucket,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents, mx),
        |th AS (SELECT bucket, count(*) AS n_tokens FROM toks GROUP BY bucket),
        |fs AS (SELECT t, min(bucket) AS bucket FROM toks GROUP BY t),
        |vh AS (SELECT bucket, count(*) AS n_new_terms FROM fs GROUP BY bucket),
        |h AS (SELECT coalesce(th.bucket, vh.bucket) AS bucket,
        |    coalesce(n_tokens, 0) AS n_tokens,
        |    coalesce(n_new_terms, 0) AS n_new_terms
        |  FROM th FULL JOIN vh ON th.bucket = vh.bucket)
        |SELECT a.bucket, CAST(sum(b.n_tokens) AS BIGINT) AS cum_tokens,
        |  CAST(sum(b.n_new_terms) AS BIGINT) AS cum_vocab
        |FROM h a JOIN h b ON b.bucket <= a.bucket
        |GROUP BY a.bucket ORDER BY a.bucket""")),

    // CCNet-style per-language perplexity terciles (head/middle/tail)
    QueryDef("t19_ccnet_buckets", ccnetBuckets(_, _),
      // t19: t10's scoring CTE verbatim, rounded to 6 decimals on BOTH
      // sides before the tercile compare (see ccnetBuckets scaladoc);
      // quantile_cont mirrors Spark's exact linear-interpolated
      // `percentile` at position p*(n-1).
      Sql("""WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
        |tot AS (SELECT count(*) AS n,
        |    (SELECT count(*) FROM cnt) AS v FROM toks),
        |scored AS (SELECT doc_id,
        |    round(avg(-ln((c + 1.0) / (n + v))), 6) AS score
        |  FROM toks JOIN cnt USING (t) CROSS JOIN tot GROUP BY doc_id),
        |sl AS (SELECT s.doc_id, d.lang, s.score
        |  FROM scored s JOIN documents d USING (doc_id)),
        |cuts AS (SELECT lang,
        |    quantile_cont(score, CAST(1 AS DOUBLE) / 3) AS t1,
        |    quantile_cont(score, CAST(2 AS DOUBLE) / 3) AS t2
        |  FROM sl GROUP BY lang)
        |SELECT sl.doc_id, sl.lang, sl.score,
        |  CASE WHEN score <= t1 THEN 'head'
        |       WHEN score <= t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sl JOIN cuts USING (lang) ORDER BY sl.doc_id""")),

    // DSIR importance weights: per-token mean log ratio of a target-
    // slice unigram LM over the raw-corpus LM (data-selection score)
    QueryDef("t20_dsir_weights", dsirWeights(_, _),
      Sql("""WITH toks AS (SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |raw AS (SELECT t, count(*) AS cr FROM toks GROUP BY t),
        |tgt AS (SELECT t, count(*) AS ct FROM toks
        |  WHERE lang = 'en' GROUP BY t),
        |tot AS (SELECT (SELECT count(*) FROM toks) AS nr,
        |  (SELECT count(*) FROM raw) AS v,
        |  (SELECT count(*) FROM toks WHERE lang = 'en') AS nt)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  avg(ln((coalesce(ct, 0) + 1.0) / (nt + v))
        |    - ln((cr + 1.0) / (nr + v))) AS avg_log_ratio
        |FROM toks JOIN raw USING (t) LEFT JOIN tgt USING (t)
        |CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""")),

    // RAKE keyphrases: degree/frequency word scores over stopword-free
    // phrase runs, order-pinned phrase-score folds, top-3 per doc
    QueryDef("t34_rake_keywords", rakeKeywords(_, _),
      // t34: post-filter positions (the t23 ix pattern), running-stopword
      // phrase ids, integer degree/freq, ONE double divide per word, and
      // the phrase fold rides a pos-ORDERED list through list_reduce —
      // same left-assoc order as Spark's aggregate over the sorted array.
      Sql("""WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |ix AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w),
        |seg AS (SELECT doc_id, CAST(i AS INT) AS pos, ws[CAST(i AS INT)] AS t,
        |    CASE WHEN ws[CAST(i AS INT)] IN
        |      ('the', 'a', 'and', 'of', 'to', 'in', 'is')
        |      THEN 1 ELSE 0 END AS st
        |  FROM ix),
        |ph AS (SELECT doc_id, pos, t, st,
        |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS phrase_id
        |  FROM seg),
        |pw AS (SELECT doc_id, phrase_id, pos, t FROM ph WHERE st = 0),
        |plen AS (SELECT doc_id, phrase_id, pos, t,
        |    count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
        |  FROM pw),
        |wsc AS (SELECT doc_id, t,
        |    CAST(sum(plen) AS DOUBLE) / count(*) AS score
        |  FROM plen GROUP BY doc_id, t),
        |psc AS (SELECT p.doc_id, p.phrase_id,
        |    string_agg(p.t, ' ' ORDER BY p.pos) AS phrase,
        |    list_reduce(list(s.score ORDER BY p.pos), (a, b) -> a + b)
        |      AS phrase_score
        |  FROM pw p JOIN wsc s ON p.doc_id = s.doc_id AND p.t = s.t
        |  GROUP BY p.doc_id, p.phrase_id),
        |uniq AS (SELECT doc_id, phrase, max(phrase_score) AS score
        |  FROM psc GROUP BY doc_id, phrase),
        |rk AS (SELECT doc_id, phrase, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, phrase) AS rank
        |  FROM uniq)
        |SELECT doc_id, CAST(rank AS INT) AS rank, phrase, score
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""")),
  )

  /** t29's learning CTEs (t29 and t35 share them): the word-TYPE
    * relation `wc`, the boundary-wrapped `w0`, then per step k the pair
    * counts `p<k>`, the argmax merge `t<k>` and the replaced `w<k>`.
    */
  private def bpeLearnCtes(steps: Int): StringBuilder = {
    val sb = new StringBuilder
    sb ++= """WITH wc AS (SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '')) AS w FROM documents) GROUP BY w),
      |w0 AS (SELECT chr(1) || array_to_string(string_split(w, ''),
      |    chr(2) || chr(1)) || chr(2) AS wrapped, cnt FROM wc)""".stripMargin
    for (k <- 1 to steps) {
      sb ++= s""",
        |p$k AS (SELECT l, r, sum(cnt) AS pc FROM (
        |    SELECT cnt, unnest(syms[1:len(syms) - 1]) AS l,
        |      unnest(syms[2:len(syms)]) AS r
        |    FROM (SELECT cnt, string_split(
        |        substr(wrapped, 2, length(wrapped) - 2),
        |        chr(2) || chr(1)) AS syms FROM w${k - 1})
        |    WHERE len(syms) >= 2)
        |  GROUP BY l, r),
        |t$k AS (SELECT l, r, pc FROM p$k ORDER BY pc DESC, l, r LIMIT 1),
        |w$k AS (SELECT replace(w.wrapped,
        |    chr(1) || t.l || chr(2) || chr(1) || t.r || chr(2),
        |    chr(1) || t.l || t.r || chr(2)) AS wrapped, w.cnt
        |  FROM w${k - 1} w CROSS JOIN t$k t)""".stripMargin
    }
    sb
  }

  /** t29's unrolled oracle: per step k, pair counts over w{k-1}, the
    * (count desc, left, right) argmax, and the boundary-wrapped
    * replace producing w{k}. chr(1)/chr(2) mirror the Spark side's
    * u0001/u0002 symbol markers; DuckDB's replace shares Java's
    * non-overlapping left-to-right scan (prototype-verified).
    */
  private def bpeOracle(steps: Int): String = {
    val sb = bpeLearnCtes(steps)
    sb ++= (1 to steps).map(k =>
      s"""
      |SELECT $k AS step, l AS left_sym, r AS right_sym,
      |  CAST(pc AS BIGINT) AS pair_count
      |FROM t$k""".stripMargin).mkString("", " UNION ALL", "")
    sb ++= "\nORDER BY step"
    sb.toString
  }

  /** t35's oracle: t29's learning CTEs verbatim (word-TYPE relation,
    * argmax merge per step, boundary-wrapped replace), then the
    * application replayed per doc-word instance with the same
    * replaces in the same learned order; per-doc exact counts close
    * with one ratio-of-sums divide.
    */
  private def bpeEncodeOracle(steps: Int): String = {
    val sb = bpeLearnCtes(steps)
    sb ++= """,
      |dw AS (SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '')) AS w FROM documents),
      |d0 AS (SELECT doc_id, CAST(length(w) AS BIGINT) AS n_chars,
      |    chr(1) || array_to_string(string_split(w, ''),
      |      chr(2) || chr(1)) || chr(2) AS wrapped FROM dw)""".stripMargin
    for (k <- 1 to steps) {
      sb ++= s""",
        |d$k AS (SELECT doc_id, n_chars, replace(d.wrapped,
        |    chr(1) || t.l || chr(2) || chr(1) || t.r || chr(2),
        |    chr(1) || t.l || t.r || chr(2)) AS wrapped
        |  FROM d${k - 1} d CROSS JOIN t$k t)""".stripMargin
    }
    sb ++= s"""
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(sum(len(string_split(substr(wrapped, 2, length(wrapped) - 2),
      |    chr(2) || chr(1)))) AS BIGINT) AS n_pieces,
      |  CAST(sum(n_chars) AS DOUBLE)
      |    / CAST(sum(len(string_split(substr(wrapped, 2,
      |      length(wrapped) - 2), chr(2) || chr(1)))) AS DOUBLE)
      |    AS compression
      |FROM d$steps GROUP BY doc_id ORDER BY doc_id""".stripMargin
    sb.toString
  }
}
