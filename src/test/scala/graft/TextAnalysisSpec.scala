package graft

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** The approx-percentile quality gate (the 100 TB path: map-side
  * combinable sketch instead of shuffling every (lang, score) pair)
  * must agree with the exact gate. With sketch accuracy far above the
  * corpus size the rank error is < 1, so the only divergence allowed is
  * the boundary doc per language whose score IS the returned central
  * value (approx_percentile returns an actual value; exact percentile
  * interpolates the midpoint).
  */
class TextAnalysisSpec extends AnyFunSuite with BeforeAndAfterEach {
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

  test("approx quality gate diverges only inside the two-medians interval") {
    def rows(approx: Boolean) =
      TextAnalysis.qualityFilter(spark, sfDir, approx = approx)
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getDouble(3)))
        .toMap
    val exact = rows(approx = false)
    val approx = rows(approx = true)
    assert(exact.nonEmpty)
    val medExact = exact.values.map { case (l, _, m) => l -> m }.toMap
    val medApprox = approx.values.map { case (l, _, m) => l -> m }.toMap
    // a doc may flip ONLY if its score sits between the interpolated
    // exact median and the nearest-rank approx median of its language
    // (score ties at the returned value all flip together — the bound
    // is the interval, not a count)
    val symDiff = (exact.keySet diff approx.keySet) ++ (approx.keySet diff exact.keySet)
    symDiff.foreach { id =>
      val (lang, score, _) = exact.getOrElse(id, approx(id))
      val (lo, hi) = (math.min(medExact(lang), medApprox(lang)),
        math.max(medExact(lang), medApprox(lang)))
      assert(score >= lo && score <= hi,
        s"doc $id (lang $lang, score $score) flipped outside medians [$lo, $hi]")
    }
  }

  test("t11 redacts every injected email/IP/phone and nothing survives") {
    val rows = TextAnalysis.piiRedact(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, redacted) = (r.getLong(0), r.getString(4))
      assert(r.getInt(1) == 1 && r.getInt(2) == 1 && r.getInt(3) == 1,
        s"doc $id: expected exactly one match per class, got " +
          s"(${r.getInt(1)}, ${r.getInt(2)}, ${r.getInt(3)})")
      assert(redacted.contains("<EMAIL>") && redacted.contains("<IP>") &&
        redacted.contains("<PHONE>"), s"doc $id: placeholder missing")
      assert(!redacted.contains("@") && !redacted.contains("10.0.") &&
        !redacted.contains("+1 "), s"doc $id: raw PII survived: $redacted")
    }
  }

  test("t12 packing matches an independent sequential re-pack") {
    val capacity = 256
    val got = TextAnalysis.sequencePack(spark, sfDir, capacity, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
    assert(got.nonEmpty)
    // independent reference: per shard, walk docs in id order with a
    // plain running counter (the semantics a sequence-builder consumer
    // assumes), and compare every assignment
    got.groupBy(_._2).foreach { case (shard, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, nTok, bin, off) =>
        assert(bin == (cum / capacity).toInt,
          s"doc $id shard $shard: bin $bin != ${cum / capacity}")
        assert(off == (cum % capacity).toInt,
          s"doc $id shard $shard: offset $off != ${cum % capacity}")
        cum += nTok
      }
    }
    // every doc packed exactly once
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("t13 gopher rules: each planted violation trips exactly its rule") {
    import spark.implicits._
    val prose = ("the quick brown fox jumps over a lazy dog and runs " * 6).trim // 60 words, stopwords present
    val planted = Seq(
      (1L, prose),                                        // clean: keep
      (2L, "the a of short doc"),                         // < 50 words
      (3L, (1 to 60).map(_ => "the incomprehensibilities") // mean word len (3+21)/2 = 12 > 10
        .mkString(" ")),
      (4L, prose + " " + ("### ### ###" * 4)),            // symbol-heavy
      (5L, (1 to 60).map(i => s"- the bullet a line$i").mkString("\n")), // all bullet lines
      (6L, (1 to 60).map(i => s"the a line$i ...").mkString("\n")),      // all ellipsis lines
      (7L, prose.split(" ").map(w => w + " 123 456").mkString(" ")),     // digit-flooded: alpha frac low
      (8L, (1 to 60).map(i => s"w$i x$i").mkString(" "))) // no stopwords
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherQualityFrom(planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(8), "clean prose must keep")
    assert(!got(2L).getBoolean(8) && got(2L).getInt(1) < 50, "short doc drops on word count")
    assert(!got(3L).getBoolean(8) && got(3L).getDouble(2) > 10.0,
      s"long-word doc drops on mean word len ${got(3L).getDouble(2)}")
    assert(!got(4L).getBoolean(8) && got(4L).getDouble(3) > 0.1,
      s"symbol doc drops on symbol ratio ${got(4L).getDouble(3)}")
    assert(!got(5L).getBoolean(8) && got(5L).getDouble(4) > 0.9, "bullet doc drops")
    assert(!got(6L).getBoolean(8) && got(6L).getDouble(5) > 0.3, "ellipsis doc drops")
    assert(!got(7L).getBoolean(8) && got(7L).getDouble(6) < 0.8, "digit doc drops on alpha frac")
    assert(!got(8L).getBoolean(8) && got(8L).getInt(7) < 2, "stopword-free doc drops")
    // the registered sf-corpus form yields a genuine mix, not a constant
    val corpus = TextAnalysis.gopherQuality(spark, sfDir)
      .groupBy("keep").count().collect()
    assert(corpus.length == 2, s"corpus keep verdict should mix: ${corpus.mkString(",")}")
  }

  test("t14 heavy hitters: exact under adversarial churn at tiny capacity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1000 singletons churn the k=4 sketch hard; "hot" (300 of n=1400)
    // is above threshold n/5=280 and MUST survive; "warm" (100) is
    // below and must not appear in the OUTPUT even if it survives the
    // sketch — the exact recount filter decides, not the sketch.
    val rows = (1 to 1000).map(i => s"u$i") ++
      Seq.fill(300)("hot") ++ Seq.fill(100)("warm")
    val tok = rows.toDF("token").repartition(7) // force partial-sketch merges
    val got = TextAnalysis.heavyHittersFrom(tok, kCap = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq("hot"), s"got ${got.mkString(",")}")
    assert(got.head._2 == 300L && math.abs(got.head._3 - 300.0 / 1400) < 1e-12)

    // corpus form == the plain exact groupBy+HAVING it claims to equal
    val tokens = Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("token"))
    val n = tokens.count()
    val naive = tokens.groupBy("token").count()
      .filter(col("count") * 65 > n)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val corpus = TextAnalysis.heavyHitters(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(corpus.toSet == naive, s"corpus heavy hitters != exact reference")
    assert(corpus.sortBy(t => (-t._2, t._1)).sameElements(corpus),
      "output not ordered by cnt desc, token")
  }

  test("t15 bm25 matches a driver-side scalar reference") {
    val queryTerms = Seq("table", "scan", "join")
    val (k1, b) = (1.2, 0.75)
    // independent reference: collect token lists and score in plain Scala
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq))
    val nd = docs.length.toLong
    val withToks = docs.filter(_._2.nonEmpty)
    val avgdl = withToks.map(_._2.size.toLong).sum * 1.0 / withToks.length
    val df = queryTerms.map(t =>
      t -> docs.count(_._2.contains(t)).toLong).toMap
    val expected = docs.flatMap { case (id, toks) =>
      val score = queryTerms.map { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) 0.0
        else {
          val idf = math.log(1.0 + (nd - df(t) + 0.5) / (df(t) + 0.5))
          (idf * (tf * (k1 + 1.0))) /
            (tf + k1 * (1.0 - b + b * toks.size / avgdl))
        }
      }.sum
      if (queryTerms.exists(toks.contains)) Some(id -> score) else None
    }.sortBy { case (id, sc) => (-sc, id) }.take(20)
    val got = TextAnalysis.bm25Rank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.map(_._2).toSeq == (1 to got.length).toSeq, "ranks not dense")
    assert(got.map(_._1).toSeq == expected.map(_._1).toSeq,
      s"doc order mismatch: got ${got.take(5).mkString(",")} " +
        s"want ${expected.take(5).mkString(",")}")
    got.zip(expected).foreach { case ((_, _, sc), (_, ref)) =>
      assert(math.abs(sc - ref) < 1e-9, s"score $sc != $ref")
    }
  }

  test("t6 registered lin-idf form: exact integer evidence and one-divide score") {
    val rows = TextAnalysis.tfidfTopKLin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, _, t, cnt, dfr, nTok, nd, lin) =>
      assert(cnt >= 1 && dfr >= 1 && cnt <= nTok && dfr <= nd)
      // the emitted score IS the single divide of the exact products
      assert(lin == (cnt * nd).toDouble / (nTok * dfr).toDouble,
        s"doc $id term $t: score not the declared divide")
    }
    // per-doc: ranks dense, scores descending with term tiebreak
    rows.groupBy(_._1).foreach { case (id, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length).toSeq)
      sorted.sliding(2).foreach {
        case Array((_, _, ta, _, _, _, _, sa), (_, _, tb, _, _, _, _, sb)) =>
          assert(sa > sb || (sa == sb && ta < tb), s"doc $id rank order")
        case _ =>
      }
    }
  }

  test("t10 ln form (spec-gated) and registered mean-prob form agree with references") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq))
    val cnt = docs.flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val n = docs.map(_._2.size.toLong).sum
    val v = cnt.size.toLong
    // spec-gated -ln form at 1e-9 (fold-order drift is sub-1e-12 here)
    val expLn = docs.filter(_._2.nonEmpty).map { case (id, toks) =>
      id -> toks.map(t => -math.log((cnt(t) + 1.0) / (n + v))).sum / toks.size
    }.toMap
    val gotLn = TextAnalysis.unigramLogprob(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(gotLn.keySet == expLn.keySet)
    gotLn.foreach { case (id, sc) =>
      assert(math.abs(sc - expLn(id)) < 1e-9, s"doc $id: $sc != ${expLn(id)}") }
    // registered exact form: integer mass EXACT, score is the divide
    val expSum = docs.filter(_._2.nonEmpty).map { case (id, toks) =>
      id -> toks.map(t => cnt(t) + 1L).sum
    }.toMap
    val got = TextAnalysis.unigramMeanProb(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == expSum.keySet)
    got.foreach { case (id, (nt, sumCp1, mp)) =>
      assert(sumCp1 == expSum(id), s"doc $id: sum_cp1 $sumCp1 != ${expSum(id)}")
      assert(mp == sumCp1.toDouble / (nt.toLong * (n + v)).toDouble,
        s"doc $id: mean_token_prob not the declared divide")
    }
  }

  test("t15 registered RSJ-odds form matches a driver-side scalar reference") {
    val queryTerms = Seq("table", "scan", "join")
    val (k1, b) = (1.2, 0.75)
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq))
    val nd = docs.length.toLong
    val withToks = docs.filter(_._2.nonEmpty)
    val avgdl = withToks.map(_._2.size.toLong).sum * 1.0 / withToks.length
    val df = queryTerms.map(t =>
      t -> docs.count(_._2.contains(t)).toLong).toMap
    val expected = docs.flatMap { case (id, toks) =>
      val score = queryTerms.map { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) 0.0
        else {
          val idf = (nd - df(t) + 0.5) / (df(t) + 0.5)
          (idf * (tf * (k1 + 1.0))) /
            (tf + k1 * (1.0 - b + b * toks.size / avgdl))
        }
      }.sum
      if (queryTerms.exists(toks.contains)) Some(id -> score) else None
    }.sortBy { case (id, sc) => (-sc, id) }.take(20)
    val got = TextAnalysis.bm25RankLin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.map(_._2).toSeq == (1 to got.length).toSeq, "ranks not dense")
    assert(got.map(_._1).toSeq == expected.map(_._1).toSeq, "doc order mismatch")
    got.zip(expected).foreach { case ((_, _, sc), (_, ref)) =>
      assert(math.abs(sc - ref) < 1e-9, s"score $sc != $ref")
    }
  }

  test("t16 registered count-moment form matches a driver-side exact reference") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq))
    val uni = docs.flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }
    val n = docs.map(_._2.size.toLong).sum
    val v = uni.size.toLong
    val bi = docs.flatMap(_._2.sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val expected = docs.flatMap { case (id, toks) =>
      val pairs = toks.sliding(2).filter(_.size == 2).toSeq
      if (pairs.isEmpty) None
      else Some(id -> ((pairs.length,
        pairs.map(p => bi((p(0), p(1)))).sum,
        pairs.map(p => uni(p(0))).sum,
        pairs.map(p => uni(p(1))).sum)))
    }.toMap
    val got = TextAnalysis.bigramMoments(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (nb, s2, sp, sc, pc, pb, pi)) =>
      val (enb, es2, esp, esc) = expected(id)
      assert(nb == enb && s2 == es2 && sp == esp && sc == esc,
        s"doc $id: moments ($nb,$s2,$sp,$sc) != ($enb,$es2,$esp,$esc)")
      assert(pc == s2.toDouble / sp.toDouble)
      assert(pb == (sc + nb).toDouble / (nb.toLong * (n + v)).toDouble)
      assert(math.abs(pi - (0.7 * pc + 0.3 * pb)) < 1e-15)
    }
  }

  test("t17 registered octave histogram matches a driver-side exact reference") {
    import org.apache.spark.sql.functions.col
    val toks = Tables.documents(spark, sfDir)
      .select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split("\\s+").filter(_.nonEmpty))
    val top = toks.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(1000)
    val expected = top.zipWithIndex
      .map { case ((_, c), i) =>
        val rank = i + 1
        (63 - java.lang.Long.numberOfLeadingZeros(rank.toLong), c) }
      .groupBy(_._1).map { case (o, xs) =>
        val cs = xs.map(_._2)
        (o.toInt, (cs.length.toLong, cs.sum, cs.min, cs.max)) }
    val got = TextAnalysis.zipfOctaves(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got == expected, s"octaves: $got != $expected")
    // Zipf health on this corpus: octave sums must not be wildly
    // unbalanced (each octave within 10x of the median octave mass)
    val sums = got.toSeq.sortBy(_._1).map(_._2._2)
    assert(sums.length >= 5, "corpus head should span >= 5 octaves")
  }

  test("t35 planted: learned merges replay per doc with exact piece counts") {
    import spark.implicits._
    // words: aa(x2), ab(x2 across docs) — pair counts (a,a)=2,
    // (a,b)=2, tie breaks (l,r) ascending → step 1 merges (a,a),
    // step 2 merges (a,b). Hand-traced encodings below.
    val docs = Seq((1L, "aa aa ab"), (2L, "ab")).toDF("doc_id", "text")
    val s1 = TextAnalysis.bpeEncodeFrom(docs, steps = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(s1.toSeq == Seq((1L, 3L, 6L, 4L, 1.5), (2L, 1L, 2L, 2L, 1.0)),
      s"steps=1: ${s1.mkString(",")}")
    val s2 = TextAnalysis.bpeEncodeFrom(docs, steps = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(s2.toSeq == Seq((1L, 3L, 6L, 3L, 2.0), (2L, 1L, 2L, 1L, 2.0)),
      s"steps=2: ${s2.mkString(",")}")
  }

  test("t35 on the corpus: piece counts bounded, more merges never split finer") {
    val at3 = TextAnalysis.bpeEncode(spark, sfDir, steps = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val at6 = TextAnalysis.bpeEncode(spark, sfDir, steps = 6).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(at6.nonEmpty && at3.keySet == at6.keySet)
    at6.foreach { case (id, (w, c, p)) =>
      assert(w <= p && p <= c, s"doc $id: words $w pieces $p chars $c")
      val (_, _, p3) = at3(id)
      assert(p <= p3, s"doc $id: 6-step pieces $p > 3-step $p3")
    }
    // the corpus must actually compress somewhere (merges fire)
    assert(at6.exists { case (id, (_, c, p)) => p < c })
  }

  test("t18 heaps curve matches a driver-side sequential reference") {
    import org.apache.spark.sql.functions.col
    val nB = 10
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq))
    val mx = docs.map(_._1).max
    val byBucket = docs.groupBy { case (id, _) =>
      (id * nB.toDouble / (mx + 1)).toInt
    }
    val buckets = byBucket.keys.toSeq.sorted
    var seen = Set.empty[String]
    var cumTok = 0L
    val expected = buckets.map { b =>
      val toks = byBucket(b).flatMap(_._2)
      cumTok += toks.length
      seen = seen ++ toks
      (b, cumTok, seen.size.toLong)
    }
    // reference walks buckets in order, but a term first seen in a LATER
    // bucket must not count earlier — the min-bucket trick's claim
    val got = TextAnalysis.heapsCurve(spark, sfDir, nB).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected,
      s"got ${got.toSeq.take(3)}... want ${expected.take(3)}...")
    // Heaps sanity: vocabulary grows monotonically and sublinearly
    // (new-vocab per token never increases bucket over bucket on this
    // corpus's head-heavy distribution)
    assert(got.map(_._3).zip(got.map(_._3).tail).forall { case (a, b) => b >= a })
  }

  test("t20 DSIR weights: target-language docs score target-like") {
    import org.apache.spark.sql.functions._
    val df = TextAnalysis.dsirWeights(spark, sfDir).cache()
    try {
      val docs = Tables.documents(spark, sfDir)
      // token-less docs structurally produce no score row (the output
      // is built from exploded tokens, mirroring the oracle) — the
      // invariant is coverage of every doc WITH tokens
      val scoreable = docs.filter(
        size(graft.functions.TextFunctions.tokens(col("text"))) > 0)
      assert(df.count() === scoreable.count(), "every tokenized doc scored")
      val scored = df.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      // the method's point: the target slice's mean log-ratio exceeds
      // every other language's (its tokens are literally the target LM)
      val means = scored.groupBy("lang")
        .agg(avg("avg_log_ratio").as("m")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      means.filter(_._1 != "en").foreach { case (lang, m) =>
        assert(means("en") > m, s"en ${means("en")} not above $lang $m")
      }
    } finally df.unpersist()
  }

  test("t19 ccnet buckets: per-language terciles cover each language ~evenly") {
    import org.apache.spark.sql.functions._
    val df = TextAnalysis.ccnetBuckets(spark, sfDir).cache()
    try {
      val docs = Tables.documents(spark, sfDir)
      assert(df.count() === docs.count(), "every doc bucketed exactly once")
      val byLang = df.groupBy("lang").pivot("bucket",
          Seq("head", "middle", "tail")).count().na.fill(0L).collect()
      byLang.foreach { r =>
        val (lang, h, m, t) =
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
        assert(h > 0 && m > 0 && t > 0, s"$lang: empty bucket ($h,$m,$t)")
        // terciles: each bucket within 2 of n/3 (interpolation boundary slack)
        val n = h + m + t
        Seq(h, m, t).foreach(b =>
          assert(math.abs(b - n / 3.0) <= 2.0, s"$lang: skewed ($h,$m,$t)"))
      }
      // bucket order respects the score order within a language: the worst
      // head score never exceeds the best tail score
      val agg = df.groupBy("lang").agg(
        max(when(col("bucket") === "head", col("score"))).as("maxHead"),
        min(when(col("bucket") === "tail", col("score"))).as("minTail"))
      assert(agg.filter(col("maxHead") >= col("minTail")).count() === 0)
    } finally df.unpersist()
  }

  test("t21 chunking covers every token with the declared stride/overlap") {
    import graft.functions.TextFunctions.tokens
    val window = 64; val stride = 48
    val chunks = TextAnalysis.chunk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    val docToks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val n = docToks(doc).length
      val sorted = cs.sortBy(_._2)
      // starts advance by exactly the stride from 1; indexes are dense
      sorted.zipWithIndex.foreach { case ((_, idx, start, nTok, text), i) =>
        assert(idx === i && start === 1 + i * stride)
        assert(nTok === math.min(window, n - start + 1))
        // chunk text IS the token slice (no re-tokenization drift)
        assert(text === docToks(doc).slice(start - 1, start - 1 + nTok)
          .mkString(" "), s"doc $doc chunk $idx")
      }
      // the final chunk reaches the last token: full coverage
      val (_, _, lastStart, lastN, _) = sorted.last
      assert(lastStart + lastN - 1 === n, s"doc $doc tail uncovered")
    }
    // docs with tokens but absent from the output would be silent loss
    assert(chunks.map(_._1).toSet === docToks.filter(_._2.nonEmpty).keySet)
  }

  test("t22 OOV rate matches a driver-side vocabulary recompute") {
    import graft.functions.TextFunctions.tokens
    val vocabSize = 512
    val got = TextAnalysis.vocabOov(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3))))
      .toMap
    val docToks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val freq = docToks.values.flatten.groupBy(identity).view
      .mapValues(_.size).toMap
    val vocab = freq.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(vocabSize).map(_._1).toSet
    val want = docToks.collect { case (d, ws) if ws.nonEmpty =>
      val oov = ws.count(!vocab.contains(_))
      d -> ((ws.length, oov, oov.toDouble / ws.length))
    }
    assert(got === want)
    // non-degeneracy only when the corpus vocabulary actually exceeds
    // the vocab size (at sf0.001 all distinct tokens fit in the top-512
    // and an all-zero OOV column is the CORRECT answer)
    if (freq.size > vocabSize) assert(got.values.exists(_._2 > 0))
    assert(got.values.exists(_._2 == 0))
  }

  test("t23 encoding is faithful and consistent with t22's OOV counts") {
    import graft.functions.TextFunctions.tokens
    val vocabSize = 512
    val docToks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val freq = docToks.values.flatten.groupBy(identity).view
      .mapValues(_.size).toMap
    val ids = freq.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(vocabSize).map(_._1).zipWithIndex.toMap
    val got = TextAnalysis.encode(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got.keySet === docToks.filter(_._2.nonEmpty).keySet)
    got.foreach { case (doc, rows) =>
      val ws = docToks(doc)
      // dense positions, and each id decodes to the original token
      // (in-vocab) or is exactly the unk id (out-of-vocab)
      assert(rows.map(_._2).toSeq === ws.indices.toSeq, s"doc $doc positions")
      rows.foreach { case (_, pos, id) =>
        val want = ids.getOrElse(ws(pos), vocabSize)
        assert(id === want, s"doc $doc pos $pos: $id != $want (${ws(pos)})")
      }
    }
    // cross-operator consistency: unk count per doc == t22's n_oov
    val oov = TextAnalysis.vocabOov(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    got.foreach { case (doc, rows) =>
      assert(rows.count(_._3 == vocabSize) === oov(doc), s"doc $doc oov")
    }
  }

  test("t24 novelty equals a driver-side first-occurrence recompute") {
    val got = TextAnalysis.noveltyScores(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // driver recompute mirroring the tokens/shingle convention
    // (lowercase, \s+ split, empties dropped, joined with spaces,
    // distinct) on the STRING shingles — the operator hashes them, but
    // identity is preserved (d2's collision argument)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val sh = docs.map { case (id, text) =>
      val w = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> (if (w.length < 3) Set.empty[String]
             else w.sliding(3).map(_.mkString(" ")).toSet)
    }
    val firstDoc = scala.collection.mutable.Map[String, Long]()
    sh.foreach { case (id, gs) =>
      gs.foreach(g => if (!firstDoc.contains(g)) firstDoc(g) = id)
    }
    val want = sh.collect { case (id, gs) if gs.nonEmpty =>
      val novel = gs.count(g => firstDoc(g) == id)
      id -> ((gs.size.toLong, novel.toLong, novel.toDouble / gs.size))
    }.toMap
    assert(got === want)
    assert(got.nonEmpty)
    // the first doc with shingles is fully novel by construction
    val firstId = want.keys.min
    assert(got(firstId)._3 === 1.0)
    // corpus-level conservation: novel shingles sum to the vocabulary
    assert(got.values.map(_._2).sum === firstDoc.size.toLong)
  }

  test("t26 readability: planted doc yields the hand-computed scores") {
    import spark.implicits._
    // tokens: [the, cat, sat., it, ran!] -> 5 words; [.!?]+ runs: 2
    // sentences; vowel groups: 1+1+1+1+1 = 5 syllables
    val docs = Seq((1L, "the cat sat. it ran!"), (2L, "   ")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.readabilityFrom(docs).collect()
    assert(got.length === 1) // the all-whitespace doc is filtered
    val r = got.head
    assert((r.getInt(1), r.getInt(2), r.getLong(3)) === ((5, 2, 5L)))
    assert(math.abs(r.getDouble(4) -
      (206.835 - 1.015 * 2.5 - 84.6 * 1.0)) < 1e-12)
    assert(math.abs(r.getDouble(5) -
      (0.39 * 2.5 + 11.8 * 1.0 - 15.59)) < 1e-12)
  }

  test("t26 readability on the corpus: counts coherent on every row") {
    val rows = graft.operators.TextAnalysis.readability(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) >= 1 && r.getInt(2) >= 1)
      assert(r.getLong(3) >= r.getInt(1)) // >= one syllable per word
    }
  }

  test("t27 sentence chunks: planted doc packs on sentence boundaries under the soft cap") {
    import spark.implicits._
    // sentences of 3/3/2/4 tokens; cap 6 → cum-before 0,3,6,8 →
    // chunk ids 0,0,1,1
    val docs = Seq(
      (1L, "one two three. four five six! seven eight? nine ten eleven twelve."),
      (2L, "!!!")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.sentenceChunksFrom(docs, cap = 6)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getString(4)))
    assert(got.toSeq === Seq(
      (1L, 0, 2, 6L, "one two three four five six"),
      (1L, 1, 2, 6L, "seven eight nine ten eleven twelve")), got.toSeq)
  }

  test("t27 on the corpus: every chunk id is the prefix token sum div cap") {
    val rows = graft.operators.TextAnalysis.sentenceChunks(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // a chunk's id is exactly floor(tokens-in-previous-chunks / cap) —
    // the packing rule reconstructed from the output alone
    rows.groupBy(_._1).foreach { case (_, cs) =>
      var prefix = 0L
      cs.sortBy(_._2).foreach { case (_, cid, ns, nt) =>
        assert(ns >= 1 && nt >= 1)
        assert(cid === prefix / 48, s"cid $cid prefix $prefix")
        prefix += nt
      }
    }
  }

  test("t25 count-min: estimates never under-count; exact when width is ample") {
    // ample width on the real corpus: estimates are one-sided
    val rows = graft.operators.TextAnalysis.countMin(spark, sfDir).collect()
    assert(rows.length === 20)
    assert(rows.forall(r => r.getAs[Long]("cm_est") >= r.getAs[Long]("exact_n")))
    assert(rows.forall(r => r.getAs[Long]("overcount") ===
      r.getAs[Long]("cm_est") - r.getAs[Long]("exact_n")))
  }

  test("t25 count-min under forced collisions: over-counts appear, never under-counts") {
    import spark.implicits._
    // 12 distinct tokens into width-2 rows: pigeonhole forces
    // collisions in every hash row, so some estimate MUST over-count —
    // and none may under-count (the CM guarantee under any collision)
    val docs = Seq((1L, (1 to 12).map(i => s"tok$i").mkString(" ")),
      (2L, "tok1 tok1 tok2 tok3"))
      .toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis
      .countMinFrom(docs, depth = 2, width = 2, topK = 12).collect()
    assert(rows.length === 12)
    assert(rows.forall(r => r.getAs[Long]("cm_est") >= r.getAs[Long]("exact_n")))
    assert(rows.exists(_.getAs[Long]("overcount") > 0),
      "width-2 sketch over 12 tokens produced no collision over-count")
  }

  test("t28 collocations: planted phrase gets the hand-computed lift") {
    import spark.implicits._
    // "new york" appears 5 times; "new" and "york" never apart; filler
    // words pad N. N = 5*2 + 10 = 20 tokens; c(new)=c(york)=5, c2=5
    // -> lift = 20*5 / (5*5) = 4.0. Filler bigrams occur < 5 times and
    // are suppressed by minCount.
    val docs = Seq(
      (1L, "new york new york new york"),
      (2L, "new york new york"),
      (3L, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.collocationsFrom(docs, minCount = 5, topK = 10)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) ===
      (("new", "york", 5L)))
    assert(r.getDouble(3) === 4.0)
  }

  test("t28 collocations: pair direction matters and counts are adjacency-true") {
    import spark.implicits._
    // "b a" never occurs even though "a b" dominates; doc boundaries
    // do not create pairs (the last token of doc 1 never pairs with
    // the first of doc 2)
    val docs = Seq(
      (1L, "a b x a b y a b"),
      (2L, "a b z a b"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.collocationsFrom(docs, minCount = 5, topK = 10)
      .collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("a", "b")))
    // 5 adjacent (a,b) pairs across both docs, none spanning docs
    assert(rows.head.getLong(2) === 5L)
  }

  test("t28 on the corpus: ordered, thresholded, and division-consistent") {
    val rows = TextAnalysis.collocations(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    val lifts = rows.map(_.getDouble(3))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b }, "not desc")
    assert(rows.forall(_.getLong(2) >= 5L))
    assert(lifts.forall(_ > 0.0))
  }

  test("t29 BPE: planted corpus learns the hand-computed merges in order") {
    import spark.implicits._
    // word counts: "aaab"×4, "aab"×3, "cd"×5. Step 1 pairs:
    // (a,a): 2·4+1·3 = 11, (a,b): 4+3 = 7, (c,d): 5 -> merge (a,a).
    // Greedy left-to-right: "aaab" -> [aa, a, b] (the middle 'a' does
    // NOT re-pair with the first — the overlap rule), "aab" -> [aa, b].
    // Step 2: (c,d)=5 beats (aa,a)=4 and (a,b)=4 -> merge (c,d).
    // Step 3: tie (aa,a)=4 vs (a,b)=4 breaks lexicographically on the
    // LEFT symbol: "a" < "aa" -> merge (a,b); "aaab" -> [aa, ab].
    // Step 4: (aa,ab)=4 beats (aa,b)=3 -> merge (aa,ab).
    val docs = (
      Seq.fill(4)("aaab") ++ Seq.fill(3)("aab") ++ Seq.fill(5)("cd"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val rows = TextAnalysis.bpeMergesFrom(docs, steps = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq === Seq(
      (1, "a", "a", 11L),
      (2, "c", "d", 5L),
      (3, "a", "b", 4L),
      (4, "aa", "ab", 4L)))
  }

  test("t29 on the corpus: counts non-increasing, merges distinct, symbols grow") {
    val rows = TextAnalysis.bpeMerges(spark, sfDir, steps = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === (1 to 6))
    // each merge consumes its pair, so a LATER step can never count
    // higher than an earlier one (new pairs are substrings merged over)
    val counts = rows.map(_._4)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"pair counts increased: ${counts.toSeq}")
    assert(rows.map(t => (t._2, t._3)).distinct.length === rows.length)
  }

  test("t30 token budget: masses reconcile with t1 and packing bounds hold") {
    import org.apache.spark.sql.functions.{col, sum}
    val rows = TextAnalysis.tokenBudgetReport(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val totWp = rows.map(_.getLong(3)).sum
    // cross-check against t1's per-doc wordpiece counts
    val t1Wp = TextAnalysis.tokenStats(spark, sfDir)
      .agg(sum(col("n_wordpieces"))).head().getLong(0)
    assert(totWp === t1Wp, s"wordpiece mass $totWp != t1's $t1Wp")
    rows.foreach { r =>
      val (docs, words, wp, fert, packed, ideal, pad) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getLong(5), r.getLong(6), r.getDouble(7))
      assert(fert === wp.toDouble / words)
      // per-doc packing can never beat contiguous, and never needs
      // more than one extra sequence per document
      assert(ideal <= packed && packed <= ideal + docs)
      assert(pad >= 0.0 && pad < 1.0)
      assert(packed * 512 >= wp)
    }
  }

  test("t32 mixture drift: TVD and JSD match a driver-side recompute") {
    import org.apache.spark.sql.functions._
    val got = TextAnalysis.mixtureDrift(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val gotJsd = TextAnalysis.mixtureDriftJsd(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got.nonEmpty)
    // driver recompute of the FULL statistics (including absent
    // tokens) from raw counts — the closed forms must equal the naive
    // double loops
    val rows = Tables.documents(spark, sfDir)
      .select(col("source"), explode(
        filter(split(lower(col("text")), "\\s+"), t => t =!= "")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bySrc = rows.groupBy(_._1).map { case (s, xs) =>
      s -> xs.groupBy(_._2).view.mapValues(_.size.toLong).toMap }
    val corpus = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nTot = rows.length.toDouble
    got.foreach { case (src, nTok, vocabS, tvd) =>
      val cs = bySrc(src)
      assert(nTok === cs.values.sum)
      assert(vocabS === cs.size)
      val nS = cs.values.sum.toDouble
      val expectTvd = 0.5 * corpus.keysIterator.map { t =>
        math.abs(cs.getOrElse(t, 0L) / nS - corpus(t) / nTot)
      }.sum
      assert(math.abs(tvd - expectTvd) < 1e-12, s"$src: $tvd vs $expectTvd")
      assert(tvd >= 0.0 && tvd <= 1.0 + 1e-12)
      val jsd = gotJsd(src)
      val expectJsd = corpus.keysIterator.map { t =>
        val p = cs.getOrElse(t, 0L) / nS
        val q = corpus(t) / nTot
        val m = (p + q) / 2.0
        (if (p > 0) 0.5 * p * math.log(p / m) else 0.0) +
          0.5 * q * math.log(q / m)
      }.sum
      assert(math.abs(jsd - expectJsd) < 1e-12, s"$src: $jsd vs $expectJsd")
      assert(jsd >= 0.0 && jsd <= math.log(2.0) + 1e-12)
      // Pinsker ties the statistics: KL(P‖M) ≥ 2·δ(P,M)² with
      // δ(P,M) = tvd/2, so jsd ≥ tvd²/2 (jsd in nats)
      assert(jsd + 1e-12 >= tvd * tvd / 2.0,
        s"$src: Pinsker violated jsd=$jsd tvd=$tvd")
    }
  }

  test("t31 classifier filter: exact driver-side replay, integer decision, full coverage") {
    import org.apache.spark.sql.functions._
    val got = TextAnalysis.classifierFilter(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got.length === docs.size, "one verdict per document, no drops")
    // exact integer replay of the weight fold on the driver
    def h64(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    got.foreach { r =>
      val (id, n, logit) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val toks = docs(id).toSeq.flatMap(
        _.toLowerCase.split("\\s+").filter(_.nonEmpty))
      assert(n === toks.length)
      val expect = toks.map(t =>
        h64("cfw_" + (h64("cf_" + t) % 4096L).toString) % 2001L - 1000L).sum
      assert(logit === expect, s"doc $id")
      assert(r.getBoolean(4) === (logit > 0))
      if (n > 0) assert(r.getDouble(3) === logit.toDouble / (1000.0 * n))
      else assert(r.isNullAt(3))
    }
    // the baked pseudo-weights are balanced enough that the gate
    // actually separates: both verdicts occur on this corpus
    assert(got.exists(_.getBoolean(4)) && got.exists(!_.getBoolean(4)))
  }

  test("r16 derived vocabulary totals are identical to the corpus-pass " +
    "aggregates they replaced (nulls, empty target slice, empty corpus)") {
    // pins the t10/t16/t20 consolidation identity: over ANY token
    // relation, the totals derived from the groupBy(t) count —
    // n = Σc (null group included), v = count(t) (null group excluded,
    // count_distinct's null rule), nt = Σ per-group conditional count —
    // equal the direct corpus-pass aggregates bit-for-bit.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpora = Seq(
      // nulls present, repeated tokens, empty target slice ("xx")
      Seq(("a", "en"), ("b", "en"), ("a", "de"), (null, "de"), (null, "en"),
        ("c", "de")),
      // single row, null token only
      Seq((null.asInstanceOf[String], "en")),
      // empty corpus
      Seq.empty[(String, String)])
    for (rows <- corpora; target <- Seq("en", "xx")) {
      val toks = rows.toDF("t", "lang")
      val direct = toks.agg(count(lit(1)).as("n"),
          count_distinct(col("t")).as("v"),
          count(when(col("lang") === target, lit(1))).as("nt"))
        .collect().head
      val grouped = toks.groupBy(col("t")).agg(
        count(lit(1)).as("cr"),
        count(when(col("lang") === target, lit(1))).as("ct"))
      val derived = grouped.agg(coalesce(sum(col("cr")), lit(0L)).as("n"),
          count(col("t")).as("v"),
          coalesce(sum(col("ct")), lit(0L)).as("nt"))
        .collect().head
      assert(derived === direct, s"rows=$rows target=$target")
    }
  }
}
