package graft

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite with BeforeAndAfterEach {
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

  test("d15 ngram spans: per-doc counts, bounds, and exact-dup docs at 1.0") {
    import org.apache.spark.sql.functions._
    val stats = Dedup.ngramSpanStats(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("nw")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stats.size == docs.size, "one output row per document")
    docs.foreach { case (id, nw) =>
      val (ng, dg, frac) = stats(id)
      assert(ng == math.max(0, nw - 7), s"doc $id: n_grams $ng for $nw words")
      assert(dg >= 0 && dg <= ng, s"doc $id: dup_grams $dg out of [0,$ng]")
      assert(frac >= 0.0 && frac <= 1.0, s"doc $id: dup_frac $frac")
    }
    // Planted fixture (the corpus has no byte-identical texts): twin
    // docs share EVERY gram → dup_frac exactly 1.0; a unique doc → 0.0;
    // a doc embedding the twin text plus unique words → strictly
    // between. Catches off-by-one gram windows and df-threshold slips.
    import spark.implicits._
    val twin = (1 to 12).map(i => s"w$i").mkString(" ") // 12 words, 5 grams
    val planted = Seq(
      (1L, twin), (2L, twin),
      (3L, (1 to 12).map(i => s"u$i").mkString(" ")),
      (4L, twin + " " + (1 to 8).map(i => s"x$i").mkString(" ")),
      (5L, "too short")).toDF("doc_id", "text")
    val p = Dedup.ngramSpanStatsFrom(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(p(1L) == ((5L, 5L, 1.0)) && p(2L) == ((5L, 5L, 1.0)), s"twins: $p")
    assert(p(3L) == ((5L, 0L, 0.0)), s"unique doc: ${p(3L)}")
    assert(p(4L)._1 == 13L && p(4L)._2 == 5L, s"superset doc: ${p(4L)}")
    assert(p(5L) == ((0L, 0L, 0.0)), s"short doc: ${p(5L)}")
  }

  test("d16 span removal: planted overlaps cut exactly, keep-first") {
    import spark.implicits._
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val planted = Seq(
      (1L, a),                                              // all first occurrences
      (2L, (1 to 10).map(i => s"a$i").mkString(" ") + " " + // 10-word prefix shared
        (11 to 20).map(i => s"b$i").mkString(" ")),
      (3L, ((1 to 8) ++ (1 to 8)).map(i => s"c$i").mkString(" ")), // within-doc repeat
      (4L, (1 to 8).map(i => s"a$i").mkString(" ")),        // fully duplicated doc
      (5L, "too short"),
      (6L, (1 to 8).map(i => s"a$i").mkString(" ") + " " +  // two disjoint spans
        (9 to 12).map(i => s"f$i").mkString(" ") + " " +
        (1 to 8).map(i => s"a$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.ngramSpanRemovalFrom(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((0L, 0L, a)), s"doc1 (first copy untouched): ${got(1L)}")
    assert(got(2L) == ((1L, 10L, (11 to 20).map(i => s"b$i").mkString(" "))),
      s"doc2 (merged [1,10] prefix cut): ${got(2L)}")
    assert(got(3L) == ((1L, 8L, (1 to 8).map(i => s"c$i").mkString(" "))),
      s"doc3 (second within-doc repeat cut): ${got(3L)}")
    assert(got(4L) == ((1L, 8L, "")), s"doc4 (fully covered -> empty): ${got(4L)}")
    assert(got(5L) == ((0L, 0L, "too short")), s"doc5 (gram-less): ${got(5L)}")
    assert(got(6L) == ((2L, 16L, (9 to 12).map(i => s"f$i").mkString(" "))),
      s"doc6 (two islands, middle survives): ${got(6L)}")
  }

  test("d8 containment equals the naive quadratic; candidates stated") {
    import org.apache.spark.sql.functions._
    val t = 0.8
    val docs = Dedup.docShingles(spark, sfDir)
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      col("sz").as("sz_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
      col("sz").as("sz_b"))
    val naive = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("ov", size(array_intersect(col("sh_a"), col("sh_b")))
        .cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("ov") >= t)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nCand = Dedup.containmentCandidates(docs, t).count()
    val got = Dedup.containmentPairs(spark, sfDir, t)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nDocs = docs.count()
    info(s"d8: $nCand candidates for ${got.size} true pairs over " +
      s"$nDocs docs (${nDocs * (nDocs - 1) / 2} unordered pairs)")
    assert(got === naive, "pruned blocking must be lossless")
    assert(nCand >= got.size && nCand <= nDocs * (nDocs - 1) / 2)
  }

  test("d17 semantic dedup: drops are a strict subset of the exact rule") {
    import org.apache.spark.sql.functions._
    // exact global keep-min rule: drop b iff ANY a < b has cos >= t —
    // derived from d6's exact all-pairs set (same threshold, same
    // cosine arithmetic)
    val exactDrops = Dedup.embeddingNearDupPairs(spark, sfDir)
      .select(col("vec_b")).distinct().collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    val d17 = Similarity.semanticDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getBoolean(2)))
    val drops = d17.collect { case (id, false) => id }.toSet
    // precision 1.0 by construction: within-cluster pairs ⊆ all pairs
    assert(drops.subsetOf(exactDrops),
      s"d17 dropped outside the exact rule: ${drops -- exactDrops}")
    // drops ⊆ exactDrops, so recall is a size ratio
    val recall =
      if (exactDrops.isEmpty) 1.0 else drops.size.toDouble / exactDrops.size
    info(s"d17: ${drops.size} cluster-bounded drops of ${exactDrops.size} " +
      s"exact drops (recall $recall)")
    // The sf corpora are near-isotropic (neighbors at cos 0.4-0.55 on a
    // 0.3 background, no cluster structure — see the LSH note), which
    // is the WORST case for cluster-bounded dedup: partners land in
    // different clusters and the measured recall is ~0.31. The gate
    // here only pins the subset property + a floor; the operator's
    // existence proof on data it is FOR is the clustered test below.
    assert(recall >= 0.2, s"recall $recall")
    assert(d17.length === Tables.embeddings(spark, sfDir)
      .filter(size(col("embedding")) === 64).count(), "one row per vector")
  }

  test("d17 on clustered data: near-total recall, quadratic stays bounded") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    val dim = 64; val nClusters = 20; val n = 1000
    val centers = Array.fill(nClusters) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    // same-cluster cos ~0.98 (see the LSH clustered test's sigma note);
    // label = i % 10 is COARSER than the 20 true clusters, so the
    // k-means assignment has real work to do
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, (i % 10).toLong, c.map(x =>
        x + (0.15 / math.sqrt(dim) * rnd.nextGaussian()).toFloat).toSeq)
    }
    val e = spark.createDataFrame(rows).toDF("vec_id", "label", "embedding")
      .repartition(8)
    val t = 0.9
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val exactDrops = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col("ea"), col("eb")))
      .filter(col("cos") >= t)
      .select(col("id_b")).distinct().collect().map(_.getLong(0)).toSet
    val d17 = Similarity.semanticDedupFrom(e, t).collect()
      .map(r => (r.getLong(0), r.getBoolean(2)))
    spark.catalog.clearCache()
    val drops = d17.collect { case (id, false) => id }.toSet
    assert(drops.subsetOf(exactDrops))
    val recall = drops.size.toDouble / exactDrops.size
    info(s"clustered corpus: ${drops.size}/${exactDrops.size} drops, " +
      s"recall $recall")
    assert(exactDrops.size > n / 2, "fixture must actually contain near-dups")
    assert(recall >= 0.95, s"recall $recall")
  }

  test("s7 k-means inertia is non-increasing over iterations") {
    // Lloyd's invariant: each E+M round can only lower the total
    // within-cluster squared distance, so the final-assignment inertia
    // must be monotone in the iteration budget — a wrong E-step argmin
    // or a wrong M-step mean breaks this long before it breaks a
    // fixed-oracle compare.
    import org.apache.spark.sql.functions.sum
    val inertia = Seq(0, 1, 2).map { it =>
      val v = Similarity.kmeansIterate(spark, sfDir, iters = it)
        .agg(sum("dist")).head().getDouble(0)
      spark.catalog.clearCache() // kmeansIterate caches its corpus
      v
    }
    assert(inertia(1) <= inertia(0) + 1e-9,
      s"iter1 ${inertia(1)} > iter0 ${inertia(0)}")
    assert(inertia(2) <= inertia(1) + 1e-9,
      s"iter2 ${inertia(2)} > iter1 ${inertia(1)}")
  }

  test("bloom decontamination flags a superset of exact d11 with bounded inflation") {
    ApproxContracts.assertHolds("d14_decontaminate_bloom", info)
  }

  test("d25 contamination report covers every eval doc and agrees with d11's direction") {
    import org.apache.spark.sql.functions._
    val rep = graft.operators.CorpusOps.contaminationReport(spark, sfDir)
      .collect()
    // full coverage: one row per doc_id % 20 == 0 document, zero rows kept
    val nEval = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 20 === 0).count()
    assert(rep.length === nEval)
    rep.foreach { r =>
      val (n, h, c) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(h >= 0 && h <= n, r.toString)
      assert(c >= 0.0 && c <= 1.0, r.toString)
      if (n > 0) assert(math.abs(c - h.toDouble / n) < 1e-12)
    }
    // cross-check vs d11: some train doc is flagged iff some eval doc
    // has a hit (both report the same overlap relation's two sides)
    val anyTrainFlagged =
      graft.operators.CorpusOps.decontaminate(spark, sfDir).count() > 0
    val anyEvalHit = rep.exists(_.getLong(2) > 0)
    assert(anyTrainFlagged === anyEvalHit)
    spark.catalog.clearCache()
  }

  test("exact dedup keeps every distinct document once") {
    val d = Dedup.exactDedup(spark, sfDir)
    val total = Tables.documents(spark, sfDir).count()
    assert(d.count() <= total)
    assert(d.agg(org.apache.spark.sql.functions.sum("n_copies"))
      .head().getLong(0) === total)
  }

  test("d12 curate output is deduped, above its language median, sampled") {
    import org.apache.spark.sql.functions._
    val cur = graft.operators.CorpusOps.curate(spark, sfDir).cache()
    try {
      val n = cur.count()
      assert(n > 0)
      // dedup held: no doc appears twice, and every kept doc is a d1
      // keeper (the min-doc_id representative of its fingerprint)
      assert(cur.select("doc_id").distinct().count() === n)
      val keepers = Dedup.exactDedup(spark, sfDir)
        .select(col("keep_doc_id").as("doc_id"))
      assert(cur.join(keepers, Seq("doc_id"), "left_anti").count() === 0)
      // gate held: strictly above the per-language median
      assert(cur.filter(col("quality_score") <= col("lang_median")).count() === 0)
      // gate + sample really reduce: strictly fewer rows than the
      // deduped population (the median gate alone halves each stratum)
      assert(n < keepers.count())
    } finally {
      cur.unpersist()
      // curate's internal deduped cache() too — its lifecycle contract
      // is clearCache per query (shared session across suites)
      spark.catalog.clearCache()
    }
  }

  test("prefix-filter jaccard equals naive all-pairs jaccard") {
    // The lossless-blocking claim, checked directly against a plain
    // quadratic join on the same shingle arrays.
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.shingles
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .withColumn("sz", size(col("sh"))).filter(col("sz") > 0)
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("sz").as("sz_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("sz").as("sz_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val naive = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("jaccard", inter / (col("sz_a") + col("sz_b") - inter))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pf = Dedup.jaccardPairs(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pf === naive)
  }

  test("minhash-LSH pairs equal exact jaccard pairs on this corpus") {
    val exact = Dedup.jaccardPairs(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sfDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("simhash signatures are 60-bit and pairs respect the radius") {
    val sigs = Dedup.simhashSignatures(spark, sfDir)
    assert(sigs.filter(org.apache.spark.sql.functions.col("simhash") < 0).count() === 0)
    val pairs = Dedup.simhashPairs(spark, sfDir)
    assert(pairs.filter(org.apache.spark.sql.functions.col("hamming") > 3).count() === 0)
    assert(pairs.count() > 0)
  }

  // The ANN operators have no SQL oracle (approximate by design): their
  // recall contracts, declared in the registry, ARE their correctness
  // story.
  test("LSH ANN recall@5 >= 0.8 vs brute force") {
    ApproxContracts.assertHolds("s2_ann_topk", info)
  }

  test("IVF ANN recall@5 >= 0.8 vs brute force, touching a corpus subset") {
    ApproxContracts.assertHolds("s3_ivf_topk", info)
  }

  test("s16 IVF kNN join recall@3 >= 0.8 vs exact s4; rank contract holds") {
    ApproxContracts.assertHolds("s16_ivf_knn_join", info)
    val rows = Similarity.ivfKnnJoin(spark, sfDir).collect()
    // no self-pairs; per-query ranks are 1..n with n <= k
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.values.forall { rs =>
      val ranks = rs.map(_.getInt(1)).sorted.toSeq
      ranks === (1 to ranks.length)
    })
  }

  // The sf corpora are deliberately near-isotropic (neighbors at cos
  // 0.4-0.55 against a 0.3 background), where NO sub-quadratic scheme
  // can prune without losing recall — there s2's value is the
  // build/query split alone. This test is the operator's existence
  // proof on data LSH is FOR: clustered embeddings (the shape real
  // near-dup corpora have), where the same index at more bits / fewer
  // tables must cut the candidate set hard while keeping recall.
  test("LSH candidates prune hard on clustered data at recall >= 0.8") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val dim = 64; val nClusters = 20; val n = 2000; val nQueries = 20
    val centers = Array.fill(nClusters) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      // per-dim sigma 0.15/sqrt(dim): total noise norm ~0.15 around a
      // UNIT center (same-cluster cos ~0.98) — per-dim 0.15 would give
      // noise norm ~1.2 and dissolve the clusters
      (i.toLong, c.map(x =>
        x + (0.15 / math.sqrt(dim) * rnd.nextGaussian()).toFloat).toSeq)
    }
    val e = spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .repartition(8)
    val index = Similarity.buildLshIndexFrom(e, nBits = 8, nTables = 4,
      dim = dim)
    val candidates = Similarity.lshCandidates(index, nQueries).count()
    val fraction = candidates.toDouble / (nQueries.toLong * (n - 1))
    val recall = Similarity.recall(
      Similarity.bruteForceTopKFrom(e, k = 5, nQueries = nQueries),
      Similarity.lshQuery(index, k = 5, nQueries = nQueries))
    info(s"clustered corpus: candidate fraction = $fraction, recall@5 = $recall")
    assert(fraction < 0.3, s"LSH failed to prune: fraction $fraction")
    assert(recall >= 0.8, s"recall $recall")
  }

  test("IVF probes a small corpus fraction on clustered data at recall >= 0.8") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val dim = 64; val nClusters = 20; val n = 2000; val nQueries = 20
    val centers = Array.fill(nClusters) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x =>
        x + (0.15 / math.sqrt(dim) * rnd.nextGaussian()).toFloat).toSeq)
    }
    val e = spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .repartition(8)
    val index = Similarity.buildIvfIndexFrom(e, nCells = 16, dim = dim)
    // nProbe 3 of 16: on clustered data Lloyd centroids align with the
    // real clusters, so a few probed cells hold a query's whole
    // neighborhood (nProbe 2 measures 0.81 — at the gate; 3 buys margin)
    val nProbe = 3
    val queries = index.corpus.filter(col("neighbor_id") < nQueries)
      .select(col("neighbor_id").as("query_id"), col("n_emb").as("q_emb"),
        col("n_nrm").as("q_nrm"))
    val recall = Similarity.recall(
      Similarity.bruteForceTopKFrom(e, k = 5, nQueries = nQueries),
      Similarity.ivfQuery(index, queries, k = 5, nProbe = nProbe))
    info(s"clustered corpus: nProbe $nProbe/16, recall@5 = $recall")
    assert(recall >= 0.8, s"recall $recall")
  }

  test("s8 int8 quantization reconstructs within scale/2 per element") {
    import org.apache.spark.sql.functions._
    val q = Similarity.quantizeInt8(spark, sfDir)
    val orig = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val rows = q.collect()
    assert(rows.length == orig.size)
    rows.foreach { r =>
      val (id, mn, mx) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      val qv = r.getSeq[Int](3)
      val scale = (mx - mn) / 255.0
      qv.zip(orig(id)).foreach { case (qi, x) =>
        assert(qi >= 0 && qi <= 255, s"vec $id: q=$qi out of int8 range")
        val err = math.abs(mn + qi * scale - x)
        assert(err <= scale / 2 + 1e-9,
          s"vec $id: reconstruction error $err > ${scale / 2}")
      }
    }
  }

  // s9 closes the quantization loop: searching the dequantized int8
  // corpus must return (nearly) the float corpus's neighbors. Per-
  // element quantization error <= scale/2 ~ range/510, tiny against
  // the 0.4-0.55 neighbor cosines — so unlike s2/s3 the expected
  // recall here is ~1.0; the 0.8 bar guards regressions, the info line
  // records the measured value.
  test("s9 dequantized top-k recall@5 >= 0.8 vs float brute force") {
    val recall = Similarity.recall(Similarity.bruteForceTopK(spark, sfDir),
      Similarity.dequantizedTopK(spark, sfDir))
    info(s"s9 dequantizedTopK recall@5 = $recall")
    assert(recall >= 0.8, s"recall $recall")
  }

  // s10: 8-byte PQ codes prune, the exact re-rank of the ADC top-50
  // decides. Pure-ADC recall@5 from the parameter sweep on this
  // corpus: (m=8,c=16) 0.12, (8,64) 0.28, (8,256) 0.40, (16,16) 0.32,
  // (16,64) 0.52; shortlist-50 capture of the true top-5: (8,256)
  // 1.00, (16,16) 0.92, (16,64) 0.96 — the shipped (16,16) 4-bit
  // fast-scan layout trades 0.08 capture for an 8× smaller assignment
  // stream at identical bytes/vector, and the 0.8 gate is the same
  // contract s2/s3 carry. Shape invariants (dense
  // ranks, self excluded, cos descending) make a silent join/agg bug
  // visible even when recall happens to pass.
  test("s10 PQ ADC+rerank top-k: recall >= 0.8 vs s1, dense ranks, no self hits") {
    ApproxContracts.assertHolds("s10_pq_topk", info)
    val rows = Similarity.pqTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byQuery = rows.groupBy(_._1)
    byQuery.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1 to rs.length),
        s"query $q ranks not dense: ${rs.map(_._2).sorted.mkString(",")}")
      assert(rs.forall(_._3 != q), s"query $q returned itself")
      val sortedByRank = rs.sortBy(_._2)
      assert(sortedByRank.map(_._4).reverse.sameElements(
        sortedByRank.map(_._4).sorted),
        s"query $q: cos not descending with rank")
    }
  }

  test("s13 IVF-PQ top-k: recall >= 0.8 vs s1, ranks dense, candidates cell-pruned") {
    ApproxContracts.assertHolds("s13_ivfpq_topk", info)
    val rows = Similarity.ivfPqTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byQuery = rows.groupBy(_._1)
    byQuery.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1 to rs.length),
        s"query $q ranks not dense: ${rs.map(_._2).sorted.mkString(",")}")
      assert(rs.forall(_._3 != q), s"query $q returned itself")
    }
  }

  test("embedding near-dup: tiled exact join equals naive quadratic, no BNLJ") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val naive = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", VectorFunctions.cosine(col("ea"), col("eb")))
      .filter(col("cos") >= 0.4)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tiled = Dedup.embeddingNearDupPairs(spark, sfDir)
    assert(tiled.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === naive)
    // the tiled layout must plan as an equi-join, never a broadcast
    // nested loop over the whole corpus
    val plan = tiled.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("SQL surface: graft_dot and graft_hash64 registered functions") {
    GraftExtensions.register(spark)
    val d = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
    assert(d === 11.0)
    val h = spark.sql("SELECT graft_hash64('abc') AS h").head().getLong(0)
    assert(h > 0)
    // must agree with the Column-API hash64 (oracle-compatible)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaCol = Seq("abc").toDF("s")
      .select(graft.functions.TextFunctions.hash64(col("s"))).head().getLong(0)
    assert(h === viaCol)
  }

  test("brute-force top-k uses WindowGroupLimit (two-phase top-k)") {
    val p = Similarity.bruteForceTopK(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("dedup clusters: pairs co-labeled, labels are cluster minima, canonical docs self-label") {
    val cl = Dedup.dedupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashLshPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(cl(a) === cl(b), s"pair ($a,$b) split across components")
    }
    assert(cl.forall { case (d, c) => c <= d }, "component must be the min id")
    assert(cl.values.forall(c => cl(c) === c), "canonical doc must label itself")
  }

  test("d10 dedup corpus partitions the input: sizes sum to corpus count") {
    import org.apache.spark.sql.functions._
    val corpus = Dedup.dedupCorpus(spark, sfDir)
    val total = Tables.documents(spark, sfDir).count()
    assert(corpus.agg(sum("cluster_size")).head().getLong(0) === total)
    // representatives are themselves kept docs (self-labeled minima)
    assert(corpus.filter(col("cluster_size") < 1).count() === 0)
    assert(corpus.count() <= total)
  }

  test("s4 knn join: tiled plan has no BNLJ and agrees with brute force") {
    import org.apache.spark.sql.functions._
    val knn = Similarity.knnJoin(spark, sfDir, k = 5)
    val plan = knn.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
    // for the 5 brute-force query vectors, results must be identical
    val brute = Similarity.bruteForceTopK(spark, sfDir, k = 5, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val mine = knn.filter(col("query_id") < 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(mine === brute)
  }

  test("s11 radius search agrees with a driver-side exact reference") {
    import org.apache.spark.sql.functions._
    val t = 0.35
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], bb: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * bb(i); na += a(i) * a(i); nb += bb(i) * bb(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      (qid, q) <- vecs.filter(_._1 < 5)
      (nid, n) <- vecs if nid != qid
      c = cos(q, n) if c >= t
    } yield (qid, nid)).toSet
    val got = Similarity.radiusSearch(spark, sfDir, t = t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall(_._3 >= t), "emitted a pair below the radius")
    assert(got.map(x => (x._1, x._2)).toSet === expected,
      s"pair set mismatch (got ${got.length}, want ${expected.size})")
    // ordered output contract
    assert(got.sortBy(x => (x._1, x._2)).sameElements(got))
  }

  test("d18 quality dedup: keeps the argmax-quality member of every d9 cluster") {
    import org.apache.spark.sql.functions.col
    val labels = Dedup.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = graft.operators.TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Double.NegativeInfinity else r.getDouble(1))).toMap
    val got = graft.operators.CorpusOps.qualityDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NegativeInfinity else r.getDouble(2),
        r.getLong(3)))
    // one row per component, sizes partition the corpus
    val byComp = labels.groupBy(_._2).map { case (c, xs) => c -> xs.keys.toSeq }
    assert(got.map(_._1).toSet == byComp.keySet)
    assert(got.map(_._4).sum == labels.size)
    got.foreach { case (comp, kept, keptQ, size) =>
      val members = byComp(comp)
      assert(size == members.length, s"component $comp size")
      val best = members.map(id => (-quality(id), id)).min
      assert(kept == best._2,
        s"component $comp: kept $kept, expected argmax ${best._2}")
      assert(keptQ == quality(kept), s"component $comp: reported quality")
    }
    // at least one multi-doc cluster exercises the argmax
    assert(got.exists(_._4 > 1))
  }

  test("d19 split assignment: clusters never straddle splits, covers the corpus") {
    import org.apache.spark.sql.functions.col
    val got = graft.operators.CorpusOps.leakageSafeSplit(spark, sfDir).cache()
    try {
      // every document assigned exactly once
      assert(got.count() === Tables.documents(spark, sfDir).count())
      // the leakage guarantee: one split per component
      val straddling = got.groupBy("component")
        .agg(org.apache.spark.sql.functions.count_distinct(col("split")).as("k"))
        .filter(col("k") > 1).count()
      assert(straddling === 0)
      // all three splits materialize (hash balance sanity, not exactness)
      assert(got.select("split").distinct().count() === 3)
      // determinism: re-running assigns identically
      val again = graft.operators.CorpusOps.leakageSafeSplit(spark, sfDir)
      assert(got.as("g").join(again.as("b"), Seq("doc_id"))
        .filter(col("g.split") =!= col("b.split")).count() === 0)
    } finally got.unpersist()
  }

  test("s12 k-center coreset matches a driver-side greedy reference") {
    import org.apache.spark.sql.functions.col
    val k = 8
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d, na, nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val seed = vecs.keys.min
    var sel = Vector[(Int, Long, Option[Double])]((1, seed, None))
    for (r <- 2 to k) {
      val cands = vecs.keys.filterNot(sel.map(_._2).contains)
        .filter(id => vecs(id).exists(_ != 0f))
      val scored = cands.map { id =>
        val mind = sel.map(s => 1.0 - cos(vecs(id), vecs(s._2))).min
        (id, mind)
      }
      val (pid, pmind) = scored.minBy { case (id, m) => (-m, id) }
      sel = sel :+ ((r, pid, Some(pmind)))
    }
    val got = graft.operators.Similarity.kcenterCoreset(spark, sfDir, k)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.length == k)
    got.zip(sel).foreach { case ((gr, gid, gm), (rr, rid, rm)) =>
      assert(gr == rr && gid == rid,
        s"round $rr: got ($gr, $gid), want ($rr, $rid)")
      (gm, rm) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) < 1e-12, s"round $rr: mind $a != $b")
        case (None, None) =>
        case other => fail(s"round $rr: mind mismatch $other")
      }
    }
    // the greedy rule's signature property: coverage radius shrinks
    val minds = got.flatMap(_._3)
    assert(minds.zip(minds.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"mind not non-increasing: ${minds.mkString(",")}")
  }

  test("d20 domain cap: at most `cap` survivors per source, deterministic, WindowGroupLimit plan") {
    import org.apache.spark.sql.functions._
    val cap = 3
    val df = graft.operators.CorpusOps.domainCap(spark, sfDir, cap)
    // the rewrite that makes this scale: partial per-partition top-k
    // BEFORE the (source) shuffle, not a full per-source sort
    assert(graft.plans.PlanChecks.hasWindowGroupLimit(df), "no WindowGroupLimit")
    val got = df.collect()
    val bySource = got.groupBy(_.getString(1))
    bySource.foreach { case (src, rows) =>
      assert(rows.length <= cap, s"source $src kept ${rows.length} > $cap")
      assert(rows.map(_.getInt(2)).sorted.sameElements(1 to rows.length),
        s"source $src ranks not dense: ${rows.map(_.getInt(2)).toSeq}")
    }
    // every source with >= cap docs is capped EXACTLY at cap (the draw
    // keeps cap, it doesn't under-sample)
    val srcCounts = Tables.documents(spark, sfDir)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    srcCounts.foreach { case (src, n) =>
      val kept = bySource.get(src).map(_.length).getOrElse(0)
      assert(kept == math.min(n, cap.toLong).toInt, s"source $src: $kept of $n")
    }
    // determinism: the same docs survive on a re-run
    val again = graft.operators.CorpusOps.domainCap(spark, sfDir, cap).collect()
    assert(got.map(_.getLong(0)).toSet == again.map(_.getLong(0)).toSet)
  }

  test("d21 soft dedup: weights are 1/cluster_size and each cluster sums to 1") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.CorpusOps.softDedupWeights(spark, sfDir).cache()
    try {
      // full coverage: every document weighted exactly once
      assert(df.count() === Tables.documents(spark, sfDir).count())
      // each cluster contributes exactly one document's worth of mass
      val badMass = df.groupBy("component").agg(sum("weight").as("mass"))
        .filter(abs(col("mass") - 1.0) > 1e-9).count()
      assert(badMass === 0, "cluster mass != 1")
      // cluster_size is consistent with the actual group cardinality
      val badSize = df.groupBy("component")
        .agg(count(lit(1)).as("n"), max("cluster_size").as("cs"),
          min("cluster_size").as("cs2"))
        .filter(col("n") =!= col("cs") || col("n") =!= col("cs2")).count()
      assert(badSize === 0, "cluster_size mismatch")
      // labels agree with d9's clustering (same components, same docs)
      val d9 = Dedup.dedupClusters(spark, sfDir)
      assert(df.select("doc_id", "component").except(d9).count() === 0)
    } finally df.unpersist()
  }

  test("d23 cross dedup: planted duplicates drop, novel docs survive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.TextFunctions.fingerprint
    def rel(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val existing = rel(1L -> "alpha beta", 2L -> "gamma delta")
    val incoming = rel(
      10L -> "alpha  beta",   // dup of existing 1 (normalization collapses ws)
      11L -> "epsilon zeta",  // novel
      12L -> "epsilon zeta",  // self-dup of 11 — keep-first drops it
      13L -> "gamma delta",   // dup of existing 2
      14L -> "eta theta")     // novel
    val got = graft.operators.Dedup.crossDedupFrom(incoming, existing)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(11L, 14L), got)
    // the registered one-table split form partitions correctly: every
    // survivor is an incoming doc whose fp is absent from existing
    val full = graft.operators.Dedup.crossDedup(spark, sfDir)
    val bad = full.filter(pmod(col("doc_id"), lit(3)) =!= 0).count()
    assert(bad === 0)
    assert(full.count() > 0)
  }

  test("d22 curation pipeline: staged invariants hold on the final manifest") {
    import org.apache.spark.sql.functions._
    val cap = 20
    val got = graft.operators.CorpusOps.curationPipeline(spark, sfDir).cache()
    try {
      val docs = Tables.documents(spark, sfDir)
      assert(got.count() > 0)
      // no bench docs (doc_id % 20 == 0) survive
      assert(got.filter(pmod(col("doc_id"), lit(20)) === 0).count() === 0)
      // no duplicate content: every surviving doc is its group's keeper
      val d1 = graft.operators.Dedup.exactDedup(spark, sfDir)
        .select(col("keep_doc_id").as("doc_id"))
      assert(got.join(d1, Seq("doc_id"), "left_anti").count() === 0)
      // quality gate: every survivor is above its language's median
      // over the deduped set (recompute independently)
      val scored = graft.operators.TextAnalysis.qualityScore(spark, sfDir)
        .select(col("doc_id"), col("quality_score").as("q"))
        .join(d1, "doc_id")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      val med = scored.groupBy("lang")
        .agg(percentile(col("q"), lit(0.5)).as("m"))
        .withColumnRenamed("lang", "mlang")
      val below = got.select("doc_id").join(scored, Seq("doc_id"))
        .join(med, col("lang") === col("mlang"))
        .filter(col("q") <= col("m")).count()
      assert(below === 0, "a survivor at or below its language median")
      // per-source cap respected
      val over = got.groupBy("source").count().filter(col("count") > cap)
      assert(over.count() === 0)
      // every row has a split and re-running assigns identically
      assert(got.filter(!col("split").isin("train", "val", "test"))
        .count() === 0)
      val again = graft.operators.CorpusOps.curationPipeline(spark, sfDir)
      assert(got.select("doc_id", "split").except(
        again.select("doc_id", "split")).count() === 0)
    } finally got.unpersist()
  }

  test("t6 tfidf: k rows per doc, rare terms outrank common ones") {
    import org.apache.spark.sql.functions._
    val t6 = graft.operators.TextAnalysis.tfidfTopKLin(spark, sfDir, k = 3)
    val perDoc = t6.groupBy("doc_id").count().agg(max("count")).head().getLong(0)
    assert(perDoc <= 3)
    assert(t6.filter(col("tfidf_lin") <= 0).count() === 0)
    // within a doc, of two terms with the same count the rarer one
    // (smaller document frequency) ranks first
    val rows = t6.select("doc_id", "rank", "cnt", "dfr").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    for ((_, rs) <- rows.groupBy(_._1); a <- rs; b <- rs
         if a._3 == b._3 && a._4 < b._4)
      assert(a._2 < b._2, s"rarer term ranked below a common one: $a $b")
  }

  test("d24 shard manifest covers the corpus exactly, deterministically, without gross skew") {
    import org.apache.spark.sql.functions._
    val m = graft.operators.CorpusOps.shardManifest(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val nDocs = Tables.documents(spark, sfDir).count()
    val totChars = Tables.documents(spark, sfDir)
      .agg(sum("n_chars")).head().getLong(0)
    // exact partition of the corpus: every doc in exactly one shard
    assert(m.map(_._2).sum === nDocs)
    assert(m.map(_._3).sum === totChars)
    assert(m.forall(s => s._1 >= 0 && s._1 < 64))
    assert(m.map(_._1).distinct.length === m.length)
    // deterministic: a re-run yields the identical manifest
    val again = graft.operators.CorpusOps.shardManifest(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(m.toSeq === again.toSeq)
    // hash balance (loose at 50 docs / 64 shards: birthday-scale
    // collisions only — no shard should swallow a fifth of the corpus)
    assert(m.map(_._2).max <= math.max(5L, nDocs / 5))
  }

  test("d27 epoch shuffle: exact permutation per epoch, reproducible, epoch-independent") {
    def run(epoch: Int) = graft.operators.CorpusOps
      .epochShuffle(spark, sfDir, epoch = epoch).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val e1 = run(1)
    val nDocs = Tables.documents(spark, sfDir).count()
    // every doc exactly once
    assert(e1.length === nDocs)
    assert(e1.map(_._1).distinct.length === nDocs)
    // positions are contiguous 1..n within every shard — a loader can
    // seek by (shard, pos) with no gaps
    e1.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length),
        s"shard $shard positions not contiguous")
    }
    // reruns of the SAME epoch agree exactly (crash recovery contract)
    assert(run(1).toSeq === e1.toSeq)
    // a different epoch is a genuinely different permutation of the
    // same doc set (salted hash: some doc must move shard or position)
    val e2 = run(2)
    assert(e2.map(_._1).sorted.toSeq === e1.map(_._1).sorted.toSeq)
    assert(e2.toSeq !== e1.toSeq)
  }

  test("d26 temperature mix flattens the language distribution toward sqrt") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.CorpusOps.temperatureMix(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length === nDocs) // every doc gets a repeat factor
    // per-language invariants: target = (N * isqrt(n)) div sum(isqrt),
    // base epochs = target div n, repeats in {base, base+1}
    val langs = rows.groupBy(_._2)
    val tw = langs.values.map(_.head._4).sum
    langs.foreach { case (lang, rs) =>
      val (n, w, target, base) = (rs.head._3, rs.head._4, rs.head._5, rs.head._6)
      assert(rs.length === n)
      assert(w === math.sqrt(n.toDouble).floor.toLong)
      assert(target === nDocs * w / tw, s"$lang target")
      assert(base === target / n)
      assert(rs.forall(r => r._7 == base || r._7 == base + 1))
    }
    // the temperature actually flattens: the majority language's
    // target share sits strictly below its corpus share, a minority's
    // strictly above (sqrt concavity; holds unless already uniform)
    val shares = langs.values.map(rs =>
      (rs.head._3.toDouble / nDocs, rs.head._5.toDouble / nDocs)).toSeq
    val top = shares.maxBy(_._1); val bottom = shares.minBy(_._1)
    assert(top._2 < top._1, s"head language not downsampled: $top")
    assert(bottom._2 > bottom._1, s"tail language not upsampled: $bottom")
  }

  test("s15 MMR: rank 1 = exact top-1, picks from the shortlist, scores non-increasing") {
    import org.apache.spark.sql.functions._
    val k = 5; val nCand = 20; val nQ = 3
    val mmr = graft.operators.Similarity
      .mmrRerank(spark, sfDir, k, nCand, nQ).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    val brute = graft.operators.Similarity
      .bruteForceTopK(spark, sfDir, k = nCand, nQueries = nQ).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byQ = mmr.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, picks) =>
      val sorted = picks.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to k), s"query $q ranks")
      // rank 1 is pure relevance: must equal the brute-force top-1
      val top1 = brute.filter(b => b._1 == q && b._2 == 1).head
      assert(sorted.head._3 === top1._3, s"query $q rank-1 pick")
      assert(sorted.head._4 === top1._4, s"query $q rank-1 cos")
      // every pick comes from the top-nCand shortlist
      val shortlist = brute.filter(_._1 == q).map(_._3).toSet
      sorted.foreach(p => assert(shortlist.contains(p._3),
        s"query $q pick ${p._3} outside shortlist"))
      // the greedy objective is monotone: ms only grows as the
      // selected set grows, so each round's max score cannot rise
      sorted.map(_._5).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(b <= a, s"query $q mmr scores rose: $a -> $b")
        case _ => ()
      }
      // no pick repeats
      assert(sorted.map(_._3).distinct.length === k, s"query $q dup pick")
    }
  }

  test("s17 JL projection preserves norms in expectation and is deterministic") {
    import org.apache.spark.sql.functions._
    val proj = graft.operators.Similarity.jlProject(spark, sfDir)
    val rows = proj.collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(rows.length === n * 16) // 16 components per vector, none lost
    // E[||y||^2] = ||x||^2 for ±1/√k entries; over 64 source dims the
    // per-vector ratio concentrates — corpus MEAN must sit tight
    val projNorm = proj.groupBy(col("vec_id"))
      .agg(sum(col("value") * col("value")).as("p2"))
    val origNorm = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), aggregate(col("embedding"), lit(0.0d),
        (a, x) => a + x.cast("double") * x.cast("double")).as("x2"))
    val ratio = projNorm.join(origNorm, Seq("vec_id"))
      .filter(col("x2") > 0)
      .agg(avg(col("p2") / col("x2"))).head().getDouble(0)
    assert(ratio > 0.85 && ratio < 1.15, s"mean norm ratio $ratio")
    // deterministic: the baked sign matrix yields identical output
    assert(proj.collect().toSeq === rows.toSeq)
  }

  test("d31 snapshot diff: statuses partition the id union and match the construction") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.CorpusOps.snapshotDiff(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    docs.foreach { case (id, text) =>
      val inOld = id % 4 != 3
      val inNew = id % 9 != 8
      val expect =
        if (!inOld && !inNew) None
        else if (!inOld) Some("added")
        else if (!inNew) Some("removed")
        // a null text revises to null -> same sentinel fp -> unchanged
        else if (id % 5 == 0 && text.isDefined) Some("changed")
        else Some("unchanged")
      assert(got.get(id) === expect, s"doc $id")
    }
    assert(got.size === docs.count { case (id, _) => id % 4 != 3 || id % 9 != 8 })
    // all four verdicts occur on this corpus
    assert(got.values.toSet === Set("added", "removed", "changed", "unchanged"))
  }

  test("s18 hybrid RRF: fusion matches a driver-side recompute from its two lists") {
    import org.apache.spark.sql.functions._
    val dense = Similarity.bruteForceTopK(spark, sfDir, 50, 1)
      .collect().map(r => r.getLong(2) -> r.getInt(1)).toMap
    val lex = graft.operators.TextAnalysis.bm25Rank(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expect = (dense.keySet ++ lex.keySet).toSeq
      .map { id =>
        val s = dense.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (id, s)
      }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Similarity.hybridRrf(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getDouble(4))).toSeq
    assert(got === expect)
    // the fusion genuinely mixes: top-10 draws from BOTH lists
    val ids = got.map(_._1).toSet
    assert(ids.exists(dense.contains) && ids.exists(lex.contains))
  }

  test("d29 edit-distance pairs equal the naive quadratic; no nested loop") {
    import org.apache.spark.sql.functions._
    val k = 10
    val norm = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("t"))
      .withColumn("n", length(col("t")))
    // The exact reference, length-blocked: edit distance >= length
    // difference, so a pair more than k apart in length never
    // qualifies. Blocks of width k + 1 put every pair within k in the
    // same or a neighbouring block; each pair is enumerated once, then
    // the length predicate and the same unthresholded levenshtein run.
    val blk = floor(col("n") / (k + 1))
    val a = norm.select(col("doc_id").as("doc_a"), col("t").as("t_a"),
      col("n").as("n_a"), explode(array(blk - 1, blk, blk + 1)).as("blk"))
    val b = norm.select(col("doc_id").as("doc_b"), col("t").as("t_b"),
      col("n").as("n_b"), blk.as("blk"))
    val naive = a.join(b, "blk")
      .filter(col("doc_a") < col("doc_b") && abs(col("n_a") - col("n_b")) <= k)
      .withColumn("ed", levenshtein(col("t_a"), col("t_b")))
      .filter(col("ed") <= k)
      .select("doc_a", "doc_b", "ed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val df = Dedup.editDistancePairs(spark, sfDir, k)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === naive, "prefix + short-band blocking must be lossless")
    assert(got.nonEmpty, "corpus plants ed<=10 near-dups")
    // the candidate path is equi-joins only — a cartesian would BNLJ
    assert(!graft.plans.PlanChecks.hasBroadcastNestedLoop(df))
  }

  test("d32 winnowing: shared-run guarantee, no-overlap silence, driver replay") {
    import spark.implicits._
    // the winnowing guarantee (SIGMOD'03 §3): any shared token run of
    // length >= k + w - 1 (= 6 here) yields >= 1 shared fingerprint.
    // Docs 1/2 share a 12-token run inside different surroundings;
    // docs 3/4 share nothing
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, s"red orange yellow $shared green blue violet one two three four five six"),
      (2L, s"six five four three two one $shared violet blue green ten nine eight"),
      (3L, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp"),
      (4L, "qq rr ss tt uu vv ww xx yy zz a1 b2 c3 d4 e5 f6"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowPairsFrom(docs, minShared = 1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.contains((1L, 2L)), "shared 12-token run must fingerprint-collide")
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L || p._2 == 4L),
      s"disjoint docs must not pair: $got")
    // driver replay of the exact pipeline (ordered 3-gram md5 hashes,
    // width-4 window minima, distinct) confirms the shared count
    def fps(text: String): Set[Long] = {
      val wds = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val h = wds.sliding(3).map { g =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(g.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(md.take(15), 16)
      }.toArray
      h.sliding(4).map(_.min).toSet
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case ((a, b), n) =>
      assert(n === (fps(texts(a)) intersect fps(texts(b))).size.toLong,
        s"pair ($a,$b)")
    }
    // corpus smoke at the default threshold: planted near-dups pair up
    assert(Dedup.winnowPairs(spark, sfDir).count() > 0)
  }

  test("d36 quality keeper: one keeper per cluster, always the score argmax") {
    import org.apache.spark.sql.functions.col
    val rows = graft.operators.Dedup.qualityKeeperDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (comp, ms) =>
      assert(ms.forall(_._3 == ms.length), s"component $comp: size mismatch")
      val keepers = ms.filter(_._5)
      assert(keepers.length == 1, s"component $comp: ${keepers.length} keepers")
      // the keeper is the (score desc, doc_id asc) argmax
      val best = ms.minBy { case (id, _, _, q, _) => (-q, id) }
      assert(keepers.head._1 == best._1,
        s"component $comp: keeper ${keepers.head._1} != argmax ${best._1}")
    }
    // the corpus must exercise the semantic difference vs d9: at least
    // one multi-member cluster keeps a doc that is NOT the min id
    assert(byComp.values.exists(ms =>
      ms.length > 1 && ms.find(_._5).exists(k => k._1 != k._2)),
      "no cluster kept a non-min-id doc - d36 degenerated to d9")
    spark.catalog.clearCache()
  }
}
