package graft

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{RelationalQueries, Similarity}
import graft.plans.PlanChecks

class PlanChecksSpec extends AnyFunSuite with BeforeAndAfterEach {
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

  test("PlanChecks observes the plan shapes the engine promises") {
    assert(PlanChecks.hasPushedFilter(
      RelationalQueries.filterProject(spark, sfDir), "GreaterThan(l_quantity"))
    assert(PlanChecks.hasBroadcastJoin(
      RelationalQueries.revenueByNation(spark, sfDir)))
    assert(PlanChecks.hasTakeOrdered(
      RelationalQueries.topkOrders(spark, sfDir)))
    assert(PlanChecks.hasWindowGroupLimit(
      Similarity.bruteForceTopK(spark, sfDir)))
    assert(PlanChecks.prunesColumn(
      RelationalQueries.filterProject(spark, sfDir), "l_returnflag"))
    assert(PlanChecks.wholeStageCodegenSpans(
      RelationalQueries.filterProject(spark, sfDir)) >= 1)
    assert(PlanChecks.exchangeCount(
      RelationalQueries.topkOrders(spark, sfDir)) === 0)
  }

  test("faithful flagship and taxi pipeline scan their facts exactly once") {
    assert(PlanChecks.fileScanCount(
      SparkEntry.queries("events_speed_faithful")(spark, sfDir)) === 1)
    val glob = graft.sources.TaxiDataGen.ensure(spark, sfDir)
    assert(PlanChecks.fileScanCount(
      graft.operators.TaxiSpeed.faithfulAvgByDowListed(spark, glob)) === 1)
  }

  test("faithful flagship and taxi pipeline: no broadcast, no join in the executed plan") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val glob = graft.sources.TaxiDataGen.ensure(spark, sfDir)
    for (q <- Seq(SparkEntry.queries("events_speed_faithful")(spark, sfDir),
        graft.operators.TaxiSpeed.faithfulAvgByDowListed(spark, glob))) {
      q.collect() // the final adaptive plan
      val ns = PlanChecks.allNodes(q.queryExecution.executedPlan)
      assert(!ns.exists(_.isInstanceOf[BroadcastExchangeLike]), PlanChecks.executedPlan(q))
      assert(!ns.exists(_.isInstanceOf[BaseJoinExec]), PlanChecks.executedPlan(q))
    }
  }

  test("containment dedup never plans a nested-loop or cartesian join") {
    val d8 = graft.operators.Dedup.containmentPairs(spark, sfDir)
    assert(!PlanChecks.hasBroadcastNestedLoop(d8))
    assert(!PlanChecks.executedPlan(d8).contains("CartesianProduct"))
  }

  test("d12 curate scans the corpus once (cached), bounded shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache()
    try {
      val d12 = graft.operators.CorpusOps.curate(spark, sfDir)
      // drive THIS plan so the final adaptive shape (and the cache fill)
      // is what we inspect
      d12.queryExecution.executedPlan.execute().count()
      val ns = PlanChecks.allNodes(d12.queryExecution.executedPlan)
      // corpus scan + fp dedup shuffle live inside the cached relation,
      // materialized once — both consuming branches read the cache
      assert(ns.count(_.isInstanceOf[FileSourceScanExec]) === 0)
      assert(ns.count(_.isInstanceOf[InMemoryTableScanExec]) === 2)
      // remaining shuffles: (lang, score) percentile + presentation sort
      assert(ns.count(_.isInstanceOf[ShuffleExchangeLike]) === 2)
      // the dedup rank-1 filter planned two-phase inside the cached plan
      assert(PlanChecks.executedPlan(d12).contains("WindowGroupLimit"))
    } finally spark.catalog.clearCache()
  }

  test("r11 ops plan the shapes their scaladocs promise") {
    // t17: vocabulary head via distributed heap-R, never a full sort
    assert(PlanChecks.hasTakeOrdered(
      graft.operators.TextAnalysis.zipfOctaves(spark, sfDir)))
    // w7: first-purchase attribution is two-phase per-click top-1
    assert(PlanChecks.hasWindowGroupLimit(
      graft.streaming.EventsWindows.clickAttribution(spark, sfDir)))
    // t16: no nested-loop anywhere except the broadcast 1-row totals
    val t16 = graft.operators.TextAnalysis.bigramMoments(spark, sfDir)
    try {
      assert(!PlanChecks.executedPlan(t16).contains("CartesianProduct"))
      // the three vocabulary joins hash-join (broadcast or shuffled),
      // never nested-loop over corpus-sized inputs: the only BNLJ
      // allowed is the single-row totals crossJoin
      import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
      val bnl = PlanChecks.allNodes(t16.queryExecution.executedPlan)
        .collect { case b: BroadcastNestedLoopJoinExec => b }
      assert(bnl.size <= 1, s"unexpected nested loops: ${bnl.size}")
    } finally spark.catalog.clearCache() // t16 caches its token arrays
  }

  test("q28 construction is side-effect-free and broadcasts the hot set") {
    // The r6 rewrite moved hot-key detection INSIDE the plan: building
    // the DataFrame must run zero Dataset actions (the old shape ran an
    // eager hot-set collect() at construction, charging plan-only
    // callers a cluster job). A QueryExecutionListener sees exactly
    // those actions — and, unlike a raw job counter, is blind to the
    // benign parquet schema-inference jobs `spark.read` schedules.
    // Listener events are posted async → drain the bus before asserting.
    val listener = ProgressListener.attach(spark)
    try {
      val q28 = graft.operators.RelationalQueries2
        .hotKeySaltedJoinRevenue(spark, sfDir)
      org.apache.spark.sql.graft.Shims.drainListenerBus(spark.sparkContext)
      assert(listener.snapshot.isEmpty,
        "constructing q28 must not execute any Dataset action")
      // The detected-hot-key set is tiny by construction → it must be
      // BROADCAST onto BOTH the fact and the dim side, never shuffled.
      // Check the join NODES' keys, not plan-string substrings — two
      // independent contains() would pass even if the _hk joins
      // shuffled while some unrelated join broadcast.
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      val hkBroadcasts = PlanChecks.allNodes(q28.queryExecution.executedPlan)
        .collect { case b: BroadcastHashJoinExec
          if (b.leftKeys ++ b.rightKeys)
            .exists(_.references.exists(_.name == "_hk")) => b }
      assert(hkBroadcasts.size === 2,
        "hot set must broadcast onto both the fact and the dim side")
    } finally spark.listenerManager.unregister(listener)
  }

  test("q54-q59 star shapes: dimensions broadcast, fact joins bounded as claimed") {
    // Pins the r11 star battery's scaladoc claims so an AQE or stats
    // change can't silently regress them. Counts are over the INITIAL
    // adaptive plan (tiny-SF stats can only turn MORE joins into
    // broadcasts, so the shuffle-join counts are upper bounds that
    // hold at every scale, and the hinted broadcasts are lower bounds
    // that hold regardless of stats).
    import graft.operators.RelationalQueries3._
    def pin(name: String, df: org.apache.spark.sql.DataFrame,
        minBroadcast: Int, maxShuffleJoin: Int): Unit = {
      val (bhj, smj, shj, bnl) = PlanChecks.joinCounts(df)
      assert(bhj >= minBroadcast,
        s"$name: $bhj broadcast joins, expected >= $minBroadcast")
      assert(smj + shj <= maxShuffleJoin,
        s"$name: ${smj + shj} shuffle joins, claimed <= $maxShuffleJoin")
      assert(bnl === 0, s"$name: nested-loop/cartesian join planned")
    }
    // q54: two nation-slice broadcasts; fact flows through at most the
    // claimed supp/orders/cust joins
    pin("q54", volumeShipping(spark, sfDir), 2, 3)
    // q55: region->nation, part-type, supplier->nation broadcasts; the
    // fact takes at most the claimed two shuffle joins (orders, supp)
    pin("q55", marketShare(spark, sfDir), 3, 2)
    // q56: nation broadcast; at most orderkey/custkey shuffles; global
    // top-20 is a TakeOrdered heap, never a total sort
    pin("q56", returnedRevenue(spark, sfDir), 1, 2)
    assert(PlanChecks.hasTakeOrdered(returnedRevenue(spark, sfDir)))
    // q57: single broadcast probe, lineitem never shuffle-joins
    pin("q57", bracketRevenue(spark, sfDir), 1, 0)
    // q58: part + supplier->nation broadcast probes, exactly one
    // shuffle join (orderkey) at most
    pin("q58", profitByNationYear(spark, sfDir), 2, 1)
    // q59: every join broadcast (part probe, region chain); the one
    // fact shuffle is the junction DISTINCT, not a join; presentation
    // is a TakeOrdered heap
    pin("q59", bestSupplierPerPart(spark, sfDir), 2, 0)
    assert(PlanChecks.hasTakeOrdered(bestSupplierPerPart(spark, sfDir)))
    // q69: filtered part dim + supplier blacklist both broadcast;
    // lineitem never shuffle-joins (the only shuffle is the aggregate)
    pin("q69", supplierCounts(spark, sfDir), 2, 0)
    // q70: part filter + supplier dim broadcast; the Q20 subquery
    // chain is flattened — lineitem scanned ONCE, no shuffle join
    pin("q70", excessStockSuppliers(spark, sfDir), 2, 0)
    // q71: the global rank must NEVER plan an unpartitioned window —
    // the whole point of the offset formulation (oracle uses one; the
    // Spark side must not)
    val q71 = customerValueTiles(spark, sfDir)
    assert(PlanChecks.singlePartitionWindows(q71) === 0,
      "q71 planned a single-partition window — the distributed rank regressed")
    assert(q71.collect().nonEmpty)
    // d20: per-source cap rewrites to WindowGroupLimit partial top-k
    assert(PlanChecks.hasWindowGroupLimit(
      graft.operators.CorpusOps.domainCap(spark, sfDir)))
  }

  test("r12 ops plan the shapes their scaladocs promise") {
    import graft.operators.{TextAnalysis, TimeSeries}
    // t21: shuffle-free scan — the only exchange is the presentation sort
    assert(PlanChecks.exchangeCount(TextAnalysis.chunk(spark, sfDir)) <= 1)
    // t22/t23: the vocab is a TakeOrdered top-k that BROADCASTS onto the
    // membership join — never a shuffle join against the token stream
    for (df <- Seq(TextAnalysis.vocabOov(spark, sfDir),
        TextAnalysis.encode(spark, sfDir))) {
      assert(PlanChecks.hasTakeOrdered(df))
      val (bhj, smj, shj, bnl) = PlanChecks.joinCounts(df)
      assert(bhj >= 1 && smj + shj === 0 && bnl === 0)
      spark.catalog.clearCache()
    }
    // q61/q62: the hourly aggregate + one per-user pass + presentation
    // sort — three exchanges, nothing quadratic, no joins at all
    for (df <- Seq(TimeSeries.ewma(spark, sfDir),
        TimeSeries.anomalies(spark, sfDir))) {
      assert(PlanChecks.exchangeCount(df) <= 3)
      val (bhj, smj, shj, bnl) = PlanChecks.joinCounts(df)
      assert(bhj + smj + shj + bnl === 0)
    }
    // m8: banded equi-join candidates, never nested-loop/cartesian
    val m8 = graft.operators.Multimodal.mediaPHashPairs(spark, sfDir)
    val (_, _, _, m8bnl) = PlanChecks.joinCounts(m8)
    assert(m8bnl === 0)
    spark.catalog.clearCache()

    // q63: one user-keyed set aggregate + one cell aggregate +
    // presentation sort — no window, no join
    val q63 = graft.operators.Behavior.retention(spark, sfDir)
    assert(PlanChecks.exchangeCount(q63) <= 3)
    assert(!PlanChecks.executedPlan(q63).contains("Window"))
    val (b63, s63, h63, n63) = PlanChecks.joinCounts(q63)
    assert(b63 + s63 + h63 + n63 === 0)
    // q64/q65: every step join keys on user_id — hash joins only,
    // nothing nested-loop, nothing cartesian
    for (df <- Seq(graft.operators.Behavior.funnel(spark, sfDir),
        graft.operators.Behavior.conversionLag(spark, sfDir))) {
      val (_, _, _, bnl) = PlanChecks.joinCounts(df)
      assert(bnl === 0)
      assert(!PlanChecks.executedPlan(df).contains("CartesianProduct"))
    }
    // t24: the corpus-sized exploded shingle relation passes through
    // hash aggregates ONLY — no window sort, no nested loop; the one
    // join is the doc-keyed stitch of two per-doc relations
    val t24 = TextAnalysis.noveltyScores(spark, sfDir)
    val (b24, s24, h24, n24) = PlanChecks.joinCounts(t24)
    assert(n24 === 0)
    assert(b24 + s24 + h24 === 1)
    assert(!PlanChecks.executedPlan(t24).contains("WindowExec"))
    // d24: map-side-combined manifest — partial agg + final agg + sort
    val d24 = graft.operators.CorpusOps.shardManifest(spark, sfDir)
    assert(PlanChecks.exchangeCount(d24) <= 2)
    val (bd, sd, hd, nd) = PlanChecks.joinCounts(d24)
    assert(bd + sd + hd + nd === 0)
  }

  test("graph ops: g1 broadcasts ranks per iteration, neither plans a nested loop") {
    spark.catalog.clearCache()
    // g1: each of the 3 iterations joins the vertex-sized rank relation
    // onto the cached edge relation via BROADCAST — the edges are never
    // re-shuffled inside the loop
    val g1 = graft.operators.Graph.pageRank(spark, sfDir)
    assert(PlanChecks.hasBroadcastJoin(g1))
    assert(!PlanChecks.hasBroadcastNestedLoop(g1))
    assert(!PlanChecks.executedPlan(g1).contains("CartesianProduct"))
    spark.catalog.clearCache()
    // g2: orientation + adjacency joins are all equi-keyed (hash/merge);
    // the only nested-loop joins are the final 1-row × 1-row stat
    // stitches, bounded by construction
    // (the orientation joins live inside the persisted relation's
    // cached plan; the visible ones are the two adjacency joins)
    val g2 = graft.operators.Graph.triangleCount(spark, sfDir)
    val (gb, gs, gh, gn) = PlanChecks.joinCounts(g2)
    assert(gb + gs + gh >= 2, s"equi joins: $gb+$gs+$gh")
    assert(gn <= 2, s"nested-loop joins beyond the 1-row stitches: $gn")
    spark.catalog.clearCache()
    // g3: same join discipline as g2 (all equi-keyed, no 1-row stat
    // stitches at all), and the top-k is a distributed heap — never a
    // full sort of the vertex relation
    val g3 = graft.operators.Graph.clusteringCoeff(spark, sfDir)
    val (_, _, _, g3n) = PlanChecks.joinCounts(g3)
    assert(g3n === 0, s"g3 planned $g3n nested-loop joins")
    assert(!PlanChecks.executedPlan(g3).contains("CartesianProduct"))
    assert(PlanChecks.hasTakeOrdered(g3))
    spark.catalog.clearCache()
    // g4: degree joins are equi-keyed; the only nested loops are the
    // two 1-row stat stitches
    val g4 = graft.operators.Graph.assortativity(spark, sfDir)
    val (_, _, _, g4n) = PlanChecks.joinCounts(g4)
    assert(g4n <= 2, s"g4 nested-loop joins beyond the 1-row stitches: $g4n")
    spark.catalog.clearCache()
  }

  test("g5/g6: no unbounded per-key array aggregation in either plan") {
    // r12 verdict #5: g5's neighbor-H gather and g6's per-customer
    // pair expansion used collect_list/collect_set — a degree-sized
    // (resp. C(n,2)-sized) in-memory array per key, the hub hazard at
    // 100×. Both now use streaming shapes (windowed counting h-index;
    // self-join pair generation), so NO array-collecting aggregate may
    // appear anywhere in either optimized plan.
    spark.catalog.clearCache()
    for ((name, df) <- Seq(
        "g5" -> graft.operators.Graph.coreness(spark, sfDir, rounds = 2),
        "g6" -> graft.operators.Graph.supplierOverlap(spark, sfDir))) {
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("collect_list") && !p.contains("collect_set"),
        s"$name plans a per-key array aggregate:\n$p")
      spark.catalog.clearCache()
    }
  }

  test("t28 collocations: broadcast vocab joins, heap top-k, single corpus scan") {
    spark.catalog.clearCache()
    val t28 = graft.operators.TextAnalysis.collocations(spark, sfDir)
    t28.queryExecution.executedPlan.execute().count()
    // the pair relation joins the two vocab sides + the 1-row total —
    // all broadcastable; the top-k is TakeOrderedAndProject
    assert(PlanChecks.hasBroadcastJoin(t28))
    assert(PlanChecks.hasTakeOrdered(t28))
    import org.apache.spark.sql.execution.FileSourceScanExec
    val ns = PlanChecks.allNodes(t28.queryExecution.executedPlan)
    // token arrays are cached: every consumer reads the cache, the
    // parquet scan happens inside the cached relation only
    assert(ns.count(_.isInstanceOf[FileSourceScanExec]) === 0)
    spark.catalog.clearCache()
  }

  test("LevenshteinLengthPrune injects the implied length guard, results unchanged") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(col("text")).as("t"))
    // un-guarded threshold filter: the rule must add the length compare
    val filtered = docs.filter(levenshtein(col("t"), lit("the fast key")) <= 30)
    val opt = filtered.queryExecution.optimizedPlan.toString
    assert(opt.contains("abs(") && opt.contains("length("),
      s"guard not injected:\n$opt")
    // idempotent: exactly ONE guard even though the batch is fixed-point
    assert("abs\\(\\(length\\(".r.findAllIn(opt).size === 1, opt)
    // position: the guard must sit BEFORE the levenshtein conjunct —
    // conjuncts evaluate left-to-right, and a guard evaluated after
    // the DP short-circuits nothing
    assert(opt.indexOf("abs((length(") < opt.indexOf("levenshtein("),
      s"guard does not precede the DP:\n$opt")
    // semantics: identical rows to the same predicate evaluated as a
    // projected column (no Filter node -> the rule never fires there)
    val expect = docs
      .withColumn("ed", levenshtein(col("t"), lit("the fast key")))
      .collect().filter(r => !r.isNullAt(2) && r.getInt(2) <= 30)
      .map(_.getLong(0)).toSet
    assert(filtered.collect().map(_.getLong(0)).toSet === expect)
    // the threshold form (levenshtein(a, b, k) >= 0) is covered too
    val thr = docs.filter(levenshtein(col("t"), lit("the fast key"), 30) >= 0)
    val optThr = thr.queryExecution.optimizedPlan.toString
    assert(optThr.contains("abs(") && optThr.contains("length("), optThr)
    assert(thr.collect().map(_.getLong(0)).toSet === expect)
    // a hand-guarded filter is NOT double-guarded (semantic dedupe)
    val manual = docs.filter(
      abs(length(col("t")) - length(lit("the fast key"))) <= 30 &&
        levenshtein(col("t"), lit("the fast key")) <= 30)
    assert("abs\\(\\(length\\(".r
      .findAllIn(manual.queryExecution.optimizedPlan.toString).size === 1)
    // commuted spellings (r12 advice): literal-first comparisons and
    // equality get the same guard — hand-written SQL order must not
    // silently lose the short-circuit
    for (commuted <- Seq(
        docs.filter(lit(30) >= levenshtein(col("t"), lit("the fast key"))),
        docs.filter(lit(31) > levenshtein(col("t"), lit("the fast key"))),
        docs.filter(levenshtein(col("t"), lit("the fast key")) === 30),
        docs.filter(lit(30) === levenshtein(col("t"), lit("the fast key"))))) {
      val p = commuted.queryExecution.optimizedPlan.toString
      assert("abs\\(\\(length\\(".r.findAllIn(p).size === 1,
        s"commuted form not guarded exactly once:\n$p")
      assert(p.indexOf("abs((length(") < p.indexOf("levenshtein("), p)
    }
    // commuted semantics unchanged
    assert(docs.filter(lit(30) >=
        levenshtein(col("t"), lit("the fast key")))
      .collect().map(_.getLong(0)).toSet === expect)
  }

  test("q82: the SHUFFLE_HASH hint yields a ShuffledHashJoin with no sorts below it") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val df = graft.operators.RelationalQueries3.shuffleHashSegments(spark, sfDir)
    df.collect() // drive so the AQE final plan is stitched
    val nodes = PlanChecks.allNodes(df.queryExecution.executedPlan)
    val shjs = nodes.collect { case j: ShuffledHashJoinExec => j }
    assert(shjs.size === 1,
      s"expected one shuffled hash join:\n${PlanChecks.executedPlan(df)}")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]) &&
      !nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      PlanChecks.executedPlan(df))
    // the join itself sorts nothing — no SortExec at or below it (the
    // final presentation orderBy is above the aggregation)
    assert(!PlanChecks.allNodes(shjs.head).exists(_.isInstanceOf[SortExec]),
      s"sort below the shuffled hash join:\n${shjs.head}")
  }

  test("q93: referential integrity plans as a broadcast LEFT ANTI probe") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = graft.operators.DataQuality.constraintReport(spark, sfDir)
    // constraintReport materializes its counts eagerly; plan evidence
    // comes from the RI fragment built the same way the operator does
    val ri = Tables.orders(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("o_custkey"))
      .join(org.apache.spark.sql.functions.broadcast(
        Tables.customer(spark, sfDir).select(
          org.apache.spark.sql.functions.col("c_custkey")
            .as("o_custkey"))), Seq("o_custkey"), "left_anti")
    ri.collect()
    val nodes = PlanChecks.allNodes(ri.queryExecution.executedPlan)
    val bhj = nodes.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty && bhj.forall(_.joinType.toString == "LeftAnti"),
      PlanChecks.executedPlan(ri))
    // and the report itself: seven constraints, exact longs
    assert(df.count() === 7)
  }
}
