package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Property test for the shared connected-components fixpoint behind
  * d9/d10/d13: random edge sets compared against a driver-side
  * union-find truth, plus the adversarial shapes that broke (or nearly
  * broke) earlier designs — a long path with shuffled vertex ids (the
  * local-minima stall that defeated pull-only pointer jumping) and a
  * star rooted at the LARGEST id (all information must flow against
  * the pointer direction). Round counts are asserted logarithmic, not
  * just the labels correct: at 100 TB the round count IS the cost
  * model, and a correctness-only test would let a linear-round
  * regression slip through.
  */
class GraphCCSpec extends AnyFunSuite with BeforeAndAfterEach {
  // the Bench/Verify per-query cache lifecycle, mirrored per test:
  // graph operators persist() their loop-invariant layouts, and on the
  // shared test session a later test re-persisting the same plan spams
  // "Asked to cache already cached data" (r15 verdict hygiene item) —
  // hundreds of lines that bury any REAL CacheManager warning
  override def afterEach(): Unit = {
    spark.catalog.clearCache()
    super.afterEach()
  }

  lazy val spark = TestSpark.spark

  /** Driver-side union-find truth: map every vertex to the min id of
    * its component.
    */
  private def unionFindTruth(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(v => v.toLong -> find(v).toLong).toMap
  }

  private def runCC(n: Int, edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val pairs = edges.toDF("doc_a", "doc_b")
    val verts = (0 until n).map(_.toLong).toDF("doc_id")
    val got = Dedup.minLabelComponents(pairs, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rounds = spark.sparkContext.getLocalProperty("graft.cc.rounds").toInt
    (got, rounds)
  }

  test("random graphs match driver-side union-find") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val n = 40 + rnd.nextInt(40)
      val m = n / 2 + rnd.nextInt(n) // sparse: mix of singletons + clusters
      val edges = Seq.fill(m) {
        val a = rnd.nextInt(n); var b = rnd.nextInt(n)
        while (b == a) b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.distinct
      val (got, _) = runCC(n, edges)
      assert(got === unionFindTruth(n, edges), s"trial $trial (n=$n, m=${edges.size})")
    }
  }

  test("shuffled-id path converges in logarithmic rounds") {
    // The adversarial shape for label propagation: one long path whose
    // vertex ids are randomly placed, so (a) diameter is maximal and
    // (b) pull-only jumps stall at every local minimum. 256 vertices:
    // one-hop propagation needs ~255 rounds, pull-only jumping ~85;
    // the gather/scatter/shortcut loop must stay well under 2·log2(n).
    val n = 256
    val perm = new scala.util.Random(5).shuffle((0 until n).toVector)
    val edges = (0 until n - 1).map(i =>
      (math.min(perm(i), perm(i + 1)).toLong, math.max(perm(i), perm(i + 1)).toLong))
    val (got, rounds) = runCC(n, edges)
    assert(got.values.toSet === Set(0L), "a single path is one component")
    assert(rounds <= 16, s"path of $n vertices took $rounds rounds — not logarithmic")
  }

  test("star rooted at the largest id resolves in constant rounds") {
    // hub = n-1 connected to all others; min (0) sits on a leaf, so the
    // hub must learn it via scatter and re-broadcast it via gather.
    val n = 64
    val edges = (0 until n - 1).map(v => (v.toLong, (n - 1).toLong))
    val (got, rounds) = runCC(n, edges)
    assert(got.values.toSet === Set(0L))
    assert(rounds <= 4, s"star took $rounds rounds")
  }

  test("localCheckpointWithStats pins the declared size on a LogicalRDD leaf") {
    // The fixpoint depends on this shim taking the stats-pinning branch:
    // if a Spark upgrade changes the checkpoint plan shape, the shim
    // throws rather than returning an unpinned checkpoint (whose
    // exponential-stats optimizer stall would silently return). Pin
    // the taken branch HERE. Covers both eager and lazy forms.
    import spark.implicits._
    for (eager <- Seq(true, false)) {
      val df = (1 to 10).toDF("x")
      val cp = org.apache.spark.sql.graft.Shims
        .localCheckpointWithStats(df, 12345L, eager)
      assert(cp.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
        s"eager=$eager: checkpoint plan is not a LogicalRDD")
      assert(cp.queryExecution.analyzed.stats.sizeInBytes === BigInt(12345),
        s"eager=$eager: stats were not pinned")
      assert(cp.count() === 10, s"eager=$eager")
    }
  }

  test("two components plus isolated vertices keep distinct min labels") {
    // component A: 0-1-2, component B: 5-6 (7,8 isolated)
    val n = 9
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L))
    val (got, _) = runCC(n, edges)
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("g7 backbone components equal a driver-side union-find over the same edges") {
    val sfDir = "/root/testdata/sf0.001"
    // driver truth: rebuild the thresholded edge set with the SAME
    // decimal revenue rule, union-find it, and compare the census
    val edges = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("cv"))
      .join(graft.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("sv"),
          col("l_extendedprice"), col("l_discount")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("cv"), col("sv"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
      .filter(col("rev") >= lit(200000))
      .select("cv", "sv").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "degenerate corpus: no backbone edges")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.toSeq.groupBy(find).map { case (root, vs) =>
      val mn = vs.min // min-label contract: label is the component MIN
      mn -> (vs.size.toLong,
        vs.count(_ % 2 == 0).toLong, vs.count(_ % 2 == 1).toLong)
    }
    val got = graft.operators.Graph.backboneComponents(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toMap === want)
    // presentation order: census descending, label ascending
    assert(got.sortBy { case (c, (n, _, _)) => (-n, c) }.toSeq === got.toSeq)
  }
}
