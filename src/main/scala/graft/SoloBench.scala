package graft

import scala.util.control.NonFatal

/** Standalone-timed tier for the heaviest suite queries (r14 verdict
  * #1), run ONE QUERY PER FRESH JVM — the gb_flagship protocol
  * ([[FlagshipBench]]) extended to individual queries.
  *
  * Why: the in-suite per-query numbers inflated ~28 % r13→r14 with no
  * code change in the affected queries (g2 5.1→9.9 s) while the
  * flagship-in-fresh-JVM stayed flat — the r12-diagnosed suite-JVM
  * code-cache/profile pressure grows with the suite. A per-query
  * fresh-JVM measurement is immune to suite size BY CONSTRUCTION, so
  * it is the number that is comparable round-over-round and the only
  * protocol code comments may cite ("solo min-of-3"). The suite
  * numbers remain in the artifact as the throughput-under-load
  * column; the solo column attributes any divergence to suite-JVM
  * pressure rather than leaving it a regression suspect.
  *
  * Protocol per query: three untimed warm runs at the warm-sweep SF
  * (codegen + C2 compilation of the plan shape — the suite's
  * sacrificial-run convention), then three timed runs at the target
  * SF with the session cache cleared between runs; the reported
  * number is the MINIMUM (steady-state throughput; this host shows
  * episodic multi-10 s stalls uncorrelated with code — see
  * FlagshipBench).
  *
  * Prints ONE line to stdout: `SOLOJSON:{"solo_sec":…,"runs":[…]}` —
  * the fragment [[Bench]] embeds per query under the artifact's
  * `solo` object.
  *
  * Thread-count sensitivity (r15 root-cause of the "inflation"): the
  * solo tier runs at the SAME `SPARK_GRAFT_CPUS` as the suite so the
  * suite-vs-solo comparison isolates suite-JVM pressure alone. But
  * the ITERATIVE graph queries (vertex-sized relations, many small
  * jobs per round) carry per-task scheduling overhead proportional
  * to thread count at test scale: measured r15, g5 solo min-of-3 was
  * 6.5 s at local[4] (matching the retired r14 TimeQ claim) vs
  * ~11.5 s at local[32], g2 4.8 s vs 6.0 s — identical code and
  * plan. At 100 TB more partitions buy real parallelism; at sf0.1
  * they buy scheduler overhead. Compare solo numbers round-over-round
  * ONLY at the same CPUS setting.
  */
object SoloBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMSWEEP_DIR",
      "/root/testdata/sf0.001")
    val spark = GraftSession()
    try {
      val fn = SparkEntry.queries(name)
      // noop sink = full execution (Bench's methodology note: count()
      // lets the optimizer elide non-cardinality-changing subtrees)
      def run(dir: String): Unit = {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }
      if (warmDir.nonEmpty && new java.io.File(warmDir).isDirectory)
        for (_ <- 1 to 3) run(warmDir)
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        run(sfDir)
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[bench] solo $name: min ${runs.min}%.2f s " +
        runs.map(r => f"$r%.2f").mkString("[", ",", "]"))
      println("SOLOJSON:" +
        s"""{"solo_sec":${runs.min},"runs":${runs.mkString("[", ",", "]")}}""")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] solo $name failed:")
      e.printStackTrace()
      // no SOLOJSON line — the parent records the query as failed
    } finally spark.stop()
  }
}
