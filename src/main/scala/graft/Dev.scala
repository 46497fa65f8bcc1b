package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.operators.TaxiSpeed
import graft.sources.{TaxiCsv, TaxiDataGen}

/** The developer main: one session, one subcommand.
  *
  * {{{
  * graft.Dev time <query>                        fresh-JVM solo timing → SOLOJSON: line
  * graft.Dev flagship                            GB taxi flagship → GBJSON: line
  * graft.Dev explain [sfDir] [outFile] [query ...]  formatted plans → PLANS.md
  * }}}
  *
  * Run with `sbt "runMain graft.Dev <subcommand> ..."`. [[Bench]] forks
  * `time` and `flagship` in fresh JVMs and embeds their marker lines.
  * `time` and `flagship` read `SPARK_GRAFT_SF_DIR` (default
  * `/root/testdata/sf0.1`); `time` also reads
  * `SPARK_GRAFT_WARMSWEEP_DIR` (default `/root/testdata/sf0.001`).
  */
object Dev {
  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: name :: Nil => time(name)
    case "flagship" :: Nil => flagship()
    case "explain" :: rest => explain(rest)
    case _ =>
      System.err.println("usage: graft.Dev time <query> | flagship | " +
        "explain [sfDir] [outFile] [query ...]")
      sys.exit(2)
  }

  private def benchSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** One query, timed in this (fresh) JVM — the suite's per-query
    * number free of suite-JVM code-cache and profile pressure: the
    * in-suite per-query numbers inflated ~28 % r13→r14 with no code
    * change in the affected queries (g2 5.1→9.9 s) while the fresh-JVM
    * flagship stayed flat. Three untimed warm runs at the warm-sweep
    * SF (codegen + C2 compilation of the plan shape), then three timed
    * runs at the target SF with the session cache cleared between
    * runs; the number is the MINIMUM (this host shows episodic
    * multi-10 s stalls uncorrelated with code).
    *
    * Prints ONE line: `SOLOJSON:{"solo_sec":…,"runs":[…]}`, the fragment
    * Bench embeds per query under the artifact's `solo` object; none
    * when the query fails.
    *
    * Thread count matters: the iterative graph queries (vertex-sized
    * relations, many small jobs per round) carry per-task scheduling
    * overhead proportional to it at test scale (r15: g5 6.5 s at
    * local[4] vs ~11.5 s at local[32], same plan). Compare solo numbers
    * only at the same `SPARK_GRAFT_CPUS`.
    */
  private def time(name: String): Unit = {
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMSWEEP_DIR",
      "/root/testdata/sf0.001")
    val spark = GraftSession()
    try {
      val fn = SparkEntry.queries(name)
      // noop sink = full execution (count() lets the optimizer elide
      // non-cardinality-changing subtrees)
      def run(dir: String): Unit = {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }
      if (warmDir.nonEmpty && new java.io.File(warmDir).isDirectory)
        for (_ <- 1 to 3) run(warmDir)
      val runs = (1 to 3).map(_ => seconds(run(benchSfDir)))
      System.err.println(f"[bench] solo $name: min ${runs.min}%.2f s " +
        runs.map(r => f"$r%.2f").mkString("[", ",", "]"))
      println("SOLOJSON:" +
        s"""{"solo_sec":${runs.min},"runs":${runs.mkString("[", ",", "]")}}""")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] solo $name failed:")
      e.printStackTrace()
    } finally spark.stop()
  }

  /** The GB-scale taxi flagship in its own JVM. Inside the suite JVM it
    * regressed 8.5 s → 27.6 s r11→r12 with no taxi-path change, from
    * the extra queries' code-cache and profile pressure; a real
    * deployment runs the ingest as a one-shot job, so a fresh JVM is
    * the comparable measurement. An untimed single-file JIT ramp per
    * mode, then three timed runs per mode; the min is reported (one
    * host stall must not set the headline).
    *
    * Prints ONE line: `GBJSON:"gb_flagship":{...},`, the fragment Bench
    * embeds in bench_out.json; none when it fails.
    */
  private def flagship(): Unit = {
    val spark = GraftSession()
    try {
      val g0 = System.nanoTime()
      val glob = TaxiDataGen.ensureScaled(spark, benchSfDir)
      val genSec = (System.nanoTime() - g0) / 1e9
      val csvs = new java.io.File(glob).getParentFile.listFiles()
        .filter(_.getName.endsWith(".csv"))
      val bytes = csvs.map(_.length).sum
      // collect through formatResult — the reference's own output
      // step, and a 7-row collect cannot be subtree-eliminated
      def faithful(path: String = glob): Unit = {
        TaxiSpeed.formatResult(TaxiSpeed.faithfulAvgByDowListed(spark, path)); () }
      def weighted(path: String = glob): Unit = {
        TaxiSpeed.formatResult(TaxiSpeed.weightedAvgByDow(TaxiCsv.trips(spark, path))); () }
      // 2 runs over one ~280 MB file let C2 compile the fused scan
      // stage while only 3 tasks occupy the cores
      val rampFile = csvs.map(_.getAbsolutePath).min
      val rampSec = seconds { for (_ <- 1 to 2) { faithful(rampFile); weighted(rampFile) } }
      val fRuns = Seq.fill(3)(seconds(faithful()))
      val wRuns = Seq.fill(3)(seconds(weighted()))
      val (fSec, wSec) = (fRuns.min, wRuns.min)
      System.err.println(f"[bench] gb_flagship (fresh JVM): $bytes%d bytes, " +
        f"ramp $rampSec%.1f s, " +
        f"faithful $fSec%.1f s ${fRuns.map(r => f"$r%.1f").mkString("[", ",", "]")}, " +
        f"weighted $wSec%.1f s ${wRuns.map(r => f"$r%.1f").mkString("[", ",", "]")} (baseline 481 s)")
      println("GBJSON:" +
        s""""gb_flagship":{"bytes":$bytes,"gen_sec":$genSec,"ramp_sec":$rampSec,"faithful_sec":$fSec,"faithful_runs":${fRuns.mkString("[", ",", "]")},"weighted_sec":$wSec,"weighted_runs":${wRuns.mkString("[", ",", "]")},"baseline_sec":481,"cold_note":"flagship runs in a FORKED FRESH JVM (r12: suite-JVM code-cache/profile pressure tripled the warm time as the suite grew; a one-shot deployment is a fresh JVM); min of 3 timed runs per mode - the host shows episodic multi-10s stalls uncorrelated with code (ramp 78s vs 336s across identical launches), so a single polluted run must not set the headline"},""")
    } catch { case NonFatal(e) =>
      System.err.println("[bench] gb_flagship (fresh JVM) failed:")
      e.printStackTrace()
    } finally spark.stop()
  }

  /** Plan evidence: `explain("formatted")` of the named queries, or of
    * every registered query when none is named, into one markdown file
    * (default PLANS.md) — the inspectable record behind the pushdown /
    * broadcast / WholeStageCodegen / WindowGroupLimit claims that
    * `plans.PlanChecks` pins in the specs. Builds each query, so the
    * stores a query derives are built eagerly.
    */
  private def explain(args: List[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val names = if (args.length > 2) args.drop(2) else SparkEntry.registry.map(_.name)
    val queries = SparkEntry.queries
    // fixed 4 cores: the dump's plans must not depend on the host
    val spark = GraftSession(cores = 4)
    val sb = new StringBuilder
    sb.append(s"# PLANS — formatted physical plans (${new java.io.File(sfDir).getName})\n\n")
    sb.append("Generated by `sbt \"runMain graft.Dev explain\"`. ")
    sb.append("Things to look for: `PushedFilters`/pruned `ReadSchema` on scans, ")
    sb.append("`BroadcastHashJoin` for bounded dims, `WindowGroupLimit` for ")
    sb.append("per-group top-k, `dotproduct` inside WholeStageCodegen projects, ")
    sb.append("`InMemoryRelation` where an operator caches a branch-shared ")
    sb.append("relation (d11/d12/t9).\n")
    names.foreach { n =>
      val df = queries(n)(spark, sfDir)
      sb.append(s"\n## $n\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
      // operator-internal cache() lifecycles end with the query
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println("WROTE " + outFile + " " + sb.length + " chars")
    spark.stop()
  }
}
