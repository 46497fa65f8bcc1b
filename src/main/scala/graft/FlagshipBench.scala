package graft

import scala.util.control.NonFatal

/** GB-scale flagship benchmark, run in its OWN JVM.
  *
  * Why a separate process (r12 lesson): the flagship used to run last
  * inside the suite JVM, after ~190 queries' generated classes had
  * been compiled in it. r11→r12 the suite grew by 55 queries and the
  * faithful warm time regressed 8.5 s → 27.6 s (cold run 297 s) with
  * ZERO taxi-path code change — code-cache pressure / profile churn
  * from the extra compiled plans starved the flagship's C2 state. A
  * real deployment runs the GB ingest as a one-shot job in a fresh
  * JVM, so the comparable measurement is a fresh JVM: [[Bench]] forks
  * this main (same JVM flags, same classpath), which reproduces the
  * r10/r11 methodology — untimed single-file JIT ramp, then two timed
  * runs per reduce mode — without inheriting the suite's JIT state,
  * and keeps the headline number comparable round-over-round no
  * matter how many queries the suite gains.
  *
  * Prints ONE line to stdout: `GBJSON:{...}` — the gb_flagship JSON
  * fragment [[Bench]] embeds in bench_out.json.
  */
object FlagshipBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    try {
      val g0 = System.nanoTime()
      val glob = graft.sources.TaxiDataGen.ensureScaled(spark, sfDir)
      val genSec = (System.nanoTime() - g0) / 1e9
      val bytes = new java.io.File(glob).getParentFile
        .listFiles().filter(_.getName.endsWith(".csv")).map(_.length).sum
      // collect through formatResult — the reference's own output
      // step, and a 7-row collect cannot be subtree-eliminated
      def t(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def faithful(path: String = glob): Unit = {
        graft.operators.TaxiSpeed.formatResult(
          graft.operators.TaxiSpeed.faithfulAvgByDowListed(spark, path)); () }
      def weighted(path: String = glob): Unit = {
        graft.operators.TaxiSpeed.formatResult(
          graft.operators.TaxiSpeed.weightedAvgByDow(
            graft.sources.TaxiCsv.trips(spark, path))); () }
      // Untimed single-file JIT ramp per mode (r11's measured
      // mitigation, still required in a fresh JVM): 2 runs over one
      // ~280 MB file let C2 compile the fused scan stage while only 3
      // tasks occupy the cores; a real one-shot deployment would do
      // the same and its cost is recorded as ramp_sec.
      val rampFile = new java.io.File(glob).getParentFile.listFiles()
        .filter(_.getName.endsWith(".csv")).map(_.getAbsolutePath).min
      val rampSec = t { for (_ <- 1 to 2) { faithful(rampFile); weighted(rampFile) } }
      // THREE timed runs per mode, report the min: this host shows
      // episodic multi-10-second stalls uncorrelated with code or JIT
      // state (observed across identical fresh-JVM runs: ramp 78 s vs
      // 336 s; weighted runs [8.4, 57.8] one launch, [132, 20] the
      // next, faithful meanwhile stable ~9-16 s). With 2 runs one
      // stall pollutes the min; a third makes the reported number the
      // steady-state throughput, which is the quantity comparable
      // round-over-round and against the 481 s baseline.
      val fRuns = Seq(t(faithful()), t(faithful()), t(faithful()))
      val wRuns = Seq(t(weighted()), t(weighted()), t(weighted()))
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
      // no GBJSON line — the parent treats absence as failure
    } finally spark.stop()
  }
}
