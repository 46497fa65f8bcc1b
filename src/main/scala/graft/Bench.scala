package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE COMPACT JSON line — total, per-query
  * map (rounded to ms so the line stays ~7 KB — the r7-era full-
  * precision line was what stdout capture truncated; the driver's
  * round-over-round per-query comparison has been EMPTY since r01
  * because this line carried only the total), errors — and writes the
  * FULL artifact, including both per-pass raw times for every query,
  * to `bench_out.<cpus>.json` (path override: SPARK_GRAFT_BENCH_OUT;
  * per-CPU-count default so a lower-core scaling run cannot clobber
  * the headline run's detail, which the r15 c8 rerun did).
  *
  * Timing methodology:
  *  - Each pass starts with THREE SACRIFICIAL runs of the first-sorted
  *    query (untimed): JVM classloading, Janino codegen, and C2
  *    compilation otherwise land on whichever query sorts first — r7's
  *    artifact reported d10 at 32s where its true warm cost was ~2.9s,
  *    purely because d10 sorts first and absorbed both passes' warmup;
  *    r8's SINGLE sacrificial run still left d10 at 9s vs 3.1s true
  *    warm, because one execution does not reach C2 steady state (the
  *    first run compiles the hot loops, the next runs them compiled).
  *    Three runs cost ~2 extra warm executions (~6s) and make the first
  *    timed run of d10 its 4th execution in the JVM.
  *  - Two full passes at the target SF; the reported per-query number
  *    is the per-query MINIMUM, which measures steady-state throughput
  *    and shields single queries from the host's noisy-neighbor load
  *    waves. Both raw passes are in the artifact, so any attribution
  *    question is answerable from the file.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GB-scale flagship FIRST, in a forked fresh JVM, BEFORE this
    // process builds its own 48g SparkSession: the one comparison
    // BASELINE.md publishes at like volume (reference: 481 s over
    // ~3.2 GB taxi CSV). Fork rationale in `Dev.flagship`; ordering
    // rationale: when the child ran AFTER the suite, the parent's
    // resident heap halved the machine's free memory and the child's
    // ramp measured 4× slower (336 s vs 78 s standalone) — a one-shot
    // deployment owns the whole machine, so the measurement must too.
    val gbJson = runFlagshipForked()
    // Standalone-timed tier for the heaviest queries (r14 verdict #1):
    // one fresh JVM per query, min-of-3 — the protocol immune to
    // suite-JVM code-cache/profile pressure, run BEFORE the suite
    // session exists for the same memory reason as the flagship. The
    // artifact carries BOTH columns per query: queries.<q> (in-suite,
    // throughput under load) and solo.<q>.solo_sec (fresh JVM) — any
    // divergence is suite pressure by construction, not a regression.
    val soloJson = runSoloForked()
    // Warm at the TARGET scale: interpreted-lambda paths need ~10k
    // invocations before C2 compiles them; sf0.001 volumes never get
    // there and the first timed query absorbs ~15s of JIT instead.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    val cpus = GraftSession.envCores
    val spark = GraftSession(cpus)
    // Force FULL execution through the noop sink, NOT count():
    // count() lets the optimizer ELIMINATE subtrees whose rows provably
    // don't change the cardinality — on the faithful flagship the
    // 3 GB-scan branch sits behind a left join with unique build-side
    // keys, and count() measured a 7-row local plan with ZERO bytes
    // read (caught via input-metrics audit on the GB corpus). A write
    // needs every column of every row, so nothing is elidable.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // clearCache after EVERY query: operator-internal cache() calls
    // (Dedup's shingle table) persist in the session CacheManager, and
    // a later query with the same subtree (d3 after d2) would otherwise
    // serve it from cache — each query's time must include ALL of its
    // own work, nothing of its neighbors'. This also bounds storage
    // memory across the multi-query run.
    def timeOnce(dir: String): Map[String, Double] = {
      // sacrificial warmup actions: run the first query 3x, untimed, so
      // per-pass JVM/codegen/C2 warmup is not attributed to it (one run
      // compiles; steady state needs the compiled code to actually run)
      for (i <- 1 to 3) {
        try run(queries.head._2(spark, dir))
        catch { case NonFatal(e) =>
          // name + full stack: any trace in bench stderr must be
          // attributable to a specific query and phase (r8 shipped an
          // orphan AnalysisException no recorded pass accounted for)
          System.err.println(
            s"[bench] sacrificial warmup $i (${queries.head._1}) failed:")
          e.printStackTrace()
        }
        spark.catalog.clearCache()
      }
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { run(fn(spark, dir)); true }
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] $name failed:")
            e.printStackTrace()
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        name -> (if (ok) dt else -1.0)
      }.toMap
    }
    // FULL WARM SWEEP at a tiny SF before any timed pass: the three
    // sacrificial runs only warm the first-sorted query's subtree —
    // every other query's codegen/C2 compilation still lands on its own
    // first timed run (observed: s4's pass-0 at 65 s vs 5.8 s warm).
    // One sweep at sf0.001 compiles every plan shape for ~1 min total,
    // so both timed passes run against a warm JIT. Skipped when the
    // sweep dir is absent (or set SPARK_GRAFT_WARMSWEEP_DIR= to disable).
    val sweepDir = sys.env.getOrElse("SPARK_GRAFT_WARMSWEEP_DIR",
      "/root/testdata/sf0.001")
    if (sweepDir.nonEmpty && new java.io.File(sweepDir).isDirectory) {
      val s0 = System.nanoTime()
      timeOnce(sweepDir)
      System.err.println(
        f"[bench] warm sweep at $sweepDir: ${(System.nanoTime() - s0) / 1e9}%.1f s")
    }
    // Both passes are complete runs at the target SF; reporting the
    // per-query minimum measures steady-state throughput and shields
    // single queries from transient host contention. Failures are
    // tracked PER PASS: a warm-pass-only blip never discards a valid
    // timed measurement — a query is reported failed only if every pass
    // that feeds its reported number failed.
    val warm = timeOnce(warmDir)
    val timed = timeOnce(sfDir)
    val results = queries.map { case (name, _) =>
      val (w, t) = (warm(name), timed(name))
      val v =
        if (warmDir == sfDir) (w, t) match {
          case (-1.0, -1.0) => -1.0
          case (-1.0, tv)   => tv
          case (wv, -1.0)   => wv
          case (wv, tv)     => math.min(wv, tv)
        }
        else t
      name -> v
    }
    // Build-vs-query and cold-vs-warm splits: the suite's s2/s3/s13 and
    // q88/q91 numbers amortize an index build or a publish across passes
    // (pass 1 builds, pass 2 queries, min = query); these time the two
    // halves explicitly so the artifact states the amortization instead
    // of implying it. `reset` drops the memoized index or the persisted
    // table, then `first` and `second` are each timed after a
    // clearCache. Both halves share the passes' noop-sink methodology
    // (r9 and earlier used count(), which elides non-cardinality-
    // changing subtrees; those split numbers are not comparable).
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def split(label: String, reset: => Unit, first: => Unit,
        second: => Unit): (Double, Double) =
      try {
        reset
        spark.catalog.clearCache()
        val a = secs(first)
        spark.catalog.clearCache()
        val b = secs(second)
        spark.catalog.clearCache()
        (a, b)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $label split failed:")
        e.printStackTrace()
        (-1.0, -1.0)
      }
    import graft.operators.{CowErasure, LakehouseMerge, Similarity}
    // s3/s2/s13: the build is timed directly (the index call
    // materializes it: checkpointed relations, collected centroids),
    // not as a difference of two noisy end-to-end runs.
    val (ivfBuild, ivfQuery) = split("s3 ivf build/query",
      Similarity.invalidateIvfIndexes(),
      require(Similarity.ivfIndexFor(spark, sfDir) != null),
      run(Similarity.ivfTopK(spark, sfDir)))
    val (lshBuild, lshQuery) = split("s2 lsh build/query",
      Similarity.invalidateLshIndexes(),
      require(Similarity.lshIndexFor(spark, sfDir) != null),
      run(Similarity.lshTopK(spark, sfDir)))
    // q88: cold = drop the table, base publish + merge publish + read;
    // warm = manifest-head resolve + versioned read only.
    val (q88Cold, q88Warm) = split("q88 cold/warm",
      LakehouseMerge.invalidateOrdersSummary(spark, sfDir),
      run(LakehouseMerge.upsertOrdersSummary(spark, sfDir)),
      run(LakehouseMerge.upsertOrdersSummary(spark, sfDir)))
    // q91: cold = drop the COW store, publish base + erase + mixed-
    // ownership read; warm = manifest resolve + partition-pruned read.
    val (q91Cold, q91Warm) = split("q91 cold/warm",
      CowErasure.invalidate(spark, sfDir),
      run(CowErasure.erasedSummary(spark, sfDir)),
      run(CowErasure.erasedSummary(spark, sfDir)))
    val (ivfPqBuild, ivfPqQuery) = split("s13 ivfpq build/query",
      Similarity.invalidateIvfPqIndexes(),
      require(Similarity.ivfPqIndexFor(spark, sfDir) != null),
      run(Similarity.ivfPqTopK(spark, sfDir)))
    // Accuracy of the approximate operators, machine-readable (r11
    // verdict #4): every bound the registry declares, at THIS bench's
    // SF, so the driver artifact carries the correctness story for the
    // rows-only queries instead of it living only in the specs.
    val accJson = try {
      val measured = accuracy(spark, sfDir).map { case (_, b, v) => b.metric -> v }
      // g6's hub cap drops customers from pair generation silently
      // (r13 verdict #6) — publish how many, so the cap's coverage
      // loss at this SF is in the artifact, not just the contract
      val g6Capped = graft.operators.Graph
        .supplierOverlapCappedCount(spark, sfDir)
      // q101's bloom false-positive rate, probed stats-only against
      // 200 absent keys — bloomBitsFor's ≈0.03 design point as a
      // measured per-round number (r16: m sized from rows/file at
      // write time; the fixed-m layout this replaced measured 0.549)
      val bloomFpr = graft.operators.DataSkipping.bloomFalsePositiveRate(
        spark, graft.operators.DataSkipping.ensureLinear(spark, sfDir))
      spark.catalog.clearCache()
      System.err.println("[bench] accuracy: " + measured.map { case (k, v) =>
        f"$k=$v%.4f" }.mkString(" ") + s" g6 capped=$g6Capped" +
        f" bloom fpr=$bloomFpr%.3f")
      measured.map { case (k, v) => s""""$k":$v,""" }.mkString +
        s""""g6_capped_customers":$g6Capped,"q101_bloom_fpr":$bloomFpr,"""
    } catch { case NonFatal(e) =>
      System.err.println("[bench] accuracy block failed:")
      e.printStackTrace()
      ""
    }
    val failed = results.collect { case (n, v) if v < 0 => n }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // ms-rounded per-query map for the compact stdout line: full
    // precision would make the line ~15 KB (the r7 truncation hazard);
    // at 1 ms granularity 242 queries fit in ~7 KB and the driver's
    // per-query/geomean/scaling comparison gets real numbers. Failed
    // queries keep their -1.0 sentinel.
    val qsMs = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "-1.0" else (math.round(v * 1000) / 1000.0).toString)
    }.mkString("{", ",", "}")
    val passes = results.map { case (k, _) =>
      "\"" + k + "\":[" + warm(k) + "," + timed(k) + "]"
    }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val detailFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_out.$cpus.json")
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsMs,"n_queries":${results.size},"errors":$errs,"sf":"$sfDir","detail":"$detailFile"}"""
    // warm_sf labels pass 0's scale: when SPARK_GRAFT_WARM_DIR differs
    // from the target, pass-0 times are NOT target-scale numbers and
    // the artifact must say so rather than leave them misattributable.
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"s3_ivf_build":$ivfBuild,"s3_ivf_query":$ivfQuery,"s2_lsh_build":$lshBuild,"s2_lsh_query":$lshQuery,"s13_ivfpq_build":$ivfPqBuild,"s13_ivfpq_query":$ivfPqQuery,"q88_cold_publish":$q88Cold,"q88_warm_read":$q88Warm,"q91_cold_erase":$q91Cold,"q91_warm_read":$q91Warm,$accJson$gbJson$soloJson"errors":$errs,"sf":"$sfDir","warm_sf":"$warmDir"}"""
    println(compact)
    val outFile = detailFile
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(e) =>
      // best-effort artifact: the compact line already went to stdout,
      // a bad path (unwritable OR malformed — hence NonFatal, not just
      // IOException) must not fail the (successful) bench run
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }

  /** Every accuracy bound the registry declares ([[SparkEntry.Approx]]),
    * measured at `sfDir`: (query, bound, value) in registry order. The
    * cache is cleared after each measure, as after each timed query.
    */
  def accuracy(spark: SparkSession,
      sfDir: String): Seq[(String, SparkEntry.Bound, Double)] =
    SparkEntry.approxBounds.map { case (query, bound) =>
      val v = bound.measure(spark, sfDir)
      spark.catalog.clearCache()
      (query, bound, v)
    }

  // Fork `graft.Dev args` into a fresh JVM (this JVM's flags and
  // classpath) and return the payload of its one `marker`-prefixed
  // stdout line, None on any failure (stderr is inherited so child
  // traces stay attributable).
  private def forkDev(args: Seq[String], marker: String): Option[String] =
    try {
      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"), "java")
        .getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      cmd.addAll(jvmArgs)
      cmd.add("-cp")
      cmd.add(System.getProperty("java.class.path"))
      cmd.add("graft.Dev")
      args.foreach(cmd.add)
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      val rc = proc.waitFor()
      val line = out.linesIterator.find(_.startsWith(marker))
      if (line.isEmpty)
        System.err.println(s"[bench] graft.Dev ${args.mkString(" ")} " +
          s"exited rc=$rc without a $marker line")
      line.map(_.stripPrefix(marker))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] fork of graft.Dev ${args.mkString(" ")} failed:")
      e.printStackTrace()
      None
    }

  // GB flagship in a fresh JVM; "" on failure. Called at the TOP of
  // main, before the suite SparkSession exists. Opt out with
  // SPARK_GRAFT_GB=0.
  private def runFlagshipForked(): String =
    if (sys.env.getOrElse("SPARK_GRAFT_GB", "1") == "0") ""
    else forkDev(Seq("flagship"), "GBJSON:").getOrElse("")

  // The heaviest r14 queries by in-suite time (the whole graph family)
  // plus the verdict-named m12/m13/d29/t35 — the set whose in-suite
  // inflation needed attribution. Override with
  // SPARK_GRAFT_SOLO_QUERIES (comma-separated), disable with
  // SPARK_GRAFT_SOLO=0.
  private val defaultSoloQueries = Seq(
    "g5_coreness", "g2_triangles", "g3_clustering", "g10_shortest_paths",
    "g9_communities", "g1_pagerank", "m13_dct_phash_pairs",
    "g8_reachability", "g6_supplier_overlap", "m12_dct_phash",
    "d29_edit_distance_pairs", "t35_bpe_encode",
    // r15: the suite's heavy set shifted after the kernel batches —
    // these joined the top tier (r14 members above are KEPT for
    // round-over-round comparability; solo entries only ever grow)
    "g7_backbone_components", "d36_quality_keeper",
    "d8_containment_pairs", "q36_window_range")

  // One fresh JVM per solo query (`graft.Dev time`); returns the
  // `"solo":{...},` fragment, "" when disabled or fully failed.
  private def runSoloForked(): String =
    if (sys.env.getOrElse("SPARK_GRAFT_SOLO", "1") == "0") ""
    else {
      val names = sys.env.get("SPARK_GRAFT_SOLO_QUERIES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(defaultSoloQueries)
        .filter(SparkEntry.queries.contains)
      val entries = names.flatMap { q =>
        forkDev(Seq("time", q), "SOLOJSON:")
          .map(j => "\"" + q + "\":" + j)
      }
      if (entries.isEmpty) ""
      else s""""solo":${entries.mkString("{", ",", "}")},"solo_note":"per-query FORKED FRESH JVM, 3 warm runs at sf0.001 then min of 3 timed runs at the target SF (the gb_flagship protocol) - immune to suite-JVM code-cache/profile pressure by construction; divergence from the in-suite queries.<q> column attributes to suite pressure, and code comments may cite ONLY this column",""".stripMargin
    }
}
