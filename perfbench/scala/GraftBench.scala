package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.operators.TaxiSpeed
import graft.sources.TaxiCsv

/** One benchmark JVM. Runs a workload's op list against the library,
  * one op at a time in a closed loop, and writes what it measured to a
  * JSON file. Every timing is taken here, around public calls into the
  * library; the per-layer counters come from Spark's public listener
  * APIs. Nothing inside the library is instrumented.
  *
  * Modes (`mode=` in the properties file given as the only argument):
  *  - `main`: create the session and run one warm-up op on tiny inputs
  *    (the set-up), then a check pass whose outputs are written as parquet
  *    for the oracle compare, `warm_passes` untimed passes so the JIT
  *    settles, then `passes` timed passes.
  *  - `oracle`: dump the registry's oracle SQL and exit (no session).
  */
object GraftBench {

  final case class Op(name: String, run: (SparkSession, String) => DataFrame)

  def main(args: Array[String]): Unit = {
    val conf = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try conf.load(in) finally in.close()
    def get(k: String): String = Option(conf.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    def opt(k: String): Option[String] = Option(conf.getProperty(k)).filter(_.nonEmpty)
    val out = get("out")
    get("mode") match {
      case "oracle" =>
        SparkEntry.oracleSfName = get("oracle_sf_name")
        writeJson(out, Json.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.str(v) }))
      case _ =>
        new GraftBench(get("launch_ns").toLong, get("cpus").toInt,
          get("ops").split(",").toSeq, get("warmup_op"), get("data_dir"), get("warm_dir"),
          get("taxi_glob"), get("warm_taxi_glob"), get("check_dir"),
          get("warm_passes").toInt, get("passes").toInt, get("trace") == "1",
          get("cold_stores") == "1", opt("inject"), opt("twins"), out).run()
    }
  }

  def writeJson(path: String, json: String): Unit =
    Files.write(Paths.get(path), (json + "\n").getBytes(UTF_8))

  /** Canonical, order-free digest of a result: rows rendered with exact
    * doubles, sorted, hashed. Two executions of an op agree iff their
    * digests do. */
  def digest(rows: Array[Row]): String = {
    def v(x: Any): String = x match {
      case null => "null"
      case d: Double => if (d.isNaN) "nan" else java.lang.Long.toHexString(
        java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
      case f: Float => if (f.isNaN) "nan" else Integer.toHexString(
        java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f))
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (a, b) => v(a) + "->" + v(b) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case o => o.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(r => r.toSeq.map(v).mkString("\u0001")).sorted
      .foreach(s => md.update((s + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}

class GraftBench(launchNs: Long, cpus: Int, opNames: Seq[String],
    warmupOp: String, dataDir: String, warmDir: String, taxiGlob: String, warmTaxiGlob: String,
    checkDir: String, warmPasses: Int, nPasses: Int, trace: Boolean, coldStores: Boolean,
    inject: Option[String], twins: Option[String], out: String) {
  import GraftBench._

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def now: Long = System.nanoTime()
  // process CPU time (all threads, user + system): unlike wall time it
  // does not count the time a shared host withholds the CPUs
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = os.getProcessCpuTime

  /** The op a name stands for. Taxi ops read the benchmark's own corpus;
    * every other name is a registry query. `inject` adds the self-test's
    * deliberately failing ops. */
  private def op(name: String): Op = name match {
    case "taxi_avg_speed_faithful" => Op(name, (s, d) =>
      TaxiSpeed.faithfulAvgByDowListed(s, glob(d)).orderBy("day"))
    case "taxi_avg_speed_weighted" => Op(name, (s, d) =>
      TaxiSpeed.weightedAvgByDow(TaxiCsv.trips(s, glob(d))).orderBy("day"))
    case "inject_throw" => Op(name, (_, _) =>
      throw new IllegalStateException("injected failure"))
    case "inject_wrong" => Op(name, (s, d) =>
      SparkEntry.queries("q1_pricing_summary")(s, d).limit(1))
    case _ => Op(name, SparkEntry.queries(name))
  }
  private def glob(dir: String): String = if (dir == warmDir) warmTaxiGlob else taxiGlob

  private val ops: Seq[Op] = (opNames ++ inject.toSeq.flatMap(_.split(","))).map(op)

  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File("tmp").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File("spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Store-writing ops start from an empty working directory on every
    * execution: their stores are cwd-relative (`target/graft_*`,
    * `spark-warehouse`), and the in-JVM index memos are dropped with them. */
  private def resetStores(spark: SparkSession): Unit = if (coldStores) {
    Seq("target", "spark-warehouse").foreach(d => deleteTree(new File(d)))
    spark.catalog.listTables().collect().foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    graft.operators.Similarity.invalidateIvfIndexes()
    graft.operators.Similarity.invalidateLshIndexes()
    graft.operators.Similarity.invalidateIvfPqIndexes()
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def sinceLaunchS(): Double = {
    val t = java.time.Instant.now()
    (t.getEpochSecond * 1000000000L + t.getNano - launchNs) / 1e9
  }

  def run(): Unit = {
    val spark = session()
    val sessionS = sinceLaunchS()
    // warm-up: one fixed op once on the tiny inputs, so the set-up a
    // one-shot job pays includes class loading and the first codegen
    resetStores(spark)
    try op(warmupOp).run(spark, warmDir).collect()
    catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up: $e") }
    spark.catalog.clearCache()
    val fields = mutable.ArrayBuffer[(String, String)](
      "setup_s" -> Json.num(sinceLaunchS()), "session_s" -> Json.num(sessionS),
      "setup_cpu_s" -> Json.num(cpuNs / 1e9))
    fields ++= measure(spark)
    fields += "peak_rss_mb" -> Json.num(vmHwmMb())
    writeJson(out, Json.obj(fields.toSeq))
    spark.stop()
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** One execution: build the DataFrame (the query function itself,
    * where eager rounds and index builds run), then execute it. */
  private final case class Exec(op: String, pass: Int, startNs: Long,
      buildEndNs: Long, endNs: Long, cpuS: Double, ok: Boolean, digest: String,
      error: String)

  private def execute(spark: SparkSession, o: Op, pass: Int,
      onRows: (Array[Row], StructType) => String): Exec = {
    resetStores(spark)
    spark.sparkContext.setJobGroup(s"op-$pass-${o.name}", o.name, interruptOnCancel = false)
    val (t0, c0) = (now, cpuNs)
    var t1 = t0
    val res = try {
      val df = o.run(spark, dataDir)
      t1 = now
      val rows = df.collect()
      val t2 = now
      Right((rows, df.schema, t2))
    } catch { case NonFatal(e) => Left((e, now)) }
    val cpuS = (cpuNs - c0) / 1e9
    spark.sparkContext.clearJobGroup()
    spark.catalog.clearCache()
    res match {
      case Right((rows, schema, t2)) =>
        Exec(o.name, pass, t0, t1, t2, cpuS, ok = true, onRows(rows, schema), "")
      case Left((e, t2)) =>
        System.err.println(s"[perfbench] ${o.name} failed: $e")
        Exec(o.name, pass, t0, math.max(t1, t0), t2, cpuS, ok = false, "", e.toString)
    }
  }

  private def measure(spark: SparkSession): Seq[(String, String)] = {
    // check pass: every op once, its rows written for the oracle compare
    // and its digest kept as the reference for the timed executions
    val reference = mutable.Map[String, String]()
    val checks = ops.map { o =>
      val e = execute(spark, o, -1, (rows, schema) => {
        saveRows(spark, rows, schema, o, "check")
        digest(rows)
      })
      if (e.ok) reference(o.name) = e.digest
      e
    }
    // exact twins of approximate ops run once, for the compare only
    twins.toSeq.flatMap(_.split(",")).map(op).foreach(o =>
      execute(spark, o, -1, (rows, schema) => { saveRows(spark, rows, schema, o, "check"); "" }))
    // then the whole op list, in order, a fixed number of times (the same
    // work in every run): warm passes, timed passes and, in a traced run,
    // as many traced passes again, so it can state its own overhead
    val execs = mutable.ArrayBuffer[Exec]()
    val passWalls = mutable.ArrayBuffer[Pass]()
    val saved = mutable.Set[String]()
    def passes(kind: String, n: Int): Unit = (1 to n).foreach { _ =>
      val p = passWalls.size
      val (t0, c0, gc0) = (now, cpuNs, gcMs)
      ops.foreach { o =>
        execs += execute(spark, o, p, (rows, schema) => {
          val d = digest(rows)
          // a result that differs from the check pass is kept for the
          // oracle compare too; the same wrong result is kept once
          if (!reference.get(o.name).contains(d) && saved.add(o.name + d))
            saveRows(spark, rows, schema, o, d)
          d
        })
      }
      passWalls += Pass(kind, (now - t0) / 1e9, (cpuNs - c0) / 1e9, (gcMs - gc0) / 1e3)
    }
    passes("warm", warmPasses)
    val layers = if (!trace) { passes("timed", nPasses); Nil } else {
      // untraced and traced passes alternate, so both see the same JIT
      // state and their difference is the tracing overhead
      val tracer = new Tracer(spark)
      (1 to nPasses).foreach { _ =>
        passes("timed", 1)
        tracer.attach(); passes("traced", 1); tracer.detach()
      }
      val spans = tracer.report(execs.filter(e => passWalls(e.pass).kind == "traced").toSeq,
        passWalls.toSeq)
      val ladder = if (ops.exists(_.name.startsWith("taxi_")))
        taxiLadder(spark, nPasses) else Nil
      spans ++ ladder
    }
    def execJson(e: Exec) = Json.obj(Seq("op" -> Json.str(e.op), "pass" -> Json.num(e.pass),
      "s" -> Json.num((e.endNs - e.startNs) / 1e9), "cpu_s" -> Json.num(e.cpuS),
      "build_s" -> Json.num((e.buildEndNs - e.startNs) / 1e9),
      "ok" -> Json.bool(e.ok), "digest" -> Json.str(e.digest), "error" -> Json.str(e.error)))
    Seq(
      "checks" -> Json.arr(checks.map(execJson)),
      "execs" -> Json.arr(execs.toSeq.map(execJson)),
      "passes" -> Json.arr(passWalls.toSeq.map(p => Json.obj(Seq(
        "kind" -> Json.str(p.kind), "wall_s" -> Json.num(p.wallS), "cpu_s" -> Json.num(p.cpuS),
        "gc_s" -> Json.num(p.gcS))))),
      "layers" -> Json.obj(layers))
  }

  private final case class Pass(kind: String, wallS: Double, cpuS: Double, gcS: Double)

  private def saveRows(spark: SparkSession, rows: Array[Row], schema: StructType,
      o: Op, tag: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$checkDir/${o.name}/$tag")

  /** Cumulative cuts of the faithful taxi pipeline, each through the noop
    * sink (a count() would let the optimizer prune the scan) except the
    * last, the op itself. Cuts repeat round-robin `reps` times; each
    * reports its median. */
  private def taxiLadder(spark: SparkSession, reps: Int): Seq[(String, String)] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val paths = TaxiCsv.listFiles(spark, taxiGlob)
    val cuts: Seq[(String, () => Unit)] = Seq(
      "sources.list_s" -> (() => TaxiCsv.listFiles(spark, taxiGlob)),
      "sources.scan_s" -> (() => noop(spark.read.text(TaxiCsv.listFiles(spark, taxiGlob): _*))),
      "sources.accept_s" -> (() =>
        noop(TaxiCsv.acceptedLines(spark, taxiGlob).select("file", "value"))),
      "functions.parse_s" -> (() => noop(TaxiCsv.trips(spark, taxiGlob))),
      "operators.speed_s" -> (() => noop(TaxiSpeed.withSpeed(TaxiCsv.trips(spark, taxiGlob)))),
      "operators.mean_s" -> (() =>
        TaxiSpeed.faithfulAvgByDowListed(spark, taxiGlob).orderBy("day").collect()))
    val times = cuts.map(_._1 -> mutable.ArrayBuffer[Double]()).toMap
    (1 to reps).foreach(_ => cuts.foreach { case (n, f) =>
      val t0 = now; f(); times(n) += (now - t0) / 1e9
    })
    val accepted = TaxiCsv.acceptedLines(spark, taxiGlob).count()
    val bytes = paths.map(p => new File(new java.net.URI(p)).length()).sum
    cuts.map { case (n, _) => n -> Json.num(Stats.median(times(n).toSeq)) } ++ Seq(
      "sources.input_mb" -> Json.num(bytes / 1e6),
      "sources.rows_accepted" -> Json.num(accepted.toDouble))
  }

  /** Spans and counters from Spark's public listener interfaces, kept in
    * memory and attributed to ops by job group (jobs, stages, tasks) or by
    * time (planning, which runs on the calling thread). */
  final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    final case class Task(stage: Int, launch: Long, finish: Long, cpuNs: Long,
        shuffleW: Long, shuffleR: Long, spill: Long, input: Long, output: Long,
        failed: Boolean)
    final case class Plan(startMs: Long, planMs: Long, exchanges: Int,
        broadcasts: Int, kernels: Int)
    private val jobGroup = new ConcurrentHashMap[Int, String]()
    private val jobStart = new ConcurrentHashMap[Int, Long]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val stageSubmit = new ConcurrentHashMap[Int, Long]()
    private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
    private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
    private val blocks = new ConcurrentHashMap[String, Long]()
    @volatile private var cached = 0L
    private val cachePeak = new ConcurrentHashMap[String, Long]()
    @volatile private var currentGroup = ""
    private val ended = new java.util.concurrent.atomic.AtomicInteger()
    private val started = new java.util.concurrent.atomic.AtomicInteger()

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
    }
    /** Detach once the traced jobs' events have all arrived. */
    def detach(): Unit = {
      drain()
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        started.incrementAndGet()
        jobGroup.put(e.jobId, g); jobStart.put(e.jobId, System.currentTimeMillis())
        currentGroup = g
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobGroup.containsKey(e.jobId)) ended.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (stageJob.containsKey(e.stageInfo.stageId)) {
        stageSubmit.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskInfo != null) {
        val m = e.taskMetrics
        val i = e.taskInfo
        tasks.add(if (m == null) Task(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, i.failed)
          else Task(e.stageId, i.launchTime, i.finishTime, m.executorCpuTime,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
            m.outputMetrics.bytesWritten, i.failed))
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        val prev = Option(blocks.put(b.blockId.name, size)).getOrElse(0L)
        cached += size - prev
        val g = currentGroup
        if (g.nonEmpty) cachePeak.merge(g, cached, (a, c) => math.max(a, c))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      plan(qe)

    private object Helper extends AdaptiveSparkPlanHelper
    private def plan(qe: QueryExecution): Unit = try {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val p = qe.executedPlan
        val ex = Helper.collectWithSubqueries(p) { case x: ShuffleExchangeLike => x }.size
        val bc = Helper.collectWithSubqueries(p) { case x: BroadcastExchangeLike => x }.size
        val kernels = Helper.collectWithSubqueries(p) { case n => n.expressions
          .map(_.collect { case e if e.getClass.getName.startsWith("graft.") => e }.size).sum
        }.sum
        plans.add(Plan(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum, ex, bc, kernels))
      }
    } catch { case NonFatal(_) => () }

    /** Wait until every job seen has ended and its events have arrived. */
    private def drain(): Unit = {
      val deadline = now + 10_000_000_000L
      var last = (-1, -1)
      while (now < deadline && (ended.get < started.get || last != (tasks.size, plans.size))) {
        last = (tasks.size, plans.size)
        Thread.sleep(100)
      }
    }

    def report(execs: Seq[Exec], passes: Seq[Pass]): Seq[(String, String)] = {
      val taskList = tasks.asScala.toSeq
      val planList = plans.asScala.toSeq
      val wallNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
      def ms(ns: Long): Long = (ns + wallNs) / 1000000L
      val tracedPasses = execs.map(_.pass).distinct
      // per-op spans: op -> build/exec -> job -> stage -> task
      val perOp = execs.map { e =>
        val g = s"op-${e.pass}-${e.op}"
        val jobs = jobGroup.asScala.collect { case (j, gg) if gg == g => j }.toSet
        val stages = stageJob.asScala.collect { case (s, j) if jobs(j) => s.intValue }.toSet
        val ts = taskList.filter(t => stages(t.stage))
        val (s0, s1) = (ms(e.startNs), ms(e.endNs))
        val pl = planList.filter(p => p.startMs >= s0 && p.startMs <= s1)
        val busy = union(ts.map(t => (t.launch, t.finish)))
        val buildJobs = jobs.count(j => jobStart.get(j) <= ms(e.buildEndNs))
        Map[String, Double](
          "plans.plan_s" -> pl.map(_.planMs).sum / 1e3,
          "plans.exchanges" -> pl.map(_.exchanges).sum,
          "plans.broadcasts" -> pl.map(_.broadcasts).sum,
          "functions.kernel_exprs" -> pl.map(_.kernels).sum,
          "operators.build_s" -> (e.buildEndNs - e.startNs) / 1e9,
          "operators.exec_s" -> (e.endNs - e.buildEndNs) / 1e9,
          "operators.build_jobs" -> buildJobs,
          "spark.jobs" -> jobs.size,
          "spark.stages" -> stages.size,
          "spark.tasks" -> ts.size,
          "spark.failed_tasks" -> ts.count(_.failed),
          "spark.task_busy_s" -> busy / 1e3,
          "spark.driver_gap_s" -> math.max(0.0, (e.endNs - e.startNs) / 1e9 - busy / 1e3),
          "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
          "spark.task_wait_s" -> ts.map(t => math.max(0L,
            t.launch - stageSubmit.getOrDefault(t.stage, t.launch))).sum / 1e3,
          "spark.shuffle_write_mb" -> ts.map(_.shuffleW).sum / 1e6,
          "spark.shuffle_read_mb" -> ts.map(_.shuffleR).sum / 1e6,
          "spark.spill_mb" -> ts.map(_.spill).sum / 1e6,
          "spark.input_mb" -> ts.map(_.input).sum / 1e6,
          "spark.output_mb" -> ts.map(_.output).sum / 1e6,
          "spark.cache_peak_mb" -> cachePeak.getOrDefault(g, 0L) / 1e6)
      }
      val keys = perOp.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
      // a pass's value of a counter is the sum over its ops; the report
      // is the median over traced passes (cache peak: max over ops)
      val byPass = tracedPasses.map { p =>
        val rows = execs.zip(perOp).filter(_._1.pass == p).map(_._2)
        keys.map(k => k -> (if (k == "spark.cache_peak_mb") rows.map(_(k)).max
          else rows.map(_(k)).sum)).toMap
      }
      val traced = passes.filter(_.kind == "traced")
      val untraced = passes.filter(_.kind == "timed").map(_.wallS)
      val fields = keys.map(k => k -> Json.num(Stats.median(byPass.map(_(k))))) ++ Seq(
        "spark.gc_s" -> Json.num(Stats.median(traced.map(_.gcS))),
        "trace.passes" -> Json.num(traced.size),
        "trace.overhead_s" -> Json.num(Stats.median(traced.map(_.wallS)) - Stats.median(untraced)))
      val spans = execs.zip(perOp).map { case (e, m) =>
        Json.obj(Seq("op" -> Json.str(e.op), "pass" -> Json.num(e.pass),
          "start_ms" -> Json.num(ms(e.startNs)), "build_end_ms" -> Json.num(ms(e.buildEndNs)),
          "end_ms" -> Json.num(ms(e.endNs))) ++ m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      }
      writeJson(out + ".spans.json", Json.arr(spans))
      fields
    }
    private def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
