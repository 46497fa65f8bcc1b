package graft

import java.net.InetSocketAddress
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** S1 + O3 — the reference's HTTP query-submission + status-polling
  * surface (`Sample.cs:22-39` StartAsync: parse params, start the
  * orchestration, return 202 with the management URLs; README.md:
  * 170-191: the status document carries `name`, `instanceId`, the
  * echoed `input`, `customStatus` (per-stage progress — the
  * orchestrator calls SetCustomStatus at every stage transition,
  * `Sample.cs:55,66,80,88,96`), `runtimeStatus`,
  * `createdTime`/`lastUpdatedTime`, and, once complete, `output`;
  * the 202 body's management-URL set includes a terminate endpoint,
  * `Sample.cs:38` CreateCheckStatusResponse). A dependency-free JDK
  * HttpServer exposing
  *
  *   POST /runs?name=<query>&dir=<tableDir> → 202 Accepted; body +
  *        Location carry `/runs/<id>` (statusQueryGetUri) and
  *        `/runs/<id>/terminate` (terminatePostUri); 400 on an
  *        unknown query name (the reference 404s a null `path` param
  *        the same way); 429 when `maxConcurrent` runs are already
  *        in flight (admission control — see scale posture).
  *   GET  /runs/<id> → the full status document: Pending → Running
  *        (with live `customStatus` stage detail) →
  *        Completed/Failed/Terminated; 404 unknown id.
  *   POST /runs/<id>/terminate (and DELETE /runs/<id>) → cancel the
  *        run's Spark job group; status becomes `Terminated`
  *        (the reference's terminatePostUri contract). Terminating
  *        an already-terminal run is a 200 no-op; 404 unknown id.
  *
  * Submission is asynchronous (the reference's orchestration start):
  * the query runs on a daemon thread against the shared session under
  * its own Spark JOB GROUP (`setJobGroup` is thread-local, so
  * concurrent runs don't cross-cancel), the poller observes
  * Pending → Running → terminal — the exact client contract of the
  * reference's status API. `customStatus` is fed two ways, mirroring
  * the reference's stage narration: the run thread posts its
  * lifecycle stages ("Planning query" → "Executing Spark jobs" →
  * "Collecting output"), and a SparkListener maps each job
  * start/end in the run's job group to a live "Executing Spark job
  * N (K stages)" detail — the Spark-native analog of "Waiting for
  * mappers". Output rows are capped (`maxRows`, default 1000)
  * because a STATUS document is a control-plane payload; large
  * results belong in a sink (R3, `TaxiSpeed.writeResult`), same
  * division the reference makes by writing its result blob
  * separately (`Sample.cs:96-104`).
  *
  * Scale posture: the endpoint holds run metadata only (id → status
  * doc + capped rows), and the registry is BOUNDED on both axes:
  * admission control rejects past `maxConcurrent` in-flight runs
  * (429 — the client retries, Spark's scheduler pools are not a
  * queue for unbounded anonymous submissions), and terminal run
  * documents are evicted oldest-first past `retainTerminal` (the
  * reference's purge-history analog), so a long-lived endpoint's
  * memory is O(maxConcurrent + retainTerminal), independent of
  * total submissions. Not a multi-tenant gateway — a deployment
  * fronts it with whatever auth the platform provides, as the
  * reference leans on Functions' auth-level (`Sample.cs:24`).
  */
object StatusEndpoint {

  sealed trait State { def label: String }
  case object Pending extends State { val label = "Pending" }
  case object Running extends State { val label = "Running" }
  final case class Completed(rowsJson: String) extends State {
    val label = "Completed" }
  final case class Failed(error: String) extends State {
    val label = "Failed" }
  case object Terminated extends State { val label = "Terminated" }

  /** One run's status document. All mutation happens under the run's
    * own lock (`synchronized` on the Run), never the whole map. */
  final class Run(val id: String, val name: String, val dir: String) {
    val createdTime: String = Instant.now().toString
    private var updated: String = createdTime
    private var st: State = Pending
    private var custom: String = "Submitted"
    // every customStatus value ever posted, in order — the spec
    // asserts the stage TRANSITIONS, not a racy single poll
    private val stages = Seq.newBuilder[String]
    stages += custom

    def state: State = synchronized(st)
    def setState(s: State): Unit = synchronized {
      // a cancelled run's thread dies with a SparkException — the
      // Terminated verdict set by the terminate handler must win
      if (!(st == Terminated && s.isInstanceOf[Failed])) st = s
      updated = Instant.now().toString
    }
    def setCustom(c: String): Unit = synchronized {
      custom = c; stages += c
      updated = Instant.now().toString
    }
    private[graft] def stageHistory: Seq[String] =
      synchronized(stages.result())
    def isTerminal: Boolean = state match {
      case Pending | Running => false
      case _ => true
    }

    /** The status document (reference shape: README.md:176-189 —
      * name, instanceId, input, customStatus, runtimeStatus, output,
      * createdTime, lastUpdatedTime). */
    def statusJson: String = synchronized {
      val base = s""""name":"${jsonEscape(name)}","instanceId":"$id",""" +
        s""""input":{"name":"${jsonEscape(name)}","dir":"${jsonEscape(dir)}"},""" +
        s""""customStatus":"${jsonEscape(custom)}",""" +
        s""""createdTime":"$createdTime","lastUpdatedTime":"$updated""""
      st match {
        case Completed(rows) =>
          s"""{$base,"runtimeStatus":"Completed","output":$rows}"""
        case Failed(err) =>
          s"""{$base,"runtimeStatus":"Failed","error":"${jsonEscape(err)}"}"""
        case other =>
          s"""{$base,"runtimeStatus":"${other.label}"}"""
      }
    }
  }

  final class Server private[StatusEndpoint] (
      server: HttpServer, listener: SparkListener,
      spark: SparkSession, runs: ConcurrentHashMap[String, Run]) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = {
      server.stop(0)
      spark.sparkContext.removeSparkListener(listener)
    }
    private[graft] def run(id: String): Option[Run] = Option(runs.get(id))
    private[graft] def liveCount: Int = {
      val it = runs.values.iterator(); var n = 0
      while (it.hasNext) if (!it.next().isTerminal) n += 1
      n
    }
    private[graft] def size: Int = runs.size
  }

  /** JSON string-body escape: backslash, quote, and ALL control chars
    * (< 0x20) — a tab or CR left raw (in a run's error, or in the oracle
    * SQL Verify writes) would make a strict JSON reader reject the
    * document. */
  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def respond(ex: HttpExchange, code: Int, body: String,
      headers: (String, String)*): Unit = {
    val bytes = body.getBytes("UTF-8")
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def jobGroup(id: String) = s"graft-run-$id"

  /** Start the endpoint on `port` (0 = ephemeral). `queries` defaults
    * to the registered surface; specs inject their own (e.g. a
    * deliberately slow query to drive terminate). */
  def start(spark: SparkSession, port: Int = 0, maxRows: Int = 1000,
      maxConcurrent: Int = 8, retainTerminal: Int = 64,
      queries: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = SparkEntry.queries): Server = {
    val runs = new ConcurrentHashMap[String, Run]()
    val nextId = new AtomicLong(1L)

    // live per-Spark-job stage detail: the run thread tags its jobs
    // with the run's job group (a thread-local Spark property), the
    // listener maps group → run and narrates — the reference's
    // "Waiting for mappers" analog, observed not self-reported
    val listener = new SparkListener {
      private val prefix = jobGroup("")
      private def runOf(props: java.util.Properties): Option[Run] =
        Option(props).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(prefix))
          .flatMap(g => Option(runs.get(g.stripPrefix(prefix))))
      override def onJobStart(js: SparkListenerJobStart): Unit =
        runOf(js.properties).foreach(_.setCustom(
          s"Executing Spark job ${js.jobId} (${js.stageInfos.size} stages)"))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)

    // oldest-first eviction of terminal docs past the retention cap
    // (ids are monotone, so numeric order IS submission order)
    def evictTerminal(): Unit = {
      val terminal = {
        val b = Seq.newBuilder[Run]
        val it = runs.values.iterator()
        while (it.hasNext) { val r = it.next(); if (r.isTerminal) b += r }
        b.result()
      }
      if (terminal.size > retainTerminal)
        terminal.sortBy(_.id.toLong)
          .take(terminal.size - retainTerminal)
          .foreach(r => runs.remove(r.id))
    }

    val server = HttpServer.create(
      new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/runs", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      (ex.getRequestMethod, path) match {
        case ("POST", "/runs") =>
          val params = queryParams(ex)
          (params.get("name"), params.get("dir")) match {
            case (Some(name), Some(dir)) if queries.contains(name) =>
              evictTerminal()
              var live = 0
              val it = runs.values.iterator()
              while (it.hasNext) if (!it.next().isTerminal) live += 1
              if (live >= maxConcurrent)
                respond(ex, 429, s"""{"error":"$live runs in flight """ +
                  s"""(cap $maxConcurrent) - retry later"}""")
              else {
                val id = nextId.getAndIncrement().toString
                val run = new Run(id, name, dir)
                runs.put(id, run)
                val t = new Thread(() => {
                  run.setState(Running)
                  try {
                    // interruptOnCancel: a terminate interrupts the
                    // running tasks, not just future scheduling
                    spark.sparkContext.setJobGroup(jobGroup(id),
                      s"graft status-endpoint run $id: $name",
                      interruptOnCancel = true)
                    run.setCustom("Planning query")
                    val df = queries(name)(spark, dir).limit(maxRows)
                    run.setCustom("Executing Spark jobs")
                    val rows = df.toJSON.collect()
                    run.setCustom("Collecting output")
                    run.setState(
                      Completed(rows.mkString("[", ",", "]")))
                  } catch { case e: Throwable =>
                    run.setState(Failed(
                      Option(e.getMessage).getOrElse(e.getClass.getName)))
                  } finally spark.sparkContext.clearJobGroup()
                }, s"graft-run-$id")
                t.setDaemon(true)
                t.start()
                respond(ex, 202,
                  s"""{"id":"$id","statusQueryGetUri":"/runs/$id",""" +
                    s""""terminatePostUri":"/runs/$id/terminate"}""",
                  "Location" -> s"/runs/$id")
              }
            case (Some(name), _) if !queries.contains(name) =>
              respond(ex, 400,
                s"""{"error":"unknown query '${jsonEscape(name)}'"}""")
            case _ =>
              respond(ex, 400,
                """{"error":"required params: name, dir"}""")
          }
        case (m, p) if p.startsWith("/runs/") =>
          val rest = p.stripPrefix("/runs/")
          val (id, action) = rest.split("/", 2) match {
            case Array(i, a) => (i, Some(a))
            case Array(i) => (i, None)
          }
          val isGet = m == "GET" && action.isEmpty
          val isTerminate = (m == "DELETE" && action.isEmpty) ||
            (m == "POST" && action.contains("terminate"))
          (Option(runs.get(id)), isGet, isTerminate) match {
            case (Some(run), true, _) =>
              respond(ex, 200, run.statusJson)
            case (Some(run), _, true) =>
              if (!run.isTerminal) {
                run.setState(Terminated)
                run.setCustom("Terminate requested")
                spark.sparkContext.cancelJobGroup(jobGroup(id))
              }
              respond(ex, 200, run.statusJson)
            case (None, _, _) =>
              respond(ex, 404,
                s"""{"error":"no run '${jsonEscape(id)}'"}""")
            case _ =>
              respond(ex, 405, """{"error":"method not allowed"}""")
          }
        case _ => respond(ex, 405, """{"error":"method not allowed"}""")
      }
    })
    server.start()
    new Server(server, listener, spark, runs)
  }
}
