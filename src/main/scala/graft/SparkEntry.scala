package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract (SURVEY.md §7): the query registry.
  *
  * Each operator family declares its own queries next to the functions
  * they call, as that object's `queries` (for example
  * `RelationalQueries.queries`, `Graph.queries`): one [[QueryDef]] per
  * operator from SURVEY.md §2 (or a §7 extension op) with its name, its
  * Spark-first builder, and the ANSI-SQL equivalent DuckDB runs on the
  * same parquet tables for the t2 correctness gate. `registry`
  * concatenates the family lists; `queries`, `oracleSql` and
  * `approxBounds` are the views of it that Verify, Bench and the gate
  * read.
  *
  * The taxi CSV pipeline itself (graft.sources.TaxiCsv + TaxiSpeed) is
  * exercised against generated fixture CSVs in the test suite (the TLC
  * CSVs are not on disk); `TwoLevelMean.queries` runs the same
  * two-level-mean semantics on the `events` table (ts/value stand in
  * for pickup/speed, and user_id % 4 stands in for the per-file
  * grouping — SURVEY.md §7.1).
  */
object SparkEntry {

  /** Scale-factor name the taxi oracles read their CSV corpus from.
    * Verify sets this to the basename of the sfDir it was invoked with
    * BEFORE dumping oracle_sql.json, so the DuckDB side always reads
    * the same generated corpus the Spark side did (TaxiDataGen keys the
    * corpus directory by sfDir basename). Defaults to the driver's
    * verify scale (TESTDATA.md convention) for direct oracleSql reads.
    */
  @volatile var oracleSfName: String = "sf0.01"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The registered `events_speed_faithful`: the reference's FULL
    * faithful semantics (two-level zero-filled avg-of-averages by
    * day-of-week, Sunday=0 — SURVEY.md §2.2) on the events table,
    * user_id%4 standing in for the per-file grouping.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("events_speed_faithful")(spark, "/root/testdata/sf0.001")

  type Build = (SparkSession, String) => DataFrame

  /** How the correctness gate checks a query's output. An oracle's SQL
    * is built each time `oracleSql` is read and never on the `queries`
    * path: it sees an `oracleSfName` set after start-up (the taxi and
    * JSONL oracles interpolate it), and the ~200 K chars of text cost
    * nothing to a caller that only runs queries.
    */
  sealed trait Oracle

  /** ANSI SQL DuckDB runs on the same parquet tables, as a margin-form
    * literal (`|` opens each continuation line) stripped when read.
    */
  final case class Sql(margin: String) extends Oracle

  /** Oracle SQL computed when read: interpolated text and generated
    * CTEs. Literals use [[Sql]] instead: a function per entry costs one
    * lambda linkage on the `queries` path, and 233 of them made the
    * first `queries` call in a cold JDK 17 JVM ~20 % slower (4-CPU host).
    */
  final case class SqlFn(build: () => String) extends Oracle

  /** No exact oracle: the query is approximate by design, engines
    * legitimately differ, and the gate records a rows-only check. Its
    * correctness is the accuracy contract `bounds`, declared here once:
    * Bench publishes each bound's metric ([[Bench.accuracy]]) and the
    * specs assert each limit at sf0.001.
    */
  final case class Approx(bounds: Bound*) extends Oracle {
    require(bounds.nonEmpty, "an approximate query declares at least one bound")
  }

  /** A measure of one query's accuracy over an sf dir. */
  type Measure = (SparkSession, String) => Double

  /** One accuracy bound: the metric's published name, how to measure
    * it, and the limit it must meet.
    */
  final case class Bound(metric: String, measure: Measure, limit: Limit)

  sealed trait Limit { def holds(v: Double): Boolean }
  final case class AtLeast(x: Double) extends Limit { def holds(v: Double): Boolean = v >= x }
  final case class AtMost(x: Double) extends Limit { def holds(v: Double): Boolean = v <= x }

  /** One registered query: its unique name, the Spark builder over an
    * sf dir, and the oracle the correctness gate checks it against.
    * Column names and ordering are aligned between builder and SQL on
    * purpose — the gate hashes values after sorting columns by name.
    */
  final case class QueryDef(name: String, build: Build, oracle: Oracle)

  /** `defs`, after checking that no name is declared twice. */
  private[graft] def checkedRegistry(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }

  /** Every registered query: the operators from SURVEY.md §2 and the
    * §7 extensions, family by family.
    */
  lazy val registry: Seq[QueryDef] = checkedRegistry(Seq(
    TwoLevelMeanQueries.queries,
    TaxiSpeedQueries.queries,
    sources.JsonlCorpusQueries.queries,
    sources.OrcCorpusQueries.queries,
    RelationalQueriesQueries.queries,
    RelationalQueries2Queries.queries,
    TemporalJoinsQueries.queries,
    TimeSeriesQueries.queries,
    BehaviorQueries.queries,
    RelationalQueries3Queries.queries,
    BucketedLayoutQueries.queries,
    PartitionedLayoutQueries.queries,
    CompactionQueries.queries,
    DedupQueries.queries,
    MultimodalQueries.queries,
    IndexStoreQueries.queries,
    TextAnalysisQueries.queries,
    RelationalQueries4Queries.queries,
    LakehouseMergeQueries.queries,
    CowErasureQueries.queries,
    DataQualityQueries.queries,
    DataSkippingQueries.queries,
    MergeDmlQueries.queries,
    PartitionEvolutionQueries.queries,
    CorpusOpsQueries.queries,
    SimilarityQueries.queries,
    streaming.EventsWindowsQueries.queries,
    GraphQueries.queries,
  ).flatten)

  /** The registry as query name → builder. */
  def queries: Map[String, Build] = registry.map(d => d.name -> d.build).toMap

  /** The registry as query name → oracle SQL, for every query that has
    * one. Built on each read (see [[Oracle]]).
    */
  def oracleSql: Map[String, String] = registry.collect {
    case QueryDef(name, _, Sql(margin)) => name -> margin.stripMargin
    case QueryDef(name, _, SqlFn(build)) => name -> build()
  }.toMap

  /** The registry's accuracy bounds as (query name, bound), in
    * declaration order.
    */
  def approxBounds: Seq[(String, Bound)] = registry.flatMap {
    case QueryDef(name, _, Approx(bounds @ _*)) => bounds.map(name -> _)
    case _ => Nil
  }
}
