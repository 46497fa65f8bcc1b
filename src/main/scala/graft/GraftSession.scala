package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every entry point —
  * Bench, Verify, Dev and the test suite's shared session — runs under
  * this configuration, so a plan or timing seen through one of them is
  * the plan the others run.
  */
object GraftSession {

  /** Core count of the entry points: `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cores]` with the library's extensions, one shuffle partition
    * per core, UTC session time, AQE on, no UI and WARN logging; `conf`
    * adds a caller's own settings on top.
    */
  def apply(cores: Int = envCores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
