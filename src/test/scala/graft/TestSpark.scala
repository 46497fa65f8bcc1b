package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run (guide: one
  * session per suite at most; sharing across suites avoids repeated
  * JVM-wide init under sbt's forked test JVM). The library's own
  * extensions ride along in every spec — the injected optimizer rule is
  * integration-exercised by the whole suite, not just its targeted plan
  * test.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cores = 4, conf = Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> "target/test-warehouse"))
}
