package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). A
  * query that throws does not stop the others or the oracle dump; the
  * run then names every failed query and exits non-zero. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Taxi oracles read the generated CSV corpus keyed by sfDir basename
    // — point them at the scale actually being verified.
    SparkEntry.oracleSfName = new java.io.File(sfDir).getName
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.filterNot { case (name, fn) =>
      val ok = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      }
      // operator-internal cache() lifecycles end with the query — don't
      // let storage memory grow across the multi-query run
      spark.catalog.clearCache()
      ok
    }.keys
    def q(s: String): String = "\"" + StatusEndpoint.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
