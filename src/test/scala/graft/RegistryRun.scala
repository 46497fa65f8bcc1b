package graft

import org.apache.spark.sql.types.StructType

/** Every registered query built and counted once per test JVM at
  * sf0.001: its name, row count and output schema, shared by the specs
  * that assert over the whole registry.
  */
object RegistryRun {
  val sfDir = "/root/testdata/sf0.001"

  lazy val measured: Seq[(String, Long, StructType)] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      val df = fn(TestSpark.spark, sfDir)
      val n = df.count()
      // Operator-internal cache() calls (Dedup's shingle table) persist
      // in the session CacheManager; clear per query so no later query
      // silently reuses a neighbor's cached subtree (matches Bench/Verify).
      TestSpark.spark.catalog.clearCache()
      (name, n, df.schema)
    }
}
