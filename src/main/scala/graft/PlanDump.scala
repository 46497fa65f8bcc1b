package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dump: `explain("formatted")` of the named queries, or
  * of every registered query when none is named → PLANS.md — the
  * inspectable record behind the engine's pushdown / broadcast /
  * WholeStageCodegen / WindowGroupLimit claims (the free-form companion
  * to the `plans.PlanChecks` assertions the spec suite pins).
  * Run: `sbt "runMain graft.PlanDump [sfDir] [outFile] [query ...]"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val queries = SparkEntry.queries
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.registry.map(_.name)
    // fixed 4 cores: the dump's plans must not depend on the host
    val spark = GraftSession(cores = 4)
    val sb = new StringBuilder
    sb.append(s"# PLANS — formatted physical plans (${new java.io.File(sfDir).getName})\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"`. ")
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
