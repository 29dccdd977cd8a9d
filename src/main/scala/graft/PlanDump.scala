package graft

/** Diagnostic main: print the formatted physical plan of one or more
  * SparkEntry queries without executing them — the plan-iteration
  * feedback loop ("explain, then iterate until it's the plan you'd
  * want"). Usage: runMain graft.PlanDump <sfDir> <query>...
  * (no names = all queries).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession("graft-plandump", 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          try println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable =>
            println(s"[plandump] failed: ${e.getMessage}")
          } finally spark.sharedState.cacheManager.clearCache()
        case None => println(s"[plandump] unknown query: $n")
      }
    }
    spark.stop()
  }
}
