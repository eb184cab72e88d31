package graft

import org.scalatest.funsuite.AnyFunSuite

/** The measurement tools' shared launcher and defaults. Pure functions
  * only: no JVM is forked and no Spark session is built.
  */
class BenchSpec extends AnyFunSuite {

  test("forkCommand: parent --add-opens, forkXmx heap, ParallelGC by default, then -cp, main class, args") {
    val cmd = Bench.forkCommand("graft.ScalingWorker", Seq("4", "sf", "1"))
    assert(cmd.head.endsWith("/bin/java"))
    assert(Bench.parentAddOpens.nonEmpty, "the test JVM runs with build.sbt's --add-opens")
    assert(Bench.parentAddOpens.forall(cmd.contains))
    assert(cmd.contains(s"-Xmx${Bench.forkXmx()}"))
    if (!sys.env.contains("SPARK_GRAFT_GC")) assert(cmd.contains("-XX:+UseParallelGC"))
    val cp = cmd.indexOf("-cp")
    assert(cp > cmd.indexWhere(_.startsWith("-Xmx")))
    assert(cmd.drop(cp + 2) == Seq("graft.ScalingWorker", "4", "sf", "1"))
    // the classpath is the effective one: it resolves graft's own classes
    assert(cmd(cp + 1).split(java.io.File.pathSeparator)
      .exists(p => new java.io.File(p, "graft/Bench.class").isFile))
  }

  test("forwardedFlags: the parent's --add-opens and log4j configuration, in order, nothing else") {
    val args = Seq("--add-opens=java.base/java.lang=ALL-UNNAMED",
      "-Dlog4j.configurationFile=src/test/resources/log4j2.properties", "-Xss4m")
    assert(Bench.forwardedFlags(args) == args.take(2))
  }

  test("defaultCpus: this host's cores, capped at 32") {
    assert(Bench.defaultCpus == math.min(Runtime.getRuntime.availableProcessors, 32))
  }

  test("PlanDump dumps exactly the queries Bench times, in artifact order") {
    val timed = Bench.crawlQueries ++ Bench.pipelineQueries
    assert(tools.PlanDump.queries(Set.empty) == timed)
    assert(timed == Seq(
      "crawl_list", "crawl_xpath", "crawl_scroll", "dedup_exact",
      "dedup_minhash_lsh", "ann_topk", "emb_near_dup", "lang_id",
      "token_count", "q1_agg", "q_events_window", "repetition_stats",
      "pagerank_hosts", "crawl_rank_prioritized", "recrawl_due"))
    assert(timed.forall(SparkEntry.queries.contains))
    assert(tools.PlanDump.queries(Set("pagerank_hosts", "no_such_query")) == Seq("pagerank_hosts"))
  }
}
