package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the scale contract is that these physical
  * plan properties hold — filter/column pushdown into parquet scans,
  * broadcast joins for small sides, map-side partial aggregation, and
  * whole-stage codegen around everything except the extraction expression.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.autoBroadcastJoinThreshold", "10m")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The query's OWN plan text: everything above the first cached-relation
    * leaf. An InMemoryRelation prints its one-time cache-BUILD plan inline,
    * and since r6 the corpus cache build legitimately contains the spread
    * repartition exchange (Fixtures.corpus scaladoc) — a query reading the
    * cache pays no exchange, which is what these pins assert.
    */
  private def queryPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    val s = planOf(df)
    val cut = s.indexOf("InMemoryRelation")
    if (cut < 0) s else s.substring(0, cut)
  }

  test("q1_agg: column pruning reaches the parquet scan; partial agg present") {
    val plan = planOf(PipelineQueries.q1Agg(spark, sf))
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_shipdate"), "unused column must be pruned from the scan")
    assert(plan.contains("HashAggregate"), "hash aggregation expected")
    // partial + final pair (map-side combine)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "partial aggregation expected")
  }

  test("bucketed corpus ⋈ bucketed frontier: fetch join with ZERO exchanges") {
    // The 10^9-row-frontier deployment shape: when the corpus lake and the
    // frontier snapshots are both bucketed by url, the fetch join is
    // co-located — no side shuffles, ever. (The in-engine alternatives are
    // broadcast, for small batches, and shuffle-hash; this pins the third.)
    val corpus = graft.corpus.Fixtures.corpus(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sql("DROP TABLE IF EXISTS corpus_bucketed")
      spark.sql("DROP TABLE IF EXISTS frontier_bucketed")
      corpus.write.format("parquet").bucketBy(8, "url").sortBy("url")
        .option("path", s"$tmp/corpus").saveAsTable("corpus_bucketed")
      val frontier = corpus.select("url").sample(0.3, 42)
      frontier.write.format("parquet").bucketBy(8, "url").sortBy("url")
        .option("path", s"$tmp/frontier").saveAsTable("frontier_bucketed")
      val joined = spark.table("frontier_bucketed")
        .join(spark.table("corpus_bucketed"), "url")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(1200)}")
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must not shuffle either side:\n${plan.take(1200)}")
      assert(joined.count() == frontier.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS corpus_bucketed")
      spark.sql("DROP TABLE IF EXISTS frontier_bucketed")
    }
  }

  test("repetition_stats: map-only — the only exchange is the output ordering") {
    val plan = planOf(PipelineQueries.repetitionStats(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      "per-doc n-gram maxima must not shuffle tokens — the UDF pass is map-local")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"at most the final rangepartitioning exchange expected:\n${plan.take(1500)}")
  }

  test("recrawl_due: map-only — the only exchange is the output ordering") {
    // the 10^10-url contract: one narrow projection + filter over the
    // history table; staleness arithmetic must never shuffle
    val plan = queryPlanOf(CrawlQueries.recrawlDue(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      "the due-set filter and staleness arithmetic are per-row — no hash shuffle")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"at most the final rangepartitioning exchange expected:\n${plan.take(1500)}")
  }

  test("pagerank_hosts: exactly ONE sort (its own output order), no inherited edge sort") {
    // regression: pagerank_hosts used to build on link_graph's SORTED
    // query surface, paying a full range-partition sort exchange over the
    // edge list whose order its first join/groupBy immediately destroyed.
    // The edge list now reaches pagerank unsorted; the only Sort left is
    // pagerank's own final orderBy("host").
    // count GLOBAL sorts only (`Sort [...], true, ...`): a sort-merge
    // join's per-partition Sorts (`..., false, ...`) are join machinery,
    // not the wasted range exchange this pins
    val plan = planOf(CrawlQueries.pagerankHosts(spark, sf))
    val sorts = """Sort \[[^\]]*\], true""".r.findAllIn(plan).size
    assert(sorts == 1, s"expected exactly the final orderBy(host) global Sort, found $sorts:\n" +
      plan.linesIterator.filter(_.contains("Sort ")).mkString("\n"))
  }

  test("pagerank_hosts: its edge input carries no global sort") {
    // below Layout.BroadcastRows edges pagerank counts and collects its
    // input eagerly, so the rank's own plan no longer shows that input:
    // pin the input itself, against link_graph's sorted surface as the
    // control that the pattern sees a sort where there is one
    def globalSorts(df: org.apache.spark.sql.DataFrame): Int =
      """Sort \[[^\]]*\], true""".r.findAllIn(planOf(df)).size
    assert(globalSorts(CrawlQueries.linkGraph(spark, sf)) == 1)
    val sorts = globalSorts(CrawlQueries.hostEdgesUnsorted(spark, sf))
    assert(sorts == 0, s"pagerank's edge input pays $sorts range-partition sort(s) for nothing")
  }

  test("ann_topk: query-side filter pushed to parquet scan") {
    val plan = planOf(PipelineQueries.annTopK(spark, sf))
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(vec_id,20)"),
      s"vec_id<20 must be pushed down:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "query side must broadcast")
  }

  test("ann_topk: codegen VecDot everywhere, norms computed pre-join not per pair") {
    val plan = planOf(PipelineQueries.annTopK(spark, sf))
    assert(plan.toLowerCase.contains("vecdot"), "cosine must use the native VecDot expression")
    // norms appear as scan-side projections (q_norm/n_norm), so the
    // per-pair expression is one dot + one division — no sqrt per pair
    assert(plan.contains("q_norm") && plan.contains("n_norm"), plan.take(1500))
    val pairProj = plan.split('\n').find(l => l.contains("AS cos")).getOrElse("")
    assert(!pairProj.contains("SQRT"), s"no per-pair norm recomputation: $pairProj")
  }

  test("emb_near_dup: blocked pair join — vectors aggregate into block tiles first") {
    val df = PipelineQueries.embNearDup(spark, sf)
    val plan = planOf(df)
    // the join operands are block rows (collect_list aggregates), never the
    // raw n² vector pairs
    val joinIdx = plan.indexOf("Join")
    val aggIdx = plan.indexOf("Aggregate")
    assert(joinIdx >= 0 && aggIdx >= 0 && joinIdx < aggIdx,
      s"block aggregation must sit beneath the join:\n${plan.take(1500)}")
    assert(plan.contains("collect_list"))
  }

  test("minhash lsh: bucket-local est-prescreen — no pair-sized set join, one sig pass") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.pipeline.Dedup.minhashLshPairs(docs)
    q.count()
    val plan = q.queryExecution.executedPlan.toString
    // candidates come from a bucket-group aggregate (collect_list of packed
    // member signatures), not a bucket self-join
    assert(plan.contains("collect_list"), s"bucket groups must aggregate members:\n${plan.take(1500)}")
    // the only joins in the output plan tree are the two survivor-sized
    // verify joins (the set semi-join prune lives in the cached `sets`
    // subplan) — the old bucket self-join shape had a pair-space join
    // carrying full shingle sets on top of these
    val joins = q.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    assert(joins <= 2, s"expected ≤2 verify joins in the result tree, got $joins:\n${plan.take(2000)}")
    // the signature/est UDFs live behind the cand cache boundary: the
    // result tree itself contains no Generate at all (a duplicated
    // signature pass would surface one per reference)
    val gens = q.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.size
    assert(gens == 0, s"signature pass must sit once behind the cache, got $gens generates")
  }

  test("fetch join: frontier batch broadcasts, corpus side never shuffles") {
    val s = spark
    import s.implicits._
    val corpus = graft.corpus.Fixtures.corpus(spark, sf)
    val batch = Seq(("d0", "http://h0.test/d0/list/p1.html")).toDF("seed_id", "url")
    val fetched = broadcast(batch).join(corpus.select(col("url"), col("html")), Seq("url"))
    val plan = queryPlanOf(fetched)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange hashpartitioning"), "corpus must not shuffle for the fetch")
  }

  test("q_join_broadcast: dimension broadcast, no shuffle of orders for the join") {
    val plan = planOf(PipelineQueries.qJoinBroadcast(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("token_count: whole-stage codegen covers the scan+project pipeline") {
    val df = PipelineQueries.tokenCount(spark, sf)
    df.collect() // AQE finalizes the plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan.take(1200))
  }

  test("politeness: single window over host partition, codegen'd arithmetic") {
    val s = spark
    import s.implicits._
    val df = Seq(("http://h0.test/a", "h0.test", 1L), ("http://h0.test/b", "h0.test", 2L))
      .toDF("url", "host", "url_hash")
    val plan = planOf(graft.engine.Politeness.schedule(df,
      graft.engine.Politeness.Config(delayMinMs = 100, delayMaxMs = 200, throttleNum = 2)))
    assert("Window".r.findAllIn(plan).size >= 1)
    assert(!plan.contains("CartesianProduct"))
  }

  test("dedup exact: no text bytes in the shuffle (only hashes aggregate)") {
    val plan = PipelineQueries.dedupExact(spark, sf).queryExecution.optimizedPlan.toString
    // the aggregate keys are the hashes; text appears only below the first
    // (partial, pre-shuffle) aggregate
    val exchangeIdx = planOf(PipelineQueries.dedupExact(spark, sf)).indexOf("Exchange")
    assert(exchangeIdx >= 0)
    assert(plan.contains("xxhash64") && plan.contains("md5"))
  }

  test("dedup spans: first (counting) exchange partitions on the 64-bit hash, not span text") {
    val plan = PipelineQueries.dedupSpans(spark, sf).queryExecution.optimizedPlan.toString
    assert(plan.contains("xxhash64"), plan.take(1200))
    // the candidate count aggregates on h (8-byte keys); the span string
    // participates in aggregation only in the survivor-sized verify pass
    val firstAggIdx = plan.indexOf("count(distinct doc_id")
    assert(firstAggIdx >= 0, plan.take(1200))
    val hKeyed = "\\[h#\\d+L\\], \\[h#\\d+L,".r.findFirstIn(plan).isDefined ||
      plan.contains("[h#")
    assert(hKeyed, "candidate-count aggregate must key on the hash column:\n" + plan.take(1500))
  }

  test("crawl loop: ONE driver job per round (serial-floor contract)") {
    // The round-4 lever: extraction materializes through a LAZY persisted
    // RDD that the round's fused frontier-checkpoint+count job fills in
    // the same pass. Regression guard: a crawl must submit NO standalone
    // `localCheckpoint` jobs (the old per-round eager extraction
    // checkpoint) and exactly rounds+1 `localCheckpointWithCount` jobs
    // (the seed frontier plus one per round).
    val corpus = graft.corpus.Fixtures.corpus(spark, sf)
    val sites = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        // a job's call site = its result stage's name (the stage with the
        // highest id); callSite.short is not propagated to the listener
        // under SQL execution in Spark 4
        sites += js.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val crawler = new graft.engine.Crawler(spark, corpus)
      val seeds = Seq("d0", "d1").map(d =>
        (d, s"http://h${d.drop(1)}.test/$d/list/p1.html"))
      val rows = crawler.crawl(CrawlQueries.listJob, seeds).count()
      assert(rows > 0)
      // listener events are posted asynchronously; poll until the job
      // stream quiesces (bounded)
      var last = -1
      var spins = 0
      while (sites.size != last && spins < 40) {
        last = sites.size; spins += 1; Thread.sleep(100)
      }
      val checkpointJobs = sites.count(_.contains("localCheckpoint at"))
      val fusedJobs = sites.count(_.contains("localCheckpointWithCount"))
      assert(checkpointJobs == 0,
        s"per-round eager extraction checkpoint is back ($checkpointJobs jobs): $sites")
      // 3 list pages per seed → 3 rounds; +1 for the seed frontier. The
      // LAST round's successor frame is empty, so its fused job has zero
      // partitions and no stages (it appears as a nameless job) — hence 3
      // named fused jobs, not 4.
      assert(fusedJobs == 3,
        s"expected 3 named fused checkpoint+count jobs (seeds + 2 non-empty rounds), got $fusedJobs: $sites")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
