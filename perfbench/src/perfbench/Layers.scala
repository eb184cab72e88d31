package perfbench

import org.apache.spark.sql.functions._

import GraftBench._

/** Per-layer metrics of a traced run, named by graft module. Every name is
  * reported on every workload; a layer a workload does not exercise reads 0.
  */
object Layers {

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else GraftBench.median(xs)

  def compute(workload: String, ctx: Ctx, jobList: Seq[Call], calls: Seq[CallRec], passes: Seq[PassRec],
      corpusSecs: Double): Seq[(String, Double, String)] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val tracedCalls = calls.filter(_.traced)
    val byPass = tracedCalls.groupBy(_.pass).values.toSeq
    val crawlNames = jobList.collect { case c: BulkCrawl => c.name }.toSet
    def perPass(f: Seq[CallRec] => Double, only: CallRec => Boolean = c => crawlNames(c.name)): Double =
      med(byPass.map(cs => f(cs.filter(only))))
    def cnt(c: CallRec)(f: CallCounters => Double): Double = c.counters.map(f).getOrElse(0.0)

    val corpusRow = ctx.corpus.agg(count(lit(1)), sum(length(col("html")))).head()

    val crawler = Seq(
      ("engine.crawler.rounds", perPass(_.map(_.rounds.size.toDouble).sum), "count"),
      ("engine.crawler.round_s", med(tracedCalls.filter(c => crawlNames(c.name)).flatMap(_.rounds)), "s"),
      ("engine.crawler.jobs", perPass(_.map(c => cnt(c)(_.jobs)).sum), "count"),
      ("engine.crawler.stages", perPass(_.map(c => cnt(c)(_.stages)).sum), "count"),
      ("engine.crawler.tasks", perPass(_.map(c => cnt(c)(_.tasks)).sum), "count"),
      ("engine.crawler.driver_gap_frac", perPass { cs =>
        val wall = cs.map(c => (c.endMs - c.startMs).toDouble).sum
        if (wall <= 0) 0.0
        else cs.map(c => c.counters.map(StageTracer.driverGapFrac(_, c.startMs, c.endMs)).getOrElse(0.0) *
          (c.endMs - c.startMs)).sum / wall
      }, "ratio"),
      ("engine.crawler.core_busy_frac", perPass { cs =>
        val wall = cs.map(c => (c.endMs - c.startMs).toDouble).sum
        if (wall <= 0) 0.0 else cs.map(c => cnt(c)(_.taskMs.toDouble)).sum / (wall * ctx.cores)
      }, "ratio"),
      ("engine.crawler.shuffle_mb", perPass(_.map(c => cnt(c)(_.shuffleWriteBytes / 1e6)).sum), "MB"),
      ("engine.crawler.fetch_miss_pages", perPass(_.map(_.summary.getOrElse("fetch_miss_pages", 0L).toDouble).sum), "count"))

    val seen = (if (workload == "crawl_bulk") seenLayers(ctx) else Seq(
      ("engine.seen.cuckoo_ns_per_op", 0.0, "ns"), ("engine.seen.shard_ns_per_op", 0.0, "ns"),
      ("engine.seen.cuckoo_fp_rate", 0.0, "ratio"), ("engine.seen.bytes_per_url", 0.0, "B"))) :+
      ("engine.seen.prefilter_pruned_frac", perPass { cs =>
        val succ = cs.map(_.summary.getOrElse("successors", 0L)).sum
        if (succ == 0) 0.0 else cs.map(_.prefilterSkipped).sum.toDouble / succ
      }, "ratio")

    val frontier = Seq(
      ("engine.frontier.written_mb", perPass(_.map(_.frontierBytes / 1e6).sum), "MB"),
      ("engine.frontier.files", perPass(_.map(_.frontierFiles.toDouble).sum), "count"),
      // the rank-guided crawl is pagerank_hosts, a top-K collect and the
      // frontier slice: its time beyond pagerank_hosts in the same pass
      ("engine.frontier.slice_s", perPass({ cs =>
        val t = cs.map(c => c.name -> c.secs).toMap
        (for (r <- t.get("crawl_rank_prioritized"); p <- t.get("pagerank_hosts")) yield r - p).getOrElse(0.0)
      }, _ => true), "s"))

    def op(name: String)(f: CallRec => Double): Double = med(tracedCalls.filter(_.name == name).map(f))
    val pipeline = Seq(
      ("pipeline.dedup.exact_s", op("dedup_exact")(_.secs), "s"),
      ("pipeline.dedup.minhash_s", op("dedup_minhash_lsh")(_.secs), "s"),
      ("pipeline.dedup.minhash_stages", op("dedup_minhash_lsh")(c => cnt(c)(_.stages)), "count"),
      ("pipeline.dedup.minhash_shuffle_mb", op("dedup_minhash_lsh")(c => cnt(c)(_.shuffleWriteBytes / 1e6)), "MB"),
      ("pipeline.dedup.pairs_out", op("dedup_minhash_lsh")(_.summary("rows").toDouble), "count"),
      ("pipeline.linkgraph.pagerank_s", op("pagerank_hosts")(_.secs), "s"),
      ("pipeline.linkgraph.pagerank_jobs", op("pagerank_hosts")(c => cnt(c)(_.jobs)), "count"),
      ("pipeline.linkgraph.pagerank_stages", op("pagerank_hosts")(c => cnt(c)(_.stages)), "count"),
      ("pipeline.linkgraph.pagerank_driver_gap_frac",
        op("pagerank_hosts")(c => c.counters.map(StageTracer.driverGapFrac(_, c.startMs, c.endMs)).getOrElse(0.0)), "ratio"))

    val families = if (workload == "crawl_bulk") Seq("list") else Seq("hub")
    val tracedPass = med(traced.map(_.secs))
    val untracedPass = med(untraced.map(_.secs))
    Seq(
      ("corpus.build_s", corpusSecs, "s"),
      ("corpus.pages", corpusRow.getLong(0).toDouble, "count"),
      ("corpus.mb", corpusRow.getLong(1) / 1e6, "MB")) ++
      pageLayers(ctx, families, 1000) ++
      Seq(("extract.error_pages", perPass(_.map(_.summary.getOrElse("error_pages", 0L).toDouble).sum), "count")) ++
      crawler ++ seen ++ frontier ++ pipeline ++ Seq(
        ("jvm.gc_s", med(passes.map(_.gcSecs)), "s"),
        ("jvm.alloc_mb", med(passes.flatMap(_.allocMb)), "MB"),
        ("trace.pass_s", tracedPass, "s"),
        ("trace.untraced_pass_s", untracedPass, "s"),
        ("trace.overhead_frac", if (untracedPass > 0) tracedPass / untracedPass - 1 else 0.0, "ratio"))
  }
}
