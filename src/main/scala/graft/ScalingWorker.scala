package graft

/** One scaling measurement in a dedicated JVM: crawl the multiplied list
  * corpus at local[cores], print one JSON line. Spawned by
  * [[ScalingBenchForked]] so each parallelism level gets a fresh heap —
  * the honest stand-in for independent executors on a real cluster.
  */
object ScalingWorker {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val sfDir = args(1)
    val mult = args(2).toInt
    val spark = Bench.mkSession(cores.toString)
    import spark.implicits._
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "ERROR"))
    // family=list keeps only the crawled family's pages so the corpus (and
    // its cache) stays proportional to the measured work — lets `mult`
    // grow the ROUND SIZE into the regime a 10^10-URL frontier is always
    // in, where per-round driver fixed costs amortize away
    val listOnly = sys.env.get("SPARK_GRAFT_FAMILY").contains("list")
    // shj mode: url-pre-partitioned corpus + shuffle-hash fetch join — the
    // bucketed-corpus plan whose per-round hash build parallelizes across
    // executors instead of serializing on the driver's broadcast build
    val shj = sys.env.get("SPARK_GRAFT_JOIN").contains("shj")
    val baseDocs = graft.corpus.Fixtures.documents(spark, sfDir)
      .selectExpr("doc_id", "text", "lang").as[graft.corpus.Fixtures.Doc].collect()
    // multiply the corpus ON EXECUTORS: broadcast the base docs once
    // (~10 MB) and parallelize only the multiplier indices — under
    // local-cluster (real separate executor JVMs) a driver-built
    // LocalRelation of mult*5000 full-text docs would ship hundreds of MB
    // through task serialization instead
    val bcDocs = spark.sparkContext.broadcast(baseDocs)
    val corpus0 = spark.sparkContext
      .parallelize(0 until mult, math.max(cores * 2, math.min(mult, 64)))
      .flatMap { m =>
        bcDocs.value.iterator.flatMap { d0 =>
          val d = d0.copy(doc_id = d0.doc_id + m * 1000000L)
          val pages = graft.corpus.Fixtures.pagesForDoc(d)
          if (listOnly) pages.filter(_.url.contains("/list/")) else pages
        }
      }.toDF()
    import org.apache.spark.sql.functions.col
    val corpus = if (shj) corpus0.repartition(cores, col("url")) else corpus0
    corpus.cache(); corpus.count()
    val seeds = (0 until mult).flatMap(m => baseDocs.map { d0 =>
      val id = d0.doc_id + m * 1000000L
      (s"d$id", s"${graft.corpus.Fixtures.base(id)}/list/p1.html")
    })
    val crawler = new graft.engine.Crawler(spark, corpus,
      graft.engine.Crawler.Config(broadcastFrontier = !shj))
    // JIT warmup sized PER EXECUTOR: every executor must push enough pages
    // through parse/extract to get the hot path C2-compiled BEFORE the
    // timed window. A 50-seed warmup leaves most executors interpreted
    // (~100× slower) deep into rep 1 — with constrained compiler threads
    // (-XX:CICompilerCount=2, the 1-core-node setting the cluster harness
    // pins) the sick phase lasted minutes and poisoned the measurement.
    val warmSeeds = math.min(seeds.length, math.max(50, 2000 * cores))
    crawler.crawl(CrawlQueries.listJob, seeds.take(warmSeeds)).count()
    // best-of-N: the min over reps is the engine's attainable rate; on a
    // box with intermittent host-side stalls (BASELINE.md round 4) more
    // reps reject more noise. Default 2 (the historical protocol).
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val rows = crawler.crawl(CrawlQueries.listJob, seeds).count()
      val sec = (System.nanoTime() - t0) / 1e9
      (rows, sec)
    }
    val pages = times.head._1 / 4
    val sec = times.map(_._2).min
    println(f"""SCALING_RESULT {"cores":$cores%d,"pages":$pages%d,"sec":$sec%.2f}""")
    spark.stop()
  }
}

/** Forked N-vs-4N scaling harness: each config runs in its own JVM
  * (fresh allocator/GC/JIT — no cross-config heap pollution), interleaved,
  * best time per config.
  */
object ScalingBenchForked {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "8").toInt
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "32").toInt
    def runOnce(cores: Int): (Long, Double) = {
      val (_, out) = Bench.forkJvm("graft.ScalingWorker", Seq(cores.toString, sfDir, mult.toString))
      val line = out.find(_.startsWith("SCALING_RESULT"))
        .getOrElse(sys.error(s"worker failed:\n${out.takeRight(30).mkString("\n")}"))
      val pages = """"pages":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
      val sec = """"sec":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
      (pages, sec)
    }

    // SPARK_GRAFT_PASSES=1 → single [N, 4N] pass (each config already
    // best-of-2 inside its own fork); default 2 interleaved passes
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val schedule = Seq.fill(passes)(Seq(n, 4 * n)).flatten
    val results = schedule.map { c =>
      val r = runOnce(c)
      println(f"  fork local[$c%d]: ${r._1}%d pages in ${r._2}%.2f s (${r._1 / r._2}%.0f pages/s)")
      c -> r
    }
    val pagesN = results.filter(_._1 == n).map(_._2._1).head
    val secN = results.filter(_._1 == n).map(_._2._2).min
    val sec4N = results.filter(_._1 == 4 * n).map(_._2._2).min
    val eff = (secN / sec4N) / 4.0
    println(f"""{"sf":"$sfDir%s","pages":$pagesN%d,"n_cores":$n%d,"t_n_sec":$secN%.2f,"thr_n_pages_per_sec":${pagesN / secN}%.1f,"n4_cores":${4 * n}%d,"t_4n_sec":$sec4N%.2f,"thr_4n_pages_per_sec":${pagesN / sec4N}%.1f,"scaling_efficiency":$eff%.3f,"isolation":"forked-jvm-per-config"}""")
  }
}
