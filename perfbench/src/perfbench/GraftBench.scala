package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CrawlQueries, PipelineQueries, SparkEntry}
import graft.corpus.Fixtures
import graft.engine.{Crawler, CuckooFilter, SeenShard}
import graft.extract.{Extractor, Job, JsProperty}
import graft.html.HtmlParser
import graft.urls.Urls

/** graft's benchmark program: one JVM, `local[cores]`, one workload.
  *
  * Usage: `GraftBench run <workload> <run dir> <cores> <seconds> <trace 0|1>`
  *
  * The run dir holds the generated `documents.parquet`. The program writes
  * `result.json` (timings, output summaries, per-layer metrics, spans),
  * `oracle_sql.json` and the checked outputs under `out/` beside it; the
  * caller compares those outputs with the DuckDB oracles.
  *
  * A run is: the set-up (Spark session up, corpus built and cached), timed
  * from JVM start; one warm-up pass that also writes every call's output
  * for the check; a full GC for the live heap; passes over the workload's
  * fixed job list for `seconds` (at least two); and,
  * in traced runs only, single-thread microbenchmarks of the page layers.
  * In a traced run the timed passes alternate untraced and traced, so the
  * run reports its own tracing overhead.
  */
object GraftBench {

  final case class Ctx(spark: SparkSession, dir: String, corpus: DataFrame, nDocs: Long, cores: Int)

  /** Output summary of one call, computed in the call's single action. */
  type Summary = Map[String, Long]

  /** One entry of a workload's job list. */
  trait Call {
    def name: String
    /** Oracle names whose outputs `check` writes. */
    def oracles: Seq[String]
    /** Performs the call; returns its output summary and the number of
      * successors the crawler's URL-seen prefilter skipped (0 if none).
      */
    def run(ctx: Ctx, onRound: Option[(Int, DataFrame) => Boolean]): (Summary, Long)
    def check(ctx: Ctx, out: String): Summary
  }

  private val Mod = lit(1L << 40)

  private def querySummary(df: DataFrame): Summary = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), Mod)), lit(0L)))
      .head()
    Map("rows" -> r.getLong(0), "checksum" -> r.getLong(1))
  }

  /** A query of the program's own job surface (`SparkEntry.queries`). */
  final case class QueryCall(name: String, f: (SparkSession, String) => DataFrame) extends Call {
    def oracles: Seq[String] = Seq(name)
    def run(ctx: Ctx, onRound: Option[(Int, DataFrame) => Boolean]): (Summary, Long) =
      (querySummary(f(ctx.spark, ctx.dir)), 0L)
    def check(ctx: Ctx, out: String): Summary = {
      val df = f(ctx.spark, ctx.dir).persist()
      try {
        df.write.mode("overwrite").parquet(s"$out/$name")
        querySummary(df)
      } finally df.unpersist(blocking = true)
    }
  }

  /** The list crawl driven through `Crawler.run`, whose per-round callback
    * gives the round spans, on the sharded URL-seen path (bloom, cuckoo,
    * exact shard from the first round) with a frontier checkpoint that also
    * persists pages, so every round writes.
    */
  final case class BulkCrawl(ckptRoot: String) extends Call {
    val name = "crawl_list"
    private val fields = Seq("title", "link", "date_s", "snip")
    private var uses = 0

    def oracles: Seq[String] = Seq(name, "url_seen_sharded")

    /** Checkpoint dir of the latest call (a fresh one per call: the store
      * resumes from whatever it finds).
      */
    var lastCkpt: Option[String] = None

    private def raw(ctx: Ctx, onRound: Option[(Int, DataFrame) => Boolean]): (DataFrame, Crawler, Long) = {
      import ctx.spark.implicits._
      val seeds = Fixtures.seeds(ctx.spark, ctx.dir, d => s"${Fixtures.base(d)}/list/p1.html")
      // the seed frame `Crawler.crawl` builds for a Seq of seeds
      val base =
        if (seeds.size >= 10000)
          ctx.spark.sparkContext.parallelize(seeds, ctx.spark.sparkContext.defaultParallelism).toDF("seed_id", "url")
        else seeds.toDF("seed_id", "url").coalesce(1)
      val seedDf = base.withColumn("page_no", lit(1)).withColumn("cursor", lit(0))
      uses += 1
      val d = s"$ckptRoot/$name-$uses"
      lastCkpt = Some(d)
      val config = Crawler.Config(bloomThreshold = 0L, cuckooThreshold = 0L,
        checkpointDir = Some(d), persistPages = true)
      val crawler = new Crawler(ctx.spark, ctx.corpus, config)
      (crawler.run(CrawlQueries.listJob, seedDf, false, JsProperty, onRound), crawler, seeds.size * 3L)
    }

    private def summary(df: DataFrame, expectedPages: Long): Summary = {
      val docId = expr("cast(substring(seed_id, 2) as long)")
      // posexplode_outer gives each fetched page exactly one row with
      // pos = cursor (its first item) or a null item (no items)
      val firstOfPage = col("item").isNull || col("pos") === col("cursor")
      val itemHash = xxhash64((Seq(docId, col("page_no").cast("long"), col("pos").cast("long")) ++
        fields.map(f => col(s"item.$f"))): _*)
      val r = df.agg(
        count(col("item")),
        count(when(firstOfPage, 1)),
        count(when(firstOfPage && col("error").isNotNull, 1)),
        count(when(firstOfPage && length(col("next_page_url")) > 0, 1)),
        coalesce(sum(when(col("item").isNotNull, pmod(itemHash, Mod))), lit(0L))).head()
      Map("rows" -> r.getLong(0), "pages" -> r.getLong(1), "error_pages" -> r.getLong(2),
        "successors" -> r.getLong(3), "checksum" -> r.getLong(4),
        "fetch_miss_pages" -> (expectedPages - r.getLong(1)))
    }

    def run(ctx: Ctx, onRound: Option[(Int, DataFrame) => Boolean]): (Summary, Long) = {
      val (df, crawler, expected) = raw(ctx, onRound)
      val s = summary(df, expected)
      (s, crawler.prefilterSkipped.value)
    }

    def check(ctx: Ctx, out: String): Summary = {
      val (crawled, _, expected) = raw(ctx, None)
      // one crawl feeds both written outputs and the summary
      val df = crawled.persist()
      try {
        CrawlQueries.flatten(df, fields).write.mode("overwrite").parquet(s"$out/$name")
        df.select(expr("cast(substring(seed_id, 2) as long)").as("doc_id"), col("url"))
          .distinct().write.mode("overwrite").parquet(s"$out/url_seen_sharded")
        summary(df, expected)
      } finally df.unpersist(blocking = true)
    }
  }

  def calls(workload: String, runDir: String): Seq[Call] = workload match {
    case "crawl_bulk" => Seq(BulkCrawl(s"$runDir/frontier"))
    case "textpipe" => Seq(
      QueryCall("dedup_exact", PipelineQueries.dedupExact),
      QueryCall("dedup_minhash_lsh", PipelineQueries.dedupMinhashLsh),
      QueryCall("pagerank_hosts", CrawlQueries.pagerankHosts),
      QueryCall("crawl_rank_prioritized", CrawlQueries.crawlRankPrioritized),
      QueryCall("anchor_text", CrawlQueries.anchorText))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ------------------------------------------------------------ session, corpus

  def session(runDir: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** crawl_bulk crawls the list family only, so its corpus holds only the
    * list pages, laid out and cached the way `Fixtures.corpus` does it.
    */
  def listCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet").selectExpr("doc_id", "text", "lang").as[Fixtures.Doc]
    val df = docs.flatMap(d => Fixtures.pagesForDoc(d).filter(_.url.contains("/list/"))).toDF()
    val cached = org.apache.spark.sql.GraftSqlBridge.lazyCache(
      df.repartition(spark.sparkContext.defaultParallelism, col("url")))
    cached.count()
    cached
  }

  def corpusFor(workload: String, spark: SparkSession, dir: String): DataFrame =
    if (workload == "crawl_bulk") listCorpus(spark, dir) else Fixtures.corpus(spark, dir)

  // ------------------------------------------------------------ measurement helpers

  private lazy val threadMx: Option[com.sun.management.ThreadMXBean] =
    ManagementFactory.getThreadMXBean match {
      case t: com.sun.management.ThreadMXBean if t.isThreadAllocatedMemorySupported =>
        try { t.setThreadAllocatedMemoryEnabled(true); Some(t) } catch { case _: Exception => None }
      case _ => None
    }

  /** Bytes allocated so far by the current thread, if the JVM can tell. */
  def threadAlloc(): Option[Long] = threadMx.map(_.getCurrentThreadAllocatedBytes)

  /** Bytes allocated so far by every live thread, if the JVM can tell. */
  def allAlloc(): Option[Map[Long, Long]] = threadMx.map { t =>
    val ids = t.getAllThreadIds
    ids.zip(t.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  def allocDelta(before: Option[Map[Long, Long]], after: Option[Map[Long, Long]]): Option[Long] =
    for (b <- before; a <- after) yield a.map { case (id, v) => v - b.getOrElse(id, 0L) }.sum

  def gcMillis(): Long = {
    var total = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { g =>
      val t = g.getCollectionTime
      if (t > 0) total += t
    }
    total
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val it = Files.walk(root).filter(p => Files.isRegularFile(p)).iterator()
      var bytes = 0L
      var files = 0L
      while (it.hasNext) { bytes += Files.size(it.next()); files += 1 }
      (bytes, files)
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
      while (paths.hasNext) Files.delete(paths.next())
    }

  // ------------------------------------------------------------ passes

  final case class CallRec(pass: Int, name: String, traced: Boolean, startMs: Long, endMs: Long,
      secs: Double, summary: Summary, prefilterSkipped: Long, rounds: Seq[Double],
      counters: Option[CallCounters], frontierBytes: Long, frontierFiles: Long)

  final case class PassRec(pass: Int, traced: Boolean, secs: Double, gcSecs: Double, allocMb: Option[Double])

  /** Stops this JVM when the process that started it is gone: nobody
    * else would stop it.
    */
  private def watchOwner(): Unit = {
    val owner = ProcessHandle.current().parent()
    val watchdog = new Thread(() => while (true) {
      Thread.sleep(1000)
      if (!owner.isPresent || !owner.get.isAlive) Runtime.getRuntime.halt(3)
    }, "perfbench-owner-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()
  }

  /** The set-up: Spark session up, corpus built and cached. Returns the
    * context and the corpus build's start and end (System.nanoTime).
    */
  def setUp(workload: String, runDir: String, cores: Int): (Ctx, Long, Long) = {
    val spark = session(runDir, cores)
    val c0 = System.nanoTime()
    val corpus = corpusFor(workload, spark, runDir)
    val c1 = System.nanoTime()
    val nDocs = spark.read.parquet(s"$runDir/documents.parquet").count()
    (Ctx(spark, runDir, corpus, nDocs, cores), c0, c1)
  }

  def main(args: Array[String]): Unit = {
    watchOwner()
    args match {
      case Array("run", workload, runDir, cores, seconds, trace) =>
        run(workload, runDir, cores.toInt, seconds.toDouble, trace == "1")
      case _ =>
        System.err.println("usage: GraftBench run <workload> <run dir> <cores> <seconds> <trace 0|1>")
        sys.exit(2)
    }
  }

  def run(workload: String, runDir: String, cores: Int, seconds: Double, trace: Boolean): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans
    val rootId = spans.open()
    val rootStart = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val jobList = calls(workload, runDir)
    val tracer = new StageTracer
    val callRecs = scala.collection.mutable.ArrayBuffer[CallRec]()
    val passRecs = scala.collection.mutable.ArrayBuffer[PassRec]()

    def runPass(ctx: Ctx, pass: Int, traced: Boolean): Unit = {
      tracer.enabled = traced
      val passId = spans.open()
      val gc0 = gcMillis()
      val alloc0 = allAlloc()
      val done = scala.collection.mutable.ArrayBuffer[(CallRec, Option[String])]()
      val p0 = System.nanoTime()
      jobList.foreach { c =>
        val group = s"$pass:${c.name}"
        val callId = spans.open()
        val rounds = scala.collection.mutable.ArrayBuffer[Long]()
        val onRound: Option[(Int, DataFrame) => Boolean] =
          if (traced) Some((_, _) => { rounds += System.nanoTime(); false }) else None
        ctx.spark.sparkContext.setJobGroup(group, c.name, interruptOnCancel = false)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (summary, skipped) =
          try c.run(ctx, onRound) finally ctx.spark.sparkContext.clearJobGroup()
        val t1 = System.nanoTime()
        val endMs = System.currentTimeMillis()
        spans.close(callId, passId, s"call:${c.name}", t0, t1)
        val roundSecs = (t0 +: rounds.toSeq).zip(rounds.toSeq).zipWithIndex.map { case ((a, b), i) =>
          spans.close(spans.open(), callId, s"round:${i + 1}", a, b)
          (b - a) / 1e9
        }
        val counters =
          if (traced) { org.apache.spark.BenchBridge.drainListeners(ctx.spark.sparkContext); Some(tracer.counters(group)) }
          else None
        val ckpt = c match { case b: BulkCrawl => b.lastCkpt; case _ => None }
        done += ((CallRec(pass, c.name, traced, startMs, endMs, (t1 - t0) / 1e9, summary, skipped,
          roundSecs, counters, 0L, 0L), ckpt))
      }
      val p1 = System.nanoTime()
      spans.close(passId, rootId, s"pass:$pass", p0, p1)
      passRecs += PassRec(pass, traced, (p1 - p0) / 1e9, (gcMillis() - gc0) / 1e3,
        allocDelta(alloc0, allAlloc()).map(_ / 1e6))
      tracer.enabled = false
      // checkpoint dirs are measured and removed after the pass, outside its time
      done.foreach { case (rec, ckpt) =>
        val (bytes, files) = ckpt.map(d => dirStats(Paths.get(d))).getOrElse((0L, 0L))
        ckpt.foreach(d => deleteTree(Paths.get(d)))
        callRecs += rec.copy(frontierBytes = bytes, frontierFiles = files)
      }
    }

    // ---- set-up, timed from JVM start
    val setupId = spans.open()
    val (ctx, c0, c1) = setUp(workload, runDir, cores)
    val setupEndMs = System.currentTimeMillis()
    val setupEnd = System.nanoTime()
    spans.close(spans.open(), setupId, "corpus", c0, c1)
    spans.close(setupId, rootId, "setup", rootStart, setupEnd)
    val setupSecs = (setupEnd - rootStart) / 1e9
    val corpusSecs = (c1 - c0) / 1e9
    ctx.spark.sparkContext.addSparkListener(tracer)

    // ---- warm-up pass, which is also the check pass: every call runs once
    // and writes the output the DuckDB oracles are compared with; the
    // timed calls must then reproduce its summaries
    val out = s"$runDir/out"
    val warm0 = System.nanoTime()
    val checks = jobList.map { c =>
      val s = try Right(c.check(ctx, out)) catch { case e: Exception => Left(e.toString) }
      c match { case b: BulkCrawl => b.lastCkpt.foreach(d => deleteTree(Paths.get(d))); case _ => }
      c.name -> s
    }
    spans.close(spans.open(), rootId, "warmup-check", warm0, System.nanoTime())
    val warmSecs = (System.nanoTime() - warm0) / 1e9
    val oracleJson = Json.obj(jobList.flatMap(_.oracles).map(n => n -> Json.str(SparkEntry.oracleSql(n))))
    Files.writeString(Paths.get(s"$runDir/oracle_sql.json"), oracleJson)

    // ---- live heap after a full GC, once the warm-up pass has filled
    // every cache: taken before the window, after a fixed number of calls,
    // because the live heap grows with every call (Spark's job and SQL
    // status records among it) and how many calls fit in the window
    // depends on the speed. Spark drops
    // the cached blocks of unreachable Datasets from a cleaner thread after
    // a GC notices them, so collect until the set of persisted RDDs is stable.
    val sc = ctx.spark.sparkContext
    var persisted = -1
    var rounds = 0
    while (rounds < 30 && sc.getPersistentRDDs.size != persisted) {
      persisted = sc.getPersistentRDDs.size
      System.gc()
      Thread.sleep(200)
      rounds += 1
    }
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    // what Spark still caches at that point, to explain the live heap
    val storage = sc.getRDDStorageInfo.toSeq.map(i => Json.obj(Seq(
      "rdd" -> Json.num(i.id), "name" -> Json.str(i.name), "partitions" -> Json.num(i.numCachedPartitions),
      "mem_mb" -> Json.num(i.memSize / 1e6), "disk_mb" -> Json.num(i.diskSize / 1e6))))

    // ---- timed window
    val loadAtWindow = loadAvg1m()
    val w0 = System.nanoTime()
    var pass = 0
    val minPasses = if (trace) 4 else 2
    while (pass < minPasses || System.nanoTime() - w0 < seconds * 1e9) {
      runPass(ctx, pass, traced = trace && pass % 2 == 1)
      pass += 1
    }
    val windowSecs = (System.nanoTime() - w0) / 1e9

    // ---- per-layer metrics (traced runs)
    val layers: Seq[(String, Double, String)] =
      if (trace) Layers.compute(workload, ctx, jobList, callRecs.toSeq, passRecs.toSeq, corpusSecs)
      else Nil

    spans.close(rootId, 0, "run", rootStart, System.nanoTime())

    val rt = ManagementFactory.getRuntimeMXBean
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "trace" -> Json.bool(trace),
      "docs" -> Json.num(ctx.nDocs.toDouble),
      "setup_end_ms" -> Json.num(setupEndMs),
      "setup_from_jvm_start_s" -> Json.num(setupSecs),
      "corpus_build_s" -> Json.num(corpusSecs),
      "warmup_s" -> Json.num(warmSecs),
      "window_s" -> Json.num(windowSecs),
      "heap_live_mb" -> Json.num(heapLiveMb),
      "cached_rdds" -> Json.arr(storage),
      "load_1m_at_window" -> Json.num(loadAtWindow),
      "passes" -> Json.arr(passRecs.toSeq.map(p => Json.obj(Seq(
        "pass" -> Json.num(p.pass), "traced" -> Json.bool(p.traced), "secs" -> Json.num(p.secs),
        "gc_s" -> Json.num(p.gcSecs), "alloc_mb" -> p.allocMb.map(Json.num).getOrElse("null"))))),
      "calls" -> Json.arr(callRecs.toSeq.map(c => Json.obj(Seq(
        "pass" -> Json.num(c.pass), "name" -> Json.str(c.name), "traced" -> Json.bool(c.traced),
        "secs" -> Json.num(c.secs), "prefilter_skipped" -> Json.num(c.prefilterSkipped),
        "summary" -> Json.obj(c.summary.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }))))),
      "oracles_of" -> Json.obj(jobList.map(c => c.name -> Json.arr(c.oracles.map(Json.str)))),
      "checks" -> Json.obj(checks.map {
        case (n, Right(s)) => n -> Json.obj(s.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })
        case (n, Left(err)) => n -> Json.obj(Seq("error" -> Json.str(err)))
      }),
      "layers" -> Json.obj(layers.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "jvm" -> Json.obj(Seq(
        "version" -> Json.str(System.getProperty("java.version")),
        "gc" -> Json.str(ManagementFactory.getGarbageCollectorMXBeans.get(0).getName),
        "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory() / 1e6),
        "input_args" -> Json.arr(rt.getInputArguments.toArray.toSeq.map(a => Json.str(a.toString)).filterNot(_.contains("add-opens"))),
        "cores" -> Json.num(cores))),
      "spans" -> Json.arr(spans.all.sortBy(_.id).map(s => Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.startNs - rootStart) / 1e6), "end_ms" -> Json.num((s.endNs - rootStart) / 1e6)))))
    ))
    Files.writeString(Paths.get(s"$runDir/result.json"), result)
    ctx.spark.stop()
  }

  def loadAvg1m(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  // ------------------------------------------------------------ microbenchmarks

  /** Results of microbenchmarked calls land here, so the JIT cannot drop the calls. */
  @volatile private var sink: Any = null

  /** Runs `body` over `items` until at least `minSecs` passed (after one
    * untimed warm-up sweep); returns (ns per item, allocated bytes per item
    * when the JVM can tell).
    */
  def perItem[A](items: IndexedSeq[A], minSecs: Double)(body: A => Any): (Double, Option[Double]) = {
    items.foreach(a => sink = body(a))
    var n = 0L
    val a0 = threadAlloc()
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < minSecs * 1e9) {
      var i = 0
      while (i < items.length) { sink = body(items(i)); i += 1 }
      n += items.length
    }
    val ns = (System.nanoTime() - t0).toDouble / n
    val alloc = for (a <- a0; b <- threadAlloc()) yield (b - a).toDouble / n
    (ns, alloc)
  }

  /** Single-thread costs of the page layers over pages generated from the
    * workload's own documents (the first `limit` of them).
    */
  def pageLayers(ctx: Ctx, families: Seq[String], limit: Int): Seq[(String, Double, String)] = {
    import ctx.spark.implicits._
    val docs = ctx.spark.read.parquet(s"${ctx.dir}/documents.parquet")
      .selectExpr("doc_id", "text", "lang").as[Fixtures.Doc].orderBy("doc_id").limit(limit).collect().toIndexedSeq
    val pages = docs.flatMap(d => Fixtures.pagesForDoc(d) :+ Fixtures.hubPage(d, ctx.nDocs))
    def family(f: String) = pages.filter(_.url.contains(s"/$f/"))
    val own = families.flatMap(family).map(_.html).toIndexedSeq
    val (parseNs, parseAlloc) = perItem(own, 1.0)(h => HtmlParser.parse(h))
    def alloc(v: Option[Double]) = v.map(_ / 1024).getOrElse(-1.0)
    val extract = Seq(
      ("list", CrawlQueries.listJob, false), ("cmt", CrawlQueries.cmtJob, false), ("more", CrawlQueries.moreJob, true)
    ).flatMap { case (f, job, scroll) =>
      val parsed = family(f).map(p => (Extractor.parseDocument(p.html), p.url, p.url.takeRight(6).filter(_.isDigit).toInt))
      val (ns, al) = perItem(parsed, 0.5) { case (doc, url, k) =>
        if (scroll) Extractor.extractScrollPage(doc, job, url, JsProperty, 0)
        else Extractor.extractPage(doc, job, k, url, JsProperty)
      }
      Seq((s"extract.$f.us_per_page", ns / 1e3, "us"), (s"extract.$f.alloc_kb_per_page", alloc(al), "KB"))
    }
    val urls = pages.map(_.url)
    val (urlNs, _) = perItem(urls, 0.5)(u => Urls.urlHash(Urls.canonicalize(u)))
    Seq(("html.parse_us_per_page", parseNs / 1e3, "us"),
      ("html.parse_alloc_kb_per_page", alloc(parseAlloc), "KB")) ++ extract ++
      Seq(("urls.canon_hash_ns_per_url", urlNs, "ns"))
  }

  /** Single-thread costs of the two URL-seen structures over the list
    * urls of the workload's documents: ns per insert-or-probe, false
    * positives of the sketch on urls never inserted (the comment family),
    * and resident bytes per url of both.
    */
  def seenLayers(ctx: Ctx): Seq[(String, Double, String)] = {
    import ctx.spark.implicits._
    val ids = ctx.spark.read.parquet(s"${ctx.dir}/documents.parquet").select("doc_id").as[Long].collect()
    def keys(fam: String) = ids.flatMap(d => (1 to 3).map(k =>
      (SeenShard.seedHash(s"d$d"), Urls.urlHash(Urls.canonicalize(s"${Fixtures.base(d)}/$fam/p$k.html")))))
    val in = keys("list")
    val absent = keys("cmt")
    def timeOps(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble }
    var cuckooNs = 0.0
    var shardNs = 0.0
    var cuckoo: CuckooFilter = null
    var shard: SeenShard = null
    for (_ <- 1 to 3) { // the last of three rounds is the warm one
      cuckoo = CuckooFilter.create(in.length)
      shard = SeenShard.create()
      cuckooNs = timeOps { in.foreach(k => cuckoo.insert(k._2)); in.foreach(k => cuckoo.contains(k._2)) } / (2.0 * in.length)
      shardNs = timeOps { in.foreach(k => shard.insert(k._1, k._2)); in.foreach(k => shard.contains(k._1, k._2)) } / (2.0 * in.length)
    }
    val fp = absent.count(k => cuckoo.contains(k._2)).toDouble / absent.length
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(shard); oos.close()
    val bytes = (cuckoo.serialize().length + bos.size()).toDouble / in.length
    Seq(("engine.seen.cuckoo_ns_per_op", cuckooNs, "ns"), ("engine.seen.shard_ns_per_op", shardNs, "ns"),
      ("engine.seen.cuckoo_fp_rate", fp, "ratio"), ("engine.seen.bytes_per_url", bytes, "B"))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
