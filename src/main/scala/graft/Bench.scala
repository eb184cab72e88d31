package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, count_distinct, lit, struct}

/** Driver-run benchmark: headline crawl throughput (pages/sec
  * fetch+extract — the BASELINE.json metric) plus per-query seconds for
  * the other operator families. One JSON line on stdout.
  *
  * Measurement protocol (round-4 hardening — BENCH_r02/r03 proved the
  * naive single-shot numbers irreproducible: r03 was recorded on a box
  * still loaded from the correctness gate and overstated the suite 2×,
  * r02 caught an unusually idle box and understated it):
  *
  *  1. FORKED, PINNED JVM. The suite runs in a child java process with
  *     ParallelGC (BASELINE.md: 2–5× over G1 on this allocation-heavy
  *     workload) and a fixed heap, independent of however sbt/spark-submit
  *     launched the parent; the JVM config is recorded in the artifact.
  *     Falls back to in-process (flagged `"forked":false`) if the fork
  *     cannot start.
  *  2. QUIESCE GATE. Before timing, waits (bounded) for the box's 1-min
  *     load average to drop below a threshold and records the load at
  *     start — a reader can see whether the numbers are trustworthy.
  *  3. MEDIAN OF 3. Each query runs `reps` times; the artifact reports the
  *     per-query median (first rep absorbs JIT/codegen warmup; median
  *     rejects a one-off GC pause or noisy neighbor).
  *
  * Politeness delay is 0 here: the metric is engine throughput, not sleep
  * budget (the pacing contract is verified separately by the
  * `politeness_schedule` oracle query). AQE on; frontier broadcast on.
  */
object Bench {

  def mkSession(cpus: String): SparkSession = {
    val builder = SparkSession.builder()
    // under spark-submit the master (e.g. local-cluster[4,1,8192] — real
    // multi-JVM executors, the closest one-box analogue of N executors)
    // comes from the command line; default to local[cpus] only when none
    // was given
    if (!sys.props.contains("spark.master")) builder.master(s"local[$cpus]")
    builder
    .appName("graft-bench")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  }

  /** Default `local[n]` size: this host's cores, capped at 32. */
  def defaultCpus: Int = math.min(Runtime.getRuntime.availableProcessors, 32)

  /** Cores for a measurement session: `SPARK_GRAFT_CPUS`, else [[defaultCpus]]. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)

  /** The timed queries, by [[SparkEntry.queries]] name, in artifact order:
    * crawls (pages/sec denominator) first, then the pipeline operators.
    */
  val crawlQueries: Seq[String] = Seq("crawl_list", "crawl_xpath", "crawl_scroll")
  val pipelineQueries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "ann_topk", "emb_near_dup", "lang_id",
    "token_count", "q1_agg", "q_events_window",
    // round 5: Gopher repetition pass (map-only UDF) and the host-graph
    // PageRank (5 iterations of shuffle-by-dst over extracted edges)
    "repetition_stats", "pagerank_hosts",
    // round-5 close: the composed rank-guided crawl (hub crawl + rank +
    // top-K budget + frontier slice) and the map-only recrawl due-set
    "crawl_rank_prioritized", "recrawl_due")

  /** Cumulative GC time of this JVM (all collectors), for per-rep GC
    * attribution: local-mode executors share the bench JVM, so the delta
    * across a rep is the rep's own GC bill.
    */
  private def gcMillis(): Long = {
    val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var total = 0L
    while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) total += t }
    total
  }

  /** (result, wall seconds, GC millis) for one rep — `gc_ms` rides in the
    * artifact next to `reps_sec` so a reader can attribute rep spread to
    * collection pauses without rerunning.
    */
  def timeGc[A](f: => A): (A, Double, Long) = {
    val g0 = gcMillis()
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9, gcMillis() - g0)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (name, pages crawled, rows out, per-rep seconds). ONE action per rep:
    * rows and distinct pages come from a single agg, so the crawl's
    * post-checkpoint flatten/orderBy executes once per measurement (the
    * r03 verdict flagged the old count-then-distinct double execution).
    */
  def runCrawls(spark: SparkSession, sfDir: String, reps: Int): Seq[(String, Long, Long, Seq[(Double, Long)])] =
    crawlQueries.map { name =>
      val query = SparkEntry.queries(name)
      val runs = (1 to reps).map { _ =>
        timeGc {
          // struct() preserves distinct-row semantics under NULLs —
          // count_distinct(a, b) would silently skip rows where either
          // column is null, understating the pages_per_sec denominator
          val r = query(spark, sfDir).agg(count(lit(1)).as("rows"),
            count_distinct(struct(col("doc_id"), col("page_no"))).as("pages")).head()
          (r.getLong(1), r.getLong(0))
        }
      }
      val (pages, rows) = runs.head._1
      (name, pages, rows, runs.map(r => (r._2, r._3)))
    }

  def runPipeline(spark: SparkSession, sfDir: String, reps: Int): Seq[(String, Seq[(Double, Long)])] =
    pipelineQueries.map { name =>
      val query = SparkEntry.queries(name)
      (name, (1 to reps).map { _ => val r = timeGc(query(spark, sfDir).count()); (r._2, r._3) })
    }

  private def loadAvg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Bounded quiesce gate: wait for 1-min load < threshold (the bench
    * itself is about to create load; this only defends against a PRIOR
    * job still draining, the BENCH_r03 failure mode). Returns
    * (load at entry, load when timing starts, seconds waited).
    */
  private def quiesce(maxLoad: Double, maxWaitSec: Int): (Double, Double, Double) = {
    val entry = loadAvg1m()
    var now = entry
    var waited = 0.0
    while (now > maxLoad && waited < maxWaitSec) {
      Thread.sleep(5000)
      waited += 5
      now = loadAvg1m()
    }
    (entry, now, waited)
  }

  /** The measured suite, printed as the one JSON artifact line. */
  def runSuite(forked: Boolean): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val (loadEntry, loadStart, waitedSec) = quiesce(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXLOAD", "4.0").toDouble,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXWAIT", "180").toInt)

    val spark = mkSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // corpus generation (cached) happens once, outside the timed window
    graft.corpus.Fixtures.corpus(spark, sfDir)

    val crawls = runCrawls(spark, sfDir, reps)
    val pipeline = runPipeline(spark, sfDir, reps)

    val totalPages = crawls.map(_._2).sum
    val crawlSec = crawls.map(c => median(c._4.map(_._1))).sum
    val pagesPerSec = if (crawlSec > 0) totalPages / crawlSec else 0.0

    val perQuery =
      crawls.map { case (n, _, _, ts) => n -> ts } ++ pipeline
    val queries = perQuery
      .map { case (k, ts) => "\"" + k + "\":" + f"${median(ts.map(_._1))}%.3f" }
      .mkString("{", ",", "}")
    val repsJson = perQuery
      .map { case (k, ts) => "\"" + k + "\":[" + ts.map(t => f"${t._1}%.3f").mkString(",") + "]" }
      .mkString("{", ",", "}")
    val gcJson = perQuery
      .map { case (k, ts) => "\"" + k + "\":[" + ts.map(_._2.toString).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val total = crawlSec + pipeline.map(p => median(p._2.map(_._1))).sum
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val gcName = gc.get(0).getName.replaceAll("[^A-Za-z0-9 ]", "")
    val xmxMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val artifact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$queries%s,"sf":"$sfDir%s","pages_per_sec":$pagesPerSec%.1f,"pages":$totalPages%d,"cpus":"$cpus%s","reps":$reps%d,"stat":"median","reps_sec":$repsJson%s,"gc_ms":$gcJson%s,"load_1m_entry":$loadEntry%.2f,"load_1m_start":$loadStart%.2f,"quiesce_wait_sec":$waitedSec%.0f,"jvm":{"forked":$forked%b,"gc":"$gcName%s","max_heap_mb":$xmxMb%d,"version":"${System.getProperty("java.version")}%s"}}"""
    println(artifact)
    // the same line lands on disk so repo prose can quote the exact
    // shipped run instead of whichever terminal scrollback survived
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench-latest.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (artifact + "\n").getBytes("UTF-8"))
    } catch { case _: Exception => () } // stdout line is the contract; the file is best-effort
    spark.stop()
  }

  /** Effective classpath of THIS process: under `sbt runMain` the real
    * classpath lives in the application classloader's URLs, not
    * java.class.path (which is just sbt-launch.jar); under spark-submit /
    * plain java both agree. Union of the two, so the child JVM resolves
    * graft + spark either way.
    */
  private def effectiveClasspath(): String = {
    def urls(cl: ClassLoader): Seq[java.net.URL] = cl match {
      case null => Nil
      case u: java.net.URLClassLoader => u.getURLs.toSeq ++ urls(u.getParent)
      case other => urls(other.getParent)
    }
    val fromLoader = urls(getClass.getClassLoader).flatMap { u =>
      try Some(java.nio.file.Paths.get(u.toURI).toString)
      catch { case _: Exception => None }
    }
    (fromLoader ++ sys.props("java.class.path").split(java.io.File.pathSeparator))
      .distinct.mkString(java.io.File.pathSeparator)
  }

  /** The flags of this JVM's own arguments that a forked child JVM
    * inherits, see [[forwardedFlags]].
    */
  private[graft] def parentAddOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    forwardedFlags(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq)
  }

  /** The JVM arguments a forked child inherits, in their order: the
    * `--add-opens=` list, which comes from `build.sbt`'s `jdk17AddOpens`
    * (forked `run`) or from spark-submit, so the module list has one
    * source; and `-Dlog4j.configurationFile=`, so a parent that quiets
    * Spark's log quiets its child too.
    */
  private[graft] def forwardedFlags(jvmArgs: Seq[String]): Seq[String] =
    jvmArgs.filter(a => a.startsWith("--add-opens=") || a.startsWith("-Dlog4j.configurationFile="))

  /** Heap for a forked child JVM: `SPARK_GRAFT_XMX` when set, else half of
    * physical memory clamped to [2g, 24g]; 24g only when the JVM cannot
    * report physical memory.
    */
  private[graft] def forkXmx(): String = sys.env.getOrElse("SPARK_GRAFT_XMX",
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val halfGb = os.getTotalMemorySize / 2 / (1L << 30)
        s"${math.max(2L, math.min(24L, halfGb))}g"
      case _ => "24g"
    })

  /** The child-JVM command for `mainClass`: [[forkXmx]] heap, the
    * `SPARK_GRAFT_GC` collector (ParallelGC by default), this JVM's
    * `--add-opens` and log4j configuration and [[effectiveClasspath]].
    *
    * `SPARK_GRAFT_PRETOUCH=1` faults the whole heap in at JVM startup
    * (-Xms=-Xmx -XX:+AlwaysPreTouch), before any timed window. On a sandbox
    * whose first-touch page faults go through a slow host-side memory
    * backend (measured ~100× a native fault under concurrency, BASELINE.md
    * round 4), an untouched heap makes the timed reps measure the sandbox,
    * not the engine. A real cluster sets the same flags on executors for
    * the same reason (fault/THP cost at first allocation).
    */
  def forkCommand(mainClass: String, args: Seq[String]): Seq[String] = {
    val xmx = forkXmx()
    val preTouch =
      if (sys.env.get("SPARK_GRAFT_PRETOUCH").contains("1")) Seq(s"-Xms$xmx", "-XX:+AlwaysPreTouch")
      else Nil
    Seq(s"${sys.props("java.home")}/bin/java", s"-Xmx$xmx",
      s"-XX:+${sys.env.getOrElse("SPARK_GRAFT_GC", "UseParallelGC")}") ++ preTouch ++
      Seq("-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++
      parentAddOpens ++ Seq("-cp", effectiveClasspath(), mainClass) ++ args
  }

  /** Run [[forkCommand]] with `env` added to this process's environment;
    * the child's stderr is relayed to ours as it arrives (drained
    * concurrently, so the child never blocks on a full pipe). Returns the
    * exit code and the child's stdout lines.
    */
  def forkJvm(mainClass: String, args: Seq[String], env: Map[String, String] = Map.empty): (Int, Seq[String]) = {
    val pb = new ProcessBuilder(forkCommand(mainClass, args): _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val errPump = new Thread(() =>
      scala.io.Source.fromInputStream(proc.getErrorStream).getLines()
        .foreach(System.err.println), "fork-stderr")
    errPump.setDaemon(true); errPump.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    val exit = proc.waitFor()
    errPump.join()
    (exit, out)
  }

  /** Fork the suite into a pinned child JVM and relay its artifact line.
    * Child stdout other than the artifact goes to stderr (visible, never
    * corrupts the one-JSON-line contract).
    */
  private def forkAndRelay(): Boolean =
    try {
      val (exit, out) = forkJvm("graft.Bench", Nil, Map("SPARK_GRAFT_BENCH_INPROC" -> "1"))
      val (artifact, rest) = out.partition(_.startsWith("""{"metric":"""))
      rest.foreach(System.err.println)
      artifact.lastOption match {
        case Some(line) if exit == 0 => println(line); true
        case _ => false
      }
    } catch { case _: Exception => false }

  def main(args: Array[String]): Unit = {
    if (sys.env.contains("SPARK_GRAFT_BENCH_INPROC")) runSuite(forked = true)
    else if (!forkAndRelay()) {
      System.err.println("bench: fork failed, falling back to in-process (unpinned JVM)")
      runSuite(forked = false)
    }
  }
}
