package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession, GraftSqlBridge => B}
import org.apache.spark.sql.functions._
import graft.extract._
import graft.urls.Urls

/** The Spark-native crawl loop: the reference's fetch → extract → paginate
  * sequential browser loop (`/root/reference/svcimpl.go:166-503`)
  * re-expressed as driver-side BFS rounds over a frontier Dataset
  * (SURVEY.md §3.1 "Spark lifecycle"). Each round is one Catalyst-planned
  * job:
  *
  *   frontier batch → fetch (join against the Common-Crawl-style corpus on
  *   url; broadcast when the batch is small, SMJ + AQE at scale) →
  *   politeness schedule → CrawlExtractExpression (one parse per page) →
  *   posexplode items → successor discovery → per-seed URL-seen anti-join
  *   (bloom prefilter + cuckoo sketch at scale) → frontier := successors →
  *   snapshot commit (checkpoint/resume via FrontierStore).
  *
  * "Fetch" against a static corpus is a scan-join (SURVEY.md S1); at real
  * scale the join is replaced by an HTTP fetcher behind the same politeness
  * schedule. The loop is data-dependent (next url discovered from page N),
  * hence a driver fixpoint loop like GraphX/Pregel — not Structured
  * Streaming (SURVEY.md §2.5 streaming row).
  */
final class Crawler(
    spark: SparkSession,
    corpus: DataFrame,
    config: Crawler.Config = Crawler.Config()
) {
  import Crawler._
  import spark.implicits._

  private val corpusPages = corpus.select(col("url"), col("html"))

  /** The default fetch (`Config.fetcher` = None): the corpus scan-join. */
  private val corpusFetch = new CorpusJoinFetcher(corpus, config.broadcastFrontier)

  /** Successor rows the sketch prefilter proved new (skipped the exact
    * anti-join shuffle) — observable pruning metric for tests/telemetry.
    */
  val prefilterSkipped: org.apache.spark.util.LongAccumulator =
    spark.sparkContext.longAccumulator("graft_prefilter_skipped")

  /** Current executor-resident URL-seen shard generation (None until the
    * sharded path activates). Test/chaos hook: unpersisting it simulates
    * executor loss of the locally-checkpointed shard blocks mid-crawl —
    * the loop must recover by rebuilding from `seen`, not fail.
    */
  @volatile private[graft] var liveShards: Option[SeenSet.Shards] = None

  /** `Rabida.Crawl` (`svc.go:93-101`): paginated crawl over seeds sharing
    * one Job shape. Default seed list = the job's own link
    * (`svcimpl.go:256-259` StartPageUrl override included). `callback` as
    * in [[run]].
    */
  def crawl(job: Job, seeds: Seq[(String, String)] = Nil,
            callback: Option[RoundCallback] = None): DataFrame =
    run(job, seedFrame(job, seeds), scroll = false, mode = JsProperty, callback)

  /** Priority-frontier entry: seeds arrive as a DataFrame carrying an
    * explicit `priority` column (lower crawls first) — the north-star
    * frontier-table shape, where the seed list is itself a table (e.g.
    * priorities derived from `LinkGraph.pagerank` host ranks) rather than
    * a driver-side Seq. With `Config.batchLimit` set, each round takes the
    * highest-priority slice; successors inherit `priority + 1`, so a
    * high-priority site's pagination still outranks low-priority seeds.
    */
  def crawlPrioritized(job: Job, seeds: DataFrame): DataFrame =
    run(job,
      // null-safe: the batch slice orders priority ascending (NULLS FIRST
      // in Spark), so a null priority — e.g. an un-coalesced left join —
      // would silently crawl BEFORE priority 0; send it to the back instead
      seedRows(seeds.select(col("seed_id"), col("url"),
        coalesce(col("priority").cast("int"), lit(Int.MaxValue)).as("priority"))),
      scroll = false, mode = JsProperty)

  /** `Rabida.CrawlScroll` (`svc.go:136-144`): load-more crawl with cursor
    * dedup — only items past the cursor are extracted each round
    * (`svcimpl_scroll.go:363-376`).
    */
  def crawlScroll(job: Job, seeds: Seq[(String, String)] = Nil,
                  callback: Option[RoundCallback] = None): DataFrame =
    run(job, seedFrame(job, seeds), scroll = true, mode = JsProperty, callback)

  /** `Rabida.CrawlScrollSmooth` (`svc.go:171-179`): viewport-scroll crawl,
    * full re-extraction each round (no cursor; caller dedups,
    * `svcimpl_scroll_smooth.go:284-287`), DOM-attribute (not JS-property)
    * reads for generic attrs (C3, `svcimpl_scroll_smooth.go:486-492`).
    */
  def crawlScrollSmooth(job: Job, seeds: Seq[(String, String)] = Nil,
                        callback: Option[RoundCallback] = None): DataFrame =
    run(job, seedFrame(job, seeds), scroll = false, mode = DomAttribute, callback)

  private def seedFrame(job: Job, seeds: Seq[(String, String)]): DataFrame = {
    val effective =
      if (seeds.nonEmpty) seeds
      else {
        val link = if (job.startPageUrl.nonEmpty) job.startPageUrl else job.link
        Seq(("seed-0", link))
      }
    // parallelize, not toDF on the local Seq: a 10^6-seed list would convert
    // every row to Catalyst format ON THE DRIVER; here conversion and the
    // enrich UDFs (canonicalize + hash per url) run in tasks, laid out by
    // the driver-known seed count
    seedRows(spark.sparkContext
      .parallelize(effective, Layout.partitions(spark, effective.size))
      .toDF("seed_id", "url"))
  }

  /** A seed frame as round-one frontier rows: page 1, cursor 0. */
  private def seedRows(seeds: DataFrame): DataFrame =
    seeds.withColumn("page_no", lit(1)).withColumn("cursor", lit(0))

  private val canonicalHash = udf((u: String) => Urls.urlHash(Urls.canonicalize(u)))
  private val hostOf = udf((u: String) => Urls.host(u))

  /** FIXTURES.md frontier schema: add (host, url_hash, host_bucket,
    * priority) to a (seed_id, url, page_no, cursor) frame — computed once
    * at insert, not per round.
    */
  private def enrich(df: DataFrame, priority: org.apache.spark.sql.Column): DataFrame = {
    val buckets = config.hostBuckets
    val bucketOf = udf((h: String) => Urls.hostBucket(h, buckets))
    df.withColumn("host", hostOf(col("url")))
      .withColumn("url_hash", canonicalHash(col("url")))
      .withColumn("host_bucket", bucketOf(col("host")))
      .withColumn("priority", priority)
  }

  /** Resolve `StartPageBtn` (L7, `svcimpl.go:348-380`): on a static corpus
    * the click becomes "read the button's href on the seed page and crawl
    * from there".
    */
  private def applyStartPageBtn(job: Job, seeds: DataFrame): DataFrame = {
    if (job.startPageBtn.css.isEmpty && job.startPageBtn.xpath.isEmpty) return seeds
    // The reference clicks the button via chromedp.BySearch, which accepts
    // BOTH css and xpath (`svcimpl.go:348-380`). Reuse the paginator's
    // click-discovery path (Extractor.nextPageUrl → clickTargetHref), which
    // dispatches on selector kind and absolutizes the matched element's href.
    val q = job.startPageBtn.cssOrXpath
    val btnSel =
      if (job.startPageBtn.xpath.nonEmpty || q.startsWith("/")) Selector(xpath = q)
      else Selector(css = q, attr = job.startPageBtn.attr)
    val btnJob = Job(link = "", cssSelector = Selector(css = "graft-no-items"), paginator = btnSel)
    val x = CrawlExtractExpression(col("html"), col("url"), lit(1), lit(0), btnJob, JsProperty, scroll = false)
    // preserve any extra seed columns (crawlPrioritized's priority) so the
    // L7 rewrite composes with the priority-frontier entry
    val keep = (if (seeds.columns.contains("priority")) Seq(col("priority")) else Nil)
    val withBtn = seeds.join(corpusPages, Seq("url"), "left")
      .withColumn("x", x)
      .withColumn("btn_url", col("x.next_page_url"))
      .select(Seq(col("seed_id"),
        when(col("btn_url").isNotNull && length(col("btn_url")) > 0, col("btn_url")).otherwise(col("url")).as("url"),
        col("page_no"), col("cursor")) ++ keep: _*)
    withBtn
  }

  /** Full loop with an optional per-round callback — the reference's
    * `callback(ret, nextPageUrl, currentPageNo) bool` abort surface
    * (`svc.go:93-101`): invoked after each round with that round's page
    * results; returning true aborts the crawl (L10). For a single-seed
    * job, rounds ≡ pages, so the cadence matches the reference exactly.
    */
  def run(job: Job, seeds0: DataFrame, scroll: Boolean, mode: AttrMode,
          callback: Option[RoundCallback] = None): DataFrame = {
    val store = config.checkpointDir.map(d =>
      new FrontierStore(d, config.seenCompactEvery)(spark))
    val resumed = store.flatMap(_.loadLatest())

    // robots Crawl-delay → per-host politeness gap floor, joined from the
    // executor-parsed host dimension. One tiny driver job over the dim
    // (which also fills its lazy cache) returns its host count, for the
    // broadcast rule, and whether any host declares a delay (so delay-free
    // crawls skip the per-round host-window shuffle entirely, as before).
    val (robotsHosts, robotsHasDelay) =
      if (!config.respectRobots) (0L, false)
      else {
        val r = robotsDim.agg(count(lit(1)), max(col("__r_delay_ms") > 0)).head()
        (r.getLong(0), !r.isNullAt(1) && r.getBoolean(1))
      }
    val politenessActive = config.politeness.enabled || robotsHasDelay

    def robotsFilter(df: DataFrame): DataFrame =
      if (!config.respectRobots) df
      else {
        val allowed = udf { (path: String, allows: Seq[String], disallows: Seq[String]) =>
          (allows == null && disallows == null) ||
            Robots.Rules(
              if (allows == null) Vector.empty else allows.toVector,
              if (disallows == null) Vector.empty else disallows.toVector)
              .isAllowed(path)
        }
        val pathUdf = udf { (u: String) => Robots.pathOf(u) }
        df.withColumn("__r_host", hostOf(col("url")))
          .join(Layout.broadcastIfSmall(robotsDim.drop("__r_delay_ms"), robotsHosts), Seq("__r_host"), "left")
          .filter(allowed(pathUdf(col("url")), col("__r_allows"), col("__r_disallows")))
          .drop("__r_host", "__r_allows", "__r_disallows")
      }

    // per-round checkpoints are EAGER (lazy localCheckpoint under
    // multi-JVM local-cluster races executor block registration in the
    // post-action missing-block scan and re-runs the plan — measured 1.7×
    // slower), but checkpoint + loop-control count are fused into ONE
    // driver job via localCheckpointWithCount. Measured serial-floor
    // lever (BASELINE.md round 2: removing one per-round driver job
    // lifted 1v4 scaling 0.59→0.64).
    // RDD.doCheckpoint does NOT recurse past an action RDD that is itself
    // marked for checkpointing unless this property is set — so the shard
    // RDD's localCheckpoint mark (an ANCESTOR of every round's fused
    // frontier-checkpoint action) was never honored: it behaved as a plain
    // persist whose lineage chained across every round, and a lost block
    // would recompute through the whole multi-round merge chain. With the
    // property set, the round's one driver job also truncates the shard
    // RDD's lineage at first materialization (restored in finally below).
    val markAllKey = "spark.checkpoint.checkpointAllMarkedAncestors"
    val prevMarkAll = spark.sparkContext.getLocalProperty(markAllKey)
    spark.sparkContext.setLocalProperty(markAllKey, "true")

    var frontier: DataFrame = null
    var frontierCount = 0L
    resumed match {
      case Some(s) =>
        frontier = s.frontier
        frontierCount = frontier.count()
      case None =>
        // seed priority: an explicit column (crawlPrioritized) wins over
        // the default all-zeros (plain BFS depth ordering)
        val seedPrio: org.apache.spark.sql.Column =
          if (seeds0.columns.contains("priority")) col("priority") else lit(0)
        val (chk, n) = B.localCheckpointWithCount(
          enrich(robotsFilter(applyStartPageBtn(job, seeds0)), seedPrio))
        // the seed count is only known AFTER the checkpoint job (unlike the
        // per-round successor bound), so cap the layout post-hoc: a small
        // seed frame arriving through a many-partition plan (e.g. a parquet
        // scan-join, which bypasses seedFrame's layout) would otherwise make
        // round 1's broadcast build and anti-joins 32-task stages of
        // near-empty overhead (guide §2.2). Narrow read of the cached
        // blocks, no extra job; the dropped partitioning claim is worthless
        // at these sizes (the batch broadcasts anyway).
        frontier = Layout.fit(chk, n)
        frontierCount = n
    }
    val seen = new SeenSet(spark, config, prefilterSkipped, s => liveShards = s, resumed.map(_.seen))
    var round = resumed.map(_.round).getOrElse(0)
    val perRound = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // persisted-pages replay (Config.persistPages): pre-crash rounds'
    // pages reload from the store, so the resumed crawl's result equals
    // the uninterrupted crawl's — nothing extracted before the failure is
    // lost with the dead executors' cache blocks
    if (config.persistPages)
      for (st <- store; snap <- resumed; pre <- st.loadPages(snap.round))
        perRound += pre
    val committer = store.map(new SnapshotCommitter(_, config.persistPages))
    var aborted = false

    // S6: deterministic per-url user-agent assignment from a broadcast
    // table (reference draws randomly from an embedded dataset,
    // `useragent/random.go:8-22`; seeded-by-url keeps crawls reproducible)
    val uas = UserAgents.pool
    val uaCol = element_at(typedLit(uas), (pmod(col("url_hash"), lit(uas.length)) + 1).cast("int"))

    // robots Crawl-delay rides in per host via the dimension join (left:
    // hosts without a declared delay schedule on the engine's own knobs)
    def withRobotsDelay(df: DataFrame): DataFrame =
      if (robotsHasDelay)
        df.join(
          Layout.broadcastIfSmall(robotsDim.select(col("__r_host").as("host"),
            when(col("__r_delay_ms") > 0, col("__r_delay_ms")).as("__robots_delay_ms")), robotsHosts),
          Seq("host"), "left")
      else df

    // realPace: honor the schedule in wall-clock (a live fetcher's
    // behavior); off by default — the sandbox corpus join needs no delay
    // emitted_ms carries the wall-clock emission offset (and keeps the
    // pacing udf alive through column pruning); 0 when pacing is virtual.
    // Layouts differ by pacing mode: VIRTUAL pacing repartitions by url
    // hash so a hot (Zipf) host's parse work spreads evenly (SURVEY.md
    // §7 hard part 5); WALL-CLOCK pacing must do the opposite — url-hash
    // spread would make every task sleep toward the hot host's late
    // schedule — so hosts are bin-packed by delay budget and each bin
    // runs its schedule in order, waits overlapped with tail-host work
    // (§7 hard part 6; see Politeness.packForPace).
    def schedulePace(df: DataFrame): DataFrame = {
      val sched = Politeness.schedule(withRobotsDelay(df), config.politeness,
        if (robotsHasDelay) Some(col("__robots_delay_ms")) else None)
      if (config.realPace && politenessActive)
        Politeness.pace(
          Politeness.packForPace(sched, spark.sparkContext.defaultParallelism),
          config.paceClock())
      else if (politenessActive)
        sched.repartition(col("url_hash")).withColumn("emitted_ms", lit(0L))
      else sched.withColumn("emitted_ms", lit(0L))
    }

    // a batch's page rows: fetch + politeness schedule, the UA and cookie
    // columns, the iframe join, one extraction per page behind a lazy
    // boundary, then PageColumns plus the extraction's fields. The loop
    // calls it once per round; a crawl that ran no round returns it over a
    // zero-row batch, which plans to an empty relation and submits no job.
    def pagesOf(batch: DataFrame): DataFrame = {
      val fetched = config.fetcher match {
        // default (PlanSpec-pinned): the corpus join runs BEFORE the
        // schedule, so a url absent from the corpus (404/timeout lineage)
        // consumes no politeness slot
        case None => schedulePace(corpusFetch.fetch(batch))
        // pluggable fetcher (SURVEY.md S1 "real scale" path): politeness
        // must gate the fetch itself — schedule + (wall-clock) pace the
        // frontier batch, THEN fetch, so a live fetcher issues each
        // request at its scheduled slot.
        case Some(f) => f.fetch(schedulePace(batch))
      }
      val paced = fetched
        .withColumn("ua", uaCol)
        .withColumn("cookies", lit(job.enableCookies.rawCookies)) // S4 fetch metadata
        // parsed jar (lib/cookies.go parity): typed struct column, computed
        // once per job on the driver
        .withColumn("cookie_jar", typedLit(Cookies.forJob(
          if (job.startPageUrl.nonEmpty) job.startPageUrl else job.link,
          job.enableCookies.rawCookies, job.enableCookies.expires)))

      // cross-document iframe (P12 completion, `svcimpl.go:638-656`): when
      // the job scopes into an iframe and the matched element carries a src
      // with no inlined content, join the framed page in from the corpus so
      // extraction can scope against the framed document. Only iframe jobs
      // pay this join; at 10^10 scale it is the same url-keyed join shape
      // as the fetch itself (bucketed corpus, AQE-sized).
      val withFrame =
        if (job.cssSelector.iframe) {
          val sel = job.cssSelector
          val srcOf = udf { (html: Array[Byte], url: String) =>
            if (html == null) null
            else try {
              Extractor.iframeFather(Extractor.parseDocument(html), sel).filter(Extractor.followsSrc)
                .flatMap(_.attr("src")).filter(_.nonEmpty).map(s => Urls.resolve(url, s)).orNull
            } catch { case _: Exception => null }
          }
          paced.withColumn("__iframe_src", srcOf(col("html"), col("url")))
            .join(corpusPages.select(col("url").as("__iframe_src"), col("html").as("__iframe_html")),
              Seq("__iframe_src"), "left")
            .drop("__iframe_src")
        } else paced.withColumn("__iframe_html", lit(null).cast("binary"))

      val x = CrawlExtractExpression(col("html"), col("url"), col("page_no"), col("cursor"),
        job, mode, scroll, iframeHtml = col("__iframe_html"),
        timeBudgetMs = config.timeBudgetMs)
      // materialization boundary BEFORE projecting struct fields:
      // guarantees exactly ONE extraction (one HTML parse) per page —
      // projecting fields first would let CollapseProject clone the
      // expression per field. LAZY boundary, not an eager checkpoint (r4
      // serial-floor lever): the round's frontier checkpoint job in the
      // loop reads the successor plan THROUGH this persisted RDD and fills
      // it in the same pass, so extraction + successor-gen + loop-control
      // count cost ONE driver job per round instead of two (BASELINE.md
      // round 2 measured one job fewer per round lifting 1v4 scaling
      // 0.59→0.64). B.lazyCache (not Dataset.persist — see its scaladoc
      // for the CacheManager-leak and lineage rationale) is as strong a
      // projection barrier as the checkpoint was.
      val pageCols = PageColumns.map(col)
      B.lazyCache(withFrame.select(pageCols :+ x.as("x"): _*))
        .select(pageCols :+ col("x.*"): _*)
    }

    try {
    while (round < config.maxRounds && frontierCount > 0 && !aborted) {
      round += 1
      committer.foreach(_.poll())
      // priority frontier: when a batch limit is set, take the highest-
      // priority slice ordered by (priority, host_bucket) — the north-star
      // frontier discipline; default is the full lockstep BFS round
      val (batch, remainder, batchCount) = config.batchLimit match {
        case Some(n) if frontierCount > n =>
          // lazy boundary, not an eager checkpoint (same r4 serial-floor
          // lever as extraction): the fetch join's broadcast build is the
          // round's first consumer and fills the persisted RDD; the
          // remainder anti-join and the seen union then read the blocks.
          // The priority-frontier regime thus pays ONE driver job per
          // round too, not two. (seed_id, url) complete a TOTAL order —
          // the lazy boundary keeps lineage, so a lost block recomputes
          // the slice, and orderBy+limit with ties would be free to
          // return a DIFFERENT row set than the one already unioned into
          // `seen` and fetched (urls silently marked seen but never
          // crawled). With the tiebreaker, recompute reproduces the
          // identical batch.
          val b = B.lazyCache(
            frontier.orderBy(col("priority"), col("host_bucket"), col("seed_id"), col("url"))
              .limit(n.toInt))
          // the batch side's row count is DRIVER-KNOWN (= n)
          val rest = frontier.join(Layout.broadcastIfSmall(b.select("seed_id", "url"), n),
            Seq("seed_id", "url"), "left_anti")
          (b, rest, n)
        case _ => (frontier, spark.emptyDataFrame, frontierCount)
      }

      val pages = pagesOf(batch)
      perRound += pages

      // L10 abort via callback (`svcimpl.go:402-404,487-489`)
      aborted = callback.exists(cb => cb(round, pages))

      // mark fetched urls seen; the shard and bloom deltas ride along
      val newSeen = seen.add(batch, batchCount)

      // successor generation: L2 (no paginator → next empty), L3 (condition
      // goon), L10 (limit abort), self-loop guard, robots, URL-seen anti-join
      val limitOk =
        if (job.limit > 0) col("page_no") < lit(job.limit) else lit(true)
      val rawSucc = pages
        .filter(col("paginate_goon") && length(col("next_page_url")) > 0 && limitOk)
        .select(col("seed_id"),
          col("next_page_url").as("url"),
          (col("page_no") + 1).as("page_no"),
          (if (scroll) col("cursor") + col("n_scope") else lit(0)).as("cursor"),
          (col("priority") + 1).as("succ_priority"))
        .dropDuplicates("seed_id", "url")
      val succHashed = enrich(robotsFilter(rawSucc), col("succ_priority")).drop("succ_priority")

      // the next frontier's row count is bounded by DRIVER-KNOWN counts
      // (successors ≤ batch — one next_page_url per page — plus the
      // remainder): cap the checkpoint's partitions so a small frontier
      // lands in few partitions instead of 32 near-empty ones every
      // downstream stage then pays for (guide §2.2); large frontiers keep
      // full parallelism and the partitioning-preserving wrap
      val remainderCount = frontierCount - batchCount
      // cap BEFORE the checkpoint: checkpointing uncapped, then Layout.fit, ran crawl_bulk at 479 tasks, not 98
      val maxParts = Layout.partitions(spark, batchCount + math.max(0L, remainderCount))
      // successor dedup + frontier checkpoint + loop-control count, ONE
      // driver job; re-planned if a shard block was lost
      val (chk, n) = seen.recovering(round) {
        val succ = seen.dropSeen(succHashed).select("seed_id", "url", "page_no", "cursor",
          "host", "url_hash", "host_bucket", "priority")
        // a successor may already be QUEUED (in the unfetched remainder)
        // even though not yet seen — anti-join against the remainder too,
        // keeping the earlier-queued row (BFS order), so no url is fetched
        // twice
        B.localCheckpointWithCount(
          if (batchCount < frontierCount)
            remainder.unionByName(succ.join(
              Layout.broadcastIfSmall(remainder.select("seed_id", "url_hash"), remainderCount),
              Seq("seed_id", "url_hash"), "left_anti"))
          else succ,
          maxParts)
      }
      frontier = chk
      frontierCount = n
      // the checkpoint job above materialized this round's shard merge
      seen.releasePrevious()

      committer.foreach(_.submit(round, frontier, newSeen, pages,
        batchCount, frontierCount, seen.size))
    }
    committer.foreach(_.drain())
    } catch {
      case t: Throwable =>
        // a round failed: still await queued commits so (a) no async write
        // races the caller's cleanup and (b) a commit failure surfaces as
        // a suppressed exception instead of vanishing
        try committer.foreach(_.drain())
        catch { case c: Throwable if c ne t => t.addSuppressed(c) }
        throw t
    } finally spark.sparkContext.setLocalProperty(markAllKey, prevMarkAll)

    // no round ran (robots-blocked seeds, a finished crawl resumed,
    // maxRounds reached): a zero-row batch gives the same page schema
    val all = perRound.reduceOption(_ unionByName _).getOrElse(pagesOf(frontier.limit(0)))
    // item explosion: pos continues across scroll rounds via the cursor
    // (C1: `posexplode` + cursor offset ≡ the reference's nth-child rewrite)
    all.select(col("seed_id"), col("url"), col("page_no"), col("cursor"),
        col("next_page_url"), col("error"), col("scheduled_ms"), col("fetch_seq"),
        col("emitted_ms"), col("ua"), col("cookies"), col("cookie_jar"), col("host"), col("host_bucket"), col("priority"),
        posexplode_outer(col("items")).as(Seq("local_pos", "item")))
      .withColumn("pos", col("cursor") + col("local_pos"))
      .drop("local_pos")
  }

  /** Host-keyed robots dimension, parsed ON THE EXECUTORS — no corpus
    * collect to the driver at any host count. EXACTLY one row per host
    * that publishes a robots.txt: (host, allows, disallows, crawl-delay
    * ms). A host serving robots.txt under several URL variants
    * (http/https, mirrored paths) must still yield one row — the filter
    * and delay joins are left joins against the frontier, so a duplicated
    * host would multiply frontier rows and fetch the same url twice. The
    * winner is deterministic: min_by robots URL (the driver-side
    * broadcast Map this replaced was last-write-wins, i.e. arbitrary).
    * Behind a lazy cache (tiny relative to the corpus), so the per-round
    * filter joins reuse it and no CacheManager entry outlives the crawler.
    * Both joins go through `Layout.broadcastIfSmall` with the host count
    * `run`'s delay probe returns: broadcast up to `Layout.BroadcastRows`
    * hosts, a shuffled join past it, where a driver-built broadcast would
    * be a memory cliff.
    */
  private lazy val robotsDim: DataFrame = {
    // the `*` group: the crawl rotates browser UAs (UserAgents.pool), so
    // no product token of its own selects a named group
    val parse = udf { (url: String, html: Array[Byte]) =>
      val body =
        if (html == null) ""
        else new String(html, java.nio.charset.StandardCharsets.UTF_8)
      val r = Robots.parse(body)
      (Urls.host(url), r.allows, r.disallows, r.crawlDelayMs.getOrElse(-1L))
    }
    val dim = corpus.filter(col("url").endsWith("/robots.txt"))
      .select(col("url").as("__r_url"),
        parse(col("url"), col("html").cast("binary")).as("r"))
      .groupBy(col("r._1").as("__r_host"))
      .agg(min_by(
        struct(col("r._2").as("__r_allows"), col("r._3").as("__r_disallows"),
          col("r._4").as("__r_delay_ms")),
        col("__r_url")).as("rules"))
      .select(col("__r_host"), col("rules.__r_allows").as("__r_allows"),
        col("rules.__r_disallows").as("__r_disallows"),
        col("rules.__r_delay_ms").as("__r_delay_ms"))
    B.lazyCache(dim)
  }
}

/** S6 UA pool: a small set of current public browser UA strings (the
  * reference embeds a fake-useragent dataset, `useragent/ua.go:8-38`;
  * ours is deterministic and seeded per url).
  */
object UserAgents {

  /** `useragent.RandomMacChromeUA()` parity (`useragent/random.go`): a
    * Mac-platform Chrome UA; deterministic (seeded) here so crawls stay
    * reproducible.
    */
  def randomMacChromeUA(seed: Long = 0L): String = {
    val macChrome = pool.filter(ua =>
      ua.contains("Macintosh") && ua.contains("Chrome/") && !ua.contains("Edg/"))
    macChrome((math.abs(seed) % macChrome.length).toInt)
  }

  val pool: Array[String] = Array(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/123.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:125.0) Gecko/20100101 Firefox/125.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36 Edg/124.0.0.0"
  )
}

object Crawler {

  /** Per-round callback of [[Crawler.run]]: (round, that round's pages) →
    * abort?
    */
  type RoundCallback = (Int, DataFrame) => Boolean

  /** A round's frontier and fetch columns, in page-row order; the page row
    * is these plus the extraction's fields (items, next_page_url, n_scope,
    * paginate_goon, error).
    */
  private val PageColumns = Seq("seed_id", "url", "url_hash", "host", "host_bucket",
    "priority", "page_no", "cursor", "scheduled_ms", "fetch_seq", "emitted_ms",
    "ua", "cookies", "cookie_jar")

  /** Block loss that in-process recovery cannot repair (the rebuild
    * source itself lost blocks). The durable-store commits are drained
    * before this surfaces, so when a checkpointDir is configured the
    * on-disk snapshot chain is consistent and `crawl` resumes from it.
    */
  final class BlockLossUnrecoverable(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  /** Does this failure chain look like a lost cached/checkpointed block
    * (executor death, eviction, or an unpersisted local checkpoint)?
    * Spark surfaces task failures as a SparkException whose MESSAGE embeds
    * the task's stack-trace text, so the match runs over messages, not
    * exception classes, across the (bounded) cause chain.
    */
  private[engine] def looksLikeBlockLoss(t: Throwable): Boolean = {
    var cur: Throwable = t
    var depth = 0
    while (cur != null && depth < 16) {
      val m = cur.getMessage
      if (m != null && (m.contains("Checkpoint block") ||
          m.contains("BlockNotFound") ||
          m.contains("Failed to fetch block") ||
          m.contains("Could not find block") ||
          m.contains("FetchFailed")))
        return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  final case class Config(
      politeness: Politeness.Config = Politeness.Config(),
      maxRounds: Int = 64,
      hostBuckets: Int = 64,
      // max frontier rows fetched per round; None = full BFS lockstep.
      // When set, the highest-priority (priority, host_bucket) slice goes
      // first and the remainder carries over — the 10^10-frontier regime
      // where the frontier never fits one round.
      batchLimit: Option[Long] = None,
      respectRobots: Boolean = false,
      // sleep tasks to the politeness schedule in wall-clock time (live
      // fetcher behavior); tests/bench leave the schedule virtual
      realPace: Boolean = false,
      broadcastFrontier: Boolean = true,
      // bloom prefilter only pays once the exact anti-join's shuffle is the
      // bottleneck (≈10^7+ seen urls); below that the extra bloom-build
      // action + double scan per round costs more than it saves
      bloomThreshold: Long = 10000000L,
      // partitioned cuckoo URL-seen shards activate past this seen-set size
      // (north star pairs them with the bloom; see SeenSet)
      cuckooThreshold: Long = 10000000L,
      // storage level for the executor-resident URL-seen shard RDD;
      // MEMORY_AND_DISK lets an outgrown shard spill to executor-local
      // disk instead of failing (per-url shard sizes: see SeenSet).
      // Tests force "DISK_ONLY" to prove the crawl survives spilled shards.
      shardStorageLevel: String = "MEMORY_AND_DISK",
      // pluggable fetch stage: None = the default fused corpus scan-join
      // (fetch before schedule — a miss consumes no politeness slot);
      // Some(f) = politeness schedules + paces FIRST, then f.fetch() runs
      // behind the schedule — the live-HTTP-fetcher wiring (SURVEY.md S1)
      fetcher: Option[Fetcher] = None,
      // wall-clock source for realPace (injectable so tests can drive the
      // pacing machinery with a past epoch and sleep zero real time)
      paceClock: () => Long = () => System.currentTimeMillis(),
      checkpointDir: Option[String] = None,
      // fold the store's per-round seen-delta chain into one base dir
      // whenever it exceeds this many entries (LSM compaction; 0 = never).
      // Resume then unions <= compactEvery+1 dirs instead of O(rounds).
      seenCompactEvery: Int = 64,
      // also snapshot each round's extracted PAGES to the store
      // (data/round=N/pages) and replay pre-crash rounds' pages into a
      // resumed crawl's result — the resumed result then equals the
      // uninterrupted crawl's, so executor loss mid-crawl loses nothing
      // (frontier/seen snapshots alone recover the LOOP but not pages
      // already extracted, whose lazyCache blocks died with the fleet).
      // Off by default: live crawls typically drain pages per round via
      // the callback/sinks, and the store then only needs frontier+seen
      // (O(batch-url) commits, not O(batch-page-bytes)).
      persistPages: Boolean = false,
      // per-page extraction wall-clock budget (L12, reference's per-step
      // chromedp timeout); 0 = unbounded. A page over budget becomes an
      // error = "timeout..." row, never a stage failure.
      timeBudgetMs: Long = 0L
  ) extends Serializable
}
