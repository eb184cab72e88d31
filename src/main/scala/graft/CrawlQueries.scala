package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.corpus.Fixtures
import graft.engine.{Crawler, Politeness}
import graft.extract._

/** Crawl jobs over the fixture corpus — each mirrors one reference test
  * shape (FIXTURES.md) and backs one SparkEntry query with a DuckDB oracle
  * reconstructing the expected rows from `documents.parquet`.
  */
object CrawlQueries {

  /** `hello_world_test.go:24-41` / `nextpage_test.go:17-39` shape:
    * scope+attrs extraction, `.next` paginator, Limit=3.
    */
  val listJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "#doclist > li",
      attrs = Some(Map(
        "title" -> Selector(css = "a.tit"),                 // P3 concat innerText
        "link" -> Selector(css = "a.tit", attr = "href"),   // P4 JS-prop absolutized
        "date_s" -> Selector(css = "span.date"),
        "snip" -> Selector(css = "a.tit", attr = "title")
      ))),
    paginator = Selector(css = "a.next", attr = "href"),
    limit = 3)

  /** `xpath_test.go:18-35` shape: XpathScope/Xpath extraction, xpath
    * paginator guarded by `not(@aria-disabled='true')`.
    */
  val cmtJob: Job = Job(
    link = "",
    cssSelector = Selector(
      xpathScope = "//*[@id='commentModule']//div[@class='commentList']/div",
      attrs = Some(Map(
        "content" -> Selector(xpath = "//div[@class='commentDetail']"),
        "ctime" -> Selector(xpath = "//div[@class='commentTime']")
      ))),
    paginator = Selector(
      xpath = "//*[@id='commentModule']//li[@class=' ant-pagination-next' and not(@aria-disabled='true')]"),
    limit = 3)

  /** `ctrip_test.go:109-138` shape: `GetAttributeValueEvent` + CheckFunc
    * last-page guard (stops after the aria-disabled page).
    */
  val condJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "ul.cl > li",
      attrs = Some(Map("title" -> Selector(css = "a.t")))),
    paginator = Selector(css = "a.nxt", attr = "href"),
    paginatorCondition = Some(Condition(
      value = "false",
      checkFunc = (text, value) => text == value,
      execType = GetAttributeValueEvent,
      execSelector = Selector(css = "a.nxt", attr = "aria-disabled"))),
    limit = 0)

  /** `iframe_test.go:15-41` shape: IframeSelector father scoping. */
  val ifrJob: Job = Job(
    link = "",
    cssSelector = Selector(
      iframe = true,
      iframeSelector = Some(Selector(css = "#zp")),
      scope = "table tr",
      attrs = Some(Map(
        "title" -> Selector(css = "a", attr = "title"),
        "link" -> Selector(css = "a", attr = "href"),
        "date_s" -> Selector(css = "td:last-child > span")
      ))),
    paginator = Selector(css = "a.next", attr = "href"),
    limit = 3)

  /** `iframe_test.go:59-105` (suzhou) shape: CROSS-DOCUMENT iframe — the
    * iframe element carries only a src; the crawler joins the framed page
    * from the corpus and extraction scopes against the framed document
    * (hence the `body > ...` scope, which only exists in the framed doc).
    */
  val xifrJob: Job = Job(
    link = "",
    cssSelector = Selector(
      iframe = true,
      iframeSelector = Some(Selector(css = "#xf")),
      scope = "body > form > table > tbody > tr",
      attrs = Some(Map(
        "content" -> Selector(css = "a", attr = "title"),
        "link" -> Selector(css = "a", attr = "href"),
        "date_s" -> Selector(css = "td:last-child")
      ))),
    paginator = Selector(css = "span.upordown > a.nxt", attr = "href"),
    limit = 2)

  /** `scroll_test.go:17-34` shape: load-more with cursor dedup. */
  val moreJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "#content-list > div.item",
      attrs = Some(Map(
        "title" -> Selector(css = ".tit > a"),
        "time_s" -> Selector(css = ".time"),
        "link" -> Selector(css = ".tit > a", attr = "href")
      ))),
    paginator = Selector(css = "#list > div.xpage-more-btn.look"), // click-target href
    limit = 3)

  /** `scroll_smooth_test.go:16-47` shape: full re-extract, DOM-attr reads
    * (raw href, C3).
    */
  val feedJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "div[data-testid='cellInnerDiv'] article[data-testid='tweet']",
      attrs = Some(Map(
        "txt" -> Selector(css = "div[data-testid='tweetText']"),
        "dt" -> Selector(css = "a > time", attr = "datetime"),
        "link" -> Selector(css = "a.lnk", attr = "href"),
        "labels" -> Selector(css = "div.counts", attr = "aria-label")
      ))),
    paginator = Selector(css = "a.more", attr = "href"),
    limit = 3)

  /** `dynamic_nextpagebtn_test.go:36-40` shape: PaginatorFunc templated on
    * current pageNo.
    */
  val dynJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "ul.dl > li",
      attrs = Some(Map("t" -> Selector()))), // P2 innerText of scope node
    paginatorFunc = Some(pageNo => Selector(css = s"div.pager > a[title='goto${pageNo + 1}']", attr = "href")),
    limit = 3)

  /** robots-gating job (north-rule addition). */
  val robotsJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "ul.rl > li",
      attrs = Some(Map("title" -> Selector(css = "a.r")))),
    limit = 1)

  /** Parser-leniency + P3/P7/P8 semantics page. */
  val edgeJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "ul.z > li",
      attrs = Some(Map(
        "ab" -> Selector(css = "p"),          // concat-all over two <p>
        "date_s" -> Selector(css = ".only-date"),
        "noval" -> Selector(css = ".empty")   // always empty → zero-drop → null
      ))),
    limit = 1)

  val entitiesJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "div.ent",
      attrs = Some(Map("val" -> Selector()))),
    limit = 1)

  /** Hub family: one page per doc, absolute cross-host hrefs (P4). */
  val hubJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "ul#hublinks > li",
      attrs = Some(Map(
        "out" -> Selector(css = "a.out", attr = "href"),   // P4 absolute href
        "anchor" -> Selector(css = "a.out")))),            // P2 innerText
    limit = 1)

  // ------------------------------------------------------------- helpers

  def crawler(spark: SparkSession, sfDir: String,
              politeness: Politeness.Config = Politeness.Config(),
              respectRobots: Boolean = false): Crawler =
    new Crawler(spark, Fixtures.corpus(spark, sfDir),
      Crawler.Config(politeness = politeness, respectRobots = respectRobots))

  /** Standard projection: doc_id from seed_id, long-typed ordering columns,
    * item fields flattened; deterministic (doc_id, page_no, pos) order.
    */
  def flatten(df: DataFrame, fields: Seq[String]): DataFrame = {
    val base = df
      .filter(col("item").isNotNull)
      .withColumn("doc_id", expr("cast(substring(seed_id, 2) as long)"))
      .withColumn("page_no_l", col("page_no").cast("long"))
      .withColumn("pos_l", col("pos").cast("long"))
    val cols = Seq(col("doc_id"), col("page_no_l").as("page_no"), col("pos_l").as("pos")) ++
      fields.map(f => col(s"item.$f").as(f))
    base.select(cols: _*).orderBy("doc_id", "page_no", "pos")
  }

  // ------------------------------------------------------------- queries

  def crawlList(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/list/p1.html")
    flatten(crawler(spark, sfDir).crawl(listJob, seeds),
      Seq("title", "link", "date_s", "snip"))
  }

  def crawlXpath(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/cmt/p1.html")
    flatten(crawler(spark, sfDir).crawl(cmtJob, seeds), Seq("content", "ctime"))
  }

  def crawlCondition(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/cond/p1.html")
    flatten(crawler(spark, sfDir).crawl(condJob, seeds), Seq("title"))
  }

  def crawlIframe(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/ifr/p1.html")
    flatten(crawler(spark, sfDir).crawl(ifrJob, seeds), Seq("title", "link", "date_s"))
  }

  def crawlScroll(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/more/s1.html")
    flatten(crawler(spark, sfDir).crawlScroll(moreJob, seeds), Seq("title", "time_s", "link"))
  }

  def crawlScrollSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/feed/s1.html")
    flatten(crawler(spark, sfDir).crawlScrollSmooth(feedJob, seeds),
      Seq("txt", "dt", "link", "labels"))
  }

  def crawlDynamic(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/dyn/p1.html")
    flatten(crawler(spark, sfDir).crawl(dynJob, seeds), Seq("t"))
  }

  def crawlRobots(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d =>
      if (d % 5 == 0) s"http://${Fixtures.host(d)}/blocked/d$d.html"
      else s"http://${Fixtures.host(d)}/ok/d$d.html")
    flatten(crawler(spark, sfDir, respectRobots = true).crawl(robotsJob, seeds), Seq("title"))
      .select("doc_id", "title").orderBy("doc_id")
  }

  def crawlEdge(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/edge/e1.html")
    flatten(crawler(spark, sfDir).crawl(edgeJob, seeds), Seq("ab", "date_s", "noval"))
      .select("doc_id", "pos", "ab", "date_s", "noval").orderBy("doc_id", "pos")
  }

  def crawlEntities(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/edge/e1.html")
    flatten(crawler(spark, sfDir).crawl(entitiesJob, seeds), Seq("val"))
      .select("doc_id", "val").orderBy("doc_id")
  }

  /** Final URL-seen set of the list crawl — the north-rule parity surface
    * ("identical crawl ordering and final URL-seen set").
    */
  def urlSeen(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/list/p1.html")
    crawler(spark, sfDir).crawl(listJob, seeds)
      .select(expr("cast(substring(seed_id, 2) as long)").as("doc_id"), col("url"))
      .distinct().orderBy("doc_id", "url")
  }

  /** Same crawl + projection as [[urlSeen]], but with the bloom and the
    * executor-resident (cuckoo + exact SeenShard) structures forced on
    * from the first round — the at-scale URL-seen dedup path (no
    * cumulative-seen anti-join) must produce the identical final URL-seen
    * set under the driver's DuckDB gate, not just under ScalaTest.
    */
  def urlSeenSharded(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/list/p1.html")
    new Crawler(spark, Fixtures.corpus(spark, sfDir),
      Crawler.Config(bloomThreshold = 0L, cuckooThreshold = 0L))
      .crawl(listJob, seeds)
      .select(expr("cast(substring(seed_id, 2) as long)").as("doc_id"), col("url"))
      .distinct().orderBy("doc_id", "url")
  }

  /** Priority-frontier slice under the DuckDB gate: seeds carry priority
    * doc_id % 10 (50 seeds per level at sf0.01), batchLimit cuts exactly
    * at a priority boundary (2 levels × 50 seeds), maxRounds=1 — so round
    * one fetches precisely the docs with priority 0 or 1 and the oracle
    * needs no knowledge of the intra-level (host_bucket) tiebreak.
    */
  def crawlPrioritized(spark: SparkSession, sfDir: String): DataFrame = {
    // DataFrame-native seed build (no driver collect — the column twins in
    // Fixtures own the url layout); the crawler re-orders the frontier by
    // (priority, host_bucket, seed_id, url) itself, so no sort here either
    val seedDf = Fixtures.documents(spark, sfDir)
      .select(concat(lit("d"), col("doc_id")).as("seed_id"),
        concat(Fixtures.baseCol(col("doc_id")), lit("/list/p1.html")).as("url"),
        (col("doc_id") % 10).cast("int").as("priority"))
    // cut from the ACTUAL level populations (doc counts need not divide
    // evenly by 10) so the batch boundary always falls between levels and
    // the oracle never depends on the intra-level host_bucket tiebreak
    val cut = seedDf.filter(col("priority") <= 1).count()
    prioritySliceRows(spark, sfDir, seedDf, cut)
  }

  /** Shared tail of the priority-crawl queries: fetch the frontier slice
    * of `seeds` under a `budget`-url batch limit (one round) and project
    * the oracle columns. ONE owner, so [[crawlPrioritized]] and
    * [[crawlRankPrioritized]] cannot drift apart in crawler config or
    * projection.
    */
  private def prioritySliceRows(spark: SparkSession, sfDir: String,
      seeds: DataFrame, budget: Long): DataFrame =
    new Crawler(spark, Fixtures.corpus(spark, sfDir),
      Crawler.Config(batchLimit = Some(budget), maxRounds = 1))
      .crawlPrioritized(listJob, seeds)
      .filter(col("item").isNotNull)
      .select(expr("cast(substring(seed_id, 2) as long)").as("doc_id"),
        col("pos").cast("long").as("pos"), col("item.title").as("title"))
      .orderBy("doc_id", "pos")

  /** Host-level link graph from the hub family: hrefs extracted through
    * the standard crawl expression (P4 absolutization), aggregated to
    * weighted (src_host, dst_host) edges.
    */
  def linkGraph(spark: SparkSession, sfDir: String): DataFrame =
    hostEdgesUnsorted(spark, sfDir).orderBy("src_host", "dst_host")

  /** The edge list without linkGraph's query-surface ordering: pagerank's
    * first ops (lazyCache → join/groupBy) destroy row order, so feeding
    * it the sorted variant would pay a full range-partition sort exchange
    * for nothing on every invocation.
    */
  private[graft] def hostEdgesUnsorted(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/hub/index.html")
    val links = crawler(spark, sfDir).crawl(hubJob, seeds)
      .filter(col("item").isNotNull)
      .select(col("url"), col("item.out").as("out"))
    graft.pipeline.LinkGraph.hostEdges(links)
  }

  /** Deterministic integer PageRank over the extracted host graph — the
    * frontier-priority signal.
    */
  def pagerankHosts(spark: SparkSession, sfDir: String): DataFrame =
    graft.pipeline.LinkGraph.pagerank(hostEdgesUnsorted(spark, sfDir))

  /** Rank-guided crawl: the two-phase loop a production crawler runs at
    * budget — phase 1 crawls the hub family and computes host PageRank;
    * phase 2 spends a bounded fetch budget (batchLimit) on the seeds of
    * the highest-ranked hosts first, through the same priority frontier
    * as [[crawlPrioritized]]. Composes the round's pieces end-to-end:
    * extraction → link graph → integer PageRank → priority column →
    * frontier slice, with the DuckDB oracle reconstructing the ENTIRE
    * chain (unrolled rank iterations, the dense_rank priority mapping,
    * and the budget cut) so any drift anywhere in it breaks the hash.
    *
    * Priority = position in the top-`budgetHosts` by (rank DESC, host) —
    * host breaks rank ties, so the mapping is total-ordered and
    * recompute-stable (the same determinism contract as the frontier
    * slice itself). Above the broadcast bound, where PageRank runs in
    * Spark, it is a distributed TakeOrdered top-K (never a global window:
    * at 10^10 urls the host dimension is millions of rows, and a
    * partition-less window would drag them all onto one task), and the K
    * winners — a bounded head, same discipline as the politeness LPT —
    * come to the driver only to be numbered. Within the bound PageRank ran
    * on the driver, so the winners are picked from its rank vector there.
    * Every below-budget host shares the floor level K so the batch cut
    * falls on a level boundary.
    */
  def crawlRankPrioritized(spark: SparkSession, sfDir: String): DataFrame = {
    val budgetHosts = 10
    val top = graft.pipeline.LinkGraph.ranks(hostEdgesUnsorted(spark, sfDir)) match {
      // the driver path's rank vector is already in memory: Spark's order
      // (rank descending, then host by UTF-8 bytes), picked there
      case Left(local) =>
        local.sortBy { case (host, rank) => (-rank, UTF8String.fromString(host)) }
          .take(budgetHosts).map(_._1)
      case Right(ranked) =>
        ranked.orderBy(col("rank").desc, col("host")).limit(budgetHosts) // TakeOrdered, distributed
          .collect().map(_.getString(0)).toSeq // bounded: K host names
    }
    // a seed's priority is its host's position among the K winners, a
    // K-branch CASE on the seed row rather than a join with a K-row table
    // (no broadcast build per scan); sub-budget hosts take the floor level
    // so they stay IN the frontier, just below the cut
    val priority = top.zipWithIndex.foldLeft(lit(budgetHosts)) { case (rest, (host, i)) =>
      when(col("host") === host, i).otherwise(rest)
    }
    val seeds = Fixtures.documents(spark, sfDir)
      .select(col("doc_id"), Fixtures.hostCol(col("doc_id")).as("host"))
      .withColumn("priority", priority)
      .select(concat(lit("d"), col("doc_id")).as("seed_id"),
        concat(Fixtures.baseCol(col("doc_id")), lit("/list/p1.html")).as("url"),
        col("priority"))
    // budget = every seed of the top-K hosts: the cut falls on a
    // priority boundary, so the oracle never depends on the intra-level
    // (host_bucket) tiebreak. Counted over the scan's rows in one stage:
    // Dataset.count would plan a two-stage aggregate around it
    val cut = seeds.filter(col("priority") < budgetHosts).queryExecution.toRdd.count()
    prioritySliceRows(spark, sfDir, seeds, cut)
  }

  /** Re-crawl due-set over the corpus's own list pages: each page's
    * warc_ts is its last-crawl time, the change period is estimated per
    * host, and `now` is a fixed instant ~27.8 h past the fixture epoch —
    * chosen so the due/not-due split is non-trivial across BOTH hosts
    * (periods 1–96 h straddle the age range) and docs within a host
    * (ages 13.9–27.8 h straddle the mid periods). The oracle recomputes
    * warc_ts from the fixture's epoch + (doc_id*100 + idx) seconds rule
    * and mirrors the integer staleness arithmetic exactly.
    */
  def recrawlDue(spark: SparkSession, sfDir: String): DataFrame = {
    val epochMs = 1704067200000L // 2024-01-01T00:00:00Z, the fixture epoch
    val history = Fixtures.corpus(spark, sfDir)
      .filter(col("url").contains("/list/"))
      .select(col("url"),
        (col("warc_ts").cast("long") * 1000).as("last_crawl_ms"),
        ((regexp_extract(col("url"), "http://h(\\d+)\\.test/", 1).cast("long") * 7 % 96 + 1)
          * 3600000L).as("change_period_ms"))
    graft.engine.Recrawl.due(history, nowMs = epochMs + 100000000L)
      .orderBy("url")
  }

  /** Anchor-text aggregation per target host — the other classic link
    * signal (what the web calls a page, aggregated where a search or
    * quality pipeline wants it: on the TARGET). Both the href and its
    * innerText come from one pass of the standard extraction expression;
    * the aggregation carries only (dst_host, anchor) pairs, never page
    * bytes, and `sort_array` makes the concatenated digest order-stable
    * under any shuffle.
    */
  def anchorText(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/hub/index.html")
    crawler(spark, sfDir).crawl(hubJob, seeds)
      .filter(col("item").isNotNull)
      // the SAME host extraction as the link graph (LinkGraph.hostOf),
      // with the same no-host drop — the two link-signal queries must
      // never disagree on which host an href belongs to
      .select(
        graft.pipeline.LinkGraph.hostOf(col("item.out")).as("dst_host"),
        col("item.anchor").as("anchor"))
      .filter(length(col("dst_host")) > 0)
      .groupBy("dst_host")
      .agg(count(lit(1)).as("n_anchors"),
        concat_ws("|", sort_array(collect_list(col("anchor")))).as("anchors_sorted"))
      .orderBy("dst_host")
  }

  /** Sitemap seed discovery (engine.Sitemaps): every `<url>` entry of each
    * site's sitemap.xml, extracted through the standard Catalyst expression
    * and absolutized — the frontier-seeding surface of the crawl.
    */
  def sitemapDiscover(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.Sitemaps.discover(Fixtures.corpus(spark, sfDir))
      .select(
        expr("cast(regexp_extract(sitemap_url, '/d(\\\\d+)/', 1) as long)").as("doc_id"),
        col("pos").cast("long").as("pos"), col("url"), col("lastmod"))
      .orderBy("doc_id", "pos")

  /** Sitemap-index recursion: every url reachable through each host's
    * `<sitemapindex>` file, with the two-level publisher ordering.
    */
  def sitemapIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.Sitemaps.discoverIndexed(Fixtures.corpus(spark, sfDir))
      .select(col("index_url"),
        col("sitemap_pos").cast("long").as("sitemap_pos"),
        col("pos").cast("long").as("pos"), col("url"), col("lastmod"))
      .orderBy("index_url", "sitemap_pos", "pos")

  /** Robots-declared sitemap discovery: each host's robots.txt `Sitemap:`
    * directive names the host's sitemap index, and the declared documents
    * resolve through the same two-level index+urlset extraction — the
    * cross-convention discovery channel of the sitemaps.org protocol.
    */
  def robotsSitemaps(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.Sitemaps.discoverFromRobots(Fixtures.corpus(spark, sfDir))
      .select(col("robots_url"), col("index_url"),
        col("sitemap_pos").cast("long").as("sitemap_pos"),
        col("pos").cast("long").as("pos"), col("url"), col("lastmod"))
      .orderBy("robots_url", "sitemap_pos", "pos")

  /** Structured Streaming twin of the list extraction: the fixture corpus
    * staged as a parquet directory is consumed as a file-source stream
    * (micro-batches of 4 files — the continuous-ingest shape, each batch a
    * "WARC drop landing in the lake") and flows through the SAME
    * `CrawlExtractExpression` the batch crawl uses. The oracle is
    * `crawl_list`'s — streaming extraction must reproduce the batch rows
    * byte-identically.
    */
  def streamExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.{EventStreams, PageStreams}
    val dir = EventStreams.stagingDir("pages", sfDir)
    Fixtures.corpus(spark, sfDir).filter(col("url").contains("/list/"))
      .write.mode("overwrite").parquet(dir)
    val items = PageStreams
      .extractedItems(PageStreams.readPages(spark, dir, maxFilesPerTrigger = 4), listJob)
      .filter(col("item").isNotNull)
    val table = "stream_extract_sink"
    EventStreams.runToMemory(spark, items, table,
        org.apache.spark.sql.streaming.OutputMode.Append())
      .select(
        expr("cast(regexp_extract(url, '/d(\\\\d+)/', 1) as long)").as("doc_id"),
        expr("cast(regexp_extract(url, '/p(\\\\d+)\\\\.html', 1) as long)").as("page_no"),
        col("pos").cast("long").as("pos"),
        col("item.title").as("title"), col("item.link").as("link"),
        col("item.date_s").as("date_s"), col("item.snip").as("snip"))
      .orderBy("doc_id", "page_no", "pos")
  }

  /** Streaming twin of `crawl_metrics`: per-host page counts as a stateful
    * streaming aggregation (Complete mode) over the same corpus stream —
    * the lineage/metrics surface of a continuously-ingesting crawl.
    */
  def streamMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.{EventStreams, PageStreams}
    val dir = EventStreams.stagingDir("pages", sfDir)
    Fixtures.corpus(spark, sfDir).filter(col("url").contains("/list/"))
      .write.mode("overwrite").parquet(dir)
    val counts = PageStreams.readPages(spark, dir, maxFilesPerTrigger = 4)
      .groupBy(expr("parse_url(url, 'HOST')").as("host"))
      .agg(count(lit(1)).as("pages"))
    val table = "stream_metrics_sink"
    EventStreams.runToMemory(spark, counts, table).orderBy("host")
  }

  /** Politeness pacing contract: with Delay fixed at 100ms, request k of a
    * host in a round starts at k*100ms (`svcimpl.go:666-675` made
    * deterministic).
    */
  def politenessSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/list/p1.html")
    val c = crawler(spark, sfDir, politeness = Politeness.Config(delayMinMs = 100, delayMaxMs = 100))
    c.crawl(listJob, seeds)
      .select(expr("cast(substring(seed_id, 2) as long)").as("doc_id"),
        col("page_no").cast("long").as("page_no"), col("url"),
        col("scheduled_ms"), col("fetch_seq"))
      .distinct()
      .orderBy("doc_id", "page_no")
  }

  def crawlIframeXdoc(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/xifr/p1.html")
    flatten(crawler(spark, sfDir).crawl(xifrJob, seeds), Seq("content", "link", "date_s"))
  }

  /** Concurrency=2 politeness: per host, requests pace in waves of two —
    * wave w starts at w*delay (the reference's declared-but-TODO
    * `Concurrency` knob, `config/config.go:17-18`, implemented here).
    */
  def politenessConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/list/p1.html")
    val c = crawler(spark, sfDir,
      politeness = Politeness.Config(delayMinMs = 100, delayMaxMs = 100, concurrency = 2))
    c.crawl(listJob, seeds)
      .select(expr("cast(substring(seed_id, 2) as long)").as("doc_id"),
        col("page_no").cast("long").as("page_no"), col("url"),
        col("scheduled_ms"), col("fetch_seq"))
      .distinct()
      .orderBy("doc_id", "page_no")
  }

  /** Per-host crawl metrics — the aggregation surface (SURVEY.md §2.5). */
  def crawlMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Fixtures.seeds(spark, sfDir, d => s"${Fixtures.base(d)}/list/p1.html")
    crawler(spark, sfDir).crawl(listJob, seeds)
      .select(col("url"), regexp_extract(col("url"), "http://([^/]+)/", 1).as("host"))
      .distinct()
      .groupBy("host").agg(count(lit(1)).as("pages"))
      .orderBy("host")
  }
}
