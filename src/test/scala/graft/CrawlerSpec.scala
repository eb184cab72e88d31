package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Fixtures
import graft.engine.{Crawler, Politeness}

class CrawlerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("crawler-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val docs = Seq(
    Fixtures.Doc(0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
    Fixtures.Doc(7L, "one two three four five six seven eight nine ten eleven", "en"),
    Fixtures.Doc(50L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed", "zh")
  )

  lazy val corpus = {
    val s = spark
    import s.implicits._
    docs.flatMap(Fixtures.pagesForDoc).toDF()
  }

  def crawler(politeness: Politeness.Config = Politeness.Config(), robots: Boolean = false) =
    new Crawler(spark, corpus, Crawler.Config(politeness = politeness, respectRobots = robots))

  def seeds(path: Long => String): Seq[(String, String)] =
    docs.map(d => (s"d${d.doc_id}", path(d.doc_id)))

  test("list crawl: 3 pages x 4 items per seed, golden values, ordering") {
    val out = crawler().crawl(CrawlQueries.listJob, seeds(d => s"${Fixtures.base(d)}/list/p1.html"))
      .filter(col("item").isNotNull)
      .select("seed_id", "page_no", "pos", "item.title", "item.link", "item.date_s", "item.snip")
      .collect()
    assert(out.length == 3 * 3 * 4)
    val r = out.filter(x => x.getString(0) == "d7" && x.getInt(1) == 2 && x.getInt(2) == 1).head
    assert(r.getString(3) == "Doc 7 item 2-2")
    assert(r.getString(4) == "http://h7.test/d7/list/art_7_2_2.html")
    assert(r.getString(5) == "2024-02-02")
    assert(r.getString(6) == "one two three four five six seven eight ")
  }

  test("xpath crawl: commentList extraction + aria-disabled stop at page 3") {
    val out = crawler().crawl(CrawlQueries.cmtJob, seeds(d => s"${Fixtures.base(d)}/cmt/p1.html"))
      .filter(col("item").isNotNull)
      .select("seed_id", "page_no", "pos", "item.content", "item.ctime")
      .collect()
    assert(out.length == 3 * 3 * 3)
    val r = out.filter(x => x.getString(0) == "d0" && x.getInt(1) == 3 && x.getInt(2) == 0).head
    assert(r.getString(3) == "cmt 0 3-1 alpha beta gamma delta epsilon zeta eta ")
    assert(r.getString(4) == "2024-03-11")
    // per-item relative `//` — item 3 must carry ITS content, not item 1's
    val r3 = out.filter(x => x.getString(0) == "d0" && x.getInt(1) == 2 && x.getInt(2) == 2).head
    assert(r3.getString(3) == "cmt 0 2-3 alpha beta gamma delta epsilon zeta eta ")
    assert(r3.getString(4) == "2024-02-13")
  }

  test("paginate condition stops after aria-disabled page 5") {
    val out = crawler().crawl(CrawlQueries.condJob, seeds(d => s"${Fixtures.base(d)}/cond/p1.html"))
      .filter(col("item").isNotNull)
    assert(out.count() == 3 * 5 * 2) // pages 1..5, never 6
    assert(out.agg(max("page_no")).head.getInt(0) == 5)
  }

  test("iframe father scoping + document-wide paginator") {
    val out = crawler().crawl(CrawlQueries.ifrJob, seeds(d => s"${Fixtures.base(d)}/ifr/p1.html"))
      .filter(col("item").isNotNull)
      .select("seed_id", "page_no", "item.title", "item.link")
      .collect()
    assert(out.length == 3 * 3 * 3)
    assert(out.exists(r => r.getString(2) == "IT 50 2-3" && r.getString(3) == "http://h0.test/d50/ifr/arti_50_2_3.html"))
  }

  test("scroll crawl: cursor dedup — only new items each round, global pos") {
    val out = crawler().crawlScroll(CrawlQueries.moreJob, seeds(d => s"${Fixtures.base(d)}/more/s1.html"))
      .filter(col("item").isNotNull)
      .select("seed_id", "page_no", "pos", "item.title")
      .collect()
    assert(out.length == 3 * 12) // 4 + 4 + 4 new items per seed
    // page 2 must yield exactly items 5..8 at pos 4..7
    val p2 = out.filter(r => r.getString(0) == "d0" && r.getInt(1) == 2).sortBy(_.getInt(2))
    assert(p2.map(_.getInt(2)).toSeq == Seq(4, 5, 6, 7))
    assert(p2.head.getString(3) == "More 0 item 5")
  }

  test("smooth scroll: full re-extract, raw DOM attrs (no absolutization)") {
    val out = crawler().crawlScrollSmooth(CrawlQueries.feedJob, seeds(d => s"${Fixtures.base(d)}/feed/s1.html"))
      .filter(col("item").isNotNull)
      .select("seed_id", "page_no", "pos", "item.txt", "item.link", "item.dt", "item.labels")
      .collect()
    assert(out.length == 3 * (3 + 4 + 5))
    val r = out.filter(x => x.getString(0) == "d7" && x.getInt(1) == 2 && x.getInt(2) == 3).head
    assert(r.getString(3) == "Tweet 7 no 4")
    assert(r.getString(4) == "/u/status/7004") // raw, not absolutized (C3)
    assert(r.getString(5) == "2024-03-04T00:00:00Z")
    assert(r.getString(6) == "12 replies, 20 likes")
  }

  test("dynamic paginator function selects per-page templated selector") {
    val out = crawler().crawl(CrawlQueries.dynJob, seeds(d => s"${Fixtures.base(d)}/dyn/p1.html"))
      .filter(col("item").isNotNull)
    assert(out.count() == 3 * 3 * 2)
  }

  test("robots gating drops disallowed seeds") {
    val s = seeds(d => if (d % 5 == 0) s"http://${Fixtures.host(d)}/blocked/d$d.html"
      else s"http://${Fixtures.host(d)}/ok/d$d.html")
    val out = crawler(robots = true).crawl(CrawlQueries.robotsJob, s)
      .filter(col("item").isNotNull)
      .select("seed_id").collect().map(_.getString(0)).toSet
    assert(out == Set("d7")) // d0, d50 divisible by 5 → blocked
  }

  test("robots dimension: two robots-respecting crawlers leave no CacheManager entry") {
    spark.catalog.clearCache()
    val s = seeds(d => if (d % 5 == 0) s"http://${Fixtures.host(d)}/blocked/d$d.html"
      else s"http://${Fixtures.host(d)}/ok/d$d.html")
    for (_ <- 1 to 2) {
      val out = crawler(robots = true).crawl(CrawlQueries.robotsJob, s)
        .filter(col("item").isNotNull).select("seed_id").collect().map(_.getString(0)).toSet
      assert(out == Set("d7"))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("edge semantics: concat-all, zero-drop, empty-record drop") {
    val out = crawler().crawl(CrawlQueries.edgeJob, seeds(d => s"${Fixtures.base(d)}/edge/e1.html"))
      .filter(col("item").isNotNull)
      .select("seed_id", "pos", "item.ab", "item.date_s", "item.noval")
      .collect()
    assert(out.length == 3 * 2) // third li dropped (empty record)
    val li1 = out.filter(r => r.getString(0) == "d0" && r.getInt(1) == 0).head
    assert(li1.getString(2) == "A0B0")
    assert(li1.isNullAt(3) && li1.isNullAt(4))
    val li2 = out.filter(r => r.getString(0) == "d0" && r.getInt(1) == 1).head
    assert(li2.isNullAt(2) && li2.getString(3) == "2024-01-01")
  }

  test("entities decoded in innerText") {
    val out = crawler().crawl(CrawlQueries.entitiesJob, seeds(d => s"${Fixtures.base(d)}/edge/e1.html"))
      .filter(col("item").isNotNull)
      .select("seed_id", "item.val").collect()
    assert(out.exists(r => r.getString(0) == "d0" && r.getString(1) == "<x> & \"q\" ©0"))
  }

  test("politeness: fixed 100ms delay serializes hosts, scheduled_ms = seq*100") {
    val out = crawler(politeness = Politeness.Config(delayMinMs = 100, delayMaxMs = 100))
      .crawl(CrawlQueries.listJob, seeds(d => s"${Fixtures.base(d)}/list/p1.html"))
      .select("seed_id", "page_no", "url", "scheduled_ms", "fetch_seq").distinct()
      .collect()
    // d0 and d50 share host h0 — within each round their two fetches are
    // 100ms apart; d7 is alone on h7 at 0ms
    val h0r1 = out.filter(r => r.getInt(1) == 1 && Set("d0", "d50").contains(r.getString(0)))
      .sortBy(_.getString(2))
    assert(h0r1.map(_.getLong(3)).toSeq == Seq(0L, 100L))
    val d7 = out.filter(r => r.getString(0) == "d7").map(_.getLong(3)).toSeq
    assert(d7.forall(_ == 0L))
  }

  test("checkpoint/resume: killing after round 1 resumes to identical result") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val full = crawler().crawl(CrawlQueries.listJob, seeds(d => s"${Fixtures.base(d)}/list/p1.html"))
      .filter(col("item").isNotNull)
      .select("seed_id", "page_no", "pos", "item.title").collect().map(_.toString).sorted

    // run only 1 round, committing snapshots
    val c1 = new Crawler(spark, corpus, Crawler.Config(maxRounds = 1, checkpointDir = Some(tmp)))
    val partial = c1.crawl(CrawlQueries.listJob, seeds(d => s"${Fixtures.base(d)}/list/p1.html"))
      .filter(col("item").isNotNull)
    assert(partial.agg(max("page_no")).head.getInt(0) == 1)

    // resume from snapshot: rounds 2..3
    val c2 = new Crawler(spark, corpus, Crawler.Config(checkpointDir = Some(tmp)))
    val resumed = c2.crawl(CrawlQueries.listJob, seeds(d => s"${Fixtures.base(d)}/list/p1.html"))
      .filter(col("item").isNotNull)
      .select("seed_id", "page_no", "pos", "item.title").collect()
    // resumed run covers pages 2..3; union with round-1 partial == full
    val combined = (partial.select("seed_id", "page_no", "pos", "item.title").collect() ++ resumed)
      .map(_.toString).sorted
    assert(combined.toSeq == full.toSeq)
  }

  test("checkpoint manifests: pages_fetched = Σ partition_lineage = round's pages; misses counted") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    // one seed outside the corpus: round 1 queues it but fetches nothing
    val withMiss = seeds(d => s"${Fixtures.base(d)}/list/p1.html") :+
      ("d-missing" -> "http://missing.test/list/p1.html")
    val out = new Crawler(spark, corpus, Crawler.Config(checkpointDir = Some(tmp)))
      .crawl(CrawlQueries.listJob, withMiss)
    val fetchedByRound = out.select("page_no", "seed_id", "url").distinct()
      .groupBy("page_no").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fetchedByRound == Map(1 -> 3L, 2 -> 3L, 3 -> 3L))
    val batchByRound = Map(1 -> 4L, 2 -> 3L, 3 -> 3L)
    for (round <- 1 to 3) {
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(tmp, s"manifest-$round.json")), "UTF-8")
      def metric(k: String): Long = s""""$k":(\\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
      val lineage = """"rows":(\d+)""".r.findAllMatchIn(json).map(_.group(1).toLong).sum
      // list crawl in BFS lockstep: round N fetches every seed's page N
      assert(metric("pages_fetched") == fetchedByRound(round), s"round $round: $json")
      assert(lineage == fetchedByRound(round), s"round $round: $json")
      assert(metric("pages_missing") == batchByRound(round) - fetchedByRound(round), s"round $round: $json")
    }
  }

  test("url-seen set prevents refetch and terminates self-loops") {
    val out = crawler().crawl(CrawlQueries.listJob, seeds(d => s"${Fixtures.base(d)}/list/p1.html"))
    val urls = out.select("url").distinct().count()
    assert(urls == 3 * 3) // 3 seeds x 3 pages, each exactly once
  }

  // the list job through crawl and the scroll job through crawlScroll,
  // each with the seed page it starts from
  private val entryPoints: Seq[(String, (Crawler, Seq[(String, String)]) => DataFrame, String)] = Seq(
    ("list", (c, s) => c.crawl(CrawlQueries.listJob, s), "list/p1.html"),
    ("scroll", (c, s) => c.crawlScroll(CrawlQueries.moreJob, s), "more/s1.html"))

  private def sameSchema(name: String, empty: DataFrame, fetched: DataFrame): Unit =
    assert(empty.schema == fetched.schema,
      s"$name: names, order, types and nullability must match\n" +
        s"${empty.schema.treeString}vs\n${fetched.schema.treeString}")

  /** `body`'s result and the number of Spark jobs it submitted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try {
      val out = body
      // listener events are posted asynchronously: wait until the count settles
      var last = -1
      var spins = 0
      while (jobs.get != last && spins < 40) { last = jobs.get; spins += 1; Thread.sleep(100) }
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("robots-blocked seeds: 0 rows, the schema of a crawl that fetched") {
    val blockedSeeds = seeds(d => s"http://${Fixtures.host(d)}/blocked/d$d.html")
    for ((name, crawlWith, page) <- entryPoints) {
      val fetched = crawlWith(crawler(robots = true), seeds(d => s"${Fixtures.base(d)}/$page"))
      assert(fetched.count() > 0, name)
      val blocked = crawlWith(crawler(robots = true), blockedSeeds)
      assert(blocked.count() == 0, name)
      sameSchema(name, blocked, fetched)
    }
  }

  test("maxRounds = 0: 0 rows, the schema of a crawl that fetched, no job past the seed checkpoint") {
    for ((name, crawlWith, page) <- entryPoints) {
      val pageSeeds = seeds(d => s"${Fixtures.base(d)}/$page")
      val fetched = crawlWith(crawler(), pageSeeds)
      assert(fetched.count() > 0, name)
      val (noRound, jobs) = jobsDuring(
        crawlWith(new Crawler(spark, corpus, Crawler.Config(maxRounds = 0)), pageSeeds))
      // the seed frontier's checkpoint + count; the empty page rows plan
      // to an empty relation and submit nothing
      assert(jobs == 1, s"$name: $jobs jobs")
      assert(noRound.count() == 0, name)
      sameSchema(name, noRound, fetched)
    }
  }

  test("maxRounds = 0 under wall-clock pacing: reading the empty result runs one job, as unpaced") {
    val paced = new Crawler(spark, corpus, Crawler.Config(maxRounds = 0, realPace = true,
      politeness = Politeness.Config(delayMinMs = 100L, delayMaxMs = 100L)))
    val out = paced.crawl(CrawlQueries.listJob, seeds(d => s"${Fixtures.base(d)}/list/p1.html"))
    val (rows, jobs) = jobsDuring(out.count())
    assert(rows == 0)
    // no host to bin-pack: the pacing layout's shuffle would add a job
    assert(jobs == 1, s"$jobs jobs")
  }
}
