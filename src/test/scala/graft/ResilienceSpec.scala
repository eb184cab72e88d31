package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.Fixtures
import graft.engine.{CorpusJoinFetcher, Crawler, CuckooFilter, Politeness, SeenShard, SyntheticFetcher}
import graft.extract.{Job, Selector}

/** Round-5 resilience + at-scale-lifecycle contracts:
  *   - FrontierStore commits are O(batch) per round (per-round seen
  *     deltas, manifest-listed union on resume);
  *   - the executor-resident URL-seen shards survive block loss mid-crawl
  *     (rebuild from `seen` instead of failing) and actually truncate
  *     lineage (localCheckpoint honored via checkpointAllMarkedAncestors);
  *   - copy-on-write shard merging never mutates a previous generation;
  *   - SeenShard growth arithmetic is overflow-safe;
  *   - shards forced to DISK_ONLY still complete the crawl;
  *   - the pluggable Fetcher path reproduces the default fused join.
  */
class ResilienceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("resilience-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val docs = Seq(
    Fixtures.Doc(0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
    Fixtures.Doc(7L, "one two three four five six seven eight nine ten eleven", "en"),
    Fixtures.Doc(50L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed", "zh"),
    Fixtures.Doc(51L, "north south east west up down left right front back side", "en")
  )

  lazy val corpus = {
    val s = spark
    import s.implicits._
    docs.flatMap(Fixtures.pagesForDoc).toDF()
  }

  def seeds: Seq[(String, String)] =
    docs.map(d => (s"d${d.doc_id}", s"${Fixtures.base(d.doc_id)}/list/p1.html"))

  /** (seed_id, url) pairs a crawl fetched. */
  private def seenSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("seed_id", "url").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  /** The same pairs as the store's (seed_id, url_hash) representation. */
  private def hashed(pairs: Set[(String, String)]): Set[(String, Long)] =
    pairs.map { case (s, u) =>
      (s, graft.urls.Urls.urlHash(graft.urls.Urls.canonicalize(u)))
    }

  private def storeSeen(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.select("seed_id", "url_hash").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  /** A one-row frontier in the crawler's layout (it carries the
    * `host_bucket` the store partitions by). */
  private def frontierRow(round: Int): org.apache.spark.sql.DataFrame = {
    val s = spark; import s.implicits._
    Seq(("d0", s"http://x.test/p${round + 1}.html", round + 1, 0, "x.test", round.toLong, 0, 0))
      .toDF("seed_id", "url", "page_no", "cursor", "host", "url_hash", "host_bucket", "priority")
  }

  private def itemRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.filter(col("item").isNotNull)
      .select("seed_id", "url", "page_no", "pos", "item.title")
      .collect().map(_.toString).toSeq.sorted

  // ---------------------------------------------------------------- store

  test("frontier store: per-round seen deltas are disjoint, O(batch), and union to the full seen set") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-delta").toString
    val out = new Crawler(spark, corpus, Crawler.Config(checkpointDir = Some(tmp)))
      .crawl(CrawlQueries.listJob, seeds)
    val expectedSeen = seenSet(out) // every fetched url, per seed

    val store = new graft.engine.FrontierStore(tmp)(spark)
    val snap = store.loadLatest().get
    assert(snap.round == 3)
    assert(storeSeen(snap.seen) == hashed(expectedSeen),
      "manifest-listed delta union must reconstruct the full URL-seen set")
    assert(snap.seen.count() == expectedSeen.size, "deltas must not overlap")

    // O(batch) commit contract: each round's delta holds ONLY that round's
    // batch (4 seeds × 1 url), never the cumulative seen table
    for (r <- 1 to 3) {
      val delta = spark.read.parquet(s"$tmp/data/round=$r/seen-delta")
      assert(delta.count() == seeds.size.toLong,
        s"round $r delta must be batch-sized, not cumulative")
    }
  }

  test("frontier store: delta chain carries across resume (resume-then-continue)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-delta-resume").toString
    val full = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
    val expectedSeen = seenSet(full)

    new Crawler(spark, corpus, Crawler.Config(maxRounds = 1, checkpointDir = Some(tmp)))
      .crawl(CrawlQueries.listJob, seeds).count()
    new Crawler(spark, corpus, Crawler.Config(checkpointDir = Some(tmp)))
      .crawl(CrawlQueries.listJob, seeds).count()

    val snap = new graft.engine.FrontierStore(tmp)(spark).loadLatest().get
    assert(snap.round == 3)
    assert(storeSeen(snap.seen) == hashed(expectedSeen),
      "post-resume manifest must list the pre-crash deltas too")
    assert(snap.seen.count() == expectedSeen.size)
  }

  test("frontier store: delta-chain compaction bounds resume fan-in, same seen set") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-delta-compact").toString
    // compactEvery=1: every commit past the first folds the chain to ONE dir
    val out = new Crawler(spark, corpus,
      Crawler.Config(checkpointDir = Some(tmp), seenCompactEvery = 1))
      .crawl(CrawlQueries.listJob, seeds)
    val expectedSeen = seenSet(out)

    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(tmp, "latest.json")), "UTF-8")
    val nDeltas = """"seen_deltas"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .get.group(1).count(_ == '"') / 2
    assert(nDeltas == 1, s"3-round crawl at compactEvery=1 must resume from ONE dir, got $nDeltas")

    val snap = new graft.engine.FrontierStore(tmp)(spark).loadLatest().get
    assert(storeSeen(snap.seen) == hashed(expectedSeen),
      "compacted base must hold the identical URL-seen set")
    assert(snap.seen.count() == expectedSeen.size, "compaction must not duplicate rows")

    // GC contract, one generation late: a commit deletes the chain dirs the
    // PREVIOUS commit superseded (without it each compaction leaks a full
    // seen copy, ~rounds/compactEvery copies at the 10^10-url design
    // point). Round 2 folded rounds 1-2 into its base; round 3 folded that
    // base and its own delta, so rounds 1-2's deltas are gone while round
    // 3's superseded dirs wait in the manifest for the next commit.
    def exists(rel: String) = new java.io.File(s"$tmp/$rel").exists()
    for (r <- 1 to 2)
      assert(!exists(s"data/round=$r/seen-delta"),
        s"data/round=$r/seen-delta, superseded two commits ago, must be GC'd")
    for (rel <- Seq("data/round=2/seen-compact", "data/round=3/seen-delta")) {
      assert(exists(rel), s"$rel, superseded by the latest commit, must survive until the next one")
      assert(json.contains(rel + "\""), s"$rel must be listed as pending deletion: $json")
    }
    assert(exists("data/round=3/seen-compact"), "the live compacted base must survive")
  }

  test("compaction GC waits one commit: a reader of the previous manifest still scans its seen") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-gc-grace").toString
    val store = new graft.engine.FrontierStore(tmp, compactEvery = 1)(spark)
    def commit(st: graft.engine.FrontierStore, r: Int): Unit =
      st.commit(r, frontierRow(r), Seq(("d0", r.toLong)).toDF("seed_id", "url_hash"), Nil)
    commit(store, 1)
    commit(store, 2) // compacts rounds 1-2 into round 2's base
    val old = new graft.engine.FrontierStore(tmp)(spark).loadLatest().get.seen // lazy
    commit(store, 3) // compacts again, superseding the base `old` scans
    assert(old.count() == 2L)
    assert(storeSeen(old) == Set(("d0", 1L), ("d0", 2L)),
      "the previous manifest's chain must stay readable until the next commit lands")
    // a resumed store reads the pending list back from the manifest and
    // finishes the deletion at its first commit
    commit(new graft.engine.FrontierStore(tmp, compactEvery = 1)(spark), 4)
    assert(!new java.io.File(s"$tmp/data/round=2/seen-compact").exists(),
      "the next commit must delete the dirs the previous one superseded")
    assert(!new java.io.File(s"$tmp/data/round=3/seen-delta").exists())
    assert(storeSeen(new graft.engine.FrontierStore(tmp)(spark).loadLatest().get.seen) ==
      (1 to 4).map(r => ("d0", r.toLong)).toSet)
  }

  test("frontier store: a directory name containing ']' resumes with its full seen set") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bracket").resolve("run]1").toString
    val store = new graft.engine.FrontierStore(tmp)(spark)
    for (r <- 1 to 2)
      store.commit(r, frontierRow(r), Seq(("d0", r.toLong)).toDF("seed_id", "url_hash"), Nil)
    val snap = new graft.engine.FrontierStore(tmp)(spark).loadLatest().get
    assert(snap.round == 2)
    assert(storeSeen(snap.seen) == Set(("d0", 1L), ("d0", 2L)),
      "the manifest's seen chain must read back whatever characters its paths hold")
  }

  test("frontier store: loadPages keeps each round's own page columns") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pages-schema").toString
    val store = new graft.engine.FrontierStore(tmp)(spark)
    store.commitPages(1, Seq(("d0", "only-in-1")).toDF("seed_id", "a"))
    store.commit(1, frontierRow(1), Seq(("d0", 1L)).toDF("seed_id", "url_hash"), Nil)
    store.commitPages(2, Seq(("d0", 7L)).toDF("seed_id", "b"))
    store.commit(2, frontierRow(2), Seq(("d0", 2L)).toDF("seed_id", "url_hash"), Nil)
    val pages = store.loadPages(2).get
    val rows = pages.select("seed_id", "a", "b").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.get(2)))).toSet
    assert(rows == Set(("d0", Some("only-in-1"), None), ("d0", None, Some(7L))),
      "round 1's column a and round 2's column b must both keep their values")
    assert(store.loadPages(1).get.columns.toSeq == Seq("seed_id", "a"))
  }

  test("frontier store: a manifest of any format but v2 fails loudly, naming the format") {
    val s = spark; import s.implicits._
    for (format <- Seq("graft-frontier-v1", "graft-frontier-v9")) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-format").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(tmp, "latest.json"),
        s"""{"format":"$format","round":1,"files":[],"metrics":{}}""".getBytes("UTF-8"))
      val store = new graft.engine.FrontierStore(tmp)(spark)
      val e = intercept[IllegalStateException](store.loadLatest())
      assert(e.getMessage.contains(format) && e.getMessage.contains(tmp), e.getMessage)
      val c = intercept[IllegalStateException](
        store.commit(2, frontierRow(2), Seq(("d0", 2L)).toDF("seed_id", "url_hash"), Nil))
      assert(c.getMessage.contains(format), c.getMessage)
      assert(!new java.io.File(s"$tmp/data").exists(), "a refused commit must write nothing")
    }
  }

  test("resumed seen survives compaction GC (materialized off the store's parquet)") {
    // regression: the resumed crawl's `seen` used to stay a LAZY parquet
    // union over the manifest's delta dirs; the first post-resume
    // compaction GC'd those dirs and any later-round use of `seen`
    // (anti-join, sketch backfill) rescanned deleted paths ->
    // FileNotFoundException. The fix localCheckpoints the union at resume
    // (fused with the size count resume already needed), so this
    // crash-at-1 / compact-on-2 / use-seen-on-3 sequence must complete.
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume-gc").toString
    val full = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
    val cfg = Crawler.Config(checkpointDir = Some(tmp), seenCompactEvery = 1)
    new Crawler(spark, corpus, cfg.copy(maxRounds = 1)).crawl(CrawlQueries.listJob, seeds).count()
    // the resumed crawl COMPLETING is the regression (no FileNotFound on
    // the GC'd delta dirs); its output holds only post-resume rounds, so
    // the full-set check reads the store's final snapshot
    new Crawler(spark, corpus, cfg).crawl(CrawlQueries.listJob, seeds).count()
    val snap = new graft.engine.FrontierStore(tmp)(spark).loadLatest().get
    assert(storeSeen(snap.seen) == hashed(seenSet(full)),
      "resume -> compaction -> later rounds must complete with the full seen set")
    // and the pre-resume delta dir really was GC'd (the hazard existed)
    assert(!new java.io.File(s"$tmp/data/round=1/seen-delta").exists(),
      "compaction must have deleted the superseded pre-resume delta")
  }

  test("persistPages: a resumed crawl replays pre-crash pages — result equals uninterrupted") {
    val full = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pages").toString
    val cfg = Crawler.Config(checkpointDir = Some(tmp), persistPages = true)
    new Crawler(spark, corpus, cfg.copy(maxRounds = 1)).crawl(CrawlQueries.listJob, seeds).count()
    val resumed = new Crawler(spark, corpus, cfg).crawl(CrawlQueries.listJob, seeds)
    assert(itemRows(resumed) == itemRows(full),
      "with persistPages the resumed result must include pre-crash rounds' pages")
    assert(seenSet(resumed) == seenSet(full))
  }

  // ---------------------------------------------------------------- shards

  test("shard RDD lineage is truncated (localCheckpoint honored through the round action)") {
    val c = new Crawler(spark, corpus,
      Crawler.Config(bloomThreshold = 0L, cuckooThreshold = 0L))
    c.crawl(CrawlQueries.listJob, seeds).count()
    assert(c.liveShards.isDefined, "sharded path must be active at zero thresholds")
    assert(c.liveShards.get.isCheckpointed,
      "shard RDD must be locally checkpointed by the round's fused action " +
        "(requires the checkpointAllMarkedAncestors local property)")
  }

  test("executor loss mid-crawl: shards rebuild from seen; URL-seen set identical") {
    val plain = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
    val expected = seenSet(plain)
    val expectedItems = itemRows(plain)

    val c = new Crawler(spark, corpus,
      Crawler.Config(bloomThreshold = 0L, cuckooThreshold = 0L))
    // simulate executor death at round 2: the previous generation's
    // locally-checkpointed (lineage-truncated) blocks vanish right before
    // the round's merge+probe consumes them
    val out = c.run(CrawlQueries.listJob,
      { val s = spark; import s.implicits._
        seeds.toDF("seed_id", "url")
          .withColumn("page_no", lit(1)).withColumn("cursor", lit(0)) },
      scroll = false, mode = graft.extract.JsProperty,
      callback = Some((round, _) => {
        if (round == 2) c.liveShards.foreach(_.unpersist(blocking = true))
        false
      }))
    assert(seenSet(out) == expected,
      "crawl must complete with the identical URL-seen set after shard block loss")
    assert(itemRows(out) == expectedItems)

    // accumulator integrity: the failed attempt's successful tasks already
    // applied their prefilterSkipped updates; the retry re-runs the whole
    // plan, so without the snapshot/reset the metric double-counts. A
    // no-failure control run with the identical config gives the truth.
    val control = new Crawler(spark, corpus,
      Crawler.Config(bloomThreshold = 0L, cuckooThreshold = 0L))
    control.crawl(CrawlQueries.listJob, seeds).count()
    assert(c.prefilterSkipped.value == control.prefilterSkipped.value,
      s"block-loss retry must not double-count prefilterSkipped " +
        s"(got ${c.prefilterSkipped.value}, control ${control.prefilterSkipped.value})")
  }

  test("shards forced to DISK_ONLY: crawl completes identically (spill-path)") {
    val plain = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
    val out = new Crawler(spark, corpus,
      Crawler.Config(bloomThreshold = 0L, cuckooThreshold = 0L,
        shardStorageLevel = "DISK_ONLY"))
      .crawl(CrawlQueries.listJob, seeds)
    assert(seenSet(out) == seenSet(plain))
    assert(itemRows(out) == itemRows(plain))
  }

  test("copy-on-write: SeenShard.copy and CuckooFilter.copy isolate the parent") {
    val a = SeenShard.create()
    a.insert(1L, 10L); a.insert(2L, 20L)
    val b = a.copy()
    b.insert(3L, 30L)
    assert(a.size == 2 && !a.contains(3L, 30L), "parent shard mutated through copy")
    assert(b.size == 3 && b.contains(1L, 10L) && b.contains(3L, 30L))

    val f = CuckooFilter.create(1024)
    (1L to 100L).foreach(f.insert)
    val g = f.copy()
    val other = CuckooFilter.create(1024)
    (101L to 200L).foreach(other.insert)
    g.merge(other)
    assert(f.size == 100L, "parent filter's count mutated through copy (merge is not idempotent)")
    assert((1L to 100L).forall(f.contains))
    assert((1L to 200L).forall(g.contains))
  }

  test("SeenShard growth arithmetic is overflow-safe at 2^29 capacity") {
    // the old `count >= capacity * 7 / 10` overflowed Int at capacity 2^29
    // (capacity*7 < 0 → always grow → negative array size at the next double)
    assert(!SeenShard.needsGrow(200000000, 1 << 29),
      "200M entries in a 2^29-slot shard is 37% load — must NOT grow")
    assert(SeenShard.needsGrow(((1L << 29) * 7L / 10L + 1L).toInt, 1 << 29),
      "past 70% load it must grow")
    assert(!SeenShard.needsGrow(0, SeenShard.MaxCapacity))
  }

  // ---------------------------------------------------------------- fetcher

  test("CorpusJoinFetcher through the trait reproduces the default fused-join crawl") {
    val byDefault = itemRows(new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds))
    val viaTrait = itemRows(new Crawler(spark, corpus,
      Crawler.Config(fetcher = Some(new CorpusJoinFetcher(corpus))))
      .crawl(CrawlQueries.listJob, seeds))
    assert(viaTrait == byDefault)
  }

  test("realPace drives the pluggable fetcher behind the schedule (fake clock, zero sleep)") {
    // politeness on (100ms/request per host) + realPace: with a clock 60s
    // in the past every scheduled slot has already elapsed, so the pacing
    // machinery (bin-packing, per-row waits) runs end-to-end without
    // sleeping — and the fetch happens AFTER pacing, through the trait
    val cfg = Crawler.Config(
      politeness = Politeness.Config(delayMinMs = 100, delayMaxMs = 100),
      realPace = true,
      paceClock = () => System.currentTimeMillis() - 60000L,
      fetcher = Some(new CorpusJoinFetcher(corpus)))
    val t0 = System.nanoTime()
    val out = new Crawler(spark, corpus, cfg).crawl(CrawlQueries.listJob, seeds)
    val rows = itemRows(out)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    val byDefault = itemRows(new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds))
    assert(rows == byDefault, "paced trait-path crawl must extract identical items")
    // paced rows carry a real emission offset (≥ the 60s clock skew)
    assert(out.filter(col("item").isNotNull).agg(min("emitted_ms")).head.getLong(0) >= 60000L)
    assert(elapsedSec < 45.0, "fake clock must not actually sleep the schedule")
  }

  test("SyntheticFetcher: a crawl with no corpus at all (pages rendered per url)") {
    val job = Job(
      link = "",
      cssSelector = Selector(
        scope = "ul.s > li",
        attrs = Some(Map("title" -> Selector(css = "a")))),
      limit = 1)
    val fetcher = new SyntheticFetcher(u =>
      s"<html><body><ul class='s'><li><a>page $u</a></li></ul></body></html>")
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(String, Array[Byte])].toDF("url", "html")
    val out = new Crawler(spark, empty, Crawler.Config(fetcher = Some(fetcher)))
      .crawl(job, Seq(("s0", "http://a.test/p1.html"), ("s1", "http://b.test/p1.html")))
      .filter(col("item").isNotNull)
      .select(col("seed_id"), col("item.title").as("title"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(out == Seq(
      ("s0", "page http://a.test/p1.html"),
      ("s1", "page http://b.test/p1.html")))
  }
}
