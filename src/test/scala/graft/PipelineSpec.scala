package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline._

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup keeps one survivor per distinct text") {
    val out = Dedup.exact(docs)
    assert(out.count() == docs.select("text").distinct().count())
    assert(out.agg(sum("n")).head.getLong(0) == docs.count())
  }

  test("duplicate spans: shared 8-word windows found with exact positions") {
    val s = spark
    import s.implicits._
    val mini = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),     // span at pos 0..2
      (2L, "again the quick brown fox jumps over the lazy dog"),       // same span at pos 1..2
      (3L, "completely different words that never repeat anywhere else at all")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(mini).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val span = "the quick brown fox jumps over the lazy"
    val span2 = "quick brown fox jumps over the lazy dog"
    assert(out.contains((1L, 0L, span)) && out.contains((2L, 1L, span)))
    assert(out.contains((1L, 1L, span2)) && out.contains((2L, 2L, span2)))
    assert(!out.exists(_._1 == 3L), "unique doc contributes no duplicate span")
    // every emitted span really occurs in >= 2 distinct docs
    assert(out.groupBy(_._3).forall { case (_, rs) => rs.map(_._1).distinct.size >= 2 })
    // the corpus-level query is non-trivial (the fixture near-dups share spans)
    assert(Dedup.duplicateSpans(docs).limit(1).count() == 1)
  }

  test("minhash LSH pairs == exact ngram jaccard pairs (verified recall)") {
    val exact = Dedup.ngramJaccardPairs(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("simhash: near-dup docs collide within hamming budget") {
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash at a loose budget must recover most text near-dups
    val recall = exact.count(sim.contains).toDouble / exact.size
    assert(recall >= 0.5, s"simhash recall $recall over ${exact.size} true pairs")
  }

  test("ann: brute force is exact; lsh multi-probe recalls most of top-3") {
    val bf = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.size == 60) // 20 queries x top 3
    val recall = bf.count(lsh.contains).toDouble / bf.size
    // 8 tables x 4 bits on weakly-clustered vectors (top-3 at cos≈0.4):
    // theory 1-(1-p^4)^8 ≈ 0.8 at p≈0.65
    assert(recall >= 0.5, s"lsh recall $recall")
  }

  test("ann ivf: cell-probe recall vs brute force") {
    val bf = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(ivf.contains).toDouble / bf.size
    // 4 of 16 cells probed on weakly-clustered vectors
    assert(recall >= 0.4, s"ivf recall $recall")
  }

  test("lang_id deterministic + scores consistent") {
    val out = TextStats.langId(docs).collect()
    assert(out.length == docs.count())
    assert(out.forall(r => !r.isNullAt(6)))
  }

  test("fingerprint is stable across runs") {
    val a = TextStats.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = TextStats.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("multimodal: payload bytes drive stubbed meta; frame sampling bounded") {
    val meta = Multimodal.mediaMeta(spark, docs).collect()
    assert(meta.length == docs.count())
    assert(meta.forall(r => Set("img", "audio", "video").contains(r.getString(2))))
    val frames = Multimodal.sampleFrames(spark, docs).collect()
    assert(frames.forall(_.getLong(1) % 7 == 0))
  }

  test("decontamination: shared 8-word spans vs a benchmark set, counted at exact positions") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different words that never repeat anywhere else at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "again the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val df = Dedup.contamination(train, bench)
    val out = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 spans at pos 0 and 1 appear verbatim in the benchmark doc
    assert(out.toSeq == Seq((1L, 2L, 0L)))
    // the benchmark span side must broadcast — the corpus side never shuffles
    assert(df.queryExecution.executedPlan.toString.contains("Broadcast"),
      "benchmark spans should be the broadcast side of the candidate join")
  }

  test("repetition stats: hand-computed n-gram maxima on a crafted doc") {
    val s = spark
    import s.implicits._
    // "a b a b a c": 6 tokens, 3 distinct, top uni = a(3),
    // bigrams ab,ba,ab,ba,ac -> top 2; trigrams aba,bab,aba,bac -> top 2
    val mini = Seq((1L, "a b a b a c"), (2L, "x")).toDF("doc_id", "text")
    val out = TextStats.repetitionStats(mini).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.contains((1L, 6L, 3L, 3L, 2L, 2L)))
    // single token: no bigram/trigram windows -> 0
    assert(out.contains((2L, 1L, 1L, 1L, 0L, 0L)))
  }

  test("quality filter: each reason bit fires on a doc crafted to trip it") {
    val s = spark
    import s.implicits._
    val longOk = (1 to 30).map(i => s"word$i").mkString(" ")    // 30 tokens, ~5.5 mean -> bit 2
    val repetitive = (("spam " * 40).trim)                      // top unigram 100% -> bits 4+8 (+2: mean 4.0 is in range -> no)
    val mini = Seq(
      (1L, "short doc"),          // bit 1 (too short) + others possible
      (2L, longOk),
      (3L, repetitive)
    ).toDF("doc_id", "text")
    val rows = TextStats.qualityFilter(mini).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert((rows(1L)._1 & 1L) == 1L, "short doc trips bit 1")
    assert(rows(1L)._2 == 0L)
    assert((rows(2L)._1 & 2L) == 2L, "long mean word length trips bit 2")
    assert((rows(3L)._1 & 4L) == 4L, "repetitive doc trips bit 4")
    assert((rows(3L)._1 & 8L) == 8L, "repetitive doc trips bit 8")
    // corpus-level: the sf docs split non-trivially (some keep, some drop)
    val corpus = TextStats.qualityFilter(docs)
    val kept = corpus.agg(sum("keep")).head.getLong(0)
    assert(kept > 0 && kept < corpus.count())
  }

  test("pagerank: integer fixed-point ranks — symmetry, mass bound, determinism") {
    val s = spark
    import s.implicits._
    // symmetric 2-cycle: equal ranks; star a->b,c (b,c sink to a)
    val sym = Seq(("A", "B", 1L), ("B", "A", 1L)).toDF("src_host", "dst_host", "n_links")
    val r1 = LinkGraph.pagerank(sym, iters = 5).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(r1.length == 2 && r1(0)._2 == r1(1)._2, "symmetric graph -> equal ranks")
    // mass conserved up to truncation: sum <= scale, and close to it
    val total = r1.map(_._2).sum
    assert(total <= 1000000000000L && total > 999999990000L)
    // a hub pointed at by both others (which split their mass) outranks them
    val star = Seq(("A", "B", 1L), ("C", "B", 1L), ("B", "B", 1L),
      ("A", "A", 1L), ("C", "C", 1L)).toDF("src_host", "dst_host", "n_links")
    val r2 = LinkGraph.pagerank(star, iters = 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(r2("B") > r2("A") && r2("B") > r2("C"))
    // determinism: re-running the same plan yields the identical vector
    val r2b = LinkGraph.pagerank(star, iters = 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(r2 == r2b)
  }

  /** `body`'s result and the ids of the persisted RDDs (cached or local-
    * checkpointed) in the stages of the jobs it submits. Read from job-start
    * events, not from `getPersistentRDDs`: that map holds its RDDs weakly,
    * and once a rank checkpoint truncates the lineage to the persisted
    * inputs (or to the previous checkpoint) a GC can drop them from it
    * before the count.
    */
  private def persistedDuring[T](body: => T): (T, Set[Int]) = {
    val sc = spark.sparkContext
    val group = s"persisted-during-${System.nanoTime}"
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group) {
          for (st <- js.stageInfos; rdd <- st.rddInfos if rdd.storageLevel.isValid) ids.add(rdd.id)
          jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "persistedDuring")
    try {
      val out = body
      // listener events are posted asynchronously: wait until the job count settles
      var last = -1
      var spins = 0
      while (jobs.get != last && spins < 40) { last = jobs.get; spins += 1; Thread.sleep(100) }
      import scala.jdk.CollectionConverters._
      (out, ids.asScala.toSet)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("pagerank persists three RDDs per call: edges, host dimension, out-weighted edges") {
    val s = spark
    import s.implicits._
    val edges = Seq(("A", "B", 2L), ("B", "C", 1L), ("C", "A", 1L), ("A", "C", 1L))
      .toDF("src_host", "dst_host", "n_links")
    // the Spark path (above Layout.BroadcastRows edges), forced: the three
    // per-call persists plus the eager local checkpoint of each
    // iteration's rank; a per-call persist moved into the loop adds one
    // per iteration and breaks the count
    val (r, ids) = persistedDuring(
      LinkGraph.pagerank(edges, 3, 1000000000000L, onDriver = Some(false)))
    assert(ids.size == 3 + 3, s"expected 3 persisted RDDs + 3 rank checkpoints, found $ids")
    assert(r.count() == 3L)
  }

  test("pagerank on the driver path persists the edge input only") {
    val s = spark
    import s.implicits._
    val edges = Seq(("A", "B", 2L), ("B", "C", 1L), ("C", "A", 1L), ("A", "C", 1L))
      .toDF("src_host", "dst_host", "n_links")
    val (r, ids) = persistedDuring(LinkGraph.pagerank(edges, iters = 3)) // 4 edges: below the bound
    assert(ids.size == 1, s"expected the persisted edge input only, found $ids")
    assert(r.count() == 3L)
  }

  /** Weighted host graphs for the two-path differential: a hand-built one
    * with a self-loop, a sink, single-out-edge hosts, a repeated
    * (src, dst) row and a heavy pair, then seeded random ones mixing light
    * and heavy n_links, with sink-only hosts and repeated rows. Heavy
    * weights (10^12..10^15) put rank * n_links far past the ~1.1e17 at
    * which an unfactored `85 * rank * n_links` wraps Long.
    */
  private def pagerankGraphs: Seq[(String, Seq[(String, String, Long)])] = {
    val hand = Seq(("A", "A", 1L), ("A", "B", 1L), ("A", "B", 1L), ("B", "C", 2L),
      ("D", "B", 1L), ("E", "F", 1000000000000000L), ("E", "A", 3L), ("F", "E", 1L))
    val random = (1 to 2).map { seed =>
      val rnd = new scala.util.Random(seed)
      // sources from h0..h19, destinations from h0..h29: h20..h29 are sinks
      val base = Seq.fill(80) {
        val w = if (rnd.nextInt(4) == 0) math.pow(10, 12 + rnd.nextInt(4)).toLong
                else 1L + rnd.nextInt(5)
        (s"h${rnd.nextInt(20)}.test", s"h${rnd.nextInt(30)}.test", w)
      }
      s"random seed $seed" -> (base ++ base.take(10)) // repeated rows
    }
    Seq("hand-built" -> hand, "empty" -> Seq.empty[(String, String, Long)]) ++ random
  }

  private def bothPaths(edges: org.apache.spark.sql.DataFrame, iters: Int) = {
    val scale = 1000000000000L
    val d = LinkGraph.pagerank(edges, iters, scale, onDriver = Some(true))
    val sp = LinkGraph.pagerank(edges, iters, scale, onDriver = Some(false))
    (d, sp)
  }

  private def assertSameRanks(d: org.apache.spark.sql.DataFrame,
                              sp: org.apache.spark.sql.DataFrame, what: String): Unit = {
    assert(d.schema.map(f => (f.name, f.dataType)) == sp.schema.map(f => (f.name, f.dataType)),
      s"$what: schemas differ: ${d.schema} vs ${sp.schema}")
    assert(d.columns.toSeq == Seq("host", "rank"), what)
    val dr = d.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val sr = sp.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(dr == sr, s"$what: driver and Spark ranks differ")
  }

  test("pagerank: driver and Spark paths give identical rank vectors on generated graphs") {
    val s = spark
    import s.implicits._
    for ((name, rows) <- pagerankGraphs; iters <- Seq(1, 5, 20)) {
      val edges = rows.toDF("src_host", "dst_host", "n_links")
      val (d, sp) = bothPaths(edges, iters)
      assertSameRanks(d, sp, s"$name, iters=$iters")
      val hosts = rows.flatMap(r => Seq(r._1, r._2)).distinct
      assert(d.count() == hosts.size.toLong, s"$name: one row per host of src ∪ dst")
    }
  }

  test("pagerank: the Spark path at iters=20 plans at most one iteration's joins") {
    val s = spark
    import s.implicits._
    val edges = pagerankGraphs.last._2.toDF("src_host", "dst_host", "n_links")
    val (d, sp) = bothPaths(edges, 20)
    val joins = sp.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    assert(joins <= 2, s"a checkpointed rank plans one iteration at most, found $joins joins")
    assertSameRanks(d, sp, "iters=20")
  }

  test("pagerank on an empty edge list: empty rank table, not divide-by-zero") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(String, String, Long)].toDF("src_host", "dst_host", "n_links")
    val r = LinkGraph.pagerank(empty, iters = 3)
    assert(r.columns.toSeq == Seq("host", "rank"))
    assert(r.count() == 0L)
  }

  test("hostEdges drops rows without an extractable http(s) host") {
    val s = spark
    import s.implicits._
    val links = Seq(
      ("http://a.test/p.html", "http://b.test/x.html"),   // plain http edge
      ("https://a.test/p.html", "https://c.test"),        // https + no trailing slash
      ("http://a.test/p.html", "http://b.test?page=2"),   // query right after authority
      ("http://a.test/p.html", "http://b.test#frag"),     // fragment right after authority
      ("http://a.test/p.html", "mailto:x@b.test"),        // no host -> dropped
      ("http://a.test/p.html", "//b.test/rel.html"),      // protocol-relative -> dropped
      ("garbage", "http://b.test/y.html"))                // src has no host -> dropped
      .toDF("url", "out")
    val edges = LinkGraph.hostEdges(links).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(edges == Set(("a.test", "b.test", 3L), ("a.test", "c.test", 1L)),
      s"?# must terminate the authority (no phantom 'b.test?page=2' nodes) and " +
        s"unmatched urls must be dropped, never collapse onto a '' host: $edges")
  }

  test("media headers: real PNG/JPEG/GIF/WAV bytes round-trip through the parser") {
    import graft.pipeline.MediaHeaders
    for (seed <- Seq(0L, 1L, 2L, 3L, 17L, 254L, 1023L, 99991L)) {
      val (w, h) = MediaHeaders.shapeFor(seed)
      val png = MediaHeaders.parsePng(MediaHeaders.buildPng(seed)).get
      assert((png.fmt, png.width, png.height, png.frames) == ("png", w, h, 1L), s"png seed=$seed")
      val jpg = MediaHeaders.parseJpeg(MediaHeaders.buildJpeg(seed)).get
      assert((jpg.fmt, jpg.width, jpg.height) == ("jpeg", w, h), s"jpeg seed=$seed")
      val gif = MediaHeaders.parseGif(MediaHeaders.buildGif(seed)).get
      assert((gif.fmt, gif.width, gif.height) == ("gif", w, h), s"gif seed=$seed")
      val wav = MediaHeaders.parseWav(MediaHeaders.buildWav(seed)).get
      assert(wav.fmt == "wav", s"wav seed=$seed")
      assert(wav.width == 8000 + java.lang.Math.floorMod(seed * 11, 40000), s"wav rate seed=$seed")
      assert(wav.height == 1 + java.lang.Math.floorMod(seed, 2), s"wav channels seed=$seed")
      assert(wav.frames == 8 + java.lang.Math.floorMod(seed * 3, 64), s"wav samples seed=$seed")
      val mp4 = MediaHeaders.parseMp4(MediaHeaders.buildMp4(seed)).get
      assert((mp4.fmt, mp4.width, mp4.height) == ("mp4", w, h), s"mp4 dims seed=$seed")
      assert(mp4.frames == MediaHeaders.framesFor(seed), s"mp4 stsz frames seed=$seed")
      val mp4d = MediaHeaders.parseMp4Detail(MediaHeaders.buildMp4(seed)).get
      assert(mp4d.durationMs == MediaHeaders.framesFor(seed) * 40,
        s"mp4 mvhd duration seed=$seed") // timescale 1000, 25 fps
      // generic dispatch agrees with the per-format parsers
      assert(MediaHeaders.parse(MediaHeaders.buildPayload(seed)).isDefined)
    }
    // MP4 truncation / non-BMFF bytes fall through to None, not crash
    assert(MediaHeaders.parseMp4(MediaHeaders.buildMp4(3L).take(40)).isEmpty)
    assert(MediaHeaders.parseMp4("RIFFxxxxWAVE but not a box tree".getBytes).isEmpty)
    // version-1 boxes (64-bit times: mvhd +12 bytes before timescale,
    // tkhd dims at +88) — hand-built, since the builder emits v0
    locally {
      val bb = java.nio.ByteBuffer.allocate(16 + 8 + 120 + 112)
      bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      bb.putInt(8 + 120 + 112).put("moov".getBytes)
      bb.putInt(120).put("mvhd".getBytes)
      bb.putInt(0x01000000)            // version 1
      bb.putLong(0L).putLong(0L)       // ctime, mtime u64
      bb.putInt(90000)                 // timescale
      bb.putLong(450000L)              // duration u64 → 5000 ms
      (1 to 20).foreach(_ => bb.putInt(0)) // rate..next_track (layout tail)
      bb.putInt(112).put("trak".getBytes)
      bb.putInt(104).put("tkhd".getBytes)
      bb.putInt(0x01000007)            // version 1, enabled flags
      bb.putLong(0L).putLong(0L)       // ctime, mtime u64
      bb.putInt(1).putInt(0)           // track_ID, reserved
      bb.putLong(450000L)              // duration u64
      bb.putLong(0L)                   // reserved
      bb.putShort(0).putShort(0).putShort(0).putShort(0)
      (1 to 9).foreach(_ => bb.putInt(0)) // matrix (content irrelevant here)
      bb.putInt(640 << 16).putInt(360 << 16)
      val m = MediaHeaders.parseMp4Detail(bb.array()).get
      assert((m.width, m.height, m.durationMs) == (640L, 360L, 5000L))
      assert(m.frames == 0L) // no stsz in this skeleton → honest zero
    }
    // PNG IHDR is big-endian: a parser that read LE would get a garbled
    // width for any non-palindromic dimension — pin one literal
    val p = MediaHeaders.parsePng(MediaHeaders.buildPng(1L)).get
    assert((p.width, p.height) == (23L, 29L)) // 16 + 7, 16 + 13
    // non-media bytes (text, empty, truncated containers) → None → stub
    assert(MediaHeaders.parse("hello world, plain text".getBytes).isEmpty)
    assert(MediaHeaders.parse(Array.emptyByteArray).isEmpty)
    assert(MediaHeaders.parse(MediaHeaders.buildPng(5L).take(10)).isEmpty)
    assert(MediaHeaders.parse(MediaHeaders.buildWav(5L).take(30)).isEmpty)
    // end-to-end over the docs table: every row decodes via the REAL parser
    val real = Multimodal.mediaMetaReal(spark, docs).collect()
    assert(real.length == docs.count())
    assert(real.forall(r => Set("png", "jpeg", "gif", "wav", "mp4").contains(r.getString(2))))
    // video family: box-walk metadata + frame sampling from parsed stsz
    val vid = Multimodal.mediaMetaVideo(spark, docs).collect()
    assert(vid.length == docs.count())
    assert(vid.forall { r =>
      val id = r.getLong(0)
      r.getLong(3) == 16 + java.lang.Math.floorMod(id * 7, 1024) &&
        r.getLong(5) == MediaHeaders.framesFor(id) &&
        r.getLong(6) == MediaHeaders.framesFor(id) * 40
    })
    val vframes = Multimodal.sampleFramesVideo(spark, docs).collect()
    assert(vframes.forall(_.getLong(1) % 7 == 0))
    val perDoc = vframes.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perDoc.forall { case (id, n) =>
      n == (MediaHeaders.framesFor(id) - 1) / 7 + 1
    })
  }

  test("near-dup clusters: label propagation finds components, min-id survivor") {
    val s = spark
    import s.implicits._
    // two components: {1,2,3} via chain 1-2, 2-3; {10,11}; singleton pairs only
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val out = graft.pipeline.Dedup.nearDupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
  }

  test("main-content extraction: text-density keeps content, drops nav/pager") {
    val html =
      ("""<html><body><div class="nav"><a href="/">home</a><a href="/x">archive</a></div>""" +
        """<div id="story">Paragraph one of the article body with plenty of prose text. """ +
        """<div>Nested paragraph with more real sentences inside the article.</div></div>""" +
        """<div class="pager"><a href="p2">next</a><a href="p3">3</a></div></body></html>""").getBytes("UTF-8")
    val out = graft.pipeline.MainContent.extractMainText(html)
    assert(out.contains("Paragraph one") && out.contains("Nested paragraph"))
    assert(!out.contains("next") && !out.contains("home"), s"boilerplate leaked: $out")
  }

  test("cuckoo filter: inserts are found, absent keys mostly not") {
    val f = graft.engine.CuckooFilter.create(10000)
    val keys = (1L to 5000L).map(i => i * 0x9e3779b97f4a7c15L)
    keys.foreach(k => assert(f.insert(k)))
    assert(keys.forall(f.contains))
    val absent = (100001L to 101000L).map(i => i * 0x9e3779b97f4a7c15L)
    val fp = absent.count(f.contains)
    assert(fp < 20, s"cuckoo false-positive count $fp/1000")
    // round-trip serialization
    val f2 = graft.engine.CuckooFilter.deserialize(f.serialize())
    assert(keys.forall(f2.contains))
  }

  test("seen shard: exact set semantics under random insert/probe/merge/growth") {
    val rnd = new scala.util.Random(42)
    val shard = graft.engine.SeenShard.create(64) // tiny → forces several grows
    val ref = scala.collection.mutable.Set[(Long, Long)]()
    val universe = (1 to 4000).map(_ => (rnd.nextLong(), rnd.nextLong()))
    universe.take(3000).foreach { case (s, u) =>
      assert(shard.insert(s, u) == ref.add((s, u)))
    }
    // duplicate inserts report not-new
    universe.take(50).foreach { case (s, u) => assert(!shard.insert(s, u)) }
    // exactness both ways (no false positives, no false negatives)
    universe.foreach { case (s, u) =>
      assert(shard.contains(s, u) == ref.contains((s, u)))
    }
    assert(shard.size == ref.size)
    // merge ≡ set union
    val other = graft.engine.SeenShard.create(64)
    val extra = (1 to 500).map(_ => (rnd.nextLong(), rnd.nextLong()))
    extra.foreach { case (s, u) => other.insert(s, u) }
    shard.merge(other)
    (universe ++ extra).foreach { case (s, u) =>
      assert(shard.contains(s, u) == (ref.contains((s, u)) || extra.contains((s, u))))
    }
    // java round-trip (the shards ride RDD serialization)
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(shard)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject()
      .asInstanceOf[graft.engine.SeenShard]
    assert(universe.take(100).forall { case (s, u) => back.contains(s, u) })
    // seed hashing is stable and spreads
    assert(graft.engine.SeenShard.seedHash("d0") != graft.engine.SeenShard.seedHash("d1"))
    assert(graft.engine.SeenShard.seedHash("abc") == graft.engine.SeenShard.seedHash("abc"))
  }

  test("robots parser: groups, allow-overrides, longest-match") {
    import graft.engine.Robots
    val r = Robots.parse(
      """User-agent: googlebot
        |Disallow: /g/
        |
        |User-agent: *
        |Disallow: /private/
        |Allow: /private/ok/
        |""".stripMargin)
    assert(r.isAllowed("/public/x"))
    assert(!r.isAllowed("/private/x"))
    assert(r.isAllowed("/private/ok/x"))
    assert(r.isAllowed("/g/only-for-googlebot"))
  }

  test("robots Sitemap: directives parse outside groups, order-preserving, gating unchanged") {
    import graft.engine.Robots
    val body =
      """Sitemap: http://a.test/first.xml
        |User-agent: *
        |Disallow: /private/
        |sitemap: http://a.test/second.xml  # case-insensitive key, comment stripped
        |User-agent: bot
        |Allow: /
        |SITEMAP: http://a.test/third.xml
        |Sitemap:
        |""".stripMargin
    assert(Robots.sitemaps(body) == Vector(
      "http://a.test/first.xml", "http://a.test/second.xml", "http://a.test/third.xml"))
    // a Sitemap line mid-group must not open/close groups or alter gating
    assert(!Robots.parse(body).isAllowed("/private/x"))
    assert(Robots.parse(body).isAllowed("/public/x"))
    assert(Robots.sitemaps("User-agent: *\nDisallow: /x/\n") == Vector.empty)
    // RFC 9309 other-record non-interference: a Sitemap line BETWEEN
    // consecutive User-agent lines must not split their shared header —
    // both tokens get the group's rules
    val split =
      """User-agent: abot
        |Sitemap: http://a.test/s.xml
        |User-agent: bbot
        |Disallow: /private/
        |""".stripMargin
    assert(!Robots.parseFor(split, "abot").isAllowed("/private/x"),
      "token before the directive must keep the shared group's rules")
    assert(!Robots.parseFor(split, "bbot").isAllowed("/private/x"))
  }

  test("robots REP patterns: * wildcard and $ anchor, longest-match wins") {
    import graft.engine.Robots
    val r = Robots.parse(
      """User-agent: *
        |Disallow: /*.pdf$
        |Disallow: /search*q=
        |Allow: /search*q=safe
        |Disallow: /exact$
        |""".stripMargin)
    assert(!r.isAllowed("/docs/paper.pdf"))
    assert(r.isAllowed("/docs/paper.pdfx"))      // $ anchors the end
    assert(r.isAllowed("/docs/paper.pdf.html"))
    assert(!r.isAllowed("/search/one?q=stuff"))  // * spans segments
    assert(r.isAllowed("/search/one?q=safe"))    // longer Allow wins
    assert(!r.isAllowed("/exact"))
    assert(r.isAllowed("/exactly"))              // anchored ≠ prefix
  }

  test("robots group selection: most specific UA token wins, * is fallback") {
    import graft.engine.Robots
    val body =
      """User-agent: graftbot-images
        |Disallow: /imgonly/
        |Crawl-delay: 4
        |
        |User-agent: graftbot
        |Disallow: /bots/
        |Crawl-delay: 2.5
        |
        |User-agent: *
        |Disallow: /all/
        |""".stripMargin
    val img = Robots.parseFor(body, "graftbot-images")
    assert(!img.isAllowed("/imgonly/x") && img.isAllowed("/bots/x") && img.isAllowed("/all/x"))
    assert(img.crawlDelayMs.contains(4000L))
    val plain = Robots.parseFor(body, "graftbot")
    assert(!plain.isAllowed("/bots/x") && plain.isAllowed("/imgonly/x"))
    assert(plain.crawlDelayMs.contains(2500L))
    val other = Robots.parseFor(body, "otherbot")
    assert(!other.isAllowed("/all/x") && other.isAllowed("/bots/x"))
    assert(other.crawlDelayMs.isEmpty)
  }

  test("robots crawl-delay paces the schedule as a per-host gap floor") {
    import graft.engine.Politeness
    val s = spark
    import s.implicits._
    val df = Seq(
      ("h0.test", "http://h0.test/a", 1L),
      ("h0.test", "http://h0.test/b", 2L),
      ("h0.test", "http://h0.test/c", 3L),
      ("h1.test", "http://h1.test/a", 4L))
      .toDF("host", "url", "url_hash")
    val delays = org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.typedLit(Map("h0.test" -> 2000L)),
      col("host"))
    // engine delay knobs OFF: the crawl-delay alone must activate pacing
    val out = Politeness.schedule(df, Politeness.Config(), Some(delays))
      .select("url", "scheduled_ms").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("http://h0.test/a") == 0L)
    assert(out("http://h0.test/b") == 2000L)
    assert(out("http://h0.test/c") == 4000L)
    assert(out("http://h1.test/a") == 0L)  // no delay declared for h1
    // configured delay above the crawl-delay wins (greatest of the two)
    val out2 = Politeness.schedule(df,
      Politeness.Config(delayMinMs = 3000, delayMaxMs = 3000), Some(delays))
      .select("url", "scheduled_ms").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2("http://h0.test/c") == 6000L)
    assert(out2("http://h1.test/a") == 0L)
  }

  test("ann lsh recall-vs-(bits, tables) curve at bench scale (sf0.1)") {
    // pins the probabilistic contract (recall = 1-(1-p^b)^L, Charikar SRP)
    // at the scale the bench runs, not just the 500-vector law corpus:
    //   - more tables at fixed bits → recall rises (union of buckets),
    //   - more bits at fixed tables → recall falls (narrower buckets —
    //     the selectivity/recall trade the operator exists to expose).
    // Deterministic: seeded hyperplanes, fixed corpus.
    val emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.size == 60)
    def recallAt(bits: Int, tables: Int): Double = {
      val got = Similarity.lshTopK(emb01, bits = bits, tables = tables).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      bf.count(got.contains).toDouble / bf.size
    }
    val r41 = recallAt(4, 1)
    val r44 = recallAt(4, 4)
    val r48 = recallAt(4, 8)
    val r88 = recallAt(8, 8)
    val curve = s"r(4,1)=$r41 r(4,4)=$r44 r(4,8)=$r48 r(8,8)=$r88"
    assert(r44 >= r41 && r48 >= r44, s"recall must rise with tables: $curve")
    assert(r48 >= 0.5, s"bench config (4 bits, 8 tables) floor: $curve")
    assert(r88 <= r48 + 0.02, s"recall must not rise with bits at fixed tables: $curve")
    assert(r48 - r41 >= 0.1, s"the table axis must be load-bearing, not flat: $curve")
  }
}
