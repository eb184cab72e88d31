package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.html.Entities

/** Deterministic synthetic web corpus (FIXTURES.md) with the exact
  * BASELINE.json input_hint shape:
  *
  *   corpus(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
  *
  * Pages are a pure function of the driver-generated `documents` table
  * (doc_id, text, lang) so DuckDB can reconstruct every expected extraction
  * result from the same parquet — the correctness oracle for "byte-identical
  * extracted text per url". Each fixture family mirrors one reference test's
  * DOM shape (cites below; FIXTURES.md table).
  *
  * For document d:
  *   host   = "h{d % 50}.test"
  *   base   = "http://{host}/d{d}"
  *   snip   = substr(text, 1, 40)    (corpus text is ASCII, single-spaced)
  *
  * Families (urls under base):
  *   /list/p{k}.html  k=1..3   list+pagination   (nextpage_test.go:17-39)
  *   /cmt/p{k}.html   k=1..3   xpath comments    (xpath_test.go:18-35)
  *   /cond/p{k}.html  k=1..6   paginate-condition, disabled at k=5 (ctrip_test.go:109-138)
  *   /ifr/p{k}.html   k=1..3   iframe table      (iframe_test.go:15-41)
  *   /xifr/p{k}.html + /xifr/f{k}.html  k=1..2  cross-document iframe
  *                              (iframe_test.go:59-105 suzhou shape)
  *   /more/s{k}.html  k=1..3   load-more cumulative list (scroll_test.go:17-34)
  *   /feed/s{k}.html  k=1..3   tweet-like feed   (scroll_smooth_test.go:16-47)
  *   /dyn/p{k}.html   k=1..3   dynamic paginator (dynamic_nextpagebtn_test.go:36-40)
  *   /ok/b1.html, /blocked/b1.html   robots gating (north-rule addition)
  *   /edge/e1.html              parser leniency + P3/P7/P8 semantics
  *   http://{host}/robots.txt   for hosts of docs d < 50
  *   /sitemap.xml               seed discovery: the doc's 3 list pages
  */
object Fixtures {

  /** The driver's `documents.parquet` (FIXTURES.md), read with its schema
    * given: a schema-less parquet read runs a Spark job to infer it from
    * the file footers, once per read.
    */
  private val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(DocumentsSchema).parquet(s"$sfDir/documents.parquet")

  final case class Doc(doc_id: Long, text: String, lang: String)
  final case class Page(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte], text: String, lang: String)

  def host(d: Long): String = s"h${d % 50}.test"
  def base(d: Long): String = s"http://${host(d)}/d$d"
  def snip(text: String): String = text.substring(0, math.min(40, text.length))

  /** Column twins of [[host]]/[[base]] for DataFrame-native seed builders
    * (no per-row Scala call, no collect): ONE owner of the url layout, so
    * a change to it cannot silently diverge between the Scala-side seed
    * lists and the column-expression ones.
    */
  def hostCol(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, lit}
    concat(lit("h"), docId % 50, lit(".test"))
  }
  def baseCol(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, lit}
    concat(lit("http://"), hostCol(docId), lit("/d"), docId)
  }

  private val epoch = java.time.Instant.parse("2024-01-01T00:00:00Z")

  private def ts(d: Long, idx: Int): java.sql.Timestamp =
    java.sql.Timestamp.from(epoch.plusSeconds(d * 100 + idx))

  def pagesForDoc(doc: Doc): Seq[Page] = {
    val d = doc.doc_id
    val b = base(d)
    val sn = snip(doc.text)
    val snAttr = Entities.encodeAttr(sn)
    val pages = Seq.newBuilder[Page]
    var idx = 0
    def add(url: String, html: String, text: String): Unit = {
      pages += Page(url, ts(d, idx), html.getBytes("UTF-8"), text, doc.lang)
      idx += 1
    }

    // ---- list: CSS scope+attrs, `.next` href paginator, 4 items/page
    for (k <- 1 to 3) {
      val items = (1 to 4).map { i =>
        s"""<li><a class="tit" href="art_${d}_${k}_$i.html" title="$snAttr">Doc $d item $k-$i</a><span class="date">2024-0$k-0$i</span></li>"""
      }.mkString
      val pager = if (k < 3) s"""<div class="pager"><a class="next" href="p${k + 1}.html">下一页</a></div>""" else ""
      add(s"$b/list/p$k.html",
        s"""<html><head><title>list $d $k</title></head><body><ul id="doclist">$items</ul>$pager</body></html>""",
        sn)
    }

    // ---- cmt: xpath scope/leaf, ant-pagination with aria-disabled
    for (k <- 1 to 3) {
      val items = (1 to 3).map { i =>
        s"""<div class="item"><div class="contentInfo"><div class="commentDetail">cmt $d $k-$i $sn</div><div class="commentFooter"><div class="commentTime">2024-0$k-1$i</div></div></div></div>"""
      }.mkString
      val disabled = if (k == 3) "true" else "false"
      add(s"$b/cmt/p$k.html",
        s"""<html><body><div id="commentModule"><div class="commentList">$items</div><div class="myPagination"><ul><li class=" ant-pagination-next" aria-disabled="$disabled"><a href="p${k + 1}.html">next</a></li></ul></div></div></body></html>""",
        sn)
    }

    // ---- cond: CSS pagination gated by GetAttributeValue condition
    for (k <- 1 to 6) {
      val items = (1 to 2).map { i =>
        s"""<li><a class="t" href="c_${d}_${k}_$i.html">Cond $d item $k-$i</a></li>"""
      }.mkString
      val disabled = if (k == 5) "true" else "false"
      add(s"$b/cond/p$k.html",
        s"""<html><body><ul class="cl">$items</ul><a class="nxt" href="p${k + 1}.html" aria-disabled="$disabled">next</a></body></html>""",
        sn)
    }

    // ---- ifr: iframe father scoping (content inlined — static-corpus
    // semantics per SURVEY.md P12)
    for (k <- 1 to 3) {
      val rows = (1 to 3).map { i =>
        s"""<tr><td><a href="arti_${d}_${k}_$i.html" title="IT $d $k-$i">link$i</a></td><td><span>2024-1$k-0$i</span></td></tr>"""
      }.mkString
      val pager = if (k < 3) s"""<a class="next" href="p${k + 1}.html">next</a>""" else ""
      add(s"$b/ifr/p$k.html",
        s"""<html><body><h1>doc $d</h1><iframe id="zp"><table id="tbl">$rows</table></iframe>$pager</body></html>""",
        sn)
    }

    // ---- more: load-more list growing 4 items per "click" (cumulative)
    for (k <- 1 to 3) {
      val items = (1 to 4 * k).map { i =>
        s"""<div class="item"><div class="tit"><a href="m_${d}_$i.html">More $d item $i</a></div><div class="time">t$i</div></div>"""
      }.mkString
      val pager = if (k < 3) s"""<div id="list"><div class="xpage-more-btn look"><a href="s${k + 1}.html">more</a></div></div>""" else ""
      add(s"$b/more/s$k.html",
        s"""<html><body><div id="content-list">$items</div>$pager</body></html>""",
        sn)
    }

    // ---- feed: tweet cards, full re-extract each scroll state, DOM-attr
    // (raw, non-absolutized) reads — C3 divergence surface
    for (k <- 1 to 3) {
      val items = (1 to 2 + k).map { i =>
        s"""<div data-testid="cellInnerDiv"><article data-testid="tweet"><div data-testid="tweetText">Tweet $d no $i</div><a href="/u/status/${d}00$i" class="lnk"><time datetime="2024-03-0${i}T00:00:00Z">Mar $i</time></a><div aria-label="${i * 3} replies, ${i * 5} likes" class="counts"></div></article></div>"""
      }.mkString
      val pager = if (k < 3) s"""<a class="more" href="s${k + 1}.html">more</a>""" else ""
      add(s"$b/feed/s$k.html",
        s"""<html><body>$items$pager</body></html>""",
        sn)
    }

    // ---- dyn: paginator selector templated on current pageNo
    for (k <- 1 to 3) {
      val items = (1 to 2).map { i => s"""<li>Dyn $d $k-$i</li>""" }.mkString
      val pager = if (k < 3) s"""<div class="pager"><a title="goto${k + 1}" href="p${k + 1}.html">next</a></div>""" else ""
      add(s"$b/dyn/p$k.html",
        s"""<html><body><ul class="dl">$items</ul>$pager</body></html>""",
        sn)
    }

    // ---- xifr: CROSS-DOCUMENT iframe — the parent page holds only an
    // <iframe src>, content lives at a separate corpus url that the crawler
    // joins in (iframe_test.go:59-105 suzhou shape; SURVEY.md P12 completed)
    for (k <- 1 to 2) {
      val pager = if (k < 2) s"""<span class="upordown"><a class="nxt" href="p${k + 1}.html">next</a></span>""" else ""
      add(s"$b/xifr/p$k.html",
        s"""<html><body><h1>x $d</h1><iframe id="xf" src="f$k.html"></iframe>$pager</body></html>""",
        sn)
      val rows = (1 to 3).map { i =>
        s"""<tr><td><a href="xart_${d}_${k}_$i.html" title="XD $d $k-$i $snAttr">x$i</a></td><td>2025-0$k-0$i</td></tr>"""
      }.mkString
      add(s"$b/xifr/f$k.html", s"""<form><table><tbody>$rows</tbody></table></form>""", sn)
    }

    // ---- robots gating targets (host-root paths so `Disallow: /blocked/`
    // prefix-matches)
    add(s"http://${host(d)}/ok/d$d.html",
      s"""<html><body><ul class="rl"><li><a class="r" href="r_$d.html">Robot $d ok</a></li></ul></body></html>""", sn)
    add(s"http://${host(d)}/blocked/d$d.html",
      s"""<html><body><ul class="rl"><li><a class="r" href="rb_$d.html">Robot $d blocked</a></li></ul></body></html>""", sn)

    // ---- edge: leniency + zero-drop + empty-record drop + concat-all +
    // entities + unclosed table
    add(s"$b/edge/e1.html",
      s"""<div id=edge><ul class=z><li><p>A$d</p><p>B$d</p><span class="empty"></span></li><li><span class="only-date">2024-01-01</span></li><li><em>nothing relevant</em></li></ul><div class=ent>&lt;x&gt; &amp; &quot;q&quot; &#169;$d</div><table><tr><td>c1</td><td>c2$d</table></div>""",
      sn)

    // ---- sitemap: per-site seed discovery (north-rule frontier seeding);
    // lists the doc's list pages with lastmod metadata
    add(s"$b/sitemap.xml",
      """<?xml version="1.0" encoding="UTF-8"?><urlset>""" +
        (1 to 3).map(k =>
          s"<url><loc>$b/list/p$k.html</loc><lastmod>2024-0$k-01</lastmod></url>").mkString +
        "</urlset>", "")

    // ---- robots.txt, one per host (docs 0..49 own hosts h0..h49)
    if (d < 50) {
      add(s"http://${host(d)}/robots.txt",
        s"User-agent: *\nDisallow: /blocked/\nSitemap: http://${host(d)}/sitemap_index.xml\n", "")
    }

    pages.result()
  }

  /** Hub page: the cross-host link family backing the link-graph and
    * PageRank queries. Doc d's hub links (class="out") to the hub pages of
    * docs (d+1)%N, (d*2+7)%N and (d+N/2)%N — absolute cross-host hrefs —
    * plus its own list page (a self-host edge), so the 50-host graph is
    * strongly connected and every host has out-links (no dangling mass).
    * All four targets are pure doc_id arithmetic the DuckDB oracle mirrors.
    */
  def hubPage(doc: Doc, nDocs: Long): Page = {
    val d = doc.doc_id
    val targets = Seq((d + 1) % nDocs, (d * 2 + 7) % nDocs, (d + nDocs / 2) % nDocs)
    val items = targets.map(e =>
      s"""<li><a class="out" href="${base(e)}/hub/index.html">hub $e</a></li>""").mkString +
      s"""<li><a class="out" href="${base(d)}/list/p1.html">own list</a></li>"""
    Page(s"${base(d)}/hub/index.html", ts(d, 90),
      s"""<html><head><title>hub $d</title></head><body><ul id="hublinks">$items</ul></body></html>"""
        .getBytes("UTF-8"),
      snip(doc.text), doc.lang)
  }

  /** Host-level sitemap index (sitemaps.org `<sitemapindex>` protocol):
    * host h{d}.test (owned by doc d < 50) lists the per-doc sitemaps of
    * every doc on that host — docs d, d+50, d+100, … < N in that order, so
    * the index position is doc/50. Pure arithmetic for the oracle.
    */
  def hostSitemapIndex(doc: Doc, nDocs: Long): Option[Page] =
    if (doc.doc_id >= 50) None
    else Some {
      val entries = (doc.doc_id until nDocs by 50).map(e =>
        s"<sitemap><loc>${base(e)}/sitemap.xml</loc></sitemap>").mkString
      Page(s"http://${host(doc.doc_id)}/sitemap_index.xml", ts(doc.doc_id, 91),
        s"""<?xml version="1.0" encoding="UTF-8"?><sitemapindex>$entries</sitemapindex>"""
          .getBytes("UTF-8"), "", doc.lang)
    }

  private val cache = scala.collection.mutable.Map[String, DataFrame]()

  /** The fixture corpus for an sf dir, cached per session+dir.
    *
    * The cache is SPREAD across the session's cores before materializing:
    * `documents.parquet` is a single small file, so the generating flatMap
    * arrives as ONE input split — without the repartition every downstream
    * consumer that inherits the corpus partitioning (the crawl fetch-join's
    * streamed side, hence parse + extraction of every page of a round) runs
    * in a single task (measured: 0.5–2 s single-task stages per crawl round
    * at sf0.1/local[32], guide §2.5 "input skew: repartition immediately
    * after the read"). Scale-adaptive, not a constant: an input already as
    * parallel as the session keeps its layout, so a real many-split corpus
    * is never re-shuffled. Happens once, at cache build — outside the
    * bench's timed window and invisible to per-query plans.
    */
  def corpus(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    cache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      import spark.implicits._
      val docs = documents(spark, sfDir)
        .selectExpr("doc_id", "text", "lang").as[Doc]
      val n = docs.count()
      val df = docs.flatMap(d =>
        (pagesForDoc(d) :+ hubPage(d, n)) ++ hostSitemapIndex(d, n)).toDF()
      val spread = graft.engine.Layout.spread(df, "url")
      // RDD-level cache (lazyCache), not Dataset.cache: the columnar
      // Dataset cache re-DECODES the html column for all rows on every
      // scan — and the crawl fetch-join scans the whole corpus once per
      // round, so a bench suite pays hundreds of MB of decompress/
      // materialize churn per crawl rep (measured via per-rep allocation
      // counters; this host's slow memory backend makes every collected
      // byte expensive). Cached UnsafeRows are shared live objects: a scan
      // iterates them with ZERO per-row allocation, and only join MATCHES
      // copy bytes onward. Costs ~2x resident bytes vs the compressed
      // columnar form — the right trade on every measured axis here.
      val cached = org.apache.spark.sql.GraftSqlBridge.lazyCache(spread)
      cached.count() // materialize once
      cached
    })
  }

  /** Seed helper: (seed_id, url) per document for a family path. */
  def seeds(spark: SparkSession, sfDir: String, firstUrl: Long => String): Seq[(String, String)] = {
    import spark.implicits._
    documents(spark, sfDir)
      .select("doc_id").as[Long].collect().sorted
      .map(d => (s"d$d", firstUrl(d))).toSeq
  }
}
