package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{CrawlExtractExpression, Job, JsProperty, Selector}

/** Sitemap ingestion — seed discovery for the URL frontier (north-rule
  * "priority frontier" surface; no reference analog — rabida starts from a
  * hand-given Link only).
  *
  * `sitemap.xml` documents ride the same corpus table as pages and flow
  * through the SAME Catalyst extraction expression as HTML scraping: the
  * lenient parser treats `<urlset>/<url>/<loc>` as ordinary elements, so a
  * `urlset > url` scope with `loc`/`lastmod` leaves is exactly a P1/P2
  * extraction — one expression per sitemap, map-local, no driver parsing.
  * Discovered entries carry their sitemap position as `priority` so the
  * frontier can honor the publisher's ordering.
  */
object Sitemaps {

  private val sitemapJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "urlset > url",
      attrs = Some(Map(
        "loc" -> Selector(css = "loc"),
        "lastmod" -> Selector(css = "lastmod")))))

  /** Shared loc resolver: `<loc>` values absolutize against the document
    * that declared them (one definition — the urlset and sitemapindex
    * paths must never diverge on resolution/trim semantics).
    */
  private val resolve = udf { (base: String, loc: String) =>
    if (loc == null) null else graft.urls.Urls.resolve(base, loc.trim)
  }

  /** One row per `<url>` entry of every sitemap.xml document in the
    * corpus: (sitemap_url, pos, url, lastmod). `url` is absolutized against
    * the sitemap's own url (sitemaps must not reference foreign hosts —
    * enforced here as the spec requires).
    */
  def discover(corpus: DataFrame): DataFrame =
    urlsetEntries(corpus.filter(col("url").endsWith("/sitemap.xml")))

  /** `<urlset>` extraction over the GIVEN sitemap documents — url-keyed,
    * no filename convention, so callers that know their sitemap urls some
    * other way (an index entry, a robots.txt declaration) reuse the same
    * extraction instead of re-imposing the /sitemap.xml naming.
    */
  private def urlsetEntries(sitemapDocs: DataFrame): DataFrame = {
    val x = CrawlExtractExpression(col("html"), col("url"), lit(1), lit(0),
      sitemapJob, JsProperty, scroll = false)
    sitemapDocs
      .select(col("url").as("sitemap_url"), x.as("x"))
      .select(col("sitemap_url"), posexplode(col("x.items")).as(Seq("pos", "item")))
      .select(col("sitemap_url"), col("pos"),
        resolve(col("sitemap_url"), col("item.loc")).as("url"),
        col("item.lastmod").as("lastmod"))
      .filter(col("url").isNotNull)
      // same-host discipline (sitemaps.org: a sitemap only applies to urls
      // on its own host)
      .filter(expr("parse_url(sitemap_url, 'HOST') = parse_url(url, 'HOST')"))
  }

  private val indexJob: Job = Job(
    link = "",
    cssSelector = Selector(
      scope = "sitemapindex > sitemap",
      attrs = Some(Map("loc" -> Selector(css = "loc")))))

  /** Sitemap-index recursion (sitemaps.org `<sitemapindex>` files, the
    * layout large sites actually publish): index entries extract through
    * the same expression, then the referenced sitemap documents resolve by
    * joining them back from the corpus — the cross-document join shape the
    * iframe path uses. The refs side is tiny (one row per listed sitemap),
    * so Catalyst broadcasts it; urlset extraction stays map-local.
    * Output: (index_url, sitemap_pos, pos, url, lastmod) — two-level
    * publisher ordering for the frontier's priority column.
    */
  def discoverIndexed(corpus: DataFrame): DataFrame =
    indexEntries(corpus, corpus.filter(col("url").endsWith("/sitemap_index.xml")))

  /** Index recursion over the GIVEN index documents: extract their
    * `<sitemap>` refs, resolve the REFERENCED sitemap documents from the
    * corpus BY URL (a member sitemap may live at any path — the old join
    * against convention-named /sitemap.xml docs silently dropped members
    * at other paths), and run the urlset extraction on exactly those.
    */
  private def indexEntries(corpus: DataFrame, indexDocs: DataFrame): DataFrame = {
    val xi = CrawlExtractExpression(col("html"), col("url"), lit(1), lit(0),
      indexJob, JsProperty, scroll = false)
    val refs = indexDocs
      .select(col("url").as("index_url"), xi.as("x"))
      .select(col("index_url"), posexplode(col("x.items")).as(Seq("sitemap_pos", "item")))
      .select(col("index_url"), col("sitemap_pos"),
        resolve(col("index_url"), col("item.loc")).as("sitemap_url"))
      .filter(col("sitemap_url").isNotNull)
      // same-host discipline applies to index entries too
      .filter(expr("parse_url(index_url, 'HOST') = parse_url(sitemap_url, 'HOST')"))
    val memberDocs = corpus.join(
      broadcast(refs.select(col("sitemap_url").as("url")).distinct()), Seq("url"))
    refs.join(urlsetEntries(memberDocs), Seq("sitemap_url"))
      .select(col("index_url"), col("sitemap_pos"), col("pos"), col("url"), col("lastmod"))
  }

  /** Robots-declared discovery — the sitemaps.org `Sitemap:` directive,
    * the cross-convention channel real crawlers use when a site's sitemap
    * does NOT live at the /sitemap.xml convention: each host's robots.txt
    * names its sitemap documents, and the declared urls resolve through
    * the same index + urlset extraction as [[discoverIndexed]].
    *
    * The robots family is a per-host dimension (tiny next to the page
    * corpus), so the directive extraction is one pass over it and the
    * declared-url side broadcasts into the entry join. Cross-host
    * declarations are legal per the protocol but dropped here — the
    * same same-host trust discipline the rest of the engine applies.
    * Output: (robots_url, index_url, sitemap_pos, pos, url, lastmod).
    */
  def discoverFromRobots(corpus: DataFrame): DataFrame = {
    val declaredOf = udf((html: Array[Byte]) =>
      if (html == null) Seq.empty[String]
      else Robots.sitemaps(new String(html, java.nio.charset.StandardCharsets.UTF_8)))
    val declared = corpus.filter(col("url").endsWith("/robots.txt"))
      .select(col("url").as("robots_url"), explode(declaredOf(col("html"))).as("index_url"))
      .filter(expr("parse_url(robots_url, 'HOST') = parse_url(index_url, 'HOST')"))
      // one winner per declared url: a host serving robots.txt under url
      // VARIANTS (http+https) would otherwise double every discovered row
      // — same min-by determinism as the crawler's robots dimension
      .groupBy("index_url").agg(min(col("robots_url")).as("robots_url"))
    // the declared document may be an INDEX or a plain URLSET (the
    // protocol's common case) at ANY path — resolve it by url and run
    // both extractions; each document matches exactly one of the two
    // scopes, so the union never double-counts
    val declaredDocs = corpus.join(
      broadcast(declared.select(col("index_url").as("url")).distinct()), Seq("url"))
    val entries = indexEntries(corpus, declaredDocs).unionByName(
      urlsetEntries(declaredDocs).select(
        col("sitemap_url").as("index_url"), lit(0).cast("int").as("sitemap_pos"),
        col("pos"), col("url"), col("lastmod")))
    broadcast(declared).join(entries, Seq("index_url"))
      .select(col("robots_url"), col("index_url"), col("sitemap_pos"),
        col("pos"), col("url"), col("lastmod"))
  }
}
