package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.corpus.Fixtures
import graft.css.Css
import graft.extract._
import graft.html.{HElem, Serializer, Text}
import graft.urls.Urls
import graft.xpath.{XPath, XPathAttr}

/** Differential pins for the one-owner page step: `CrawlExtractExpression`
  * over `Extractor.extractPage` / `extractScrollPage` must give the same
  * output struct (items, next_page_url, n_scope, paginate_goon, error) as
  * the composition it replaced, kept below as a test-local reference: the
  * expression computed the items, then a second next-page rule, then
  * resolved the iframe father again for the condition.
  */
class PageStepParitySpec extends AnyFunSuite {

  /** The replaced page step, verbatim in behaviour. */
  object Reference {
    def eval(html: Any, url: String, pageNo: Int, cursor: Int, iframeHtml: Any,
             job: Job, mode: AttrMode, scroll: Boolean): (Vector[XVal], String, Int, Boolean, String) = {
      if (html == null) return (Vector.empty, "", 0, false, "page not found in corpus")
      try {
        val htmlStr = html match {
          case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
          case other          => other.toString
        }
        val doc = Extractor.parseDocument(htmlStr)
        val framed: Option[HElem] =
          if (!job.cssSelector.iframe) None
          else iframeHtml match {
            case null           => None
            case b: Array[Byte] => Some(Extractor.parseDocument(b))
            case other          => Some(Extractor.parseDocument(other.toString))
          }
        val (items, nScope) =
          if (scroll) extractScrollPage(doc, job, url, mode, cursor, framed)
          else (extractPage(doc, job, pageNo, url, mode, framed)._1, 0)
        val nextUrl = nextPageUrl(doc, job, pageNo, url, mode)
        val condCtx = Extractor.iframeFather(doc, job.cssSelector).getOrElse(doc)
        val goon =
          try execEventCondition(condCtx, job.paginatorCondition)
          catch { case _: Exception => false }
        val abs = if (nextUrl.nonEmpty) Urls.resolve(url, nextUrl) else ""
        (items, abs, nScope, goon, null)
      } catch {
        case e: Exception => (Vector.empty, "", 0, false, Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      }
    }

    def resolveIframeContext(doc: HElem, sel: Selector, framed: Option[HElem]): Option[HElem] =
      Extractor.iframeFather(doc, sel) match {
        case Some(el) if framed.isDefined && !el.children.exists(_.isInstanceOf[HElem]) => framed
        case other => other
      }

    def extractPage(doc: HElem, job: Job, pageNo: Int, baseUrl: String, mode: AttrMode,
                    framed: Option[HElem]): (Vector[XVal], String) = {
      val father = resolveIframeContext(doc, job.cssSelector, framed)
      val p = job.resolvedPaginator(pageNo)
      if (job.cssSelector.isXpath) {
        val ctx = father.getOrElse(doc)
        val items = populateX(job.cssSelector, ctx)
        val nextUrl =
          if (p.xpath.nonEmpty) tryOrEmpty(XPathAttr.findOne(ctx, p.xpath))
          else ""
        (items, nextUrl)
      } else {
        val items = populate(father.orNull, job.cssSelector, doc, baseUrl, mode)
        val nextUrl =
          if (p.css.nonEmpty && p.attr.nonEmpty)
            Css.selectFirst(doc, p.css).map(e => Extractor.readAttr(e, p.attr, baseUrl, mode)).getOrElse("")
          else ""
        (items, nextUrl)
      }
    }

    def extractScrollPage(doc: HElem, job: Job, baseUrl: String, mode: AttrMode, cursor: Int,
                          framed: Option[HElem]): (Vector[XVal], Int) = {
      val sel0 = job.cssSelector
      val sel =
        if (cursor <= 0) sel0
        else if (sel0.scope.nonEmpty) sel0.copy(scope = s"${sel0.scope}:nth-child(n+${cursor + 1})")
        else if (sel0.xpathScope.nonEmpty) sel0.copy(xpathScope = XPathAttr.cursorScopeByPosition(sel0.xpathScope, cursor + 1))
        else sel0
      val father = resolveIframeContext(doc, sel, framed)
      if (sel.isXpath) {
        val ctx = father.getOrElse(doc)
        val scopeNodes =
          if (sel.xpathScope.nonEmpty) XPath.find(ctx, sel.xpathScope).collect { case e: HElem => e }
          else Vector(ctx)
        (populateX(sel, ctx), scopeNodes.length)
      } else {
        val scope = effectiveScope(sel, father.orNull)
        val ctx = father.getOrElse(doc)
        val nodes = if (scope.nonEmpty) tryCss(ctx, scope) else Vector(ctx)
        (populate(father.orNull, sel, doc, baseUrl, mode), nodes.length)
      }
    }

    def effectiveScope(sel: Selector, father: HElem): String =
      if (sel.scope.isEmpty && father == null) "html" else sel.scope

    def tryCss(ctx: HElem, selector: String): Vector[HElem] =
      try Css.selectAll(ctx, selector)
      catch { case _: Css.CssParseException => Vector.empty }

    def tryCssFirst(ctx: HElem, selector: String): Option[HElem] =
      try Css.selectFirst(ctx, selector)
      catch { case _: Css.CssParseException => None }

    def tryOrEmpty(f: => String): String =
      try f catch { case _: Exception => "" }

    def populate(father: HElem, sel: Selector, doc: HElem, baseUrl: String, mode: AttrMode): Vector[XVal] = {
      val scope = effectiveScope(sel, father)
      val ctx = if (father != null) father else doc
      val nodes: Vector[HElem] =
        if (scope.nonEmpty) tryCss(ctx, scope)
        else Vector(father)
      val out = Vector.newBuilder[XVal]
      nodes.foreach { node =>
        sel.attrs match {
          case None =>
            val value = leafValue(node, sel, baseUrl, mode)
            if (value.nonEmpty) out += XStr(value)
          case Some(attrMap) =>
            val data = scala.collection.mutable.Map[String, XVal]()
            attrMap.foreach { case (attrName, sub) =>
              val result = populate(node, sub, doc, baseUrl, mode)
              if (result.nonEmpty) {
                if (sub.scope.isEmpty) data(attrName) = result.head
                else data(attrName) = XList(result)
              }
            }
            if (data.nonEmpty) out += XRec(data.toMap)
        }
      }
      out.result()
    }

    def leafValue(node: HElem, sel: Selector, baseUrl: String, mode: AttrMode): String = {
      if (sel.attr.isEmpty) {
        if (sel.css.isEmpty) Text.innerText(node)
        else tryCss(node, sel.css).map(Text.innerText).mkString("")
      } else {
        if (sel.css.isEmpty) {
          sel.attr match {
            case "outerHTML" => Serializer.outerHtml(node)
            case "innerHTML" => Serializer.innerHtml(node)
            case "node"      => Serializer.outerHtml(node)
            case a           => Extractor.readAttr(node, a, baseUrl, mode)
          }
        } else {
          sel.attr match {
            case "outerHTML" => tryCssFirst(node, sel.css).map(Serializer.outerHtml).getOrElse("")
            case "innerHTML" => tryCssFirst(node, sel.css).map(Serializer.innerHtml).getOrElse("")
            case "innerText" => tryCss(node, sel.css).map(Text.innerText).mkString("")
            case "node"      => tryCssFirst(node, sel.css).map(Serializer.outerHtml).getOrElse("")
            case a           => tryCssFirst(node, sel.css).map(Extractor.readAttr(_, a, baseUrl, mode)).getOrElse("")
          }
        }
      }
    }

    def populateX(sel: Selector, node: HElem): Vector[XVal] = {
      if (sel.xpathScope.nonEmpty) {
        val nodes = XPath.find(node, sel.xpathScope).collect { case e: HElem => e }
        nodes.flatMap(n => recursivePopulateX(sel, n))
      } else recursivePopulateX(sel, node)
    }

    def recursivePopulateX(sel: Selector, node: HElem): Vector[XVal] = {
      sel.attrs match {
        case None =>
          val value = retrieveByXpath(sel, node)
          if (value.nonEmpty) Vector(XStr(value)) else Vector.empty
        case Some(attrMap) =>
          val data = scala.collection.mutable.Map[String, XVal]()
          attrMap.foreach { case (attrName, sub) =>
            val result = populateX(sub, node)
            if (result.nonEmpty) {
              if (sub.xpathScope.isEmpty) data(attrName) = result.head
              else data(attrName) = XList(result)
            }
          }
          if (data.nonEmpty) Vector(XRec(data.toMap)) else Vector.empty
      }
    }

    def retrieveByXpath(sel: Selector, node: HElem): String = {
      if (sel.xpathScope.nonEmpty) {
        val nodes = XPath.find(node, sel.xpathScope).collect { case e: HElem => e }
        nodes.map(n => XPathAttr.findOne(n, sel.xpath)).mkString("")
      } else XPathAttr.findOne(node, sel.xpath)
    }

    def execEventCondition(ctx: HElem, condition: Option[Condition]): Boolean =
      condition match {
        case None                       => true
        case Some(c) if c.value.isEmpty => true
        case Some(c) =>
          c.execType match {
            case TextEvent =>
              val q = c.execSelector.cssOrXpath
              val text = Css.selectFirst(ctx, q).map(Text.innerText).getOrElse {
                throw new NoSuchElementException(s"condition css err: $q")
              }
              c.checkFunc(text, c.value)
            case GetAttributeValueEvent =>
              val text = Css.selectFirst(ctx, c.execSelector.css)
                .flatMap(_.attr(c.execSelector.attr)).getOrElse {
                  if (Css.selectFirst(ctx, c.execSelector.css).isDefined) ""
                  else throw new NoSuchElementException(s"condition css: ${c.execSelector.css}")
                }
              c.checkFunc(text, c.value)
            case _ => true
          }
      }

    def nextPageUrl(doc: HElem, job: Job, pageNo: Int, baseUrl: String, mode: AttrMode): String = {
      val p0 = job.resolvedPaginator(pageNo)
      val p = if (p0.xpath.isEmpty && p0.css.startsWith("/")) p0.copy(xpath = p0.css, css = "") else p0
      if (p.xpath.nonEmpty) {
        if (XPathAttr.isAttrPath(p.xpath))
          try XPathAttr.findOne(doc, p.xpath) catch { case _: Exception => "" }
        else XPath.find(doc, p.xpath).collectFirst { case e: HElem => e }.map(clickTargetHref).getOrElse("")
      } else if (p.css.nonEmpty) {
        if (p.attr.nonEmpty) Css.selectFirst(doc, p.css).map(Extractor.readAttr(_, p.attr, baseUrl, mode)).getOrElse("")
        else Css.selectFirst(doc, p.css).map(clickTargetHref).getOrElse("")
      } else ""
    }

    def clickTargetHref(e: HElem): String =
      e.attr("href").orElse {
        e.selfAndDescendants.collectFirst {
          case d if d.attrRaw("href") != null => d.attrRaw("href")
        }
      }.getOrElse("")
  }

  final case class Case(what: String, html: Any, url: String, job: Job, mode: AttrMode = JsProperty,
                        scroll: Boolean = false, pageNo: Int = 1, cursor: Int = 0, iframeHtml: Any = null)

  private def lit(v: Any) = v match {
    case null           => Literal(null, BinaryType)
    case b: Array[Byte] => Literal(b, BinaryType)
    case s: String      => Literal(UTF8String.fromString(s), StringType)
  }

  /** Both steps' output structs as external rows: (new, reference). */
  private def outputs(c: Case): (Row, Row) = {
    val x = CrawlExtractExpression(lit(c.html), Literal(UTF8String.fromString(c.url), StringType),
      Literal(c.pageNo, IntegerType), Literal(c.cursor, IntegerType), lit(c.iframeHtml),
      c.job, c.mode, c.scroll, 0L)
    val toRow = CatalystTypeConverters.createToScalaConverter(x.dataType)
    val (items, next, nScope, goon, err) =
      Reference.eval(c.html, c.url, c.pageNo, c.cursor, c.iframeHtml, c.job, c.mode, c.scroll)
    val want = new GenericInternalRow(Array[Any](Extractor.itemsToCatalyst(items, x.itemType),
      UTF8String.fromString(next), nScope, goon, if (err == null) null else UTF8String.fromString(err)))
    (toRow(x.eval(null)).asInstanceOf[Row], toRow(want).asInstanceOf[Row])
  }

  private def assertSame(cases: Seq[Case]): Unit =
    cases.foreach { c =>
      val (got, want) = outputs(c)
      assert(got == want, s"${c.what} (${c.url}, page ${c.pageNo}, cursor ${c.cursor}, scroll ${c.scroll})")
    }

  private val docs = Seq(0L, 7L, 50L, 123L).map(d =>
    Fixtures.Doc(d, s"doc $d alpha beta gamma delta epsilon zeta eta theta iota", if (d % 2 == 0) "en" else "zh"))
  private val pages = docs.flatMap(d => Fixtures.pagesForDoc(d) :+ Fixtures.hubPage(d, 200L))
  private val byUrl = pages.map(p => p.url -> p.html).toMap

  /** The framed page a cross-document iframe page points at (`pK` → `fK`). */
  private def framedOf(url: String): Array[Byte] =
    byUrl.getOrElse(url.replaceAll("/p(\\d)\\.html$", "/f$1.html"), null)

  test("fixture pages: moreJob scrolled at cursors 0, 4 and 8") {
    assertSame(for (p <- pages; k <- Seq(0, 4, 8))
      yield Case("more", p.html, p.url, CrawlQueries.moreJob, scroll = true, cursor = k))
  }

  test("fixture pages: feedJob in DomAttribute mode, paginated and scrolled") {
    assertSame(for (p <- pages; scroll <- Seq(false, true))
      yield Case("feed", p.html, p.url, CrawlQueries.feedJob, DomAttribute, scroll = scroll))
  }

  test("fixture pages: dynJob at pages 1 to 3") {
    assertSame(for (p <- pages; k <- 1 to 3)
      yield Case("dyn", p.html, p.url, CrawlQueries.dynJob, pageNo = k))
  }

  test("fixture pages: xifrJob with its framed page, and without") {
    assertSame(for (p <- pages; framed <- Seq(framedOf(p.url), null))
      yield Case("xifr", p.html, p.url, CrawlQueries.xifrJob, iframeHtml = framed))
  }

  test("fixture pages: every crawl job, both attribute modes, scrolled at cursors 0 and 3") {
    val jobs = Seq(CrawlQueries.listJob, CrawlQueries.cmtJob, CrawlQueries.condJob, CrawlQueries.ifrJob,
      CrawlQueries.robotsJob, CrawlQueries.edgeJob, CrawlQueries.entitiesJob, CrawlQueries.hubJob)
    assertSame(for (p <- pages; job <- jobs; mode <- Seq(JsProperty, DomAttribute);
                    (scroll, k) <- Seq((false, 0), (true, 0), (true, 3)))
      yield Case("job", p.html, p.url, job, mode, scroll, pageNo = 2, cursor = k))
  }

  private val base = "http://h.test/d/p1.html"
  private val pagerHtml =
    """<html><body><ul class="l"><li>one</li><li data-x="y">two</li></ul>""" +
      """<div class="pg"><span><a href="p2.html">next</a></span></div>""" +
      """<a class="nx" href="/abs/p3.html" aria-disabled="false">n</a><p class="st">more</p></body></html>"""
  private val items = Selector(scope = "ul.l > li", attrs = Some(Map("t" -> Selector(), "x" -> Selector(attr = "data-x"))))
  private def pagerJob(p: Selector, cond: Option[Condition] = None) =
    Job(link = "", cssSelector = items, paginator = p, paginatorCondition = cond)
  private def cond(event: Event, sel: Selector, value: String = "false") =
    Some(Condition(value = value, checkFunc = (t, v) => t == v, execType = event, execSelector = sel))

  test("hand-written: paginator shapes") {
    val xItems = Selector(xpathScope = "//ul[@class='l']/li", attrs = Some(Map("t" -> Selector(xpath = "."))))
    assertSame(Seq(
      Case("no href, descendant a has one", pagerHtml, base, pagerJob(Selector(css = "div.pg"))),
      Case("css written as an xpath", pagerHtml, base, pagerJob(Selector(css = "//div[@class='pg']"))),
      Case("xpath ending in /@href", pagerHtml, base, pagerJob(Selector(xpath = "//a[@class='nx']/@href"))),
      Case("xpath matching nothing", pagerHtml, base, pagerJob(Selector(xpath = "//a[@class='none']"))),
      Case("attr xpath matching nothing", pagerHtml, base, pagerJob(Selector(xpath = "//a[@class='none']/@href"))),
      Case("css + attr", pagerHtml, base, pagerJob(Selector(css = "a.nx", attr = "href"))),
      Case("css + attr, DOM mode", pagerHtml, base, pagerJob(Selector(css = "a.nx", attr = "href")), DomAttribute),
      Case("malformed paginator css", pagerHtml, base, pagerJob(Selector(css = "a[", attr = "href"))),
      Case("xpath items, xpath paginator", pagerHtml, base,
        Job(link = "", cssSelector = xItems, paginator = Selector(xpath = "//div[@class='pg']"))),
      Case("xpath items, css paginator", pagerHtml, base,
        Job(link = "", cssSelector = xItems, paginator = Selector(css = "a.nx", attr = "href"))),
      Case("xpath items, text xpath paginator", pagerHtml, base,
        Job(link = "", cssSelector = xItems, paginator = Selector(xpath = "//p[@class='st']"))),
      Case("xpath items scrolled", pagerHtml, base,
        Job(link = "", cssSelector = xItems, paginator = Selector(xpath = "//a/@href")), scroll = true, cursor = 1)
    ))
  }

  test("hand-written: malformed scope and leaf selectors") {
    assertSame(for (scroll <- Seq(false, true); sel <- Seq(
      Selector(scope = "ul >", attrs = Some(Map("t" -> Selector()))),
      Selector(scope = "li[", attrs = Some(Map("t" -> Selector()))),
      Selector(scope = "ul.l > li", attrs = Some(Map("t" -> Selector(css = "b[")))),
      Selector(scope = "ul.l", attrs = Some(Map("t" -> Selector(scope = "li:nope")))),
      Selector(css = "li::")))
      yield Case("malformed", pagerHtml, base, Job(link = "", cssSelector = sel), scroll = scroll, cursor = 1))
  }

  test("hand-written: paginate conditions") {
    val p = Selector(css = "a.nx", attr = "href")
    assertSame(Seq(
      Case("attr present", pagerHtml, base,
        pagerJob(p, cond(GetAttributeValueEvent, Selector(css = "a.nx", attr = "aria-disabled")))),
      Case("attr absent", pagerHtml, base,
        pagerJob(p, cond(GetAttributeValueEvent, Selector(css = "a.nx", attr = "data-none"), value = "x"))),
      Case("attr absent, empty expected", pagerHtml, base,
        pagerJob(p, Some(Condition("x", (t, _) => t.isEmpty, GetAttributeValueEvent, Selector(css = "a.nx", attr = "data-none"))))),
      Case("attr on a missing element", pagerHtml, base,
        pagerJob(p, cond(GetAttributeValueEvent, Selector(css = "a.missing", attr = "aria-disabled")))),
      Case("malformed attr condition css", pagerHtml, base,
        pagerJob(p, cond(GetAttributeValueEvent, Selector(css = "a[", attr = "aria-disabled")))),
      Case("text present", pagerHtml, base, pagerJob(p, cond(TextEvent, Selector(css = "p.st"), value = "more"))),
      Case("text on a missing element", pagerHtml, base, pagerJob(p, cond(TextEvent, Selector(css = "p.none")))),
      Case("empty condition value", pagerHtml, base, pagerJob(p, cond(TextEvent, Selector(css = "p.none"), value = "")))
    ))
  }

  test("hand-written: iframes and null html") {
    val inlined = """<html><body><iframe id="f"><ul class="l"><li>in</li></ul><a class="nx" href="i2.html">n</a></iframe>""" +
      """<ul class="l"><li>out</li></ul></body></html>"""
    val srcOnly = """<html><body><iframe id="f" src="f1.html"></iframe><a class="nx" href="p2.html" aria-disabled="false">n</a></body></html>"""
    val framed = """<ul class="l"><li>framed</li></ul><a class="nx" href="fr2.html" aria-disabled="false">n</a>"""
    val ifr = Selector(iframe = true, iframeSelector = Some(Selector(css = "#f")), scope = "ul.l > li",
      attrs = Some(Map("t" -> Selector())))
    val xifr = ifr.copy(iframeSelector = Some(Selector(xpath = "//iframe[@id='f']")))
    val noSel = ifr.copy(iframeSelector = None)
    val c = cond(GetAttributeValueEvent, Selector(css = "a.nx", attr = "aria-disabled"))
    val p = Selector(css = "a.nx", attr = "href")
    assertSame(for (sel <- Seq(ifr, xifr, noSel, ifr.copy(scope = "")); html <- Seq(inlined, srcOnly);
                    fr <- Seq(framed.getBytes("UTF-8"), null); scroll <- Seq(false, true))
      yield Case("iframe", html, base, Job(link = "", cssSelector = sel, paginator = p, paginatorCondition = c),
        scroll = scroll, cursor = 0, iframeHtml = fr))
    assertSame(Seq(
      Case("null html", null, base, CrawlQueries.listJob),
      Case("null html, scrolled", null, base, CrawlQueries.moreJob, scroll = true, cursor = 4)))
  }

  test("the one input where the outputs differ: a css job whose paginator css is an xpath with an attr") {
    // The replaced step also ran a css-only next-page read whose result was
    // discarded; on an xpath in the css field it threw, turning the page
    // into an error row. The crawl's next-page rule reads that field as an
    // xpath, so the page now extracts and follows the link.
    val (got, want) = outputs(Case("xpath in css with attr", pagerHtml, base,
      pagerJob(Selector(css = "//a[@class='nx']", attr = "href"))))
    assert(want.getString(4) != null && want.getSeq[Row](0).isEmpty)
    assert(got.getString(4) == null)
    assert(got.getString(1) == "http://h.test/abs/p3.html")
    assert(got.getSeq[Row](0).map(_.getString(0)) == Seq("one", "two"))
  }
}
