package graft.extract

import graft.html._
import graft.css.Css
import graft.xpath.{XPath, XPathAttr}
import graft.urls.Urls

/** Dynamic extracted values — the Scala image of the reference's
  * `[]interface{}` of string | map[string]interface{} | nested lists
  * (`/root/reference/svcimpl.go:690-798`).
  */
sealed trait XVal extends Serializable
final case class XStr(s: String) extends XVal
final case class XRec(fields: Map[String, XVal]) extends XVal
final case class XList(items: Vector[XVal]) extends XVal

/** Selector-tree evaluator over one parsed page. Pure function of
  * (html, url, selector, mode): re-expresses the reference's imperative
  * CDP-round-trip loops (`svcimpl.go:690-848`) as a single in-memory tree
  * walk — one parse per page, invoked once per row from the extraction
  * expression (SURVEY.md §1.2 "row vs columnar").
  *
  * Semantics matrix reproduced exactly (SURVEY.md §2.2):
  *   P1 scope select-all (default "html" at top), P2 innerText(self),
  *   P3 concat-all innerText over Css matches, P4 JS-property attr of first
  *   match (href/src absolutized) vs C3 raw DOM attr in smooth mode,
  *   P5 outerHTML/innerHTML, P6 `node` handle → serialized element,
  *   P7 zero-value drop, P8 record assembly + empty-record drop,
  *   P9-P11 xpath scope/leaf/concat, P12 iframe father scoping.
  */
object Extractor {

  /** Parse page bytes into a #document-rooted tree (so `scope="html"` and
    * absolute xpaths resolve like Chrome's document).
    */
  def parseDocument(html: String): HElem = {
    val root = HtmlParser.parse(html)
    val doc = HElem("#document")
    doc.append(root)
    doc
  }

  def parseDocument(html: Array[Byte]): HElem =
    parseDocument(new String(html, java.nio.charset.StandardCharsets.UTF_8))

  /** `svcimpl.go:638-656` iframe: resolve the father node. On a static
    * corpus the iframe subtree is either inlined (SURVEY.md P12) or, for a
    * cross-document iframe (`src` pointing at another corpus url), the
    * framed page is joined in by the crawler and its parsed document
    * replaces the empty iframe element as the extraction context (see
    * [[extractPage]]).
    */
  def iframeFather(doc: HElem, sel: Selector): Option[HElem] =
    if (!sel.iframe) None
    else sel.iframeSelector match {
      case Some(isel) =>
        val q = isel.cssOrXpath
        if (q.startsWith("/")) XPath.find(doc, q).collectFirst { case e: HElem => e }
        else Css.selectFirst(doc, q)
      case None => Css.selectFirst(doc, "iframe")
    }

  /** The cross-document iframe rule: a matched iframe with no element
    * children is followed through its `src`, and the framed page stands in
    * for its content. The crawler joins that page in; [[extractPage]]
    * scopes into it.
    */
  def followsSrc(iframe: HElem): Boolean = !iframe.children.exists(_.isInstanceOf[HElem])

  /** One page's crawl step: the extracted items in document order, the
    * next-page url as the page writes it ("" if none; the caller resolves
    * it against the page url), the scope-node count (the scroll cursor's
    * step; 0 on a paginated page) and the paginate condition's verdict.
    */
  final case class PageStep(items: Vector[XVal], nextUrl: String, nScope: Int, goon: Boolean)

  /** The crawl step for one paginated page: the body of `r.extract`
    * (`svcimpl.go:850-888`) minus browser plumbing, plus the next-page link
    * of [[nextPageUrl]] and the last-page guard L3 (`svcimpl.go:442-447,
    * 589-599`). `framed` is the framed page the crawler joined in for a
    * cross-document iframe.
    */
  def extractPage(doc: HElem, job: Job, pageNo: Int, baseUrl: String, mode: AttrMode,
                  framed: Option[HElem] = None): PageStep =
    step(doc, job, job.cssSelector, pageNo, baseUrl, mode, framed, scroll = false)

  /** The crawl step for one scroll state: the cursor rewrite
    * (`svcimpl_scroll.go:363-372`; css scope → `orig:nth-child(n+cursor+1)`,
    * xpath scope → CursorScopeByPosition), then the same step as
    * [[extractPage]], whose `nScope` counts the scope nodes matched this
    * round (`svcimpl_scroll.go:430-448`); the caller adds the old cursor
    * (`svcimpl_scroll.go:426`).
    */
  def extractScrollPage(doc: HElem, job: Job, baseUrl: String, mode: AttrMode, cursor: Int,
                        framed: Option[HElem] = None, pageNo: Int = 1): PageStep = {
    val sel0 = job.cssSelector
    val sel =
      if (cursor <= 0) sel0
      else if (sel0.scope.nonEmpty) sel0.copy(scope = s"${sel0.scope}:nth-child(n+${cursor + 1})")
      else if (sel0.xpathScope.nonEmpty) sel0.copy(xpathScope = XPathAttr.cursorScopeByPosition(sel0.xpathScope, cursor + 1))
      else sel0
    step(doc, job, sel, pageNo, baseUrl, mode, framed, scroll = true)
  }

  private def step(doc: HElem, job: Job, sel: Selector, pageNo: Int, baseUrl: String, mode: AttrMode,
                   framed: Option[HElem], scroll: Boolean): PageStep = {
    // The iframe father, resolved once. The condition reads it (or the
    // document). The items read the framed DOCUMENT instead when the matched
    // iframe follows its src and the crawler supplied the framed page
    // (chromedp switches into the frame's own document, `svcimpl.go:638-656`,
    // so scopes like `body > form > table` resolve as inside the live frame).
    val father = iframeFather(doc, sel)
    val itemsFather = father match {
      case Some(el) if framed.isDefined && followsSrc(el) => framed
      case other => other
    }
    val (items, nScope) =
      if (sel.isXpath) {
        // xpath path works on the (possibly iframe-scoped) document snapshot
        val nodes = xpathScopeNodes(sel, itemsFather.getOrElse(doc))
        (nodes.flatMap(recursivePopulateX(sel, _)), nodes.length)
      } else {
        val nodes = scopeNodes(itemsFather.orNull, sel, doc)
        (populateNodes(nodes, sel, doc, baseUrl, mode), nodes.length)
      }
    val nextUrl = nextPageUrl(doc, job, pageNo, baseUrl, mode)
    val goon =
      try execEventCondition(father.getOrElse(doc), job.paginatorCondition)
      catch { case _: Exception => false }
    PageStep(items, nextUrl, if (scroll) nScope else 0, goon)
  }

  /** Pagination-link discovery (L4/L6, SURVEY.md §2.3).
    *
    * The reference has two mechanisms: (a) `nextPageUrl` *extraction* —
    * xpath `FindOne(doc, p.Xpath)`, or css only when BOTH `Paginator.Css`
    * and `Paginator.Attr` are set (`svcimpl.go:872-885`); and (b) the
    * actual *navigation* — a JS click on the first node matching the
    * paginator (`svcimpl.go:449-465`). On a static corpus the click's
    * target URL is the matched element's `href` (or its first descendant
    * `a[href]`'s — the common `<li><a href>` pattern); click-without-href
    * JS pagination is inherently dynamic and yields "" (flagged via the
    * empty successor, SURVEY.md L4).
    */
  private def nextPageUrl(doc: HElem, job: Job, pageNo: Int, baseUrl: String, mode: AttrMode): String = {
    val p0 = job.resolvedPaginator(pageNo)
    // the reference's click resolves via chromedp.BySearch, which accepts an
    // xpath in the Css field too (`iframe_test.go:79` does exactly that) —
    // dispatch on the leading '/'
    val p = if (p0.xpath.isEmpty && p0.css.startsWith("/")) p0.copy(xpath = p0.css, css = "") else p0
    if (p.xpath.nonEmpty) {
      if (XPathAttr.isAttrPath(p.xpath))
        try XPathAttr.findOne(doc, p.xpath) catch { case _: Exception => "" }
      else XPath.find(doc, p.xpath).collectFirst { case e: HElem => e }.map(clickTargetHref).getOrElse("")
    } else if (p.css.nonEmpty) {
      if (p.attr.nonEmpty) Css.selectFirst(doc, p.css).map(readAttr(_, p.attr, baseUrl, mode)).getOrElse("")
      else Css.selectFirst(doc, p.css).map(clickTargetHref).getOrElse("")
    } else ""
  }

  private def clickTargetHref(e: HElem): String =
    e.attr("href").orElse {
      e.selfAndDescendants.collectFirst {
        case d if d.attrRaw("href") != null => d.attrRaw("href")
      }
    }.getOrElse("")

  private def tryCss(ctx: HElem, selector: String): Vector[HElem] =
    try Css.selectAll(ctx, selector)
    catch { case _: Css.CssParseException => Vector.empty } // scope err logged + empty (svcimpl.go:701)

  private def tryCssFirst(ctx: HElem, selector: String): Option[HElem] =
    try Css.selectFirst(ctx, selector)
    catch { case _: Css.CssParseException => None }

  /** P8 record assembly (`svcimpl.go:779-795`, `:813-836`): one field per
    * sub-selector that yields anything — its first value, or the whole list
    * when `scoped(sub)` — and no record when none does.
    */
  private def record(attrMap: Map[String, Selector], scoped: Selector => Boolean)
                    (values: Selector => Vector[XVal]): Option[XRec] = {
    val data = scala.collection.mutable.Map[String, XVal]()
    attrMap.foreach { case (attrName, sub) =>
      val result = values(sub)
      if (result.nonEmpty) data(attrName) = if (scoped(sub)) XList(result) else result.head
    }
    if (data.nonEmpty) Some(XRec(data.toMap)) else None
  }

  // ------------------------------------------------------------- CSS path

  /** `svcimpl.go:690-798` populate. `father == null` ⇒ document context with
    * default scope "html".
    */
  def populate(father: HElem, sel: Selector, doc: HElem, baseUrl: String, mode: AttrMode): Vector[XVal] =
    populateNodes(scopeNodes(father, sel, doc), sel, doc, baseUrl, mode)

  /** The nodes `sel` reads: its scope's matches under `father` (under `doc`
    * with default scope "html" when `father == null`), or `father` itself
    * when the selector has no scope.
    */
  private def scopeNodes(father: HElem, sel: Selector, doc: HElem): Vector[HElem] =
    if (father == null) tryCss(doc, if (sel.scope.isEmpty) "html" else sel.scope)
    else if (sel.scope.nonEmpty) tryCss(father, sel.scope)
    else Vector(father)

  private def populateNodes(nodes: Vector[HElem], sel: Selector, doc: HElem, baseUrl: String,
                            mode: AttrMode): Vector[XVal] = {
    val out = Vector.newBuilder[XVal]
    nodes.foreach { node =>
      sel.attrs match {
        case None =>
          // `Before` events are DOM-mutating → static no-op (SURVEY.md P13);
          // their conditions are evaluated for lineage-parity only.
          val value = leafValue(node, sel, baseUrl, mode)
          // P7 zero-value drop (`svcimpl.go:775-777`)
          if (value.nonEmpty) out += XStr(value)
        case Some(attrMap) =>
          record(attrMap, _.scope.nonEmpty)(populate(node, _, doc, baseUrl, mode)).foreach(out += _)
      }
    }
    out.result()
  }

  /** Leaf read: the attr/css dispatch of `svcimpl.go:718-774`. */
  private def leafValue(node: HElem, sel: Selector, baseUrl: String, mode: AttrMode): String = {
    if (sel.attr.isEmpty) {
      if (sel.css.isEmpty) Text.innerText(node) // P2
      else {
        // P3: concat innerText over ALL matches, document order
        tryCss(node, sel.css).map(Text.innerText).mkString("")
      }
    } else {
      if (sel.css.isEmpty) {
        sel.attr match {
          case "outerHTML" => Serializer.outerHtml(node)
          case "innerHTML" => Serializer.innerHtml(node)
          case "node"      => Serializer.outerHtml(node) // P6: static stand-in for *cdp.Node
          case a           => readAttr(node, a, baseUrl, mode)
        }
      } else {
        // first-match semantics short-circuit the CSS walk (selectFirst)
        // instead of materializing every match
        sel.attr match {
          case "outerHTML" => tryCssFirst(node, sel.css).map(Serializer.outerHtml).getOrElse("")
          case "innerHTML" => tryCssFirst(node, sel.css).map(Serializer.innerHtml).getOrElse("")
          case "innerText" => tryCss(node, sel.css).map(Text.innerText).mkString("")
          case "node"      => tryCssFirst(node, sel.css).map(Serializer.outerHtml).getOrElse("")
          case a           => tryCssFirst(node, sel.css).map(readAttr(_, a, baseUrl, mode)).getOrElse("")
        }
      }
    }
  }

  /** JS-property vs raw-DOM-attribute read (C3). In JsProperty mode href/src
    * come back absolutized (what `JavascriptAttribute` observes in Chrome);
    * innerText reads the rendered text property.
    */
  def readAttr(e: HElem, attr: String, baseUrl: String, mode: AttrMode): String = mode match {
    case DomAttribute => e.attr(attr).getOrElse("")
    case JsProperty =>
      attr match {
        case "innerText"          => Text.innerText(e)
        case "textContent"        => Text.rawText(e)
        case "href" | "src"       => e.attr(attr).map(Urls.resolve(baseUrl, _)).getOrElse("")
        case a                    => e.attr(a).getOrElse("")
      }
  }

  // ----------------------------------------------------------- XPath path

  /** `svcimpl.go:800-811` populateX. */
  def populateX(sel: Selector, node: HElem): Vector[XVal] =
    if (sel.xpathScope.nonEmpty) xpathScopeNodes(sel, node).flatMap(recursivePopulateX(sel, _))
    else recursivePopulateX(sel, node)

  private def xpathScopeNodes(sel: Selector, node: HElem): Vector[HElem] =
    if (sel.xpathScope.nonEmpty) XPath.find(node, sel.xpathScope).collect { case e: HElem => e }
    else Vector(node)

  /** `svcimpl.go:813-836` recursivePopulateX. */
  private def recursivePopulateX(sel: Selector, node: HElem): Vector[XVal] =
    sel.attrs match {
      case None =>
        val value = retrieveByXpath(sel, node)
        if (value.nonEmpty) Vector(XStr(value)) else Vector.empty
      case Some(attrMap) =>
        record(attrMap, _.xpathScope.nonEmpty)(populateX(_, node)).toVector
    }

  /** `svcimpl.go:838-848` retrieveByXpath — note the deliberate re-application
    * of XpathScope beneath each scope node, faithful to the reference.
    */
  private def retrieveByXpath(sel: Selector, node: HElem): String =
    if (sel.xpathScope.nonEmpty)
      xpathScopeNodes(sel, node).map(n => XPathAttr.findOne(n, sel.xpath)).mkString("")
    else XPathAttr.findOne(node, sel.xpath)

  // ------------------------------------------------------------ condition

  /** `svcimpl.go:601-630` ExecEventCondition: nil/empty-value condition ⇒
    * true; TextEvent reads innerText of first match; GetAttributeValueEvent
    * reads the raw DOM attribute; then the user CheckFunc decides.
    */
  def execEventCondition(ctx: HElem, condition: Option[Condition]): Boolean =
    condition match {
      case None                          => true
      case Some(c) if c.value.isEmpty    => true
      case Some(c) =>
        c.execType match {
          case TextEvent =>
            val q = c.execSelector.cssOrXpath
            val text = Css.selectFirst(ctx, q).map(Text.innerText).getOrElse {
              throw new NoSuchElementException(s"condition css err: $q")
            }
            c.checkFunc(text, c.value)
          case GetAttributeValueEvent =>
            val el = Css.selectFirst(ctx, c.execSelector.css).getOrElse {
              throw new NoSuchElementException(s"condition css: ${c.execSelector.css}")
            }
            // AttributeValue on a found node with absent attr yields ""
            c.checkFunc(el.attr(c.execSelector.attr).getOrElse(""), c.value)
          case _ => true
        }
    }

  // ----------------------------------------------------- catalyst bridge

  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  /** Convert an XVal to the Catalyst value of the compiled type. */
  def toCatalyst(v: XVal, dt: DataType): Any = (v, dt) match {
    case (XStr(s), StringType) => UTF8String.fromString(s)
    case (XRec(fields), st: StructType) =>
      val arr = new Array[Any](st.fields.length)
      var i = 0
      st.fields.foreach { f =>
        arr(i) = fields.get(f.name) match {
          case Some(fv) => toCatalyst(fv, f.dataType)
          case None     => null
        }
        i += 1
      }
      new GenericInternalRow(arr)
    case (XList(items), ArrayType(et, _)) =>
      new GenericArrayData(items.map(toCatalyst(_, et)).toArray)
    // a scalar landing where a list is expected (scope present but single
    // value semantics) — wrap; and vice versa take head
    case (x, ArrayType(et, _))    => new GenericArrayData(Array(toCatalyst(x, et)))
    case (XList(items), et)       => items.headOption.map(toCatalyst(_, et)).orNull
    case (XRec(_), StringType)    => null
    case (XStr(s), _)             => UTF8String.fromString(s)
    case _                        => null
  }

  def itemsToCatalyst(items: Vector[XVal], itemType: DataType): GenericArrayData =
    new GenericArrayData(items.map(toCatalyst(_, itemType)).toArray)
}
