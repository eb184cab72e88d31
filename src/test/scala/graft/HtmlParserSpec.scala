package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html._
import graft.css.Css
import graft.xpath.{XPath, XPathAttr}

class HtmlParserSpec extends AnyFunSuite {

  test("basic parse + structure") {
    val root = HtmlParser.parse("<html><body><div id='a' class='x y'><p>hi</p></div></body></html>")
    assert(root.tag == "html")
    val divs = root.descendants.filter(_.tag == "div").toList
    assert(divs.size == 1)
    assert(divs.head.id.contains("a"))
    assert(divs.head.classes == Set("x", "y"))
  }

  test("tag/attr name interning: mixed case, unknown names, non-ASCII fallback") {
    // known names in any ASCII case resolve to the interned lowercase form
    val r1 = HtmlParser.parse("<DIV Class='a'><SPAN DATA-ID='7'>x</SPAN></DIV>")
    val div = r1.descendants.find(_.tag == "div").get
    assert(div.attr("class").contains("a"))
    val span = r1.descendants.find(_.tag == "span").get
    assert(span.attr("data-id").contains("7"))
    // unknown names still lowercase through the legacy path
    val r2 = HtmlParser.parse("<MyWidget Data-Custom-Thing='v'>y</MyWidget>")
    val w = r2.descendants.find(_.tag == "mywidget").get
    assert(w.attr("data-custom-thing").contains("v"))
    // a non-ASCII name can never hit the intern table; behavior matches
    // plain toLowerCase
    val r3 = HtmlParser.parse("<div Ättr='z'>t</div>")
    assert(r3.descendants.find(_.tag == "div").get.attr("ättr").contains("z"))
    // close-tag names intern through the same path (mixed case + spaces)
    val r4 = HtmlParser.parse("<div><p>a</P ></div><ul><LI>b</ LI></ul>")
    assert(r4.descendants.count(_.tag == "p") == 1)
  }

  test("duplicate attributes: first occurrence wins (HTML5), via the parser fast path") {
    val root = HtmlParser.parse("<div class='first' id='i' class='second'>x</div>")
    val div = root.descendants.find(_.tag == "div").get
    assert(div.attr("class").contains("first"))
    assert(div.id.contains("i"))
    // duplicate-free tags adopt the arrays as-is — order preserved
    var seen = List.empty[(String, String)]
    div.foreachAttr((k, v) => seen = seen :+ (k -> v))
    assert(seen == List("class" -> "first", "id" -> "i"))
  }

  test("implicit html/body synthesis") {
    val root = HtmlParser.parse("<div>x</div>")
    assert(root.tag == "html")
    val body = root.childElements.find(_.tag == "body").get
    assert(body.childElements.map(_.tag) == Vector("div"))
  }

  test("unclosed tags and implicit li closing") {
    val root = HtmlParser.parse("<ul><li>a<li>b<li>c</ul>")
    val lis = root.descendants.filter(_.tag == "li").toVector
    assert(lis.map(Text.innerText) == Vector("a", "b", "c"))
  }

  test("void elements don't nest") {
    val root = HtmlParser.parse("<div><br><img src='x.png'><span>s</span></div>")
    val div = root.descendants.find(_.tag == "div").get
    assert(div.childElements.map(_.tag) == Vector("br", "img", "span"))
  }

  test("entities decoded in text and attrs") {
    val root = HtmlParser.parse("<a href=\"/x?a=1&amp;b=2\" title='&lt;T&gt;'>&copy; 2024 &#65;&#x42;</a>")
    val a = root.descendants.find(_.tag == "a").get
    assert(a.attr("href").contains("/x?a=1&b=2"))
    assert(a.attr("title").contains("<T>"))
    assert(Text.innerText(a) == "© 2024 AB")
  }

  test("script raw text not parsed") {
    val root = HtmlParser.parse("<script>if (a < b) { x(\"<div>\"); }</script><p>t</p>")
    val script = root.descendants.find(_.tag == "script").get
    assert(Text.rawText(script).contains("a < b"))
    assert(root.descendants.count(_.tag == "div") == 0)
  }

  test("tbody synthesized between table and tr (HTML5 / x-net-html parity)") {
    val root = HtmlParser.parse("<table><tr><td>a</td></tr><tr><td>b</td></tr></table>")
    val table = root.descendants.find(_.tag == "table").get
    assert(table.childElements.map(_.tag) == Vector("tbody"))
    assert(Css.selectAll(root, "table > tbody > tr").size == 2)
    assert(XPath.find(root, "//table/tbody/tr").size == 2)
    // explicit tbody: no double synthesis
    val root2 = HtmlParser.parse("<table><tbody><tr><td>a</td></tr></tbody></table>")
    assert(root2.descendants.count(_.tag == "tbody") == 1)
  }

  test("stray close tags ignored") {
    val root = HtmlParser.parse("<div></span><p>ok</p></div>")
    assert(root.descendants.exists(e => e.tag == "p" && Text.innerText(e) == "ok"))
  }

  test("close-tag name trims control chars like String.trim: </p\\u0001> closes <p>") {
    val root = HtmlParser.parse("<div><p>a</p\u0001><span>b</span></div>")
    val div = root.descendants.find(_.tag == "div").get
    assert(div.children.collect { case e: HElem => e.tag } == Seq("p", "span"),
      "a trailing control char must not keep <p> open around the next sibling")
  }

  test("innerText: whitespace collapse + block newlines + table tabs") {
    val root = HtmlParser.parse(
      "<div>  hello \n  world <span>inline</span></div><p>para</p>" +
        "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>")
    val body = root.descendants.find(_.tag == "body").get
    assert(Text.innerText(body) == "hello world inline\npara\na\tb\nc\td")
  }

  test("innerText skips script/style") {
    val root = HtmlParser.parse("<div>a<style>.x{}</style><script>var q=1;</script>b</div>")
    val div = root.descendants.find(_.tag == "div").get
    assert(Text.innerText(div) == "ab")
  }

  test("rawText is verbatim") {
    val root = HtmlParser.parse("<div>  a\n  <b>b</b>  </div>")
    val div = root.descendants.find(_.tag == "div").get
    assert(Text.rawText(div) == "  a\n  b  ")
  }

  test("outerHTML/innerHTML round-trip") {
    val root = HtmlParser.parse("<div id=\"d\"><span class=\"s\">x &amp; y</span></div>")
    val div = root.descendants.find(_.tag == "div").get
    assert(Serializer.outerHtml(div) == "<div id=\"d\"><span class=\"s\">x &amp; y</span></div>")
    assert(Serializer.innerHtml(div) == "<span class=\"s\">x &amp; y</span>")
  }

  // ---------------------------------------------------------------- CSS

  val listHtml: HElem = HtmlParser.parse(
    """<html><body>
      |<ul id="doclist">
      |  <li class="item first"><a href="/a1" title="T1">A1</a><span class="date">d1</span></li>
      |  <li class="item"><a href="/a2" title="T2">A2</a><span class="date">d2</span></li>
      |  <li class="item last"><a href="/a3" title="T3">A3</a><span class="date">d3</span></li>
      |</ul>
      |<div class="pager"><a class="next" href="/page2">next</a></div>
      |<form id="searchform"></form><table><tr><td>t1</td></tr><tr><td>t2</td></tr></table>
      |</body></html>""".stripMargin)

  test("css: tag, id, class, descendant") {
    assert(Css.selectAll(listHtml, "li").size == 3)
    assert(Css.selectAll(listHtml, "#doclist li").size == 3)
    assert(Css.selectAll(listHtml, "ul.item").isEmpty)
    assert(Css.selectAll(listHtml, "li.item a").size == 3)
    assert(Css.selectAll(listHtml, ".pager .next").size == 1)
  }

  test("css: child, nth-child, first/last-child, nth-last-child") {
    assert(Css.selectAll(listHtml, "ul > li:nth-child(2)").map(Text.innerText) == Vector("A2d2"))
    assert(Css.selectAll(listHtml, "li:first-child a").map(_.attr("title").get) == Vector("T1"))
    assert(Css.selectAll(listHtml, "li:last-child a").map(_.attr("title").get) == Vector("T3"))
    assert(Css.selectAll(listHtml, "li:nth-last-child(3)").map(e => e.classes.contains("first")) == Vector(true))
    assert(Css.selectAll(listHtml, "li:nth-child(n+2)").size == 2)
  }

  test("css: attribute matchers") {
    assert(Css.selectAll(listHtml, "a[title='T2']").size == 1)
    assert(Css.selectAll(listHtml, "a[href*='/a']").size == 3)
    assert(Css.selectAll(listHtml, "a[href^='/page']").size == 1)
    assert(Css.selectAll(listHtml, "li[class~='last']").size == 1)
    assert(Css.selectAll(listHtml, "a[title]").size == 3)
  }

  test("class tokens: classes and ~= split on HTML's ASCII whitespace only") {
    def inBody(cls: String): HElem = {
      val body = HElem("body")
      body.append(HElem("div", Seq("class" -> cls)))
      body
    }
    for (sep <- Seq("\t", "\n", "\f", "\r", " ")) {
      val body = inBody(s"${sep}a$sep${sep}b$sep")
      val name = f"U+${sep.head.toInt}%04X"
      assert(Css.selectFirst(body, "div").get.classes == Set("a", "b"), s"$name separates")
      assert(Css.selectAll(body, "div[class~='b']").size == 1, s"$name separates for ~=")
      assert(Css.selectAll(body, "div.a.b").size == 1)
    }
    for (nonSep <- Seq("\u000B", "\u00A0", "\u2028")) {
      val body = inBody(s"a${nonSep}b")
      val name = f"U+${nonSep.head.toInt}%04X"
      assert(Css.selectFirst(body, "div").get.classes == Set(s"a${nonSep}b"), s"$name is a token character")
      assert(Css.selectAll(body, "div[class~='a']").isEmpty, s"$name must not separate for ~=")
      assert(Css.selectAll(body, "div.a").isEmpty, s"$name must not separate for .class")
    }
  }

  test("css: not, comma groups, adjacent sibling") {
    assert(Css.selectAll(listHtml, "li:not(.first):not(.last)").size == 1)
    assert(Css.selectAll(listHtml, "a.next:not(.disabled)").size == 1)
    assert(Css.selectAll(listHtml, "span.date, a.next").size == 4)
    assert(Css.selectAll(listHtml, "#searchform+table tr").size == 2)
  }

  test("css: FromNode scoping like querySelectorAll") {
    val li2 = Css.selectAll(listHtml, "li")(1)
    assert(Css.selectAll(li2, "a").map(_.attr("title").get) == Vector("T2"))
    // rightmost within subtree, ancestor part may be outside subtree
    assert(Css.selectAll(li2, "ul a").size == 1)
    assert(Css.selectAll(li2, ":scope a").size == 1)
  }

  // ---------------------------------------------------------------- XPath

  test("xpath: descendant, predicates, attr") {
    assert(XPath.find(listHtml, "//li").size == 3)
    assert(XPath.find(listHtml, "//*[@id='doclist']/li").size == 3)
    assert(XPath.find(listHtml, "//a[@title='T2']").size == 1)
    assert(XPathAttr.findOne(listHtml, "//a[@title='T3']/@href") == "/a3")
    assert(XPathAttr.findOne(listHtml, "//li[1]/a") == "A1")
  }

  test("xpath: position, last, and/not") {
    assert(XPath.find(listHtml, "//li[position()>=2]").size == 2)
    assert(XPath.find(listHtml, "//li[2<=position()]").size == 2)
    assert(XPath.find(listHtml, "//li[last()]").size == 1)
    assert(XPath.find(listHtml, "//li[@class='item' and position()=2]").size == 1)
    assert(XPath.find(listHtml, "//a[not(@class='next')]").size == 3)
  }

  test("xpath: text() comparisons") {
    assert(XPath.find(listHtml, "//a[text()='A2']").size == 1)
    val t = XPath.find(listHtml, "//a[1]/text()")
    assert(t.nonEmpty && XPath.stringValue(t.head) == "A1")
  }

  test("xpath: cursor scope rewrite (lib.CursorScopeByPosition parity)") {
    assert(XPathAttr.cursorScopeByPosition("//div[@class='item']", 5) == "//div[@class='item' and 5<=position()]")
    assert(XPathAttr.cursorScopeByPosition("//div/ul/li", 3) == "//div/ul/li[3<=position()]")
    assert(XPathAttr.nthChildFromXpath("//ul/li[3]").contains(3))
    assert(XPathAttr.nthChildFromXpath("//ul/li").isEmpty)
    assert(XPathAttr.nodeConditionFromXpath("//li[@a='b']").contains("@a='b'"))
  }

  test("xpath: reference test shapes") {
    val html = HtmlParser.parse(
      """<div id="commentModule"><ul>
        |<li class=" ant-pagination-next" aria-disabled="false"><a href="/c2">n</a></li>
        |</ul></div>""".stripMargin)
    val r = XPath.find(html, "//*[@id='commentModule']//li[@class=' ant-pagination-next' and not(@aria-disabled='true')]")
    assert(r.size == 1)
    val r2 = XPath.find(html, "//*[@id='commentModule']//li[@class=' ant-pagination-next' and not(@aria-disabled='false')]")
    assert(r2.isEmpty)
  }
}
