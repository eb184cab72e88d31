package graft.html

import scala.collection.mutable.ArrayBuffer

/** From-scratch lenient HTML5-ish parser.
  *
  * The sandbox has no jsoup / no HTML library (coursier offline), so this is
  * the equivalent of the parse step the reference gets from Chrome's DOM and
  * from `htmlquery.Parse` (`/root/reference/svcimpl.go:903`). Handles:
  * unclosed tags, void elements, implicit `<li>/<p>/<td>/<tr>` closing,
  * raw-text elements (script/style/textarea/title), comments, doctype,
  * character entities, quoted/unquoted/valueless attributes, and stray `</x>`.
  *
  * Output is always a document rooted at an `html` element containing `head`
  * and `body` (matching what `golang.org/x/net/html` synthesizes), so the
  * reference's default scope `"html"` (`/root/reference/svcimpl.go:692-694`)
  * resolves identically.
  */
object HtmlParser {

  val voidElements: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  private val rawTextElements: Set[String] = Set("script", "style", "textarea", "title")

  /** Tags whose open implicitly closes certain open tags (leniency subset). */
  private val impliedEndByOpen: Map[String, Set[String]] = Map(
    "li" -> Set("li"),
    "p" -> Set("p"),
    "tr" -> Set("tr", "td", "th"),
    "td" -> Set("td", "th"),
    "th" -> Set("td", "th"),
    "option" -> Set("option"),
    "dt" -> Set("dt", "dd"),
    "dd" -> Set("dt", "dd"),
    // Block-level elements implicitly close an open <p>.
    "div" -> Set("p"), "ul" -> Set("p"), "ol" -> Set("p"), "table" -> Set("p"),
    "section" -> Set("p"), "article" -> Set("p"), "blockquote" -> Set("p"),
    "h1" -> Set("p"), "h2" -> Set("p"), "h3" -> Set("p"),
    "h4" -> Set("p"), "h5" -> Set("p"), "h6" -> Set("p")
  )

  private val headOnly: Set[String] = Set("title", "meta", "link", "base", "style")

  def parse(html: String): HElem = {
    val b = new Builder
    tokenize(html, b)
    b.finish()
  }

  def parse(html: Array[Byte]): HElem =
    parse(new String(html, java.nio.charset.StandardCharsets.UTF_8))

  // ---------------------------------------------------------------- tokens

  /** Tokenizer → builder event stream. The two phases are FUSED: the
    * tokenizer used to append TText/TOpen/TClose/TComment case objects
    * into an ArrayBuffer the builder then replayed — ~100 short-lived
    * wrappers plus buffer growth per page in the million-pages-per-round
    * hot path. The sink callbacks fire at exactly the points the appends
    * happened, so the event ORDER (hence the built tree) is identical.
    */
  private trait TokenSink {
    def text(s: String): Unit
    def open(tag: String, attrNames: Array[String], attrValues: Array[String],
             selfClose: Boolean): Unit
    def close(tag: String): Unit
    def comment(s: String): Unit
  }

  /** Mutable holder for one open tag — reused across a whole tokenize
    * call, replacing the per-tag (TOpen, Int) tuple. */
  private final class OpenTag {
    var tag: String = _
    var attrNames: Array[String] = _
    var attrValues: Array[String] = _
    var selfClose: Boolean = false
  }

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Region-based lowercase name interning: tag and attribute names come
    * from a small closed vocabulary in practice, but the tokenizer paid
    * `substring` + `toLowerCase` — two allocations — for EVERY tag and
    * attribute name of every page (million-pages-per-round hot path).
    * Known names resolve by hashing the region case-insensitively and
    * verifying with `regionMatches(ignoreCase)` — zero allocation; unknown
    * names keep the exact old `substring(..).toLowerCase` path.
    */
  private object NameIntern {
    private val known: Array[String] = Array(
      // tags
      "a", "abbr", "area", "article", "aside", "b", "base", "blockquote",
      "body", "br", "button", "caption", "code", "col", "dd", "div", "dl",
      "dt", "em", "embed", "footer", "form", "h1", "h2", "h3", "h4", "h5",
      "h6", "head", "header", "hr", "html", "i", "iframe", "img", "input",
      "label", "li", "link", "main", "meta", "nav", "ol", "option", "p",
      "param", "pre", "script", "section", "select", "small", "source",
      "span", "strong", "style", "table", "tbody", "td", "textarea",
      "tfoot", "th", "thead", "title", "tr", "track", "u", "ul", "wbr",
      // attribute names
      "alt", "charset", "checked", "class", "content", "data-cursor",
      "data-id", "data-next", "disabled", "height", "href", "id", "lang",
      "name", "rel", "required", "selected", "src", "type", "value", "width")
    // open-addressing table, power-of-two size with load < 0.5
    private val cap = Integer.highestOneBit(known.length * 4 - 1) << 1
    private val mask = cap - 1
    private val table = new Array[String](cap)
    known.foreach { s =>
      var i = hashOf(s) & mask
      while (table(i) != null) i = (i + 1) & mask
      table(i) = s
    }
    private def lower(c: Char): Char =
      if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
    private def hashOf(s: String): Int = {
      var h = 0
      var i = 0
      while (i < s.length) { h = h * 31 + lower(s.charAt(i)); i += 1 }
      h
    }
    private def hashRegion(s: String, from: Int, until: Int): Int = {
      var h = 0
      var i = from
      while (i < until) { h = h * 31 + lower(s.charAt(i)); i += 1 }
      h
    }
    // ASCII-only case fold (matches `lower`): a non-ASCII char can never
    // hit an interned name, so exotic names (e.g. Turkish dotted İ, whose
    // Unicode toLowerCase is two chars) keep the exact legacy
    // substring+toLowerCase behavior below
    private def eqIgnoreCaseAscii(s: String, from: Int, cand: String): Boolean = {
      var i = 0
      while (i < cand.length) {
        if (lower(s.charAt(from + i)) != cand.charAt(i)) return false
        i += 1
      }
      true
    }
    /** Lowercase name of `s[from, until)`; allocation-free when known. */
    def of(s: String, from: Int, until: Int): String = {
      val len = until - from
      if (len == 0) return ""
      var i = hashRegion(s, from, until) & mask
      var cand = table(i)
      while (cand != null) {
        if (cand.length == len && eqIgnoreCaseAscii(s, from, cand)) return cand
        i = (i + 1) & mask
        cand = table(i)
      }
      s.substring(from, until).toLowerCase
    }
  }

  /** case-insensitive indexOf without copying the document. */
  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    var i = from
    val limit = s.length - needle.length
    while (i <= limit) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  private def tokenize(s: String, out: TokenSink): Unit = {
    val n = s.length
    var i = 0
    val text = new java.lang.StringBuilder
    val ot = new OpenTag
    def flushText(): Unit = {
      if (text.length > 0) { out.text(Entities.decode(text.toString)); text.setLength(0) }
    }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < n) {
        Deadline.check() // cooperative per-page extraction budget (L12)
        val c1 = s.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (s.startsWith("<!--", i)) {
            val end = s.indexOf("-->", i + 4)
            val stop = if (end < 0) n else end
            out.comment(s.substring(i + 4, stop))
            i = if (end < 0) n else end + 3
          } else {
            // doctype or bogus declaration: skip to '>'
            val end = s.indexOf('>', i)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '/') {
          if (i + 2 < n && isAsciiLetter(s.charAt(i + 2))) {
            flushText()
            var j = i + 2
            while (j < n && s.charAt(j) != '>') j += 1
            // legacy semantics `substring.trim.toLowerCase.takeWhile(!ws)`
            // as region arithmetic: trim both ends the way String.trim does
            // (every char <= ' ', control chars included), then cut at the
            // first interior whitespace — the name region interns without
            // allocating (toLowerCase never introduces whitespace, so
            // folding before or after the cut is equivalent)
            var from = i + 2
            var until = j
            while (from < until && s.charAt(from) <= ' ') from += 1
            while (until > from && s.charAt(until - 1) <= ' ') until -= 1
            var cut = from
            while (cut < until && !s.charAt(cut).isWhitespace) cut += 1
            if (cut > from) out.close(NameIntern.of(s, from, cut))
            i = if (j < n) j + 1 else n
          } else { text.append(c); i += 1 }
        } else if (isAsciiLetter(c1)) {
          flushText()
          i = readOpenTag(s, i, ot)
          out.open(ot.tag, ot.attrNames, ot.attrValues, ot.selfClose)
          // Raw text elements: consume until the matching close tag verbatim.
          if (!ot.selfClose && rawTextElements(ot.tag)) {
            val tag = ot.tag
            val closeSeq = "</" + tag
            var j = indexOfIgnoreCase(s, closeSeq, i)
            if (j < 0) j = n
            val raw = s.substring(i, j)
            if (raw.nonEmpty)
              out.text(if (tag == "textarea" || tag == "title") Entities.decode(raw) else raw)
            if (j < n) {
              val gt = s.indexOf('>', j)
              out.close(tag)
              i = if (gt < 0) n else gt + 1
            } else i = n
          }
        } else { text.append(c); i += 1 }
      } else { text.append(c); i += 1 }
    }
    flushText()
  }

  private val noAttrs = Array.empty[String]

  /** Reads one open tag into `ot` (holder reused across the page);
    * returns the index just past the tag. */
  private def readOpenTag(s: String, start: Int, ot: OpenTag): Int = {
    val n = s.length
    var i = start + 1
    val nameStart = i
    while (i < n && (isAsciiLetter(s.charAt(i)) || s.charAt(i).isDigit || s.charAt(i) == '-')) i += 1
    val tag = NameIntern.of(s, nameStart, i)
    // parallel name/value buffers, allocated only when a first attribute
    // exists (about half of real-page tags are attribute-less) — no
    // per-attribute tuple, no ArrayBuffer for the common bare tag
    var names: ArrayBuffer[String] = null
    var values: ArrayBuffer[String] = null
    def addAttr(name: String, v: String): Unit = {
      if (names == null) { names = new ArrayBuffer[String](4); values = new ArrayBuffer[String](4) }
      names += name
      values += v
    }
    var selfClose = false
    var done = false
    while (!done && i < n) {
      // skip whitespace
      while (i < n && s.charAt(i).isWhitespace) i += 1
      if (i >= n) done = true
      else s.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && s.charAt(i + 1) == '>') { selfClose = true; i += 2; done = true }
          else i += 1
        case _ =>
          // attribute name
          val an = i
          while (i < n && !s.charAt(i).isWhitespace && s.charAt(i) != '=' && s.charAt(i) != '>' && s.charAt(i) != '/') i += 1
          val name = NameIntern.of(s, an, i)
          while (i < n && s.charAt(i).isWhitespace) i += 1
          if (i < n && s.charAt(i) == '=') {
            i += 1
            while (i < n && s.charAt(i).isWhitespace) i += 1
            if (i < n && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
              val q = s.charAt(i); i += 1
              val vs = i
              while (i < n && s.charAt(i) != q) i += 1
              val v = s.substring(vs, i)
              if (i < n) i += 1
              if (name.nonEmpty) addAttr(name, Entities.decode(v))
            } else {
              val vs = i
              while (i < n && !s.charAt(i).isWhitespace && s.charAt(i) != '>') i += 1
              val v = s.substring(vs, i)
              if (name.nonEmpty) addAttr(name, Entities.decode(v))
            }
          } else if (name.nonEmpty) addAttr(name, "")
      }
    }
    ot.tag = tag
    ot.attrNames = if (names == null) noAttrs else names.toArray
    ot.attrValues = if (values == null) noAttrs else values.toArray
    ot.selfClose = selfClose
    i
  }

  // ---------------------------------------------------------------- tree

  /** Tree builder as the tokenizer's sink — one pass, no token buffer.
    * html/head/body are synthesized like golang.org/x/net/html so xpath
    * `//...` and scope `html` behave the same whether or not the author
    * supplied them (the open/close handlers below fold author-supplied
    * tags into the synthesized skeleton).
    */
  private final class Builder extends TokenSink {
    val root = HElem("html")
    private val head = HElem("head")
    private val body = HElem("body")

    private val stack = ArrayBuffer[HElem]()
    private var inBodyPhase = false

    def ensureBody(): Unit = {
      if (!inBodyPhase) {
        inBodyPhase = true
        if (root.children.isEmpty || !root.children.exists { case e: HElem => e.tag == "head"; case _ => false })
          root.append(head)
        root.append(body)
      }
    }
    def current: HElem =
      if (stack.nonEmpty) stack.last
      else if (inBodyPhase) body
      else head

    def open(tag: String, attrNames: Array[String], attrValues: Array[String],
             selfClose: Boolean): Unit = {
      tag match {
        case "html" =>
          // merge attributes into synthesized root
          ()
        case "head" => ()
        case "body" => ensureBody()
        case _ =>
          if (!inBodyPhase && !headOnly(tag)) ensureBody()
          // implied end tags
          impliedEndByOpen.get(tag).foreach { closes =>
            while (stack.nonEmpty && closes(stack.last.tag)) stack.remove(stack.length - 1)
          }
          // HTML5 tbody synthesis: <tr> directly under <table> gets an
          // implicit tbody (Chrome and golang.org/x/net/html both do this;
          // needed so xpath like //table/tbody/tr matches identically)
          if (tag == "tr" && current.tag == "table") {
            val tb = HElem("tbody")
            current.append(tb)
            stack += tb
          }
          val e = HElem.fromArrays(tag, attrNames, attrValues)
          current.append(e)
          if (!selfClose && !voidElements(tag)) stack += e
      }
    }

    def close(tag: String): Unit = {
      tag match {
        case "html" | "head" => if (!inBodyPhase && tag == "head") inBodyPhase = false
        case "body"          => stack.clear()
        case _ =>
          val idx = stack.lastIndexWhere(_.tag == tag)
          if (idx >= 0) stack.remove(idx, stack.length - idx)
        // stray close tag: ignored (leniency)
      }
    }

    def text(t: String): Unit = {
      if (!inBodyPhase && t.trim.nonEmpty && stack.isEmpty) ensureBody()
      if (inBodyPhase || stack.nonEmpty || t.trim.nonEmpty) current.append(new HText(t))
      else if (!inBodyPhase) head.append(new HText(t))
    }

    def comment(c: String): Unit = current.append(new HComment(c))

    def finish(): HElem = {
      if (!inBodyPhase) { // head-only document
        root.append(head); root.append(body); inBodyPhase = true
      }
      root
    }
  }
}
