package graft.xpath

import graft.html._

/** From-scratch XPath 1.0 subset, covering the forms the reference feeds
  * through `htmlquery` (`/root/reference/lib/xpath.go:12-62`,
  * `/root/reference/xpath_test.go:21-32`,
  * `/root/reference/svcimpl.go:800-848`):
  *
  *   - `//name`, `/name`, `*`, nested steps, `text()` node test
  *   - predicates: `[@a='v']`, `[N]`, `[position()>=N]`, `[N<=position()]`,
  *     `[last()]`, `[not(expr)]`, `[contains(a,b)]`, `[text()='v']`,
  *     `and` / `or`, numeric comparisons
  *   - trailing `/@attr` (handled by the caller via [[XPathAttr]], mirroring
  *     `lib.XpathAttr`'s regex `/@(\w+$)` at `lib/xpath.go:24-33`)
  *
  * `//x` expands per spec to `/descendant-or-self::node()/child::x`, so
  * `position()` inside predicates counts element-siblings per parent — the
  * same semantics antchfx/xpath gives the reference's cursor rewrite
  * `%s[%v<=position()]` (`lib/xpath.go:53-62`).
  */
object XPath {

  final case class XPathParseException(msg: String) extends RuntimeException(msg)

  // ----------------------------------------------------------------- AST

  sealed trait Axis
  case object Child extends Axis
  case object DescendantOrSelf extends Axis

  sealed trait NodeTest
  final case class NameTest(name: String) extends NodeTest // "*" = any element
  case object TextTest extends NodeTest

  final case class Step(axis: Axis, test: NodeTest, preds: List[Expr])
  final case class Path(absolute: Boolean, steps: List[Step])

  sealed trait Expr
  final case class Num(v: Double) extends Expr
  final case class Str(v: String) extends Expr
  final case class AttrRef(name: String) extends Expr
  case object PositionFn extends Expr
  case object LastFn extends Expr
  case object TextFn extends Expr
  final case class NotFn(e: Expr) extends Expr
  final case class ContainsFn(a: Expr, b: Expr) extends Expr
  final case class Cmp(op: String, l: Expr, r: Expr) extends Expr
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr
  final case class RelPath(p: Path) extends Expr // e.g. `span` or `a/text()` inside predicate

  // ----------------------------------------------------------------- parse

  // xpaths repeat per page × per leaf across millions of rows — memoize
  private val parseCache = new java.util.concurrent.ConcurrentHashMap[String, Path]()

  def parse(xpath: String): Path = {
    val cached = parseCache.get(xpath)
    if (cached != null) return cached
    val parsed = new Parser(xpath).parsePath()
    if (parseCache.size < 10000) parseCache.put(xpath, parsed)
    parsed
  }

  private final class Parser(s: String) {
    private var pos = 0
    private def n = s.length
    private def peek: Char = if (pos < n) s.charAt(pos) else '\u0000'
    private def skipWs(): Unit = { while (pos < n && s.charAt(pos).isWhitespace) pos += 1 }
    private def eat(c: Char): Unit = {
      if (peek != c) throw XPathParseException(s"expected '$c' at $pos in '$s'")
      pos += 1
    }
    private def startsWith(t: String): Boolean = s.startsWith(t, pos)

    def parsePath(): Path = {
      skipWs()
      // `/x` is document-rooted; `//x` evaluates relative to the CONTEXT
      // node (descendant-or-self) — htmlquery/antchfx semantics, which the
      // reference relies on when recursing per item (`svcimpl.go:813-848`).
      val absolute = peek == '/' && !startsWith("//")
      val steps = scala.collection.mutable.ListBuffer[Step]()
      var first = true
      while (pos < n && (first || peek == '/')) {
        var axis: Axis = Child
        if (startsWith("//")) { axis = DescendantOrSelf; pos += 2 }
        else if (peek == '/') { pos += 1 }
        else if (!first) throw XPathParseException(s"expected '/' at $pos in '$s'")
        else axis = Child // relative path like "a/b" — first step is child of context
        if (first && !absolute && axis == Child) {
          // relative first step behaves as child-of-context
        }
        steps += parseStep(axis)
        first = false
        skipWs()
      }
      if (pos < n) throw XPathParseException(s"trailing garbage at $pos in '$s'")
      Path(absolute, steps.toList)
    }

    private def parseStep(axis: Axis): Step = {
      skipWs()
      val test: NodeTest =
        if (peek == '*') { pos += 1; NameTest("*") }
        else if (startsWith("text()")) { pos += 6; TextTest }
        else {
          val start = pos
          while (pos < n && (s.charAt(pos).isLetterOrDigit || s.charAt(pos) == '-' || s.charAt(pos) == '_' || s.charAt(pos) > 127)) pos += 1
          if (pos == start) throw XPathParseException(s"expected node test at $pos in '$s'")
          NameTest(s.substring(start, pos).toLowerCase)
        }
      val preds = scala.collection.mutable.ListBuffer[Expr]()
      skipWs()
      while (peek == '[') {
        pos += 1
        preds += parseExpr()
        skipWs()
        eat(']')
        skipWs()
      }
      Step(axis, test, preds.toList)
    }

    private def parseExpr(): Expr = parseOr()

    private def parseOr(): Expr = {
      var l = parseAnd()
      skipWs()
      while (startsWith("or") && boundaryAt(pos + 2)) {
        pos += 2
        val r = parseAnd()
        l = Or(l, r)
        skipWs()
      }
      l
    }

    private def parseAnd(): Expr = {
      var l = parseCmp()
      skipWs()
      while (startsWith("and") && boundaryAt(pos + 3)) {
        pos += 3
        val r = parseCmp()
        l = And(l, r)
        skipWs()
      }
      l
    }

    private def boundaryAt(p: Int): Boolean =
      p >= n || !(s.charAt(p).isLetterOrDigit || s.charAt(p) == '_')

    private def parseCmp(): Expr = {
      val l = parsePrimary()
      skipWs()
      val ops = List("<=", ">=", "!=", "=", "<", ">")
      ops.find(startsWith) match {
        case Some(op) =>
          pos += op.length
          val r = parsePrimary()
          Cmp(op, l, r)
        case None => l
      }
    }

    private def parsePrimary(): Expr = {
      skipWs()
      val c = peek
      if (c == '\'' || c == '"') {
        pos += 1
        val start = pos
        while (pos < n && s.charAt(pos) != c) pos += 1
        val v = s.substring(start, pos)
        eat(c)
        Str(v)
      } else if (c.isDigit) {
        val start = pos
        while (pos < n && (s.charAt(pos).isDigit || s.charAt(pos) == '.')) pos += 1
        Num(s.substring(start, pos).toDouble)
      } else if (c == '@') {
        pos += 1
        val start = pos
        while (pos < n && (s.charAt(pos).isLetterOrDigit || s.charAt(pos) == '-' || s.charAt(pos) == '_')) pos += 1
        AttrRef(s.substring(start, pos).toLowerCase)
      } else if (startsWith("position()")) { pos += 10; PositionFn }
      else if (startsWith("last()")) { pos += 6; LastFn }
      else if (startsWith("text()")) { pos += 6; TextFn }
      else if (startsWith("not(")) {
        pos += 4
        val e = parseExpr()
        skipWs(); eat(')')
        NotFn(e)
      } else if (startsWith("contains(")) {
        pos += 9
        val a = parseExpr()
        skipWs(); eat(',')
        val b = parseExpr()
        skipWs(); eat(')')
        ContainsFn(a, b)
      } else if (c == '(') {
        pos += 1
        val e = parseExpr()
        skipWs(); eat(')')
        e
      } else if (c.isLetter || c == '*' || c > 127) {
        // relative path inside predicate, e.g. [span='x'] or [a/text()='y']
        val start = pos
        var depth = 0
        while (pos < n && {
          val ch = s.charAt(pos)
          if (ch == '[') depth += 1
          if (ch == ']') { if (depth == 0) false else { depth -= 1; true } }
          else !(depth == 0 && (ch == '=' || ch == '<' || ch == '>' || ch == '!' || ch == ')' || ch.isWhitespace || ch == ','))
        }) pos += 1
        val sub = s.substring(start, pos)
        RelPath(new Parser(sub).parsePath())
      } else throw XPathParseException(s"unexpected '$c' at $pos in '$s'")
    }
  }

  // ----------------------------------------------------------------- eval

  sealed trait XValue
  final case class VNum(v: Double) extends XValue
  final case class VStr(v: String) extends XValue
  final case class VBool(v: Boolean) extends XValue
  final case class VNodes(v: Vector[HNode]) extends XValue

  /** string-value of a node (XPath spec): element → concat of descendant
    * text; text node → its data. Matches htmlquery.InnerText.
    */
  def stringValue(node: HNode): String = node match {
    case t: HText => t.data
    case e: HElem => Text.rawText(e)
    case _        => ""
  }

  /** Evaluate `path` with `context` as the context node. Results in document
    * order, deduplicated.
    */
  def find(context: HElem, path: Path): Vector[HNode] = {
    val rootCtx: Vector[HNode] =
      if (path.absolute) {
        var r: HElem = context
        while (r.parent != null) r = r.parent
        Vector(r)
      } else Vector(context)
    var current: Vector[HNode] = rootCtx
    path.steps.zipWithIndex.foreach { case (step, i) =>
      val isFirstAbsolute = path.absolute && i == 0
      current = evalStep(current, step, firstAbsoluteStep = isFirstAbsolute)
    }
    current
  }

  def find(context: HElem, xpath: String): Vector[HNode] = find(context, parse(xpath))

  /** One step over the current node-set. Allocation-lean by design: the
    * step runs once per context node (and, for `//`, once per DESCENDANT
    * of each context node), so the previous per-parent collection churn —
    * a lazy descendants Iterator (Stack + reverseIterator per node), a
    * `toVector` of candidates, and `zipWithIndex.filter.map` per
    * predicate — was the extraction path's leading allocator (round-6 profile:
    * the xpath family allocated 3.5× the css families per page).
    * Candidates and predicate filtering reuse two scratch buffers; the
    * identity seen-set is only materialized when the context has several
    * nodes (a single context node cannot yield duplicate children /
    * per-parent groups). Semantics — document order, per-parent
    * position(), first-absolute-step self-match — are unchanged.
    */
  private def evalStep(ctx: Vector[HNode], step: Step, firstAbsoluteStep: Boolean): Vector[HNode] = {
    val out = scala.collection.mutable.ArrayBuffer[HNode]()
    val seen =
      if (ctx.length > 1)
        java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[HNode, java.lang.Boolean]())
      else null
    var cand = new scala.collection.mutable.ArrayBuffer[HNode]
    var tmp = new scala.collection.mutable.ArrayBuffer[HNode]

    // fill `cand` with p's candidate children for this step's node test
    def fillCandidates(p: HElem, includeSelfForAbsoluteRoot: Boolean): Unit = {
      cand.clear()
      step.test match {
        case TextTest =>
          val cs = p.children
          var i = 0
          while (i < cs.length) {
            cs(i) match { case t: HText => cand += t; case _ => }
            i += 1
          }
        case NameTest(nm) =>
          // `/html` from the document root: our root IS the html element,
          // so the first absolute step matches the root itself (golang's
          // x/net document node has html as a child; our root doubles as
          // both).
          if (includeSelfForAbsoluteRoot && (nm == "*" || p.tag == nm)) cand += p
          val star = nm == "*"
          val cs = p.children
          var i = 0
          while (i < cs.length) {
            cs(i) match {
              case e: HElem if star || e.tag == nm => cand += e
              case _ =>
            }
            i += 1
          }
      }
    }

    // filter `cand` in place through the predicates (position() counts
    // within the current filtered list per predicate, as before), then
    // emit into `out`
    def applyPredsAndEmit(): Unit = {
      var preds = step.preds
      while (preds.nonEmpty) {
        val pred = preds.head
        val size = cand.length
        tmp.clear()
        var i = 0
        while (i < size) {
          val nd = cand(i)
          if (predTruth(evalExpr(pred, nd, i + 1, size), i + 1)) tmp += nd
          i += 1
        }
        val swap = cand; cand = tmp; tmp = swap
        preds = preds.tail
      }
      var i = 0
      while (i < cand.length) {
        val nd = cand(i)
        if (seen == null || seen.add(nd)) out += nd
        i += 1
      }
    }

    def childStep(p: HElem, includeSelf: Boolean): Unit = {
      fillCandidates(p, includeSelf)
      if (cand.nonEmpty) applyPredsAndEmit()
    }

    // /descendant-or-self::node()/child::test — group by parent so
    // position() is per-parent, then concat in document (pre-)order.
    def walkDesc(p: HElem): Unit = {
      graft.html.Deadline.check()
      childStep(p, includeSelf = false)
      val cs = p.children
      var i = 0
      while (i < cs.length) {
        cs(i) match { case e: HElem => walkDesc(e); case _ => }
        i += 1
      }
    }

    ctx.foreach {
      case e: HElem =>
        step.axis match {
          case Child            => childStep(e, includeSelf = firstAbsoluteStep)
          case DescendantOrSelf => walkDesc(e)
        }
      case _ => // text nodes have no children
    }
    out.toVector
  }

  private def predTruth(v: XValue, position: Int): Boolean = v match {
    case VBool(b)  => b
    case VNum(d)   => d == position.toDouble // [N] means position()=N
    case VStr(sv)  => sv.nonEmpty
    case VNodes(v) => v.nonEmpty
  }

  private def evalExpr(e: Expr, node: HNode, position: Int, size: Int): XValue = e match {
    case Num(v)        => VNum(v)
    case Str(v)        => VStr(v)
    case PositionFn    => VNum(position.toDouble)
    case LastFn        => VNum(size.toDouble)
    case TextFn =>
      node match {
        case el: HElem => VNodes(el.children.iterator.collect { case t: HText => t: HNode }.toVector)
        case _         => VNodes(Vector.empty)
      }
    case AttrRef(name) =>
      node match {
        case el: HElem => el.attr(name) match {
          case Some(v) => VStr(v)
          case None    => VNodes(Vector.empty) // absent attr = empty node-set
        }
        case _ => VNodes(Vector.empty)
      }
    case NotFn(inner) => VBool(!toBool(evalExpr(inner, node, position, size)))
    case ContainsFn(a, b) =>
      VBool(toStr(evalExpr(a, node, position, size)).contains(toStr(evalExpr(b, node, position, size))))
    case And(l, r) =>
      VBool(toBool(evalExpr(l, node, position, size)) && toBool(evalExpr(r, node, position, size)))
    case Or(l, r) =>
      VBool(toBool(evalExpr(l, node, position, size)) || toBool(evalExpr(r, node, position, size)))
    case RelPath(p) =>
      node match {
        case el: HElem => VNodes(find(el, p))
        case _         => VNodes(Vector.empty)
      }
    case Cmp(op, l, r) =>
      val lv = evalExpr(l, node, position, size)
      val rv = evalExpr(r, node, position, size)
      VBool(compare(op, lv, rv))
  }

  private def toBool(v: XValue): Boolean = v match {
    case VBool(b)   => b
    case VNum(d)    => d != 0.0
    case VStr(s)    => s.nonEmpty
    case VNodes(ns) => ns.nonEmpty
  }

  private def toStr(v: XValue): String = v match {
    case VStr(s)    => s
    case VNum(d)    => if (d == d.toLong.toDouble) d.toLong.toString else d.toString
    case VBool(b)   => if (b) "true" else "false"
    case VNodes(ns) => ns.headOption.map(stringValue).getOrElse("")
  }

  private def compare(op: String, l: XValue, r: XValue): Boolean = (l, r) match {
    case (VNodes(ns), other) =>
      ns.exists(nd => compare(op, VStr(stringValue(nd)), other))
    case (other, VNodes(ns)) =>
      ns.exists(nd => compare(op, other, VStr(stringValue(nd))))
    case (VNum(a), VNum(b)) => cmpNum(op, a, b)
    case (VNum(a), VStr(b)) => b.toDoubleOption.exists(bb => cmpNum(op, a, bb))
    case (VStr(a), VNum(b)) => a.toDoubleOption.exists(aa => cmpNum(op, aa, b))
    case (VStr(a), VStr(b)) =>
      op match {
        case "="  => a == b
        case "!=" => a != b
        case _    =>
          (a.toDoubleOption, b.toDoubleOption) match {
            case (Some(x), Some(y)) => cmpNum(op, x, y)
            case _                  => false
          }
      }
    case (VBool(a), other) => cmpBool(op, a, toBool(other))
    case (other, VBool(b)) => cmpBool(op, toBool(other), b)
  }

  private def cmpBool(op: String, a: Boolean, b: Boolean): Boolean = op match {
    case "="  => a == b
    case "!=" => a != b
    case _    => false
  }

  private def cmpNum(op: String, a: Double, b: Double): Boolean = op match {
    case "="  => a == b
    case "!=" => a != b
    case "<"  => a < b
    case "<=" => a <= b
    case ">"  => a > b
    case ">=" => a >= b
    case _    => false
  }
}

/** Parity helpers for `lib/xpath.go`. */
object XPathAttr {

  private val attrRe = java.util.regex.Pattern.compile("/@(\\w+$)")

  /** `lib.XpathAttr` (`lib/xpath.go:24-33`): does the expression end with
    * `/@attr`, and which attr?
    */
  def unapply(xpath: String): Option[String] = {
    val m = attrRe.matcher(xpath)
    if (m.find()) Some(m.group(1)) else None
  }

  def isAttrPath(xpath: String): Boolean = unapply(xpath).isDefined

  /** Strip the trailing `/@attr` to get the element-selecting prefix. */
  def stripAttr(xpath: String): String = attrRe.matcher(xpath).replaceAll("")

  /** `lib.FindOne` (`lib/xpath.go:12-22`): first match; attribute value when
    * the expression ends `/@attr`, else the node's raw string-value. A
    * non-matching expression yields "" for the attr form (htmlquery's
    * SelectAttr on nil) and throws for the text form (htmlquery.InnerText on
    * nil panics — the reference recovers it into an error at
    * `svcimpl.go:851-861`).
    */
  def findOne(context: graft.html.HElem, xpath: String): String =
    unapply(xpath) match {
      case Some(attr) =>
        XPath.find(context, stripAttr(xpath)).headOption match {
          case Some(e: graft.html.HElem) => e.attr(attr).getOrElse("")
          case _                         => ""
        }
      case None =>
        XPath.find(context, xpath).headOption match {
          case Some(nd) => XPath.stringValue(nd)
          case None     => throw new NoSuchElementException(s"xpath matched nothing: $xpath")
        }
    }

  private val nthRe = java.util.regex.Pattern.compile("\\[(\\d+)\\]$")
  private val condRe = java.util.regex.Pattern.compile("\\[(.+)\\]$")

  /** `lib.NthChildFromXpath` (`lib/xpath.go:35-42`). */
  def nthChildFromXpath(xpath: String): Option[Int] = {
    val m = nthRe.matcher(xpath)
    if (m.find()) Some(m.group(1).toInt) else None
  }

  /** `lib.NodeConditionFromXpath` (`lib/xpath.go:44-51`). */
  def nodeConditionFromXpath(xpath: String): Option[String] = {
    val m = condRe.matcher(xpath)
    if (m.find()) Some(m.group(1)) else None
  }

  /** `lib.CursorScopeByPosition` (`lib/xpath.go:53-62`): rewrite a scope so
    * only nodes at `position() >= cursor` come back — the scroll-crawl
    * incremental-dedup rewrite.
    */
  def cursorScopeByPosition(xpathScope: String, cursor: Int): String = {
    val m = condRe.matcher(xpathScope)
    if (m.find()) {
      val cond = m.group(1)
      s"${m.replaceAll("")}[$cond and $cursor<=position()]"
    } else s"$xpathScope[$cursor<=position()]"
  }
}
