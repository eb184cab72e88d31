package graft.css

import graft.html._

/** From-scratch CSS selector engine (no jsoup in the sandbox).
  *
  * Covers the full selector inventory used by the reference's tests
  * (SURVEY.md §7 item 2): type, `*`, `#id`, `.class`, attribute matchers
  * `[a]` `[a=v]` `[a^=v]` `[a$=v]` `[a*=v]` `[a~=v]` `[a|=v]`, combinators
  * (descendant, `>`, `+`, `~`), `:nth-child(an+b|odd|even|n+k)`,
  * `:nth-last-child`, `:first-child`, `:last-child`, `:not(...)`, `:scope`,
  * and comma groups. e.g. `/root/reference/iframe_test.go`,
  * `/root/reference/ctrip_test.go:123`, `/root/reference/svcimpl_scroll.go:364`.
  *
  * Matching semantics follow `querySelectorAll` as driven through chromedp's
  * `ByQueryAll`/`FromNode` (`/root/reference/svcimpl.go:700-704`): candidates
  * are descendants of the context node in document order; non-rightmost
  * compounds may match ancestors outside the context subtree; `:scope`
  * refers to the context node.
  */
object Css {

  // ------------------------------------------------------------------ AST

  sealed trait Simple
  final case class TypeSel(name: String) extends Simple // "*" = universal
  final case class IdSel(id: String) extends Simple
  final case class ClassSel(cls: String) extends Simple
  final case class AttrSel(name: String, op: String, value: String) extends Simple // op: "", "=", "^=", "$=", "*=", "~=", "|="
  final case class NthChild(a: Int, b: Int, fromEnd: Boolean) extends Simple
  final case class NotSel(inner: List[Compound]) extends Simple
  case object ScopeSel extends Simple

  final case class Compound(simples: List[Simple])
  // combinator preceding the compound: ' ' descendant, '>' child, '+' adjacent, '~' general sibling
  final case class Complex(head: Compound, rest: List[(Char, Compound)]) {
    // precomputed walk order: matchesComplex runs once per candidate
    // element per selector evaluation (every descendant of the context on
    // a selectAll), so building these per CALL allocated two collections
    // per node visit — measured as a leading allocator of the extraction
    // hot path (round-6 allocation profile). Parse results are memoized,
    // so this runs once per distinct selector string.
    val all: Array[Compound] = (head :: rest.map(_._2)).toArray
    val combs: Array[Char] = rest.map(_._1).toArray
  }
  final case class SelectorList(complexes: List[Complex])

  // ------------------------------------------------------------------ parse

  final case class CssParseException(msg: String) extends RuntimeException(msg)

  // selectors repeat per page × per attr across millions of rows — memoize
  // the parse (bounded; selector vocabulary per job is tiny)
  private val parseCache = new java.util.concurrent.ConcurrentHashMap[String, SelectorList]()

  def parse(selector: String): SelectorList = {
    val cached = parseCache.get(selector)
    if (cached != null) return cached
    val groups = splitTop(selector, ',').map(_.trim).filter(_.nonEmpty)
    if (groups.isEmpty) throw CssParseException(s"empty selector: '$selector'")
    val parsed = SelectorList(groups.map(parseComplex))
    if (parseCache.size < 10000) parseCache.put(selector, parsed)
    parsed
  }

  /** split at top level (not inside parens/brackets/quotes) */
  private def splitTop(s: String, sep: Char): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    val cur = new java.lang.StringBuilder
    var depth = 0
    var quote: Char = 0
    s.foreach { c =>
      if (quote != 0) { cur.append(c); if (c == quote) quote = 0 }
      else c match {
        case '"' | '\'' => quote = c; cur.append(c)
        case '(' | '['  => depth += 1; cur.append(c)
        case ')' | ']'  => depth -= 1; cur.append(c)
        case `sep` if depth == 0 => out += cur.toString; cur.setLength(0)
        case _ => cur.append(c)
      }
    }
    out += cur.toString
    out.toList
  }

  private def parseComplex(s: String): Complex = {
    // tokenize into compounds + combinators
    val parts = scala.collection.mutable.ListBuffer[(Char, String)]()
    val cur = new java.lang.StringBuilder
    var pendingComb: Char = ' '
    var depth = 0
    var quote: Char = 0
    var i = 0
    def flush(): Unit = {
      if (cur.length > 0) { parts += ((pendingComb, cur.toString)); cur.setLength(0); pendingComb = ' ' }
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { cur.append(c); if (c == quote) quote = 0; i += 1 }
      else c match {
        case '"' | '\'' => quote = c; cur.append(c); i += 1
        case '(' | '[' => depth += 1; cur.append(c); i += 1
        case ')' | ']' => depth -= 1; cur.append(c); i += 1
        case '>' | '+' | '~' if depth == 0 =>
          flush()
          if (parts.isEmpty) throw CssParseException(s"dangling combinator in '$s'")
          pendingComb = c
          i += 1
        case w if w.isWhitespace && depth == 0 =>
          // whitespace: possible descendant combinator; peek for explicit combinator
          var j = i
          while (j < s.length && s.charAt(j).isWhitespace) j += 1
          if (j < s.length && (s.charAt(j) == '>' || s.charAt(j) == '+' || s.charAt(j) == '~')) {
            flush(); pendingComb = s.charAt(j); i = j + 1
          } else { flush(); i = j }
        case _ => cur.append(c); i += 1
      }
    }
    flush()
    if (parts.isEmpty) throw CssParseException(s"empty complex selector: '$s'")
    val compounds = parts.toList.map { case (comb, txt) => (comb, parseCompound(txt)) }
    Complex(compounds.head._2, compounds.tail)
  }

  private def parseCompound(s: String): Compound = {
    val simples = scala.collection.mutable.ListBuffer[Simple]()
    var i = 0
    val n = s.length
    def ident(start: Int): (String, Int) = {
      var j = start
      while (j < n && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '-' || s.charAt(j) == '_' || s.charAt(j) > 127)) j += 1
      (s.substring(start, j), j)
    }
    while (i < n) {
      s.charAt(i) match {
        case '*' => simples += TypeSel("*"); i += 1
        case '#' => val (id, j) = ident(i + 1); simples += IdSel(id); i = j
        case '.' => val (cl, j) = ident(i + 1); simples += ClassSel(cl); i = j
        case '[' =>
          val close = matchingBracket(s, i)
          simples += parseAttr(s.substring(i + 1, close))
          i = close + 1
        case ':' =>
          val (name, j) = ident(i + 1)
          if (j < n && s.charAt(j) == '(') {
            val close = matchingParen(s, j)
            val arg = s.substring(j + 1, close)
            simples += parsePseudoFn(name.toLowerCase, arg)
            i = close + 1
          } else {
            simples += parsePseudo(name.toLowerCase)
            i = j
          }
        case c if c.isLetter || c == '-' =>
          val (nm, j) = ident(i); simples += TypeSel(nm.toLowerCase); i = j
        case c => throw CssParseException(s"unexpected '$c' in compound '$s'")
      }
    }
    if (simples.isEmpty) throw CssParseException(s"empty compound in '$s'")
    Compound(simples.toList)
  }

  private def matchingBracket(s: String, open: Int): Int = {
    var depth = 0; var i = open; var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '"' | '\'' => quote = c
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw CssParseException(s"unclosed '[' in '$s'")
  }

  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0; var i = open; var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '"' | '\'' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw CssParseException(s"unclosed '(' in '$s'")
  }

  private def parseAttr(body: String): AttrSel = {
    val ops = List("^=", "$=", "*=", "~=", "|=", "=")
    ops.find(op => body.contains(op)) match {
      case Some(op) =>
        val idx = body.indexOf(op)
        val name = body.substring(0, idx).trim.toLowerCase
        var v = body.substring(idx + op.length).trim
        if (v.length >= 2 && (v.head == '"' || v.head == '\'') && v.last == v.head)
          v = v.substring(1, v.length - 1)
        AttrSel(name, op, v)
      case None => AttrSel(body.trim.toLowerCase, "", "")
    }
  }

  private def parsePseudo(name: String): Simple = name match {
    case "first-child" => NthChild(0, 1, fromEnd = false)
    case "last-child"  => NthChild(0, 1, fromEnd = true)
    case "scope"       => ScopeSel
    case "root"        => ScopeSel // approximation: used only at document level
    case other         => throw CssParseException(s"unsupported pseudo-class :$other")
  }

  private def parsePseudoFn(name: String, arg: String): Simple = name match {
    case "nth-child"      => val (a, b) = parseNth(arg); NthChild(a, b, fromEnd = false)
    case "nth-last-child" => val (a, b) = parseNth(arg); NthChild(a, b, fromEnd = true)
    case "not"            => NotSel(splitTop(arg, ',').map(x => parseCompound(x.trim)))
    case other            => throw CssParseException(s"unsupported pseudo-fn :$other()")
  }

  /** parse an+b forms: "3", "odd", "even", "n", "2n", "n+4", "2n+1", "-n+3" */
  private def parseNth(arg0: String): (Int, Int) = {
    val arg = arg0.trim.toLowerCase.replaceAll("\\s+", "")
    arg match {
      case "odd"  => (2, 1)
      case "even" => (2, 0)
      case _ =>
        val m = java.util.regex.Pattern.compile("^([+-]?\\d*)n([+-]\\d+)?$").matcher(arg)
        if (m.matches()) {
          val a = m.group(1) match {
            case "" | "+" => 1
            case "-"      => -1
            case x        => x.toInt
          }
          val b = Option(m.group(2)).map(_.toInt).getOrElse(0)
          (a, b)
        } else (0, arg.toInt) // plain integer
    }
  }

  // ------------------------------------------------------------------ match

  /** querySelectorAll(context, selector): descendants of `context` matching,
    * in document order.
    *
    * Direct recursive walk rather than the `descendants` Iterator: the
    * lazy iterator allocates a Stack plus a reverseIterator per visited
    * element, and select calls run ~16× per page in the extraction hot
    * path (the round-6 allocation profile measured the iterator machinery
    * as a leading allocator). Document order and the Deadline poll per
    * visited element are preserved.
    */
  def selectAll(context: HElem, selector: String): Vector[HElem] =
    selectAll(context, parse(selector))

  def selectAll(context: HElem, sel: SelectorList): Vector[HElem] = {
    val out = Vector.newBuilder[HElem]
    def walk(e: HElem): Unit = {
      graft.html.Deadline.check()
      if (matches(e, sel, context)) out += e
      val cs = e.children
      var i = 0
      while (i < cs.length) {
        cs(i) match { case c: HElem => walk(c); case _ => }
        i += 1
      }
    }
    val cs = context.children
    var i = 0
    while (i < cs.length) {
      cs(i) match { case c: HElem => walk(c); case _ => }
      i += 1
    }
    out.result()
  }

  def selectFirst(context: HElem, selector: String): Option[HElem] =
    selectFirst(context, parse(selector))

  def selectFirst(context: HElem, sel: SelectorList): Option[HElem] = {
    def walk(e: HElem): HElem = {
      graft.html.Deadline.check()
      if (matches(e, sel, context)) return e
      val cs = e.children
      var i = 0
      while (i < cs.length) {
        cs(i) match {
          case c: HElem =>
            val r = walk(c)
            if (r != null) return r
          case _ =>
        }
        i += 1
      }
      null
    }
    val cs = context.children
    var i = 0
    while (i < cs.length) {
      cs(i) match {
        case c: HElem =>
          val r = walk(c)
          if (r != null) return Some(r)
        case _ =>
      }
      i += 1
    }
    None
  }

  def matches(e: HElem, sel: SelectorList, scope: HElem): Boolean =
    sel.complexes.exists(cx => matchesComplex(e, cx, scope))

  private def matchesComplex(e: HElem, cx: Complex, scope: HElem): Boolean = {
    // rightmost compound must match e; walk left through combinators
    val all = cx.all
    val combs = cx.combs // comb(i) sits between compound(i) and compound(i+1)
    def walk(elem: HElem, idx: Int): Boolean = {
      // compound idx must match elem; idx decreases toward 0 (leftmost)
      if (!matchesCompound(elem, all(idx), scope)) return false
      if (idx == 0) return true
      val comb = combs(idx - 1)
      comb match {
        case ' ' =>
          elem.ancestors.exists(a => walk(a, idx - 1))
        case '>' =>
          elem.parent != null && walk(elem.parent, idx - 1)
        case '+' =>
          elem.prevElemSibling.exists(p => walk(p, idx - 1))
        case '~' =>
          var p = elem.prevElemSibling
          while (p.isDefined) {
            if (walk(p.get, idx - 1)) return true
            p = p.get.prevElemSibling
          }
          false
      }
    }
    walk(e, all.length - 1)
  }

  private def matchesCompound(e: HElem, c: Compound, scope: HElem): Boolean =
    c.simples.forall(s => matchesSimple(e, s, scope))

  private def matchesSimple(e: HElem, s: Simple, scope: HElem): Boolean = s match {
    case TypeSel("*")   => true
    case TypeSel(name)  => e.tag == name
    case IdSel(id)      => e.id.contains(id)
    case ClassSel(cl)   => e.classes.contains(cl)
    case ScopeSel       => e eq scope
    case AttrSel(name, op, v) =>
      e.attr(name) match {
        case None => false
        case Some(av) =>
          op match {
            case ""   => true
            case "="  => av == v
            case "^=" => v.nonEmpty && av.startsWith(v)
            case "$=" => v.nonEmpty && av.endsWith(v)
            case "*=" => v.nonEmpty && av.contains(v)
            case "~=" =>
              // the class-list tokens; the empty-v edge keeps split's
              // semantics (an attr value with leading whitespace yields a
              // leading "" token)
              if (v.isEmpty) av.isEmpty || HElem.isSpace(av.charAt(0))
              else HElem.tokens(av).contains(v)
            case "|=" => av == v || av.startsWith(v + "-")
            case _    => false
          }
      }
    case NthChild(a, b, fromEnd) =>
      if (e.parent == null) false
      else {
        val pos = if (fromEnd) e.elemIndexFromEnd else e.elemIndex
        if (a == 0) pos == b
        else {
          val diff = pos - b
          diff * a >= 0 && diff % a == 0
        }
      }
    case NotSel(inner) => !inner.exists(c => matchesCompound(e, c, scope))
  }
}
