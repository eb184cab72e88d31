package graft.html

import scala.collection.mutable.ArrayBuffer

/** Minimal mutable DOM for the from-scratch lenient HTML parser.
  *
  * Mirrors the node shape the reference operates on: chromedp's CDP node tree
  * for the CSS path (`/root/reference/svcimpl.go:690-798`) and
  * `golang.org/x/net/html.Node` for the XPath path
  * (`/root/reference/svcimpl.go:890-908`). One parse per page; the tree is
  * built once inside the extraction UDF and traversed read-only afterwards.
  */
sealed trait HNode {
  var parent: HElem = _
}

final class HText(val data: String) extends HNode

final class HComment(val data: String) extends HNode

final class HElem(
    val tag: String,
    attrNames: Array[String],
    attrValues: Array[String]
) extends HNode {
  val children: ArrayBuffer[HNode] = ArrayBuffer.empty

  def append(n: HNode): Unit = { n.parent = this; children += n }

  // linear scan: elements carry ≤ a handful of attributes; beats a Map's
  // allocation + hashing in the million-pages-per-round hot path
  def attr(name: String): Option[String] = {
    var i = 0
    while (i < attrNames.length) {
      if (attrNames(i) == name) return Some(attrValues(i))
      i += 1
    }
    None
  }

  def attrRaw(name: String): String = {
    var i = 0
    while (i < attrNames.length) {
      if (attrNames(i) == name) return attrValues(i)
      i += 1
    }
    null
  }

  def foreachAttr(f: (String, String) => Unit): Unit = {
    var i = 0
    while (i < attrNames.length) { f(attrNames(i), attrValues(i)); i += 1 }
  }

  def id: Option[String] = attr("id")

  private[this] var classesCache: Set[String] = _

  def classes: Set[String] = {
    if (classesCache == null) {
      classesCache = attrRaw("class") match {
        case null => Set.empty
        case c => HElem.tokens(c).toSet
      }
    }
    classesCache
  }

  def childElements: Vector[HElem] =
    children.iterator.collect { case e: HElem => e }.toVector

  /** 1-based position among element siblings (CSS :nth-child). */
  def elemIndex: Int = {
    if (parent == null) 1
    else {
      var i = 0
      var pos = 0
      val cs = parent.children
      var found = 0
      while (i < cs.length) {
        cs(i) match {
          case e: HElem =>
            pos += 1
            if (e eq this) { found = pos; i = cs.length }
          case _ =>
        }
        i += 1
      }
      if (found == 0) 1 else found
    }
  }

  /** 1-based position from the end among element siblings (:nth-last-child). */
  def elemIndexFromEnd: Int = {
    if (parent == null) 1
    else {
      val sibs = parent.childElements
      sibs.length - sibs.indexWhere(_ eq this)
    }
  }

  /** All descendant elements in document order, excluding self. */
  def descendants: Iterator[HElem] = new Iterator[HElem] {
    private val stack = scala.collection.mutable.Stack[HNode]()
    children.reverseIterator.foreach(stack.push)
    private var nextElem: HElem = advance()
    private def advance(): HElem = {
      Deadline.check() // cooperative per-page extraction budget (L12)
      while (stack.nonEmpty) {
        stack.pop() match {
          case e: HElem =>
            e.children.reverseIterator.foreach(stack.push)
            return e
          case _ =>
        }
      }
      null
    }
    def hasNext: Boolean = nextElem != null
    def next(): HElem = { val r = nextElem; nextElem = advance(); r }
  }

  /** Self + descendants in document order. */
  def selfAndDescendants: Iterator[HElem] = Iterator.single(this) ++ descendants

  /** Ancestors from parent up to root. */
  def ancestors: Iterator[HElem] = new Iterator[HElem] {
    private var cur = parent
    def hasNext: Boolean = cur != null
    def next(): HElem = { val r = cur; cur = r.parent; r }
  }

  /** Previous element sibling, if any. */
  def prevElemSibling: Option[HElem] = {
    if (parent == null) None
    else {
      var prev: HElem = null
      val it = parent.children.iterator
      while (it.hasNext) {
        it.next() match {
          case e: HElem if e eq this => return Option(prev)
          case e: HElem              => prev = e
          case _                     =>
        }
      }
      None
    }
  }
}

object HElem {
  private val noAttrs = Array.empty[String]

  /** HTML's ASCII whitespace — U+0009, U+000A, U+000C, U+000D and U+0020 —
    * the separator set of Chrome's `classList` and of CSS `~=`. Other
    * Unicode spaces (U+000B, U+00A0, U+2028, ...) are token characters.
    */
  def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** The [[isSpace]]-separated tokens of a class-list attribute value.
    * Hand-rolled: String.split("\\s+") compiles a fresh regex Pattern per
    * call (per-element cost in the million-pages-per-round parse path) and
    * its `\s` is not HTML's whitespace.
    */
  def tokens(s: String): Iterator[String] = new Iterator[String] {
    private def skip(from: Int, space: Boolean): Int = {
      var i = from
      while (i < s.length && isSpace(s.charAt(i)) == space) i += 1
      i
    }
    private var at = skip(0, space = true)
    def hasNext: Boolean = at < s.length
    def next(): String = {
      val end = skip(at, space = false)
      val t = s.substring(at, end)
      at = skip(end, space = true)
      t
    }
  }

  def apply(tag: String): HElem = new HElem(tag, noAttrs, noAttrs)

  def apply(tag: String, attrs: Seq[(String, String)]): HElem = {
    if (attrs.isEmpty) return new HElem(tag, noAttrs, noAttrs)
    // First occurrence of a duplicated attribute wins (HTML5 spec).
    val names = ArrayBuffer[String]()
    val values = ArrayBuffer[String]()
    attrs.foreach { case (k, v) =>
      if (!names.contains(k)) { names += k; values += v }
    }
    new HElem(tag, names.toArray, values.toArray)
  }

  /** Parser fast path: pre-split name/value arrays, no tuple Seq. Same
    * first-wins duplicate rule as [[apply]]; the overwhelmingly common
    * duplicate-free case adopts the arrays as-is (the tokenizer builds a
    * fresh pair per tag, so adoption is safe).
    */
  def fromArrays(tag: String, names: Array[String], values: Array[String]): HElem = {
    var dup = false
    var i = 1
    while (i < names.length && !dup) {
      var j = 0
      while (j < i && !dup) { dup = names(j) == names(i); j += 1 }
      i += 1
    }
    if (!dup) return new HElem(tag, names, values)
    val kn = ArrayBuffer[String]()
    val kv = ArrayBuffer[String]()
    i = 0
    while (i < names.length) {
      if (!kn.contains(names(i))) { kn += names(i); kv += values(i) }
      i += 1
    }
    new HElem(tag, kn.toArray, kv.toArray)
  }
}
