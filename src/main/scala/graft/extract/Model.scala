package graft.extract

import org.apache.spark.sql.types._

// Job / selector model — Scala mirror of the reference's config structs
// (`svc.go:12-90`), NOT of its execution. All driver-side config objects;
// serializable so they can ride inside Catalyst expressions to executors.

/** `svc.go:12-35` CssSelector. `attrs == None` ⇔ Go `Attrs == nil` (leaf). */
final case class Selector(
    css: String = "",
    attr: String = "",
    scope: String = "",
    attrs: Option[Map[String, Selector]] = None,
    iframe: Boolean = false,
    iframeSelector: Option[Selector] = None,
    xpathScope: String = "",
    xpath: String = "",
    setAttrs: Seq[SetAttribute] = Nil,
    before: Seq[EventSelector] = Nil,
    condition: Option[Condition] = None
) extends Serializable {
  def isXpath: Boolean = xpathScope.nonEmpty || xpath.nonEmpty
  /** `svcimpl.go:535-540` CssOrXpath. */
  def cssOrXpath: String = if (css.nonEmpty) css else xpath
}

/** `svc.go:67-70`. */
final case class SetAttribute(name: String, value: String) extends Serializable

/** `svc.go:83-90`. */
sealed trait Event extends Serializable
case object ClickEvent extends Event
case object SetAttributesValueEvent extends Event
case object TextEvent extends Event
case object GetAttributeValueEvent extends Event

/** `svc.go:54-58`. */
final case class EventSelector(
    eventType: Event,
    condition: Option[Condition] = None,
    selector: Selector = Selector()
) extends Serializable

/** `svc.go:72-81`. `checkFunc` is the user closure (e.g. `strings.Contains`
  * in `do_something_before_test.go:32-34`); must be a serializable Scala
  * function as it evaluates on executors.
  */
final case class Condition(
    value: String,
    checkFunc: (String, String) => Boolean,
    execType: Event,
    execSelector: Selector
) extends Serializable

/** `svc.go:60-65` — fetch metadata; carried for API fidelity, a no-op
  * against a static corpus (SURVEY.md §2.1 S4).
  */
final case class HttpCookies(rawCookies: String = "", domain: String = "", expires: Int = 0)
    extends Serializable

/** `svc.go:37-52` Job. `paginatorFunc` mirrors the Go field (dynamic
  * selector templated on pageNo, `dynamic_nextpagebtn_test.go:36-40`).
  */
final case class Job(
    link: String,
    cssSelector: Selector,
    prePaginate: Seq[EventSelector] = Nil,
    paginator: Selector = Selector(),
    paginatorFunc: Option[Int => Selector] = None,
    paginatorCondition: Option[Condition] = None,
    limit: Int = 0,
    startPageBtn: Selector = Selector(),
    startPageUrl: String = "",
    enableCookies: HttpCookies = HttpCookies()
) extends Serializable {
  /** `svcimpl.go:153-164` paginator resolution. */
  def resolvedPaginator(pageNo: Int): Selector =
    paginatorFunc.map(_(pageNo)).getOrElse(paginator)
}

/** C3 (SURVEY.md §2.4): the Crawl path reads attrs as JS properties
  * (absolutized href/src); CrawlScrollSmooth reads raw DOM attributes
  * (`svcimpl_scroll_smooth.go:486-492` vs `svcimpl.go:770-771`).
  */
sealed trait AttrMode extends Serializable
case object JsProperty extends AttrMode
case object DomAttribute extends AttrMode

/** Compile a selector tree to the concrete Catalyst type of one extracted
  * item (SURVEY.md §1.2: dynamic→static schema inference at plan time).
  * Leaf → string; record → struct with fields sorted by attr name; a
  * sub-selector owning a scope keeps the whole result list → array.
  */
object SchemaCompiler {
  def itemType(sel: Selector): DataType = sel.attrs match {
    case None => StringType
    case Some(m) =>
      StructType(m.toSeq.sortBy(_._1).map { case (name, sub) =>
        val hasScope = if (sub.isXpath) sub.xpathScope.nonEmpty else sub.scope.nonEmpty
        val t = itemType(sub)
        StructField(name, if (hasScope) ArrayType(t, containsNull = false) else t, nullable = true)
      })
  }
}
