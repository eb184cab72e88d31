package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst `Expression` evaluating one page's full crawl step:
  * it decodes the row, parses the page once and makes ONE
  * [[Extractor.extractPage]] / [[Extractor.extractScrollPage]] call, which
  * returns the items, the next-page link, the scroll-cursor count and the
  * paginate-condition verdict (the reference instead pays a CDP round-trip
  * per node per attr, `svcimpl.go:712-797`, its dominant cost; SURVEY.md
  * §3.1).
  *
  * A native expression (not a Scala UDF) so the job config rides in the
  * expression tree, null handling is explicit, and the output is produced
  * directly as InternalRow/ArrayData with no extra encoder hop.
  * CodegenFallback: the body is a tree-walk interpreter — codegen'ing it
  * would inline nothing; all surrounding operators stay in whole-stage
  * codegen.
  *
  * Output struct:
  *   items          array<compiled item type>  — extracted records, doc order
  *   next_page_url  string                     — absolutized, "" if none
  *   n_scope        int                        — scope-node count (scroll cursor)
  *   paginate_goon  boolean                    — paginateCondition verdict
  *   error          string                     — recover()-style error capture
  */
case class CrawlExtractExpression(
    htmlExpr: Expression,
    urlExpr: Expression,
    pageNoExpr: Expression,
    cursorExpr: Expression,
    iframeHtmlExpr: Expression,
    job: Job,
    mode: AttrMode,
    scroll: Boolean,
    timeBudgetMs: Long
) extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(htmlExpr, urlExpr, pageNoExpr, cursorExpr, iframeHtmlExpr)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(htmlExpr = newChildren(0), urlExpr = newChildren(1), pageNoExpr = newChildren(2),
      cursorExpr = newChildren(3), iframeHtmlExpr = newChildren(4))

  override def nullable: Boolean = false

  val itemType: DataType = SchemaCompiler.itemType(job.cssSelector)

  override def dataType: DataType = StructType(Seq(
    StructField("items", ArrayType(itemType, containsNull = false), nullable = false),
    StructField("next_page_url", StringType, nullable = false),
    StructField("n_scope", IntegerType, nullable = false),
    StructField("paginate_goon", BooleanType, nullable = false),
    StructField("error", StringType, nullable = true)
  ))

  override def eval(input: InternalRow): Any = {
    val htmlV = htmlExpr.eval(input)
    val urlV = urlExpr.eval(input)
    val pageNo = pageNoExpr.eval(input) match { case i: Int => i; case l: Long => l.toInt; case _ => 1 }
    val cursor = cursorExpr.eval(input) match { case i: Int => i; case l: Long => l.toInt; case _ => 0 }
    val url = if (urlV == null) "" else urlV.toString

    if (htmlV == null)
      return result(Vector.empty, "", 0, goon = false, "page not found in corpus")

    // `r.extract` wraps panics into errors (`svcimpl.go:851-861`); one bad
    // page must never fail the stage (SURVEY.md L13). The per-page time
    // budget (L12, `svcimpl.go:321-327`) is armed around the whole step —
    // Deadline.Exceeded lands in the same recover path as an error row.
    graft.html.Deadline.arm(timeBudgetMs)
    try {
      val doc = parse(htmlV)
      // cross-document iframe: the crawler joins the framed page's html in
      // when the job scopes into an iframe whose element carries only a src
      val framed =
        if (!job.cssSelector.iframe) None
        else Option(iframeHtmlExpr.eval(input)).map(parse)
      val page =
        if (scroll) Extractor.extractScrollPage(doc, job, url, mode, cursor, framed, pageNo)
        else Extractor.extractPage(doc, job, pageNo, url, mode, framed)
      val abs = if (page.nextUrl.nonEmpty) graft.urls.Urls.resolve(url, page.nextUrl) else ""
      result(page.items, abs, page.nScope, page.goon, null)
    } catch {
      case e: Exception =>
        result(Vector.empty, "", 0, goon = false, Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    } finally graft.html.Deadline.disarm()
  }

  private def parse(html: Any): graft.html.HElem = html match {
    case b: Array[Byte] => Extractor.parseDocument(b)
    case other          => Extractor.parseDocument(other.toString) // UTF8String
  }

  private def result(items: Vector[XVal], nextUrl: String, nScope: Int, goon: Boolean, error: String): InternalRow =
    new GenericInternalRow(Array[Any](
      Extractor.itemsToCatalyst(items, itemType),
      UTF8String.fromString(nextUrl),
      nScope,
      goon,
      if (error == null) null else UTF8String.fromString(error)
    ))
}

object CrawlExtractExpression {
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.{GraftSqlBridge => ExpressionUtils}

  /** Column API: `crawl_extract($"html", $"url", $"page_no", $"cursor")`. */
  def apply(html: Column, url: Column, pageNo: Column, cursor: Column, job: Job,
            mode: AttrMode = JsProperty, scroll: Boolean = false,
            iframeHtml: Column = lit(null), timeBudgetMs: Long = 0L): Column = {
    ExpressionUtils.column(CrawlExtractExpression(
      ExpressionUtils.expression(html), ExpressionUtils.expression(url),
      ExpressionUtils.expression(pageNo), ExpressionUtils.expression(cursor),
      ExpressionUtils.expression(iframeHtml),
      job, mode, scroll, timeBudgetMs))
  }
}
