package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.engine.{Crawler, Politeness, Sinks}
import graft.extract._

/** Config parity with the reference's `RabiConfig`
  * (`/root/reference/config/config.go:12-50`) — same knobs, same env names
  * with the `RABI_` prefix, same defaults. `Concurrency`/`Throttle*` are
  * declared-but-TODO in the reference; here they are implemented
  * (per-host serialization + token-bucket floor, Politeness.scala).
  */
final case class RabiConfig(
    delay: (Long, Long) = (2000L, 3000L), // RABI_DELAY "2s,3s"
    concurrency: Int = 1,                 // RABI_CONCURRENCY
    throttleNum: Int = 0,                 // RABI_THROTTLE_NUM
    throttleDurationMs: Long = 1000L,     // RABI_THROTTLE_DURATION
    timeoutMs: Long = 10000L,             // RABI_TIMEOUT "10s"
    mode: String = "headless",            // RABI_MODE
    debug: Boolean = false,               // RABI_DEBUG
    out: String = "out",                  // RABI_OUT
    strict: Boolean = false,              // RABI_STRICT
    proxy: String = "",                   // RABI_PROXY
    scrollType: String = "scrollBy",      // RABI_SCROLL_TYPE
    scrollTop: String = "800",            // RABI_SCROLL_TOP
    scrollLeft: String = "0"              // RABI_SCROLL_LEFT
) extends Serializable {
  def politeness: Politeness.Config =
    Politeness.Config(delay._1, delay._2, concurrency, throttleNum, throttleDurationMs)
}

object RabiConfig {

  private def dur(s: String): Long = {
    val t = s.trim
    if (t.endsWith("ms")) t.dropRight(2).toLong
    else if (t.endsWith("s")) (t.dropRight(1).toDouble * 1000).toLong
    else if (t.endsWith("m")) (t.dropRight(1).toDouble * 60000).toLong
    else t.toLong
  }

  /** `config.LoadFromEnv` parity (`config/config.go:43-50`): envconfig with
    * prefix RABI_.
    */
  def loadFromEnv(env: Map[String, String] = sys.env): RabiConfig = {
    def get(k: String): Option[String] = env.get(s"RABI_$k").filter(_.nonEmpty)
    val delays = get("DELAY").map(_.split(',').map(dur)).getOrElse(Array(2000L, 3000L))
    RabiConfig(
      delay = (delays.head, if (delays.length > 1) delays(1) else delays.head),
      concurrency = get("CONCURRENCY").map(_.toInt).getOrElse(1),
      throttleNum = get("THROTTLE_NUM").map(_.toInt).getOrElse(0),
      throttleDurationMs = get("THROTTLE_DURATION").map(dur).getOrElse(1000L),
      timeoutMs = get("TIMEOUT").map(dur).getOrElse(10000L),
      mode = get("MODE").getOrElse("headless"),
      debug = get("DEBUG").exists(v => v == "true" || v == "1"),
      out = get("OUT").getOrElse("out"),
      strict = get("STRICT").exists(v => v == "true" || v == "1"),
      proxy = get("PROXY").getOrElse(""),
      scrollType = get("SCROLL_TYPE").getOrElse("scrollBy"),
      scrollTop = get("SCROLL_TOP").getOrElse("800"),
      scrollLeft = get("SCROLL_LEFT").getOrElse("0"))
  }
}

/** API facade mirroring the reference's `Rabida` interface
  * (`/root/reference/svc.go:92-205`): the same entry points, with the
  * browser-specific parameters (chromedp actions, CDP listeners) replaced
  * by their Spark-side equivalents. A reference user's call shape —
  * build a Job, call Crawl with a callback, abort by returning true —
  * carries over verbatim.
  *
  * Callback signature parity: `callback(ret, nextPageUrl, currentPageNo)`.
  * `ret` arrives as the reference's `[]interface{}`-shaped rows (one Row
  * per extracted record, document order); nextPageUrl is the first
  * non-empty next url of the round ("" at the end).
  */
final class Rabida(spark: SparkSession, corpus: DataFrame, conf: RabiConfig = RabiConfig()) {

  private def crawler(c: RabiConfig): Crawler =
    new Crawler(spark, corpus, Crawler.Config(politeness = c.politeness, timeBudgetMs = c.timeoutMs))

  /** `Crawl` (`svc.go:93-101`). */
  def crawl(job: Job)(callback: (Seq[Row], String, Int) => Boolean): Unit =
    crawlWithConfig(job, conf)(callback)

  /** `CrawlWithConfig` (`svc.go:103-113`). */
  def crawlWithConfig(job: Job, c: RabiConfig)(callback: (Seq[Row], String, Int) => Boolean): Unit =
    crawler(c).crawl(job, callback = Some {
      (round: Int, pages: DataFrame) => emit(pages, callback, round)
    }).count()

  /** `CrawlScroll` (`svc.go:136-144`): callback(ret, cursor, pageNo). */
  def crawlScroll(job: Job)(callback: (Seq[Row], Int, Int) => Boolean): Unit =
    crawler(conf).crawlScroll(job, callback = Some {
      (round: Int, pages: DataFrame) =>
        val rows = collectItems(pages)
        val cursor = pages.select(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("cursor") +
            org.apache.spark.sql.functions.col("n_scope"))).head match {
          case r if r.isNullAt(0) => 0
          case r                  => r.getInt(0)
        }
        callback(rows, cursor, round)
    }).count()

  /** `CrawlScrollSmooth` (`svc.go:171-179`): callback(ret, pageNo). */
  def crawlScrollSmooth(job: Job)(callback: (Seq[Row], Int) => Boolean): Unit =
    crawler(conf).crawlScrollSmooth(job, callback = Some {
      (round: Int, pages: DataFrame) => callback(collectItems(pages), round)
    }).count()

  /** `DownloadFile` (`svc.go:128-134`): fetch the job's link, write its
    * payload to `conf.out`, invoke callback with the file path.
    */
  def downloadFile(job: Job)(callback: String => Unit): Unit = {
    val url = if (job.startPageUrl.nonEmpty) job.startPageUrl else job.link
    val page = corpus.filter(org.apache.spark.sql.functions.col("url") === url)
    Sinks.downloadFiles(page, conf.out)
    val name = java.lang.Long.toHexString(
      graft.urls.Urls.urlHash(graft.urls.Urls.canonicalize(url)))
    new java.io.File(conf.out).listFiles().find(_.getName.startsWith(name))
      .foreach(f => callback(f.getPath))
  }

  /** NOTE (scale): the callback API is inherently driver-side — the
    * reference's `callback(ret, ...)` receives materialized rows, so every
    * round's items are collect()ed here. That is the right surface for the
    * reference's interactive use (pages of tens-hundreds of rows), but for
    * big crawls use `Crawler.run` / `Crawler.crawl` directly: they return
    * the full DataFrame and never collect.
    */
  private def collectItems(pages: DataFrame): Seq[Row] = {
    import org.apache.spark.sql.functions._
    pages.select(posexplode_outer(col("items")).as(Seq("p", "item")))
      .filter(col("item").isNotNull)
      .orderBy("p").select("item.*").collect().toSeq
  }

  private def emit(pages: DataFrame, callback: (Seq[Row], String, Int) => Boolean,
                   pageNo: Int): Boolean = {
    import org.apache.spark.sql.functions.{col, length}
    val rows = collectItems(pages)
    val nextUrl = pages.select(col("next_page_url"))
      .filter(length(col("next_page_url")) > 0)
      .collect().headOption.map(_.getString(0)).getOrElse("")
    callback(rows, nextUrl, pageNo)
  }
}
