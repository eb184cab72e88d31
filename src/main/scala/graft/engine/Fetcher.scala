package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pluggable fetch stage (SURVEY.md S1: "at real scale the join is
  * replaced by an HTTP fetcher behind the same politeness schedule").
  *
  * The crawler invokes `fetch` AFTER politeness scheduling — and, under
  * `realPace`, after the wall-clock pacing stage — so an implementation
  * sees each row only when the per-host schedule says its request may be
  * issued: `scheduled_ms` / `fetch_seq` / `emitted_ms` ride in on every
  * row. The contract:
  *
  *   - input: the paced frontier batch (`url`, `host`, `url_hash`,
  *     `seed_id`, `page_no`, `cursor`, priority/schedule columns);
  *   - output: the same rows with an `html` binary column appended;
  *   - rows the fetcher cannot retrieve are DROPPED (a miss ≙ the corpus
  *     join's 404/timeout lineage — the frontier store records
  *     `pages_missing` from the batch/fetched delta).
  *
  * When `Crawler.Config.fetcher` is None the crawler fetches through
  * [[CorpusJoinFetcher]]`(corpus, Config.broadcastFrontier)`, called
  * BEFORE the schedule on the unscheduled batch, so urls absent from the
  * corpus never consume politeness slots (the plan shape pinned by
  * PlanSpec). Passing a `CorpusJoinFetcher` as `Config.fetcher` runs the
  * same join behind the schedule; a live deployment supplies an HTTP
  * implementation (e.g. a `mapPartitions` connection-pool fetcher)
  * without touching the loop.
  */
trait Fetcher extends Serializable {
  def fetch(pacedBatch: DataFrame): DataFrame
}

/** The sandbox/default fetch as a [[Fetcher]]: scan-join against a static
  * Common-Crawl-style corpus on url (SURVEY.md S1). `broadcastBatch`
  * mirrors `Crawler.Config.broadcastFrontier`: broadcast the (small) batch
  * so the big corpus never shuffles. At 10^10-frontier scale the
  * broadcast's DRIVER-SIDE hash build becomes the serial floor (it grows
  * with round size), so switching it off gives a shuffle-HASH join: with
  * the corpus pre-partitioned by url (bucketed table at real scale) the
  * corpus never re-shuffles and the hash build runs per-partition on the
  * executors. AQE splits skewed hosts either way.
  */
final class CorpusJoinFetcher(corpus: DataFrame, broadcastBatch: Boolean = true)
    extends Fetcher {
  private val pages = corpus.select(col("url"), col("html"))
  override def fetch(batch: DataFrame): DataFrame = {
    val b = if (broadcastBatch) broadcast(batch) else batch.hint("shuffle_hash")
    b.join(pages, Seq("url"), "inner")
  }
}

/** Deterministic fake fetcher for tests: synthesizes each page's bytes
  * from its url on the executors (no corpus, no I/O). `pageFor` must be a
  * pure function.
  */
final class SyntheticFetcher(pageFor: String => String) extends Fetcher {
  override def fetch(pacedBatch: DataFrame): DataFrame = {
    val render = udf { (u: String) =>
      val html = pageFor(u)
      if (html == null) null else html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    pacedBatch.withColumn("html", render(col("url"))).filter(col("html").isNotNull)
  }
}
