package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Layout

/** Host-level link graph + PageRank — the classic crawl-scale batch job
  * (Page et al. 1999; the reference crawler has no analog, this is the
  * at-scale priority signal a frontier's `priority` column is fed from).
  *
  * Scale notes: `hostEdges` shuffles only (src_host, dst_host) pairs —
  * never page bytes — and the host dimension is orders of magnitude
  * smaller than the page corpus (the 100 TB web is ~10^8 hosts). Each
  * PageRank iteration is one shuffle keyed by dst_host; the edge
  * dimension is cached once with its out-weight pre-joined so iterations
  * never rescan the corpus.
  */
object LinkGraph {

  /** The authority (host) of an http(s) url, or "" when there is none.
    * `?#` terminate the authority alongside `/` — `http://b.test?page=2`
    * is host `b.test`, not a distinct `b.test?page=2` node. ONE owner for
    * every link-signal query (edges here, anchor text in CrawlQueries)
    * so the graph and the anchor aggregation can never disagree on which
    * host a row belongs to.
    */
  def hostOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // anchored: only strings that ARE http(s) URLs yield a host — an
    // unanchored pattern would extract a host out of a URL embedded
    // mid-string ('javascript:open("http://x.test")', 'junk http://x.test')
    // and hand the graph a phantom edge instead of dropping the row
    regexp_extract(c, "^https?://([^/?#]+)", 1)

  /** Aggregate extracted absolute hrefs into a weighted host-level edge
    * list: (src_host, dst_host, n_links). Rows whose url or href has no
    * extractable http(s) host are DROPPED — regexp_extract returns "" on
    * no match (mailto:, protocol-relative, garbage hrefs are normal crawl
    * output), and without the filter every such row would collapse onto a
    * phantom "" node absorbing rank mass.
    */
  def hostEdges(links: DataFrame, urlCol: String = "url", hrefCol: String = "out"): DataFrame =
    links.select(
        hostOf(col(urlCol)).as("src_host"),
        hostOf(col(hrefCol)).as("dst_host"))
      .filter(length(col("src_host")) > 0 && length(col("dst_host")) > 0)
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))

  /** Deterministic fixed-point PageRank: ranks are integer micro-units of
    * a total mass of `scale`, damping 0.85 applied as exact integer
    * arithmetic (`85 * r * w div (100 * outw)`), so every engine — and
    * every partitioning / re-execution of this plan — produces the
    * IDENTICAL rank vector (integer sums are order-independent; float
    * PageRank is not reproducible across engines or shuffle orders).
    * Truncation loses at most 1 unit per in-edge per iteration — at
    * scale = 10^12 that is noise, and determinism is what the frontier's
    * priority column needs.
    *
    * Every host in `edges` has out-links by construction of the hub
    * family, so no dangling-mass redistribution is needed; dangling mass
    * from truncation simply decays (standard simplification).
    */
  def pagerank(edges: DataFrame, iters: Int = 5, scale: Long = 1000000000000L): DataFrame = {
    val B = org.apache.spark.sql.GraftSqlBridge
    // Persist the edge input, the host dimension and the out-weighted edges
    // ONCE each via lazyCache (RDD-level persist, NOT Dataset.cache): the
    // iteration loop references them in every contribution plan, and
    // without the persist each of the `iters` subplans would re-run the
    // upstream edge extraction (a full crawl in the link_graph pipeline).
    // Dataset.cache would leak strong CacheManager entries per call AND
    // plan-fragment-match across calls — the exact failure lazyCache's
    // scaladoc documents; RDD persists are cleaned by the ContextCleaner
    // when the result goes unreachable.
    val e = B.lazyCache(edges)
    // hosts = src ∪ dst: a sink host (in-links, no out-links) still gets a
    // rank row — its inbound mass lands, it just contributes none onward
    // (the documented dangling-mass-decays simplification).
    val hosts0 = B.lazyCache(
      e.select(col("src_host").as("host"))
        .union(e.select(col("dst_host").as("host"))).distinct())
    val h = hosts0.count() // bounded: the host dimension, one scalar job
    // empty graph (a hub extraction that matched nothing): an empty rank
    // table with the right schema, not a divide-by-zero on scale / h
    if (h == 0L)
      return edges.sparkSession.createDataFrame(
        edges.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("host", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType))))
    // the h-count job materialized `e` too (hosts derive from it), so the
    // edge count is one cheap cached-read job. Both dimensions are then read
    // through narrow coalesces sized by their driver-known counts, and every
    // per-iteration join has a side bounded by h rows (rank, out-weights,
    // contributions), broadcast while h is small.
    val eS = Layout.fit(e, e.count())
    val hosts = Layout.fit(hosts0, h)
    def bcast(df: DataFrame): DataFrame = Layout.broadcastIfSmall(df, h)
    val ew = B.lazyCache(eS
      .join(bcast(eS.groupBy("src_host").agg(sum("n_links").as("ow"))), "src_host")
      .select(col("src_host"), col("dst_host"), col("n_links"), col("ow")))
    val base = (15L * (scale / h)) / 100L
    // Loop body: the r5 two-join shape, deliberately. A union-agg
    // restructure (fold the zero-contribution floor rows into the
    // contribution aggregate, one join per iteration) was tried and
    // MEASURED 2.5x SLOWER at fixture scale (round-6 A/B: 0.5-0.6 s vs
    // 1.2-1.5 s warm): making each iteration's rank root an
    // exchange+aggregate turns every bcast(rank) build into an AQE
    // shuffle-stage job with 32-reducer writer/codec buffers, where the
    // two-join shape computes rank INSIDE the broadcast-build job as a
    // pure broadcast-hash join over the cached host dimension — the
    // second "join" costs less than the exchange it would replace.
    var rank = hosts.select(col("host"), lit(scale / h).as("rank"))
    for (_ <- 1 to iters) {
      // overflow-safe damping: divide by out-weight BEFORE multiplying by
      // the edge weight. 85*rank <= 85*scale and w*((85*rank) div ow) <=
      // 85*rank (since w <= ow), so no intermediate exceeds ~8.5e13 at the
      // default scale — `85*rank*w` would wrap Long once rank*w passed
      // ~1.1e17 (a heavy host pair at web scale). The DuckDB oracle uses
      // the identical factored arithmetic.
      val contrib = ew.join(bcast(rank), ew("src_host") === rank("host"))
        .select(col("dst_host"),
          expr("(n_links * ((85 * rank) div ow)) div 100").as("c"))
        .groupBy("dst_host").agg(sum("c").as("inmass"))
      rank = hosts.join(bcast(contrib), hosts("host") === contrib("dst_host"), "left")
        .select(hosts("host"), (lit(base) + coalesce(col("inmass"), lit(0L))).as("rank"))
    }
    rank.orderBy("host")
  }
}
