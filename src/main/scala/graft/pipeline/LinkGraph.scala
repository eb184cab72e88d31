package graft.pipeline

import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.engine.Layout

/** Host-level link graph + PageRank — the classic crawl-scale batch job
  * (Page et al. 1999; the reference crawler has no analog, this is the
  * at-scale priority signal a frontier's `priority` column is fed from).
  *
  * Scale notes: `hostEdges` shuffles only (src_host, dst_host) pairs —
  * never page bytes — and the host dimension is orders of magnitude
  * smaller than the page corpus (the 100 TB web is ~10^8 hosts). PageRank
  * runs on the driver while the edge list is within the broadcast bound;
  * above it each iteration shuffles contributions by dst_host over an edge
  * dimension cached once with its out-weight pre-joined, so iterations
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

  /** Deterministic fixed-point PageRank over a weighted host edge list
    * `(src_host, dst_host, n_links)`, returned as `(host, rank)` ordered
    * by host. Ranks are integer micro-units of a total mass of `scale`:
    * every host starts at `scale / h` (h = distinct hosts), and each
    * iteration sets
    * {{{
    * rank'(d) = (15 * (scale / h)) div 100
    *          + Σ over edges s -> d of (n_links * ((85 * rank(s)) div ow(s))) div 100
    * }}}
    * where `ow(s)` is the sum of `n_links` over the edges leaving `s`.
    * Each input row is one edge, so a repeated `(src, dst)` row counts
    * twice. Integer sums do not depend on order, so every engine, every
    * partitioning and both paths below produce the IDENTICAL rank vector
    * (float PageRank is not reproducible across engines or shuffle
    * orders). Truncation loses at most 1 unit per in-edge per iteration —
    * at scale = 10^12 that is noise, and determinism is what the
    * frontier's priority column needs.
    *
    * Hosts are src ∪ dst. A sink host (in-links, no out-links) still gets
    * a rank row: its inbound mass lands and it passes none onward, so
    * dangling mass decays rather than being redistributed (the standard
    * simplification). An empty edge list gives an empty rank table.
    *
    * The edge input is persisted and counted once. At most
    * [[Layout.BroadcastRows]] edges — a frame size Layout already ships
    * whole to every executor as a broadcast — are collected and iterated
    * in plain arrays on the driver: a 50-host graph needs no distributed
    * plan (McSherry et al., "Scalability! But at what COST?", HotOS 2015).
    * Above the bound each iteration is one join of the out-weighted edges
    * with the broadcast rank and one aggregate by host, checkpointed so the
    * plan never grows with `iters`. That checkpoint is a local one: it
    * lives in executor block storage, so the Spark path is fail-stop on
    * executor loss (the rank fails rather than recomputing from lineage),
    * the trade `Dedup.nearDupClusters` makes for its labels. It runs only
    * on graphs above the bound; no fixture or benchmark workload has one,
    * so its cost at that size is unmeasured.
    */
  def pagerank(edges: DataFrame, iters: Int = 5, scale: Long = 1000000000000L): DataFrame =
    pagerank(edges, iters, scale, onDriver = None)

  /** [[pagerank]] with the path forced: `Some(true)` iterates on the
    * driver, `Some(false)` in Spark, `None` picks by the edge count.
    */
  private[graft] def pagerank(edges: DataFrame, iters: Int, scale: Long,
                              onDriver: Option[Boolean]): DataFrame =
    ranks(edges, iters, scale, onDriver) match {
      case Left(local) =>
        // external Rows with a schema become a LocalRelation through the
        // interpreted converters; a Seq of tuples would compile an encoder
        val schema = StructType(Seq(StructField("host", StringType),
          StructField("rank", LongType, nullable = false)))
        edges.sparkSession.createDataFrame(local.map { case (h, r) => Row(h, r) }.asJava, schema)
          .orderBy("host")
      case Right(ranked) => ranked
    }

  /** [[pagerank]]'s rank vector: `Left`, the `(host, rank)` pair of every
    * host when the iterations ran on the driver (at most twice
    * [[Layout.BroadcastRows]] hosts); `Right`, the Spark path's frame.
    */
  private[graft] def ranks(edges: DataFrame, iters: Int = 5, scale: Long = 1000000000000L,
                           onDriver: Option[Boolean] = None): Either[Seq[(String, Long)], DataFrame] = {
    // Persist the edge input ONCE via lazyCache (RDD-level persist, NOT
    // Dataset.cache): both paths read it again after the count, and
    // without the persist each read would re-run the upstream edge
    // extraction (a full crawl in the link_graph pipeline). Dataset.cache
    // would leak strong CacheManager entries per call AND plan-fragment-
    // match across calls — the exact failure lazyCache's scaladoc
    // documents; RDD persists are cleaned by the ContextCleaner when the
    // result goes unreachable. The count, and the driver path's collect,
    // are plain RDD jobs over the persisted rows: they plan no query and
    // compile no generated class. That matters at every call, not just the
    // first: Spark keeps 100 generated classes per JVM by default
    // (spark.sql.codegen.cache.maxEntries), and a workload that cycles
    // through more than that, as perfbench's textpipe does, recompiles
    // each class on every call.
    val (rows, e) = org.apache.spark.sql.GraftSqlBridge.lazyCacheRows(
      edges.select(col("src_host"), col("dst_host"), col("n_links").cast("long")))
    val n = rows.count()
    if (onDriver.getOrElse(n <= Layout.BroadcastRows)) Left(rankOnDriver(rows, iters, scale))
    else Right(rankInSpark(e, n, iters, scale))
  }

  /** The initial rank `scale / h` and the per-iteration floor
    * `(15 * (scale / h)) div 100`; an empty graph (h = 0) has no host to
    * seed, so its share is never read.
    */
  private def shares(scale: Long, h: Long): (Long, Long) = {
    val r0 = scale / math.max(h, 1L)
    (r0, (15L * r0) / 100L)
  }

  private def rankOnDriver(rows: RDD[InternalRow], iters: Int, scale: Long): Seq[(String, Long)] = {
    val edges = rows.map(r => (r.getUTF8String(0).toString, r.getUTF8String(1).toString, r.getLong(2)))
      .collect() // bounded: at most Layout.BroadcastRows edges
    val hosts = edges.flatMap(r => Seq(r._1, r._2)).distinct.sorted
    val index = hosts.zipWithIndex.toMap
    val src = edges.map(r => index(r._1))
    val dst = edges.map(r => index(r._2))
    val w = edges.map(_._3)
    val ow = new Array[Long](hosts.length)
    for (i <- w.indices) ow(src(i)) += w(i)
    val (r0, base) = shares(scale, hosts.length)
    var rank = Array.fill(hosts.length)(r0)
    for (_ <- 1 to iters) {
      val next = Array.fill(hosts.length)(base)
      // the factored damping of the Spark path below, term for term
      for (i <- w.indices) next(dst(i)) += (w(i) * ((85L * rank(src(i))) / ow(src(i)))) / 100L
      rank = next
    }
    hosts.toSeq.zip(rank)
  }

  private def rankInSpark(e: DataFrame, n: Long, iters: Int, scale: Long): DataFrame = {
    val B = org.apache.spark.sql.GraftSqlBridge
    // the host dimension and the out-weighted edges are persisted too:
    // every iteration's contribution plan references them
    val hosts0 = B.lazyCache(
      e.select(col("src_host").as("host"))
        .union(e.select(col("dst_host").as("host"))).distinct())
    val h = hosts0.count() // bounded: the host dimension, one scalar job
    // Both dimensions are read through narrow coalesces sized by their
    // driver-known counts, and every join has a side bounded by h rows
    // (out-weights, rank), broadcast while h is small.
    val eS = Layout.fit(e, n)
    val hosts = Layout.fit(hosts0, h)
    def bcast(df: DataFrame): DataFrame = Layout.broadcastIfSmall(df, h)
    val ew = B.lazyCache(eS
      .join(bcast(eS.groupBy("src_host").agg(sum("n_links").as("ow"))), "src_host")
      .select(col("src_host"), col("dst_host"), col("n_links"), col("ow")))
    val (r0, base) = shares(scale, h)
    // every host's zero contribution: keeps a host without in-links in the
    // rank, at the floor
    val floor = hosts.select(col("host"), lit(0L).as("c"))
    var rank = hosts.select(col("host"), lit(r0).as("rank"))
    for (_ <- 1 to iters) {
      // overflow-safe damping: divide by out-weight BEFORE multiplying by
      // the edge weight. 85*rank <= 85*scale and w*((85*rank) div ow) <=
      // 85*rank (since w <= ow), so no intermediate exceeds ~8.5e13 at the
      // default scale — `85*rank*w` would wrap Long once rank*w passed
      // ~1.1e17 (a heavy host pair at web scale). The DuckDB oracle uses
      // the identical factored arithmetic.
      val contrib = ew.join(bcast(rank), ew("src_host") === rank("host"))
        .select(col("dst_host").as("host"),
          expr("(n_links * ((85 * rank) div ow)) div 100").as("c"))
      // One join and one aggregate over contributions ∪ floor rows, then
      // an eager local checkpoint, as Dedup.nearDupClusters does for its
      // labels: the next iteration plans over this leaf, so a 20-iteration
      // rank never plans 20 joins. Per iteration that is 3 jobs: the rank
      // broadcast (a read of the checkpoint), the contribution shuffle and
      // the checkpoint. Measured on the 148-edge, 50-host sf0.01 hub graph
      // forced onto this path (4-core host, warm, median of 4): 0.84 s at
      // 5 iterations and 1.84 s at 20, where the uncheckpointed loop took
      // 1.13 s and 5.54 s at the same 3 jobs per iteration. A second join
      // of the aggregate back onto the host dimension in place of the floor
      // rows adds a 4th job per iteration (0.93 s and 2.21 s): it only paid
      // while the rank was uncheckpointed, when the broadcast-build job
      // computed it.
      rank = contrib.union(floor).groupBy("host").agg((lit(base) + sum("c")).as("rank"))
        .localCheckpoint(true)
    }
    rank.orderBy("host")
  }
}
