package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._

/** Training-data pipeline + relational queries over the driver tables. */
object PipelineQueries {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.corpus.Fixtures.documents(spark, sfDir)

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  // ------------------------------------------------------------- dedup

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exact(docs(spark, sfDir))

  def dedupNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(spark, sfDir), k = 3, threshold = 0.8)

  def dedupMinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.minhashLshPairs(docs(spark, sfDir), k = 3, threshold = 0.8)

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashPairs(docs(spark, sfDir), maxHamming = 6)

  /** Connected-component clusters over the (verified) near-dup pairs —
    * survivor selection, the dedup pipeline's final stage.
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.nearDupClusters(Dedup.minhashLshPairs(docs(spark, sfDir), k = 3, threshold = 0.8))

  // ------------------------------------------------------------- similarity

  def annTopK(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.bruteForceTopK(emb(spark, sfDir), numQueries = 20, k = 3)

  def annLsh(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.lshTopK(emb(spark, sfDir), numQueries = 20, k = 3)

  /** IVF at the exhaustive-probe setting (nProbe = nCells): cell
    * assignment, probe join and re-rank run end-to-end and the answer
    * equals brute force BY CONSTRUCTION, which is what the DuckDB oracle
    * (the ann_topk SQL) certifies. Pruned probing cannot have recall 1.0
    * on this corpus — the embeddings are isotropic unit vectors (measured
    * within-label avg cosine 0.005 vs cross-label -0.001), so top-3
    * neighbors land in arbitrary k-means cells; the recall-vs-nProbe law
    * on pruned configs is covered by PipelineSpec instead.
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.ivfTopK(emb(spark, sfDir), numQueries = 20, k = 3, nCells = 16, nProbe = 16)

  def embNearDup(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.cosineNearDupPairs(emb(spark, sfDir), threshold = 0.45)

  // ------------------------------------------------------------- text

  def langId(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.langId(docs(spark, sfDir))

  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.qualityScore(docs(spark, sfDir))

  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.tokenCounts(docs(spark, sfDir))

  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.fingerprint(docs(spark, sfDir))

  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.repetitionStats(docs(spark, sfDir))

  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.qualityFilter(docs(spark, sfDir))

  def tfidfTop(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.tfidfTop(docs(spark, sfDir))

  /** Streaming twin of `quality_filter`: the document stream flows through
    * the SAME per-row flag computation at ingest time (filter at the
    * lake's front door, store only keepers) — must reproduce the batch
    * reason bitmask bit-exactly under the shared oracle.
    */
  def streamQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.EventStreams
    import org.apache.spark.sql.types._
    val dir = EventStreams.stagingDir("docsq", sfDir)
    docs(spark, sfDir).select("doc_id", "text").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 4)
      .parquet(dir)
    EventStreams.runToMemory(spark, TextStats.qualityFlags(stream), "stream_quality_sink",
        org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Boilerplate removal over the comment-family fixture pages: the
    * text-density heuristic must pick the comment list and drop the
    * pagination block — oracle reconstructs the exact innerText.
    */
  def htmlMainText(spark: SparkSession, sfDir: String): DataFrame = {
    val cmtPages = graft.corpus.Fixtures.corpus(spark, sfDir)
      .filter(col("url").rlike("/cmt/p[0-9]+\\.html$"))
    MainContent.mainText(cmtPages)
      .withColumn("doc_id", regexp_extract(col("url"), "/d([0-9]+)/", 1).cast("long"))
      .withColumn("page_no", regexp_extract(col("url"), "/p([0-9]+)\\.html", 1).cast("long"))
      .select("doc_id", "page_no", "main_text")
      .orderBy("doc_id", "page_no")
  }

  // ------------------------------------------------------------- multimodal

  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.mediaMeta(spark, docs(spark, sfDir))

  def mediaMetaReal(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.mediaMetaReal(spark, docs(spark, sfDir))

  def frameSample(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.sampleFrames(spark, docs(spark, sfDir))

  def dedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.duplicateSpans(docs(spark, sfDir))

  /** Decontamination demo split: docs with doc_id % 7 == 0 play the
    * held-out benchmark, the rest are the training corpus.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    Dedup.contamination(
      d.filter(col("doc_id") % 7 =!= 0),
      d.filter(col("doc_id") % 7 === 0))
  }

  // ------------------------------------------------------------- warc

  /** ONE owner of the synthetic WARC record (url + body templates +
    * builder): warc_read's framing fields and warc_cdx's offsets are
    * oracle-synchronized to these exact ASCII templates, so the two
    * queries must synthesize from the same bytes or a template tweak in
    * one silently desynchronizes the other's hash.
    */
  private def warcSyntheticRecord(id: Long, text: String): (String, Array[Byte]) = {
    val url = graft.corpus.Fixtures.base(id) + "/page.html"
    // STRICT ascii: String.getBytes(US_ASCII) silently substitutes '?'
    // for unmappable chars, while the DuckDB oracle encodes UTF-8 — a
    // non-ASCII doc would then fail the gate with no hint at the cause.
    // The testdata contract says text IS pure ASCII; validate per row
    // (one branchy char scan, no per-row encoder allocation — this runs
    // inside the mapPartitions hot loop) and throw the moment that ever
    // stops holding.
    val s = s"<html><body><p>$text</p></body></html>"
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0x80)
        throw new IllegalArgumentException(
          s"doc $id text is not pure ASCII (char U+${s.charAt(i).toInt.toHexString} at $i); " +
            "the WARC oracle's octet arithmetic assumes ASCII")
      i += 1
    }
    val body = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    (url, graft.sources.Warc.buildResponseRecord(url, s"doc-$id", body))
  }

  /** Synthesize one ISO-28500 response record per doc, parse it BACK
    * through the WARC + HTTP readers, and emit what the parsers — not a
    * formula — recovered. The DuckDB oracle reconstructs the exact record
    * byte lengths from the same ASCII templates (octet_length over the
    * concatenated header strings), so any framing/offset bug in the
    * reader breaks the hash.
    */
  def warcRead(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.Warc
    docs(spark, sfDir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val (_, rec) = warcSyntheticRecord(id, text)
          val r = Warc.records(rec).next()
          val http = Warc.parseHttp(r.payload).get
          val inner = new String(http.body, java.nio.charset.StandardCharsets.US_ASCII)
            .stripPrefix("<html><body><p>").stripSuffix("</p></body></html>")
          (id, r.targetUri, r.warcType, http.status.toLong, http.contentType,
            http.body.length.toLong, r.length, inner.take(40))
        }
      }
      .toDF("doc_id", "url", "warc_type", "status", "mime", "body_bytes", "rec_len", "snippet")
      .orderBy("doc_id")
  }

  /** CDX-style seek index over the synthetic WARC corpus: records are
    * laid out 100 docs per file in doc_id order, and each record's
    * offset is the windowed running sum of the PARSED record lengths
    * within its file. These offsets seek into the PLAIN (uncompressed
    * concatenation) layout — the only one DuckDB can reconstruct for the
    * oracle. For the gzipped-member layout (Common Crawl's .warc.gz,
    * where a seek must land on a member boundary in the COMPRESSED
    * stream) the identical windowed sum runs over `gzipMember(rec)
    * .length` instead; WarcSpec proves that variant round-trips (offset
    * → slice → parse) since compressed lengths aren't oracle-expressible.
    * Window is PARTITIONED by file, so the cumulative sum distributes;
    * no single-partition global window.
    */
  def warcCdx(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.Warc
    import org.apache.spark.sql.expressions.Window
    val recs = docs(spark, sfDir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val (url, rec) = warcSyntheticRecord(id, text)
          val len = Warc.records(rec).next().length
          (id, f"warc-${id / 100}%05d", len, url)
        }
      }.toDF("doc_id", "warc_file", "rec_len", "url")
    val w = Window.partitionBy("warc_file").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    recs.withColumn("byte_offset", coalesce(sum(col("rec_len")).over(w), lit(0L)))
      .select(col("doc_id"), col("warc_file"), col("byte_offset"), col("rec_len"), col("url"))
      .orderBy("doc_id")
  }

  def mediaMetaVideo(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.mediaMetaVideo(spark, docs(spark, sfDir))

  def frameSampleVideo(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.sampleFramesVideo(spark, docs(spark, sfDir))

  // ------------------------------------------------------------- relational

  /** TPC-H Q1-shaped pricing summary (partial-agg friendly, codegen'd). */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        // exact integer cents — immune to float summation-order noise in
        // the cross-engine oracle compare
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Broadcast dimension join: revenue per market segment. */
  def qJoinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** Window top-k: 3 largest orders per customer. */
  def qWindowTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rk").cast("long").as("rk"))
      .orderBy("o_custkey", "rk")
  }

  /** Event-time tumbling window aggregation over the events stream table —
    * batch-equivalent of the Structured Streaming query proven in
    * StreamingSpec (same plan shape: window + groupBy + agg).
    */
  def qEventsWindow(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("total_cents"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("total_cents"))
      .orderBy("win_start", "event_type")

  /** Structured Streaming twin of `qEventsWindow`: the same watermarked
    * tumbling rollup consumed from a file stream — must land on the same
    * rows as the batch oracle.
    */
  def streamEventsWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.EventStreams
    // the testdata table is a single parquet file; the file-stream source
    // wants a directory of arriving files — stage it as 4 (4 micro-batches)
    val dir = EventStreams.stagingDir("events", sfDir)
    spark.read.parquet(s"$sfDir/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readEvents(spark, dir)
    val table = "stream_events_sink"
    EventStreams.runToMemory(spark, EventStreams.windowedRollup(stream), table)
      .orderBy("win_start", "event_type")
  }
}
