package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a `queries` entry; each
  * entry with SQL-expressible semantics has a DuckDB oracle in `oracleSql`
  * reconstructing the expected rows from the same parquet tables
  * (`documents` drives the fixture corpus — Fixtures.scala documents the
  * generation rules both sides rely on).
  */
object SparkEntry {

  /** Flagship: the paginated list crawl (SURVEY.md §7 minimum slice) on
    * sf=0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    CrawlQueries.crawlList(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- crawl engine (SURVEY.md §2.1-2.4) ---
    "crawl_list" -> (CrawlQueries.crawlList(_, _)),
    "crawl_xpath" -> (CrawlQueries.crawlXpath(_, _)),
    "crawl_condition" -> (CrawlQueries.crawlCondition(_, _)),
    "crawl_iframe" -> (CrawlQueries.crawlIframe(_, _)),
    "crawl_scroll" -> (CrawlQueries.crawlScroll(_, _)),
    "crawl_scroll_smooth" -> (CrawlQueries.crawlScrollSmooth(_, _)),
    "crawl_dynamic" -> (CrawlQueries.crawlDynamic(_, _)),
    "crawl_robots" -> (CrawlQueries.crawlRobots(_, _)),
    "crawl_edge" -> (CrawlQueries.crawlEdge(_, _)),
    "crawl_entities" -> (CrawlQueries.crawlEntities(_, _)),
    "crawl_iframe_xdoc" -> (CrawlQueries.crawlIframeXdoc(_, _)),
    "url_seen" -> (CrawlQueries.urlSeen(_, _)),
    "url_seen_sharded" -> (CrawlQueries.urlSeenSharded(_, _)),
    "politeness_schedule" -> (CrawlQueries.politenessSchedule(_, _)),
    "politeness_concurrency" -> (CrawlQueries.politenessConcurrency(_, _)),
    "crawl_metrics" -> (CrawlQueries.crawlMetrics(_, _)),
    "sitemap_discover" -> (CrawlQueries.sitemapDiscover(_, _)),
    "sitemap_index" -> (CrawlQueries.sitemapIndex(_, _)),
    "crawl_prioritized" -> (CrawlQueries.crawlPrioritized(_, _)),
    "crawl_rank_prioritized" -> (CrawlQueries.crawlRankPrioritized(_, _)),
    "recrawl_due" -> (CrawlQueries.recrawlDue(_, _)),
    "robots_sitemaps" -> (CrawlQueries.robotsSitemaps(_, _)),
    "link_graph" -> (CrawlQueries.linkGraph(_, _)),
    "pagerank_hosts" -> (CrawlQueries.pagerankHosts(_, _)),
    "anchor_text" -> (CrawlQueries.anchorText(_, _)),
    "stream_extract" -> (CrawlQueries.streamExtract(_, _)),
    "stream_metrics" -> (CrawlQueries.streamMetrics(_, _)),
    "stream_quality" -> (PipelineQueries.streamQuality(_, _)),
    // --- training-data pipeline ops ---
    "dedup_exact" -> (PipelineQueries.dedupExact(_, _)),
    "dedup_ngram_jaccard" -> (PipelineQueries.dedupNgramJaccard(_, _)),
    "dedup_minhash_lsh" -> (PipelineQueries.dedupMinhashLsh(_, _)),
    "dedup_simhash" -> (PipelineQueries.dedupSimhash(_, _)),
    "dedup_clusters" -> (PipelineQueries.dedupClusters(_, _)),
    "dedup_spans" -> (PipelineQueries.dedupSpans(_, _)),
    "decontaminate" -> (PipelineQueries.decontaminate(_, _)),
    "ann_topk" -> (PipelineQueries.annTopK(_, _)),
    "ann_lsh" -> (PipelineQueries.annLsh(_, _)),
    "ann_ivf" -> (PipelineQueries.annIvf(_, _)),
    "emb_near_dup" -> (PipelineQueries.embNearDup(_, _)),
    "html_main_text" -> (PipelineQueries.htmlMainText(_, _)),
    "lang_id" -> (PipelineQueries.langId(_, _)),
    "quality_score" -> (PipelineQueries.qualityScore(_, _)),
    "token_count" -> (PipelineQueries.tokenCount(_, _)),
    "doc_fingerprint" -> (PipelineQueries.docFingerprint(_, _)),
    "repetition_stats" -> (PipelineQueries.repetitionStats(_, _)),
    "quality_filter" -> (PipelineQueries.qualityFilter(_, _)),
    "tfidf_top" -> (PipelineQueries.tfidfTop(_, _)),
    "media_meta" -> (PipelineQueries.mediaMeta(_, _)),
    "media_meta_real" -> (PipelineQueries.mediaMetaReal(_, _)),
    "media_meta_video" -> (PipelineQueries.mediaMetaVideo(_, _)),
    "warc_read" -> (PipelineQueries.warcRead(_, _)),
    "warc_cdx" -> (PipelineQueries.warcCdx(_, _)),
    "frame_sample" -> (PipelineQueries.frameSample(_, _)),
    "frame_sample_video" -> (PipelineQueries.frameSampleVideo(_, _)),
    // --- relational / windowed ---
    "q1_agg" -> (PipelineQueries.q1Agg(_, _)),
    "q_join_broadcast" -> (PipelineQueries.qJoinBroadcast(_, _)),
    "q_window_topk" -> (PipelineQueries.qWindowTopK(_, _)),
    "q_events_window" -> (PipelineQueries.qEventsWindow(_, _)),
    "stream_events_window" -> (PipelineQueries.streamEventsWindow(_, _))
  )

  def oracleSql: Map[String, String] = Map(
    "crawl_list" -> crawlListOracle,
    // streaming ingest must reproduce the batch extraction byte-identically
    "stream_extract" -> crawlListOracle,
    "crawl_xpath" ->
      """SELECT d.doc_id, k AS page_no, i-1 AS pos,
        |  'cmt '||d.doc_id||' '||k||'-'||i||' '||substr(d.text,1,40) AS content,
        |  '2024-0'||k||'-1'||i AS ctime
        |FROM documents d, generate_series(1,3) s(k), generate_series(1,3) s2(i)
        |ORDER BY 1,2,3""".stripMargin,
    "crawl_condition" ->
      """SELECT d.doc_id, k AS page_no, i-1 AS pos,
        |  'Cond '||d.doc_id||' item '||k||'-'||i AS title
        |FROM documents d, generate_series(1,5) s(k), generate_series(1,2) s2(i)
        |ORDER BY 1,2,3""".stripMargin,
    "crawl_iframe" ->
      """SELECT d.doc_id, k AS page_no, i-1 AS pos,
        |  'IT '||d.doc_id||' '||k||'-'||i AS title,
        |  'http://h'||(d.doc_id%50)||'.test/d'||d.doc_id||'/ifr/arti_'||d.doc_id||'_'||k||'_'||i||'.html' AS link,
        |  '2024-1'||k||'-0'||i AS date_s
        |FROM documents d, generate_series(1,3) s(k), generate_series(1,3) s2(i)
        |ORDER BY 1,2,3""".stripMargin,
    "crawl_scroll" ->
      """SELECT d.doc_id, k AS page_no, i-1 AS pos,
        |  'More '||d.doc_id||' item '||i AS title,
        |  't'||i AS time_s,
        |  'http://h'||(d.doc_id%50)||'.test/d'||d.doc_id||'/more/m_'||d.doc_id||'_'||i||'.html' AS link
        |FROM documents d, generate_series(1,3) s(k), generate_series(1,12) s2(i)
        |WHERE i > (k-1)*4 AND i <= k*4
        |ORDER BY 1,2,3""".stripMargin,
    "crawl_scroll_smooth" ->
      """SELECT d.doc_id, k AS page_no, i-1 AS pos,
        |  'Tweet '||d.doc_id||' no '||i AS txt,
        |  '2024-03-0'||i||'T00:00:00Z' AS dt,
        |  '/u/status/'||d.doc_id||'00'||i AS link,
        |  (i*3)||' replies, '||(i*5)||' likes' AS labels
        |FROM documents d, generate_series(1,3) s(k), generate_series(1,5) s2(i)
        |WHERE i <= k+2
        |ORDER BY 1,2,3""".stripMargin,
    "crawl_dynamic" ->
      """SELECT d.doc_id, k AS page_no, i-1 AS pos,
        |  'Dyn '||d.doc_id||' '||k||'-'||i AS t
        |FROM documents d, generate_series(1,3) s(k), generate_series(1,2) s2(i)
        |ORDER BY 1,2,3""".stripMargin,
    "crawl_robots" ->
      """SELECT doc_id, 'Robot '||doc_id||' ok' AS title
        |FROM documents WHERE doc_id % 5 <> 0
        |ORDER BY 1""".stripMargin,
    "crawl_edge" ->
      """SELECT doc_id, CAST(0 AS BIGINT) AS pos,
        |  'A'||doc_id||'B'||doc_id AS ab,
        |  CAST(NULL AS VARCHAR) AS date_s, CAST(NULL AS VARCHAR) AS noval
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT), NULL, '2024-01-01', NULL FROM documents
        |ORDER BY 1,2""".stripMargin,
    "crawl_entities" ->
      """SELECT doc_id, '<x> & "q" '||chr(169)||doc_id AS val
        |FROM documents ORDER BY 1""".stripMargin,
    "url_seen" ->
      """SELECT d.doc_id,
        |  'http://h'||(d.doc_id%50)||'.test/d'||d.doc_id||'/list/p'||k||'.html' AS url
        |FROM documents d, generate_series(1,3) s(k)
        |ORDER BY 1,2""".stripMargin,
    // identical oracle: the sharded (bloom + cuckoo + exact SeenShard)
    // dedup path must reproduce the exact same final URL-seen set
    "url_seen_sharded" ->
      """SELECT d.doc_id,
        |  'http://h'||(d.doc_id%50)||'.test/d'||d.doc_id||'/list/p'||k||'.html' AS url
        |FROM documents d, generate_series(1,3) s(k)
        |ORDER BY 1,2""".stripMargin,
    "politeness_schedule" ->
      """WITH pages AS (
        |  SELECT doc_id, k AS page_no,
        |    'http://h'||(doc_id%50)||'.test/d'||doc_id||'/list/p'||k||'.html' AS url,
        |    doc_id%50 AS h
        |  FROM documents, generate_series(1,3) s(k))
        |SELECT doc_id, page_no, url,
        |  (row_number() OVER (PARTITION BY h, page_no ORDER BY url) - 1) * 100 AS scheduled_ms,
        |  row_number() OVER (PARTITION BY h, page_no ORDER BY url) - 1 AS fetch_seq
        |FROM pages ORDER BY 1,2""".stripMargin,
    "politeness_concurrency" ->
      """WITH pages AS (
        |  SELECT doc_id, k AS page_no,
        |    'http://h'||(doc_id%50)||'.test/d'||doc_id||'/list/p'||k||'.html' AS url,
        |    doc_id%50 AS h
        |  FROM documents, generate_series(1,3) s(k))
        |SELECT doc_id, page_no, url,
        |  ((row_number() OVER (PARTITION BY h, page_no ORDER BY url) - 1) // 2) * 100 AS scheduled_ms,
        |  row_number() OVER (PARTITION BY h, page_no ORDER BY url) - 1 AS fetch_seq
        |FROM pages ORDER BY 1,2""".stripMargin,
    "crawl_iframe_xdoc" ->
      """SELECT d.doc_id, k AS page_no, i-1 AS pos,
        |  'XD '||d.doc_id||' '||k||'-'||i||' '||substr(d.text,1,40) AS content,
        |  'http://h'||(d.doc_id%50)||'.test/d'||d.doc_id||'/xifr/xart_'||d.doc_id||'_'||k||'_'||i||'.html' AS link,
        |  '2025-0'||k||'-0'||i AS date_s
        |FROM documents d, generate_series(1,2) s(k), generate_series(1,3) s2(i)
        |ORDER BY 1,2,3""".stripMargin,
    "sitemap_discover" ->
      """SELECT doc_id, k-1 AS pos,
        |  'http://h'||(doc_id%50)||'.test/d'||doc_id||'/list/p'||k||'.html' AS url,
        |  '2024-0'||k||'-01' AS lastmod
        |FROM documents, generate_series(1,3) s(k) ORDER BY 1,2""".stripMargin,
    // priority frontier, round one: exactly the two lowest priority levels
    "crawl_prioritized" ->
      """SELECT doc_id, i-1 AS pos, 'Doc '||doc_id||' item 1-'||i AS title
        |FROM documents, generate_series(1,4) s(i)
        |WHERE doc_id % 10 <= 1
        |ORDER BY 1,2""".stripMargin,
    "crawl_rank_prioritized" -> crawlRankPrioritizedOracle(5),
    "robots_sitemaps" ->
      """SELECT 'http://h'||(doc_id%50)||'.test/robots.txt' AS robots_url,
        |  'http://h'||(doc_id%50)||'.test/sitemap_index.xml' AS index_url,
        |  CAST(doc_id//50 AS BIGINT) AS sitemap_pos,
        |  k-1 AS pos,
        |  'http://h'||(doc_id%50)||'.test/d'||doc_id||'/list/p'||k||'.html' AS url,
        |  '2024-0'||k||'-01' AS lastmod
        |FROM documents, generate_series(1,3) s(k) ORDER BY 1,3,4""".stripMargin,
    "recrawl_due" ->
      """WITH pages AS (
        |  SELECT 'http://h'||(doc_id%50)||'.test/d'||doc_id||'/list/p'||k||'.html' AS url,
        |    (doc_id*100 + k - 1)*1000 AS rel_last_ms,
        |    CAST(((doc_id%50)*7 % 96 + 1) * 3600000 AS BIGINT) AS change_period_ms
        |  FROM documents, generate_series(1,3) s(k))
        |SELECT url, CAST(100000000 - rel_last_ms AS BIGINT) AS age_ms, change_period_ms,
        |  CAST(((100000000 - rel_last_ms) * 1000) // change_period_ms AS BIGINT) AS staleness_ppt
        |FROM pages WHERE 100000000 - rel_last_ms >= change_period_ms
        |ORDER BY url""".stripMargin,
    "sitemap_index" ->
      """SELECT 'http://h'||(doc_id%50)||'.test/sitemap_index.xml' AS index_url,
        |  CAST(doc_id//50 AS BIGINT) AS sitemap_pos,
        |  k-1 AS pos,
        |  'http://h'||(doc_id%50)||'.test/d'||doc_id||'/list/p'||k||'.html' AS url,
        |  '2024-0'||k||'-01' AS lastmod
        |FROM documents, generate_series(1,3) s(k) ORDER BY 1,2,3""".stripMargin,
    "link_graph" ->
      s"""WITH $linkGraphEdgesCte
         |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
         |FROM e0 GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "pagerank_hosts" -> pagerankOracle(5),
    "anchor_text" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |a0 AS (
        |  SELECT 'h'||(((doc_id+1)%n)%50)||'.test' AS dst_host, 'hub '||((doc_id+1)%n) AS anchor FROM documents, nn
        |  UNION ALL SELECT 'h'||(((doc_id*2+7)%n)%50)||'.test', 'hub '||((doc_id*2+7)%n) FROM documents, nn
        |  UNION ALL SELECT 'h'||(((doc_id+n//2)%n)%50)||'.test', 'hub '||((doc_id+n//2)%n) FROM documents, nn
        |  UNION ALL SELECT 'h'||(doc_id%50)||'.test', 'own list' FROM documents)
        |SELECT dst_host, CAST(count(*) AS BIGINT) AS n_anchors,
        |  string_agg(anchor, '|' ORDER BY anchor) AS anchors_sorted
        |FROM a0 GROUP BY 1 ORDER BY 1""".stripMargin,
    "crawl_metrics" -> crawlMetricsOracle,
    // streaming stateful agg over the same pages must land on the same counts
    "stream_metrics" -> crawlMetricsOracle,
    "dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS n FROM documents GROUP BY text ORDER BY 1",
    "dedup_ngram_jaccard" -> ngramJaccardOracle,
    // 16×8 LSH banding plus a 0.125 signature-estimate prescreen, then
    // exact-Jaccard verification: equals the exact pairs on corpora whose
    // true pairs sit at J ≥ 0.88 (these fixtures); pairs in [0.8, 0.88)
    // can be missed (Dedup.minhashLshPairs).
    "dedup_minhash_lsh" -> ngramJaccardOracle,
    // connected components over the same pair list via transitive closure
    // (recursive CTE); cluster_id = min reachable doc_id, keep = survivor
    "dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, substr(text, CAST(unnest(generate_series(1, length(text)-2)) AS INT), 3) AS shingle
        |    FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id<b.doc_id
        |  GROUP BY 1,2),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON sa.doc_id=a_id JOIN sizes sb ON sb.doc_id=b_id
        |  WHERE i >= 0.8*(sa.sz+sb.sz-i)),
        |edges AS (SELECT a_id AS s, b_id AS d FROM pairs UNION SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d)
        |SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS keep
        |FROM reach GROUP BY id ORDER BY 1""".stripMargin,
    // ann_ivf runs at nProbe = nCells (see PipelineQueries.annIvf): every
    // cell is probed, so cell assignment + probe join + re-rank must land
    // exactly on the brute-force answer — the same SQL is the oracle
    "ann_ivf" -> annTopkOracle,
    "ann_topk" -> annTopkOracle,
    "emb_near_dup" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45 ORDER BY 1,2""".stripMargin,
    "html_main_text" ->
      // rtrim: innerText collapses whitespace runs and drops spaces at
      // block boundaries, so a 40-char snip ending in ' ' loses it
      """SELECT d.doc_id, k AS page_no,
        |  string_agg('cmt '||d.doc_id||' '||k||'-'||i||' '||rtrim(substr(d.text,1,40))||chr(10)||'2024-0'||k||'-1'||i,
        |             chr(10) ORDER BY i) AS main_text
        |FROM documents d, generate_series(1,3) s(k), generate_series(1,3) s2(i)
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "lang_id" ->
      """WITH p AS (SELECT doc_id, ' '||text||' ' AS t FROM documents),
        |s AS (SELECT doc_id,
        |  CAST((length(t)-length(replace(t,' der ','')))/5 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' die ','')))/5 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' und ','')))/5 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' ist ','')))/5 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' nicht ','')))/7 AS BIGINT) AS score_de,
        |  CAST((length(t)-length(replace(t,' the ','')))/5 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' and ','')))/5 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' of ','')))/4 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' to ','')))/4 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' a ','')))/3 AS BIGINT) AS score_en,
        |  CAST((length(t)-length(replace(t,' el ','')))/4 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' la ','')))/4 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' de ','')))/4 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' que ','')))/5 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' y ','')))/3 AS BIGINT) AS score_es,
        |  CAST((length(t)-length(replace(t,' le ','')))/4 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' la ','')))/4 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' et ','')))/4 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' les ','')))/5 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,' des ','')))/5 AS BIGINT) AS score_fr,
        |  CAST((length(t)-length(replace(t,'的','')))/1 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,'是','')))/1 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,'了','')))/1 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,'在','')))/1 AS BIGINT)
        |  + CAST((length(t)-length(replace(t,'我','')))/1 AS BIGINT) AS score_zh
        |  FROM p)
        |SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
        |  CASE WHEN score_de = greatest(score_de,score_en,score_es,score_fr,score_zh) THEN 'de'
        |       WHEN score_en = greatest(score_de,score_en,score_es,score_fr,score_zh) THEN 'en'
        |       WHEN score_es = greatest(score_de,score_en,score_es,score_fr,score_zh) THEN 'es'
        |       WHEN score_fr = greatest(score_de,score_en,score_es,score_fr,score_zh) THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY 1""".stripMargin,
    "quality_score" ->
      """WITH q AS (
        |  SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n_chars_q,
        |    CAST(length(trim(text)) - length(replace(trim(text),' ','')) + 1 AS BIGINT) AS n_tokens,
        |    CAST(length(trim(text)) - length(translate(trim(text), '.,;:!?''"()', '')) AS BIGINT) AS n_punct,
        |    CAST((length(' '||trim(text)||' ')-length(replace(' '||trim(text)||' ',' the ','')))/5 AS BIGINT)
        |    + CAST((length(' '||trim(text)||' ')-length(replace(' '||trim(text)||' ',' a ','')))/3 AS BIGINT)
        |    + CAST((length(' '||trim(text)||' ')-length(replace(' '||trim(text)||' ',' of ','')))/4 AS BIGINT) AS stopword_hits
        |  FROM documents)
        |SELECT doc_id, n_chars_q, n_tokens, n_punct, stopword_hits,
        |  CAST(CASE WHEN n_tokens < 10 THEN 0 WHEN n_tokens < 25 THEN 1
        |       WHEN stopword_hits > 0 THEN 3 ELSE 2 END AS BIGINT) AS quality_bucket
        |FROM q ORDER BY 1""".stripMargin,
    "repetition_stats" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM base),
        |uc AS (SELECT doc_id, ts[i] AS g, count(*) AS c FROM pos GROUP BY 1,2),
        |um AS (SELECT doc_id, count(*) AS nd, max(c) AS topu FROM uc GROUP BY 1),
        |bc AS (SELECT doc_id, ts[i] || chr(1) || ts[i+1] AS g, count(*) AS c
        |       FROM pos WHERE i+1 <= len(ts) GROUP BY 1,2),
        |bm AS (SELECT doc_id, max(c) AS topb FROM bc GROUP BY 1),
        |tc AS (SELECT doc_id, ts[i] || chr(1) || ts[i+1] || chr(1) || ts[i+2] AS g, count(*) AS c
        |       FROM pos WHERE i+2 <= len(ts) GROUP BY 1,2),
        |tm AS (SELECT doc_id, max(c) AS topt FROM tc GROUP BY 1)
        |SELECT b.doc_id, CAST(len(b.ts) AS BIGINT) AS n_tokens, um.nd AS distinct_tokens,
        |  um.topu AS top_unigram, CAST(coalesce(bm.topb,0) AS BIGINT) AS top_bigram,
        |  CAST(coalesce(tm.topt,0) AS BIGINT) AS top_trigram
        |FROM base b JOIN um USING(doc_id) LEFT JOIN bm USING(doc_id) LEFT JOIN tm USING(doc_id)
        |ORDER BY 1""".stripMargin,
    "quality_filter" -> qualityFilterOracle,
    // ingest-time twin: identical bitmask from the streaming pass
    "stream_quality" -> qualityFilterOracle,
    "tfidf_top" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1,2),
        |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |top AS (SELECT doc_id, tok, tf,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, tok ASC) AS rn FROM tf)
        |SELECT t.doc_id, t.tok AS top_term, t.tf, dfq.df
        |FROM top t JOIN dfq USING (tok) WHERE t.rn = 1 ORDER BY t.doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(length(trim(text)) - length(replace(trim(text),' ','')) + 1 AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY 1""".stripMargin,
    "media_meta" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        |  CASE n%3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS fmt,
        |  CAST(320 + n%320 AS BIGINT) AS width, CAST(240 + n%240 AS BIGINT) AS height,
        |  CAST(n%24 + 1 AS BIGINT) AS frames
        |FROM m ORDER BY 1""".stripMargin,
    // real-container headers: Spark BUILDS actual PNG/JPEG/GIF/WAV/MP4
    // bytes from doc_id and PARSES them back; the oracle recomputes the
    // shapes from the same doc_id formulas (png 45 B, jpeg 35 B, gif
    // 14 B, wav 44 B + 16-bit PCM data, mp4 324 B box skeleton) — any
    // offset/endianness bug in the parser breaks the hash match
    "media_meta_real" ->
      """WITH m AS (SELECT doc_id, doc_id%5 AS k FROM documents)
        |SELECT doc_id,
        |  CAST(CASE k WHEN 0 THEN 45 WHEN 1 THEN 35 WHEN 2 THEN 14 WHEN 4 THEN 324
        |       ELSE 44 + (8 + (doc_id*3)%64) * (1 + doc_id%2) * 2 END AS BIGINT) AS n_bytes,
        |  CASE k WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif' WHEN 4 THEN 'mp4' ELSE 'wav' END AS fmt,
        |  CAST(CASE WHEN k = 3 THEN 8000 + (doc_id*11)%40000
        |       ELSE 16 + (doc_id*7)%1024 END AS BIGINT) AS width,
        |  CAST(CASE WHEN k = 3 THEN 1 + doc_id%2
        |       ELSE 16 + (doc_id*13)%768 END AS BIGINT) AS height,
        |  CAST(CASE WHEN k = 3 THEN 8 + (doc_id*3)%64
        |       WHEN k = 4 THEN 1 + (doc_id*5)%240 ELSE 1 END AS BIGINT) AS frames
        |FROM m ORDER BY 1""".stripMargin,
    // MP4 box-walk parity: tkhd 16.16 dims, stsz sample count, mvhd
    // duration ticks / timescale — all recomputed by the oracle from
    // doc_id (timescale 1000, 25 fps → duration_ms = frames*40)
    "media_meta_video" ->
      """SELECT doc_id, CAST(324 AS BIGINT) AS n_bytes, 'mp4' AS fmt,
        |  CAST(16 + (doc_id*7)%1024 AS BIGINT) AS width,
        |  CAST(16 + (doc_id*13)%768 AS BIGINT) AS height,
        |  CAST(1 + (doc_id*5)%240 AS BIGINT) AS frames,
        |  CAST((1 + (doc_id*5)%240) * 40 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY 1""".stripMargin,
    // exact duplicate 8-word spans across documents (Lee et al.
    // exact-substring dedup at fixed n): every window occurring in >= 2
    // distinct docs, with position
    "dedup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |p AS (SELECT doc_id, ws, unnest(generate_series(0, len(ws)-8)) AS pos
        |      FROM w WHERE len(ws) >= 8),
        |s AS (SELECT doc_id, pos, array_to_string(ws[pos+1:pos+8],' ') AS span FROM p),
        |d AS (SELECT span FROM s GROUP BY span HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, span
        |FROM s JOIN d USING (span) ORDER BY 1,2""".stripMargin,
    "decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |p AS (SELECT doc_id, ws, unnest(generate_series(0, len(ws)-8)) AS pos
        |      FROM w WHERE len(ws) >= 8),
        |s AS (SELECT doc_id, pos, array_to_string(ws[pos+1:pos+8],' ') AS span FROM p),
        |b AS (SELECT DISTINCT span FROM s WHERE doc_id % 7 = 0),
        |t AS (SELECT doc_id, pos, span FROM s WHERE doc_id % 7 <> 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(pos) AS BIGINT) AS first_pos
        |FROM t JOIN b USING (span) GROUP BY 1 ORDER BY 1""".stripMargin,
    // WARC (ISO 28500) round-trip: Spark frames each doc as a real
    // response record and parses it back; the oracle rebuilds the exact
    // ASCII record templates with chr(13)||chr(10) line ends and takes
    // octet_length — any framing bug (header byte count, CRLF handling,
    // Content-Length arithmetic) breaks rec_len and the hash
    "warc_read" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    'http://h'||(doc_id%50)||'.test/d'||doc_id||'/page.html' AS url,
        |    '<html><body><p>'||text||'</p></body></html>' AS body
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, text, url, body,
        |    'HTTP/1.1 200 OK'||chr(13)||chr(10)||
        |    'Content-Type: text/html; charset=utf-8'||chr(13)||chr(10)||
        |    'Content-Length: '||octet_length(encode(body))||chr(13)||chr(10)||
        |    chr(13)||chr(10)||body AS http
        |  FROM b),
        |r AS (
        |  SELECT doc_id, text, url, body, http,
        |    'WARC/1.0'||chr(13)||chr(10)||
        |    'WARC-Type: response'||chr(13)||chr(10)||
        |    'WARC-Target-URI: '||url||chr(13)||chr(10)||
        |    'WARC-Date: 2024-01-01T00:00:00Z'||chr(13)||chr(10)||
        |    'WARC-Record-ID: <urn:uuid:doc-'||doc_id||'>'||chr(13)||chr(10)||
        |    'Content-Type: application/http; msgtype=response'||chr(13)||chr(10)||
        |    'Content-Length: '||octet_length(encode(http))||chr(13)||chr(10)||
        |    chr(13)||chr(10) AS header
        |  FROM h)
        |SELECT doc_id, url, 'response' AS warc_type, CAST(200 AS BIGINT) AS status,
        |  'text/html; charset=utf-8' AS mime,
        |  CAST(octet_length(encode(body)) AS BIGINT) AS body_bytes,
        |  CAST(octet_length(encode(header))+octet_length(encode(http))+4 AS BIGINT) AS rec_len,
        |  substr(text,1,40) AS snippet
        |FROM r ORDER BY 1""".stripMargin,
    // CDX seek index: per-file (100 docs/file) running sum of the same
    // reconstructed record lengths
    "warc_cdx" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    'http://h'||(doc_id%50)||'.test/d'||doc_id||'/page.html' AS url,
        |    '<html><body><p>'||text||'</p></body></html>' AS body
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, url,
        |    'HTTP/1.1 200 OK'||chr(13)||chr(10)||
        |    'Content-Type: text/html; charset=utf-8'||chr(13)||chr(10)||
        |    'Content-Length: '||octet_length(encode(body))||chr(13)||chr(10)||
        |    chr(13)||chr(10)||body AS http
        |  FROM b),
        |r AS (
        |  SELECT doc_id, url,
        |    CAST(octet_length(encode('WARC/1.0'||chr(13)||chr(10)||
        |    'WARC-Type: response'||chr(13)||chr(10)||
        |    'WARC-Target-URI: '||url||chr(13)||chr(10)||
        |    'WARC-Date: 2024-01-01T00:00:00Z'||chr(13)||chr(10)||
        |    'WARC-Record-ID: <urn:uuid:doc-'||doc_id||'>'||chr(13)||chr(10)||
        |    'Content-Type: application/http; msgtype=response'||chr(13)||chr(10)||
        |    'Content-Length: '||octet_length(encode(http))||chr(13)||chr(10)||
        |    chr(13)||chr(10))) + octet_length(encode(http)) + 4 AS BIGINT) AS rec_len
        |  FROM h)
        |SELECT doc_id,
        |  'warc-'||lpad(CAST(doc_id//100 AS VARCHAR),5,'0') AS warc_file,
        |  CAST(coalesce(sum(rec_len) OVER (PARTITION BY doc_id//100 ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),0) AS BIGINT) AS byte_offset,
        |  rec_len, url
        |FROM r ORDER BY 1""".stripMargin,
    // frame sampling over REAL parsed video metadata (stsz frame count),
    // not the stub byte-length formula
    "frame_sample_video" ->
      """SELECT doc_id,
        |  CAST(unnest(generate_series(0, CAST((doc_id*5)%240 AS BIGINT), 7)) AS BIGINT) AS frame_idx
        |FROM documents ORDER BY 1,2""".stripMargin,
    "frame_sample" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id, CAST(unnest(generate_series(0, CAST(n%24 AS BIGINT), 7)) AS BIGINT) AS frame_idx
        |FROM m WHERE n%3 = 2 ORDER BY 1,2""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_join_broadcast" ->
      """SELECT c_mktsegment, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey=c_custkey GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |FROM orders QUALIFY rk <= 3 ORDER BY 1,3""".stripMargin,
    "ann_lsh" -> annLshOracle,
    "doc_fingerprint" -> docFingerprintOracle,
    "dedup_simhash" -> simhashOracle,
    "q_events_window" -> eventsWindowOracle,
    // streaming watermarked rollup must land on the batch answer
    "stream_events_window" -> eventsWindowOracle
  )

  // doc_fingerprint: both hashes reconstructed bit-exactly in SQL —
  // polynomial (h*257+c) mod 2^31-1 via list_reduce, and the FNV-1a
  // 8-char winnowing min via HUGEINT mod-2^64 arithmetic with the final
  // value reinterpreted as a signed 64-bit long (Scala's Long compare).
  private val qualityFilterOracle: String =
    """WITH base AS (SELECT doc_id, string_split(text,' ') AS ts,
      |        CAST(length(replace(text,' ','')) AS BIGINT) AS nc FROM documents),
      |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM base),
      |uc AS (SELECT doc_id, ts[i] AS g, count(*) AS c FROM pos GROUP BY 1,2),
      |um AS (SELECT doc_id, count(*) AS nd, max(c) AS topu FROM uc GROUP BY 1),
      |r AS (SELECT b.doc_id,
      |  (CASE WHEN len(b.ts) < 25 THEN 1 ELSE 0 END
      |   + CASE WHEN b.nc*10 < len(b.ts)*38 OR b.nc*10 > len(b.ts)*46 THEN 2 ELSE 0 END
      |   + CASE WHEN um.topu*5 > len(b.ts) THEN 4 ELSE 0 END
      |   + CASE WHEN um.nd*3 < len(b.ts) THEN 8 ELSE 0 END) AS reasons
      | FROM base b JOIN um USING(doc_id))
      |SELECT doc_id, CAST(reasons AS BIGINT) AS reasons,
      |  CAST(CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM r ORDER BY 1""".stripMargin

  private val docFingerprintOracle: String =
    """WITH wins AS (
      |  SELECT doc_id, substr(text, CAST(unnest(generate_series(1, length(text)-7)) AS INT), 8) AS win
      |  FROM documents WHERE length(text) >= 8),
      |hashes AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        list_transform(split(win,''), x -> ord(x)::HUGEINT)),
      |      (acc, c) -> (xor(acc::UBIGINT, c::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616::HUGEINT) AS h
      |  FROM wins),
      |signed AS (
      |  SELECT doc_id,
      |    CASE WHEN h >= 9223372036854775808::HUGEINT THEN h - 18446744073709551616::HUGEINT ELSE h END AS hs
      |  FROM hashes),
      |agg AS (SELECT doc_id, min(hs) AS win_min FROM signed GROUP BY doc_id)
      |SELECT d.doc_id,
      |  list_reduce(list_prepend(0::BIGINT, list_transform(split(d.text,''), x -> ord(x)::BIGINT)),
      |              (acc, c) -> (acc*257 + c) % 2147483647) AS doc_hash,
      |  CAST(coalesce(a.win_min, 0) AS BIGINT) AS win_min
      |FROM documents d LEFT JOIN agg a ON d.doc_id=a.doc_id ORDER BY d.doc_id""".stripMargin

  // dedup_simhash reconstructed bit-exactly: FNV-1a unigram+bigram feature
  // hashes (HUGEINT mod-2^64), 64 bit-votes, sign → signature, 16-bit band
  // self-join, popcount(xor) Hamming filter — the full sketch, not a
  // rows-only check.
  private val simhashOracle: String =
    """WITH words AS (
      |  SELECT doc_id, split(text, ' ') AS l FROM documents),
      |idx AS (
      |  SELECT doc_id, l, CAST(unnest(generate_series(1, len(l))) AS INT) AS i FROM words),
      |feats AS (
      |  SELECT doc_id, l[i] AS feat FROM idx WHERE l[i] <> ''
      |  UNION ALL
      |  SELECT doc_id, l[i] || ' ' || l[i+1] AS feat FROM idx
      |  WHERE l[i] <> '' AND i+1 <= len(l) AND l[i+1] <> ''),
      |fh AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        list_transform(split(feat,''), x -> ord(x)::HUGEINT)),
      |      (acc, c) -> (xor(acc::UBIGINT, c::UBIGINT)::HUGEINT * 1099511628211) % 18446744073709551616::HUGEINT) AS h
      |  FROM feats),
      |votes AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN (h::UBIGINT >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM fh, (SELECT CAST(unnest(generate_series(0,63)) AS INT) AS b) bits
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS s
      |  FROM votes GROUP BY doc_id),
      |sigu AS (SELECT doc_id, s::UBIGINT AS su FROM sig),
      |banded AS (
      |  SELECT doc_id, su, b, (su >> (b*16)) & 65535 AS bits
      |  FROM sigu, (SELECT CAST(unnest(generate_series(0,3)) AS INT) AS b) bands)
      |SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
      |  bit_count(xor(x.su, y.su)) AS hamming
      |FROM banded x JOIN banded y ON x.b=y.b AND x.bits=y.bits AND x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.su, y.su)) <= 6
      |ORDER BY 1,2""".stripMargin

  // ann_lsh reconstructed end-to-end in SQL: the 32 seeded hyperplanes are
  // embedded as DOUBLE[] literals (Double.toString round-trips, and both
  // engines accumulate dot products in index order as doubles, so the sign
  // signatures agree bit-exactly), then the (table, sig) bucket join and
  // the exact cosine re-rank are re-derived independently by DuckDB —
  // the same literal-reconstruction recipe as the SimHash oracle.
  private lazy val annLshOracle: String = {
    val bits = 4; val tables = 8
    val planes = graft.pipeline.Similarity.hyperplanes(64, bits * tables, 42L)
    val rows = planes.zipWithIndex.map { case (v, pid) =>
      s"($pid, [${v.map(_.toString).mkString(",")}]::DOUBLE[])"
    }.mkString(",\n")
    s"""WITH planes(pid, v) AS (VALUES
       |$rows),
       |sigs AS (
       |  SELECT e.vec_id, p.pid // $bits AS tbl,
       |    CAST(sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[], p.v) >= 0
       |                  THEN (1 << (p.pid % $bits)) ELSE 0 END) AS BIGINT) AS sig
       |  FROM embeddings e, planes p GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
       |  FROM sigs q JOIN sigs n ON q.tbl = n.tbl AND q.sig = n.sig
       |  WHERE q.vec_id < 20 AND n.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT c.q_id, c.n_id,
       |    row_number() OVER (PARTITION BY c.q_id
       |      ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, c.n_id) AS rank
       |  FROM cand c JOIN embeddings a ON a.vec_id = c.q_id JOIN embeddings b ON b.vec_id = c.n_id)
       |SELECT q_id AS vec_id, n_id AS neighbor_id, rank FROM scored WHERE rank <= 3 ORDER BY 1, 3""".stripMargin
  }

  private val annTopkOracle: String =
    """WITH scored AS (
      |  SELECT a.vec_id AS q, b.vec_id AS n_id,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, b.vec_id) AS rank
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id)
      |SELECT q AS vec_id, n_id AS neighbor_id, rank FROM scored WHERE rank <= 3 ORDER BY 1,3""".stripMargin

  private val eventsWindowOracle: String =
    """SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** Edge reconstruction for the hub family (Fixtures.hubPage): doc d
    * links to hubs of (d+1)%N, (d*2+7)%N, (d+N/2)%N plus its own list
    * page — pure doc_id arithmetic.
    */
  private val linkGraphEdgesCte: String =
    """nn AS (SELECT count(*) AS n FROM documents),
      |e0 AS (
      |  SELECT 'h'||(doc_id%50)||'.test' AS src_host, 'h'||(((doc_id+1)%n)%50)||'.test' AS dst_host FROM documents, nn
      |  UNION ALL
      |  SELECT 'h'||(doc_id%50)||'.test', 'h'||(((doc_id*2+7)%n)%50)||'.test' FROM documents, nn
      |  UNION ALL
      |  SELECT 'h'||(doc_id%50)||'.test', 'h'||(((doc_id+n//2)%n)%50)||'.test' FROM documents, nn
      |  UNION ALL
      |  SELECT 'h'||(doc_id%50)||'.test', 'h'||(doc_id%50)||'.test' FROM documents)""".stripMargin

  /** Integer fixed-point PageRank twin: K unrolled iteration CTEs with the
    * exact `(w * ((85 * r) // ow)) // 100` arithmetic both paths of
    * `LinkGraph.pagerank` use, and a rank row for every host of src ∪ dst
    * (sinks included, floor only) — any truncation or join discrepancy
    * breaks the hash.
    */
  private def pagerankCtes(iters: Int): String = {
    val head = new StringBuilder("WITH " + linkGraphEdgesCte + ",\n" +
      """ew AS (SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS w FROM e0 GROUP BY 1,2),
        |ow AS (SELECT src_host, CAST(sum(w) AS BIGINT) AS ow FROM ew GROUP BY 1),
        |hosts AS (SELECT src_host AS host FROM ew UNION SELECT dst_host FROM ew),
        |hc AS (SELECT count(*) AS h FROM hosts),
        |r0 AS (SELECT host, CAST(1000000000000 // hc.h AS BIGINT) AS rank FROM hosts, hc)""".stripMargin)
    for (k <- 1 to iters) {
      head.append(s""",
        |c$k AS (SELECT ew.dst_host AS host, CAST(sum((ew.w * ((85 * p.rank) // ow.ow)) // 100) AS BIGINT) AS inmass
        |        FROM ew JOIN r${k - 1} p ON p.host = ew.src_host JOIN ow ON ow.src_host = ew.src_host
        |        GROUP BY 1),
        |r$k AS (SELECT hosts.host, CAST((15 * (1000000000000 // hc.h)) // 100 + coalesce(c$k.inmass, 0) AS BIGINT) AS rank
        |        FROM hosts CROSS JOIN hc LEFT JOIN c$k ON c$k.host = hosts.host)""".stripMargin)
    }
    head.toString
  }

  private def pagerankOracle(iters: Int): String =
    pagerankCtes(iters) + s"\nSELECT host, rank FROM r$iters ORDER BY host"

  /** The full rank-guided-crawl chain: unrolled pagerank iterations →
    * dense_rank priority per host → top-10-host budget cut → the list
    * fixture's page-1 rows for exactly the surviving docs.
    */
  private def crawlRankPrioritizedOracle(iters: Int): String =
    pagerankCtes(iters) + s""",
      |prio AS (SELECT host, dense_rank() OVER (ORDER BY rank DESC, host) - 1 AS priority FROM r$iters),
      |due AS (SELECT d.doc_id FROM documents d
      |        JOIN prio p ON p.host = 'h'||(d.doc_id%50)||'.test'
      |        WHERE p.priority < 10)
      |SELECT d.doc_id, i-1 AS pos, 'Doc '||d.doc_id||' item 1-'||i AS title
      |FROM due d, generate_series(1,4) s(i) ORDER BY 1,2""".stripMargin

  private val crawlMetricsOracle: String =
    """SELECT 'h'||(doc_id%50)||'.test' AS host, count(*)*3 AS pages
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  private val crawlListOracle: String =
    """SELECT d.doc_id, k AS page_no, i-1 AS pos,
      |  'Doc '||d.doc_id||' item '||k||'-'||i AS title,
      |  'http://h'||(d.doc_id%50)||'.test/d'||d.doc_id||'/list/art_'||d.doc_id||'_'||k||'_'||i||'.html' AS link,
      |  '2024-0'||k||'-0'||i AS date_s,
      |  substr(d.text,1,40) AS snip
      |FROM documents d, generate_series(1,3) s(k), generate_series(1,4) s2(i)
      |ORDER BY 1,2,3""".stripMargin

  private val ngramJaccardOracle: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, substr(text, CAST(unnest(generate_series(1, length(text)-2)) AS INT), 3) AS shingle
      |    FROM documents)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id<b.doc_id
      |  GROUP BY 1,2)
      |SELECT a_id, b_id FROM inter
      |JOIN sizes sa ON sa.doc_id=a_id JOIN sizes sb ON sb.doc_id=b_id
      |WHERE i >= 0.8*(sa.sz+sb.sz-i) ORDER BY 1,2""".stripMargin
}
