package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot layer for the crawl frontier + URL-seen state —
  * hand-rolled because the sandbox ships no Iceberg jar (SURVEY.md §4):
  * immutable parquet data dirs + an atomically-renamed JSON manifest per
  * snapshot, checkpoint/resume by reopening the latest manifest, and
  * per-partition lineage metrics embedded in each manifest (north_star:
  * "snapshot-based checkpoint/resume and per-partition lineage metrics").
  *
  * All metadata I/O goes through the Hadoop `FileSystem`/`FileContext`
  * API resolved from the store URI, NOT java.nio — the 10^10-frontier
  * regime checkpoints to HDFS/S3-style object stores, never a local disk.
  * `dir` may therefore be any Hadoop-resolvable URI (`file:/...`,
  * `hdfs://...`, `s3a://...`); a bare local path resolves through the
  * session's default FS.
  *
  * Commit protocol (single-writer, crash-safe):
  *   1. write `data/round=N/frontier` + `data/round=N/seen-delta` parquet
  *      (the delta holds ONLY the round's newly-seen rows — commit I/O is
  *      O(batch) per round; the manifest's `seen_deltas` list is the
  *      Iceberg-style union a reader reconstructs the full seen set from),
  *      each beside its `<part>.schema.json`,
  *   2. write `manifest-N.json.tmp` with the file list + delta list +
  *      metrics,
  *   3. atomic overwrite-rename to `manifest-N.json`, then to `latest.json`
  *      (FileContext.rename with Options.Rename.OVERWRITE — the rename
  *      HDFS guarantees atomic; on S3A the manifest is a single small
  *      object so the copy+delete is still last-writer-wins consistent).
  * A reader never observes a half-written snapshot; re-running round N is
  * idempotent (the URL-seen anti-join absorbs replays, and a replayed
  * round overwrites its own delta dir without double-listing it;
  * SURVEY.md §7 #4). Manifests are JSON trees written and read through
  * Jackson; only the `graft-frontier-v2` format loads, and any other
  * `format` fails with an error naming it and the store.
  */
final class FrontierStore(val dir: String, val compactEvery: Int = 64)(
    implicit spark: SparkSession) {
  import FrontierStore._

  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private val root = new Path(dir)
  private val fs: FileSystem = root.getFileSystem(hadoopConf)
  private val fc: FileContext =
    FileContext.getFileContext(fs.getUri, hadoopConf)
  fs.mkdirs(root)
  /** Root qualified against the store's FS so relative local paths and
    * scheme-less URIs land on the same FS the writers use. */
  private val qroot: Path = fs.makeQualified(root)
  private val latestPath = new Path(qroot, "latest.json")
  private val Json = new ObjectMapper()

  private def writeString(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def roundDir(round: Int): Path = new Path(qroot, s"data/round=$round")

  /** The one part reader: parquet dirs under the schema round `round`
    * committed beside its `part` (`<part>.schema.json`), so an empty part
    * (a finished crawl's frontier has no row groups) still reads, and each
    * round keeps its own columns.
    */
  private def read(round: Int, part: String, dirs: Seq[String]): DataFrame =
    spark.read.schema(DataType.fromJson(readString(new Path(roundDir(round), s"$part.schema.json")))
      .asInstanceOf[StructType]).parquet(dirs: _*)

  private def writeSchema(round: Int, part: String, df: DataFrame): Unit =
    writeString(new Path(roundDir(round), s"$part.schema.json"), df.schema.json)

  final case class Snapshot(round: Int, frontier: DataFrame, seen: DataFrame)

  /** `latest.json`, or None on a new store; any format but v2 throws. */
  private def readManifest(): Option[Manifest] =
    if (!fs.exists(latestPath)) None
    else {
      val m = Json.readTree(readString(latestPath))
      val format = m.path("format").asText()
      if (format != Format)
        throw new IllegalStateException(
          s"frontier store $qroot: manifest format '$format' is not loadable (only $Format is)")
      def strings(key: String) = m.path(key).elements().asScala.map(_.asText()).toSeq
      Some(Manifest(m.path("round").asInt(), strings("seen_deltas"), strings("gc_pending")))
    }

  /** The manifest the next commit extends: read from `latest.json` on
    * first use (or by `loadLatest`), so a store that resumes an existing
    * crawl keeps appending to the loaded chain. Set by `loadLatest` and by
    * `commit`, which runs on the crawler's single-threaded commit pool.
    */
  private var head: Option[Manifest] = None

  private def currentHead(): Manifest =
    head.orElse(readManifest()).getOrElse(Manifest(0, Nil, Nil))

  /** Commit round N. `seenDelta` is ONLY the round's newly-seen rows: the
    * store appends it as an immutable per-round delta dir and the manifest
    * carries the full delta list, so commit I/O is O(batch) per round —
    * never O(|seen|) (the old full-seen rewrite was the loop's last
    * per-round O(|seen|) term at 10^10 urls). `loadLatest` unions the
    * manifest-listed deltas (one multi-path parquet read).
    */
  def commit(round: Int, frontier: DataFrame, seenDelta: DataFrame, metrics: Seq[(String, Long)],
             partitionMetrics: Seq[(Int, Long)] = Nil): Unit = {
    val prev = currentHead() // first, so a store of another format writes nothing
    val base = roundDir(round)
    // north-star frontier layout: partitioned by host_bucket, rows sorted
    // by priority within each file → a batch read prunes to eligible
    // buckets and gets priority order from file order (min/max stats)
    frontier.repartition(col("host_bucket")).sortWithinPartitions("priority")
      .write.mode(SaveMode.Overwrite).partitionBy("host_bucket")
      .parquet(new Path(base, "frontier").toString)
    val deltaDir = new Path(base, "seen-delta").toString
    seenDelta.write.mode(SaveMode.Overwrite).parquet(deltaDir)
    writeSchema(round, "frontier", frontier)
    writeSchema(round, "seen", seenDelta)
    // a re-committed round (crash replay) must not list its delta twice
    val chain = prev.seenDeltas.filterNot(_ == deltaDir) :+ deltaDir
    // LSM-style compaction: the delta chain would otherwise grow
    // O(rounds) — a 10^4-round crawl's resume would union 10^4 parquet
    // dirs and every FS listing walks them all. When the chain exceeds
    // `compactEvery`, fold it into ONE base dir under this round
    // (amortized O(|seen|/compactEvery) write per round — the standard
    // LSM tradeoff against the old every-round O(|seen|) rewrite; the
    // manifest swap stays atomic).
    val compacted = compactEvery > 0 && chain.size > compactEvery
    val deltas =
      if (!compacted) chain
      else {
        val compactDir = new Path(base, "seen-compact").toString
        read(round, "seen", chain).write.mode(SaveMode.Overwrite).parquet(compactDir)
        Seq(compactDir)
      }
    val m = Json.createObjectNode()
      .put("format", Format).put("round", round).put("committed_at", System.currentTimeMillis())
    def strings(key: String, xs: Seq[String]): Unit = {
      val a = m.putArray(key)
      xs.foreach(a.add(_: String))
    }
    // the file list cites the live chain's newest dir: the round's delta,
    // or on a compaction round the compacted base
    strings("files", listParquet(new Path(base, "frontier")) ++ listParquet(new Path(deltas.last)))
    strings("seen_deltas", deltas)
    val ms = m.putObject("metrics")
    metrics.foreach { case (k, v) => ms.put(k, v) }
    val lineage = m.putArray("partition_lineage")
    partitionMetrics.foreach { case (p, n) => lineage.addObject().put("partition", p).put("rows", n) }
    val superseded = if (compacted) chain else Nil
    strings("gc_pending", superseded)
    val json = Json.writeValueAsString(m)
    for (name <- Seq(s"manifest-$round.json", "latest.json")) {
      val tmp = new Path(qroot, s"$name.tmp")
      writeString(tmp, json)
      fc.rename(tmp, new Path(qroot, name), Options.Rename.OVERWRITE)
    }
    // only after the manifest rename (the commit point) does the chain advance
    head = Some(Manifest(round, deltas, superseded))
    // GC one generation late: without it every compaction leaks the
    // ~compactEvery folded delta dirs plus the previous compacted base —
    // ~rounds/compactEvery full copies of the seen table at the
    // 10^10-url design point. The dirs THIS commit superseded stay until
    // the next commit lands, so a reader that opened the previous
    // manifest can still scan its chain; this commit deletes the dirs the
    // previous one superseded (its `gc_pending`, also read back on
    // resume). A crash between rename and GC only leaks. Deletion is
    // best-effort and confined to this store's data/ tree.
    val dataRoot = new Path(qroot, "data").toString
    prev.gcPending.filterNot(deltas.contains).foreach { d =>
      if (d.startsWith(dataRoot))
        try fs.delete(new Path(d), true) catch { case _: java.io.IOException => () }
    }
  }

  /** Snapshot round N's extracted pages (Config.persistPages). Written
    * BEFORE the round's manifest rename, so a committed manifest implies
    * its pages dir is complete; a crash between the two leaves an
    * unreferenced dir that the round's replay overwrites.
    */
  def commitPages(round: Int, pages: DataFrame): Unit = {
    pages.write.mode(SaveMode.Overwrite).parquet(new Path(roundDir(round), "pages").toString)
    writeSchema(round, "pages", pages)
  }

  /** Union by name of all committed pages snapshots for rounds <=
    * upToRound, each round read with its own schema (rounds sharing one
    * schema read as one multi-path scan); None when no round persisted
    * pages.
    */
  def loadPages(upToRound: Int): Option[DataFrame] = {
    val rounds = manifestRounds()
      .filter(r => r <= upToRound && fs.exists(new Path(roundDir(r), "pages")))
    rounds.groupBy(r => readString(new Path(roundDir(r), "pages.schema.json")))
      .values.toSeq.sortBy(_.head)
      .map(rs => read(rs.head, "pages", rs.map(r => new Path(roundDir(r), "pages").toString)))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  def loadLatest(): Option[Snapshot] = readManifest().map { m =>
    head = Some(m)
    // the seen chain is ONE multi-path parquet read (file-source listing
    // parallelizes; no per-delta plan nodes)
    Snapshot(m.round, read(m.round, "frontier", Seq(new Path(roundDir(m.round), "frontier").toString)),
      read(m.round, "seen", m.seenDeltas))
  }

  def manifestRounds(): Seq[Int] = {
    if (!fs.exists(qroot)) Seq.empty
    else fs.listStatus(qroot).toSeq
      .flatMap(st => """manifest-(\d+)\.json$""".r.findFirstMatchIn(st.getPath.getName).map(_.group(1).toInt))
      .sorted
  }

  private def listParquet(path: Path): Seq[String] = {
    if (!fs.exists(path)) Seq.empty
    else {
      val it = fs.listFiles(path, true)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) out += st.getPath.toString
      }
      out.sorted.toSeq
    }
  }
}

private object FrontierStore {
  val Format = "graft-frontier-v2"

  /** What a manifest says the next commit builds on: the seen chain
    * (oldest first) and the chain dirs its own commit superseded, which
    * the NEXT commit deletes.
    */
  final case class Manifest(round: Int, seenDeltas: Seq[String], gcPending: Seq[String])
}
