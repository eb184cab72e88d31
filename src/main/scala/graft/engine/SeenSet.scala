package graft.engine

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, GraftSqlBridge => B}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator
import org.apache.spark.util.sketch.BloomFilter

/** One crawl's per-seed URL-seen set: the `(seed_id, url_hash)` rows of
  * every fetched url, and the one dedup step that drops successors already
  * in it (per-seed, matching per-Job independence of the reference;
  * SURVEY.md §2.5 set-ops row).
  *
  * The dedup is an optional bloom split followed by ONE exact stage:
  *
  *  - bloom (`Config.bloomThreshold`): a broadcast filter, no shuffle,
  *    splits off definitely-new successors; only its rejects count into
  *    `skipped` (the crawler's `prefilterSkipped`);
  *  - exact stage, either the anti-join against the `seen` union
  *    (broadcast while the driver-known size is at most
  *    [[Layout.BroadcastRows]], sort-merge above), or — past
  *    `Config.cuckooThreshold` — a probe of the executor-resident shards:
  *    cuckoo sketch fast-reject (also counted as skipped), then the exact
  *    [[SeenShard]] as the authority, after ONE exchange by shard.
  *
  * The exact shards replace the per-round anti-join, which re-shuffled the
  * ENTIRE cumulative seen table every round (a union tree carries no stable
  * partitioning) — the last per-round O(|seen|) term in the loop. Below the
  * thresholds the anti-join stays: at small seen sizes it is cheaper than
  * maintaining the shard structures.
  *
  * Driver state, all confined here: the `seen` union and its size (exact:
  * batches are disjoint from prior seen by construction, so no count job
  * is ever needed), the incremental bloom, and the current and previous
  * shard generations.
  */
private[engine] final class SeenSet(
    spark: SparkSession,
    config: Crawler.Config,
    skipped: LongAccumulator,
    publishShards: Option[SeenSet.Shards] => Unit,
    resumed: Option[DataFrame]) {
  import SeenSet._

  // a resumed snapshot's seen union is materialized OFF the store's
  // parquet files (fused with the size count): the first post-resume
  // compaction GCs the superseded delta dirs, and a lazy plan would rescan
  // those deleted paths on every later anti-join / shard backfill. One
  // O(|seen|) job, once per resume. Durability model: the checkpointed
  // blocks are executor-resident, so an executor death that takes them
  // mid-crawl fail-stops through [[recovering]] with a resume pointer —
  // and re-resume is always sound, because the store's manifest lists
  // only live dirs.
  private var (seen, count) = resumed.map(B.localCheckpointWithCount(_)).getOrElse(
    (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], SeenSchema), 0L))

  // partitioned cuckoo + exact shards, one pair per pmod(url_hash,
  // hostBuckets) shard. Built DISTRIBUTEDLY (aggregateByKey: per-partition
  // inserts, compact blob merge) and RESIDENT ON THE EXECUTORS between
  // rounds as a hash-partitioned, locally-checkpointed RDD: no driver
  // collect, no per-round shard-map broadcast, so driver memory and
  // per-round cost stay flat as the seen set grows to 10^8+ urls. The
  // cuckoo SKETCH is 2 B/url (cache-friendly probe); the exact SeenShard
  // ((seed-hash, url-hash) pairs) 16 B/url — ~160 GB fleet-wide at 10^10.
  private val partitioner = new HashPartitioner(config.hostBuckets)
  private var shards: Option[Shards] = None
  private var previous: Option[Shards] = None

  // incremental broadcast bloom: rebuilding from the FULL seen set every
  // round is O(total × rounds) at 10^10 urls. Instead the filter is primed
  // once at 2× the current seen size, per-round deltas are built over just
  // the batch and OR-merged in, and the filter re-primes from full seen
  // only when outgrown — exponentially spaced, so full scans amortize to
  // O(total) over the whole crawl.
  private var bloom: Option[BloomFilter] = None
  private var bloomCapacity = 0L
  private var bloomBc: Option[Broadcast[BloomFilter]] = None

  /** Rows in the set (driver-known, exact). */
  def size: Long = count

  /** Mark a fetched batch seen and return its `(seed_id, url_hash)` delta
    * (what the snapshot store appends). Batches are disjoint from prior
    * seen (deduped at successor time), so this is a plain union; `batch`
    * is already materialized, so `seen` stays a shallow union tree over
    * materialized nodes — planning cost O(rounds), and no driver job.
    */
  def add(batch: DataFrame, batchCount: Long): DataFrame = {
    val delta = batch.select(col("seed_id"), col("url_hash"))
    seen = seen.union(delta)
    count += batchCount
    // the first active round (incl. resume) backfills ALL of seen, so the
    // sketch can never false-negative; after that only the batch
    if (count > config.cuckooThreshold) insert(if (shards.isEmpty) seen else delta)
    if (count > config.bloomThreshold) {
      if (bloom.isEmpty || count > bloomCapacity) {
        bloomCapacity = math.max(count * 2, 1000L)
        bloom = Some(seen.stat.bloomFilter("url_hash", bloomCapacity, 0.01))
      } else {
        // same capacity+fpp → bit-compatible; OR-merge the round's delta
        bloom.foreach(_.mergeInPlace(delta.stat.bloomFilter("url_hash", bloomCapacity, 0.01)))
      }
    }
    bloomBc = bloom.map(spark.sparkContext.broadcast(_))
    delta
  }

  /** The rows of `succ` (any frame with `seed_id`, `url_hash`) not in the
    * set: bloom split, then the exact stage. Lazy — the plan captures the
    * CURRENT shard generation, so [[recovering]] can rebuild and re-plan.
    */
  def dropSeen(succ: DataFrame): DataFrame = {
    val (bloomNew, bloomMaybe) = bloomBc match {
      case Some(bc) =>
        val acc = skipped
        // reject branch counts; each bloom-skipped row increments the
        // accumulator exactly once
        val rejectCounted = udf { (h: Long) =>
          val might = bc.value.mightContain(h)
          if (!might) acc.add(1L)
          might
        }
        val quiet = udf((h: Long) => bc.value.mightContain(h))
        (Some(succ.filter(!rejectCounted(col("url_hash")))), succ.filter(quiet(col("url_hash"))))
      case None => (None, succ)
    }
    val exact = shards match {
      case Some(s) => probe(bloomMaybe, s)
      case None =>
        // seen's row count is DRIVER-KNOWN: broadcast a small seen side so
        // neither side pays an exchange and the successor side stays fused
        // with the extraction stage; sort-merge above the bound
        bloomMaybe.join(Layout.broadcastIfSmall(seen, count), Seq("seed_id", "url_hash"), "left_anti")
    }
    bloomNew.fold(exact)(exact.unionByName(_))
  }

  /** Run the round's materializing job, rebuilding the shards once if it
    * lost a shard block. The shard RDD is locally checkpointed (lineage
    * truncated), so losing one of its blocks — eviction, disk failure, or
    * an executor death whose other blocks survived — fails the job instead
    * of recomputing. The in-memory authority is `seen`: drop the dead
    * generation, rebuild from `seen` via the resume backfill path, and
    * re-run `attempt`. SCOPE: this recovers exactly the case where `seen`'s
    * own backing blocks are intact. A real executor death usually takes
    * frontier/batch blocks down with the shards — then the rebuild fails
    * the same way and surfaces as [[Crawler.BlockLossUnrecoverable]] with a
    * resume pointer (the caller drains pending snapshot commits first, so
    * the on-disk manifest chain is consistent through the last committed
    * round).
    */
  def recovering[T](round: Int)(attempt: => T): T = {
    val skippedBefore = skipped.value
    try attempt
    catch {
      case t: Throwable if shards.nonEmpty && Crawler.looksLikeBlockLoss(t) =>
        shards.foreach(_.unpersist(blocking = false))
        releasePrevious()
        shards = None
        // Spark applies accumulator updates from the failed attempt's
        // SUCCESSFUL tasks; the retry re-runs the whole plan, so without a
        // reset the pruning metric double-counts. KNOWN NARROW RACE: a
        // straggler task of the failed attempt whose success event lands
        // AFTER this reset still re-inflates the count — bounded by one
        // attempt's tasks, diagnostic-only (the metric gates nothing), and
        // not worth serializing the DAGScheduler event loop to close.
        skipped.reset()
        skipped.add(skippedBefore)
        insert(seen) // full backfill: seen already includes this round's batch
        try attempt
        catch {
          case t2: Throwable if Crawler.looksLikeBlockLoss(t2) =>
            t2.addSuppressed(t)
            throw new Crawler.BlockLossUnrecoverable(
              "executor loss took the crawl's in-memory state (seen/frontier blocks), " +
                "not just the URL-seen shards; in-process rebuild is impossible" +
                config.checkpointDir.fold(" and no checkpointDir is configured. Set " +
                  "Config.checkpointDir to make mid-crawl executor loss resumable.")(d =>
                  s". Durable snapshots at '$d' are consistent — re-invoke crawl with the " +
                    s"same checkpointDir to resume from round ${round - 1}."), t2)
        }
    }
  }

  /** Unpersist the superseded shard generation — call once the round's job
    * has materialized the merge that read it.
    */
  def releasePrevious(): Unit = {
    previous.foreach(_.unpersist(blocking = false))
    previous = None
  }

  /** Merge `df`'s rows into a new shard generation. Only the delta is
    * aggregated; it merges with the previous generation through a narrow
    * fullOuterJoin (both sides share the shard partitioner). LAZY: it
    * materializes inside the job that checkpoints the round's frontier,
    * adding zero driver jobs per round.
    */
  private def insert(df: DataFrame): Unit = {
    val nShards = config.hostBuckets
    val part = partitioner
    val delta = df
      .select(pmod(col("url_hash"), lit(nShards)).cast("int").as("shard"),
        col("seed_id"), col("url_hash"))
      .rdd.map(r => (r.getInt(0), (SeenShard.seedHash(r.getString(1)), r.getLong(2))))
      .aggregateByKey(freshPair(), part)(
        { case ((f, e), (sh, uh)) => f.insert(uh); e.insert(sh, uh); (f, e) },
        { case ((fa, ea), (fb, eb)) => (fa.merge(fb), ea.merge(eb)) })
    val merged = shards match {
      case None => delta
      case Some(prev) =>
        // COPY-ON-WRITE: `a` is served from the PREVIOUS generation's
        // cached block — merging in place would mutate that block, so a
        // task retry / speculative duplicate re-executing this partition
        // would re-apply the non-idempotent merge (CuckooFilter.merge
        // re-inserts every fingerprint, inflating load toward the stash)
        // and a concurrent reader could observe a SeenShard mid-grow. `b`
        // (the round delta) is freshly aggregated per execution and safe
        // to alias.
        prev.fullOuterJoin(delta, part).mapValues {
          case (Some(a), Some(b)) => (a._1.copy().merge(b._1), a._2.copy().merge(b._2))
          case (Some(a), None)    => a
          case (None, Some(b))    => b
          case (None, None)       => freshPair()
        }
    }
    merged.setName("graft-cuckoo-shards")
    // residency policy first (MEMORY_AND_DISK default: an outgrown shard
    // spills to executor-local disk instead of failing)...
    merged.persist(StorageLevel.fromString(config.shardStorageLevel))
    // ...then truncate lineage at first materialization — honored via the
    // checkpointAllMarkedAncestors local property Crawler.run sets (without
    // it this mark is never acted on)
    merged.localCheckpoint()
    previous = shards
    shards = Some(merged)
    publishShards(shards)
  }

  /** Probe rows map-side against the co-partitioned shards after ONE
    * exchange by shard: cuckoo first (a definitely-new verdict counts as
    * skipped), then the exact shard decides the cuckoo-maybes.
    */
  private def probe(df: DataFrame, current: Shards): DataFrame = {
    val nShards = config.hostBuckets
    val schema = df.schema
    val hIdx = schema.fieldIndex("url_hash")
    val sIdx = schema.fieldIndex("seed_id")
    val acc = skipped
    val fresh = df.rdd
      .map(r => ((((r.getLong(hIdx) % nShards) + nShards) % nShards).toInt, r))
      .partitionBy(partitioner)
      .zipPartitions(current, preservesPartitioning = false) { (rows, fs) =>
        val filters = fs.toMap
        rows.flatMap { case (shard, row) =>
          filters.get(shard) match {
            case None => { acc.add(1L); Some(row) } // empty shard: new
            case Some((cuckoo, exact)) =>
              val uh = row.getLong(hIdx)
              if (!cuckoo.contains(uh)) { acc.add(1L); Some(row) }
              else if (!exact.contains(SeenShard.seedHash(row.getString(sIdx)), uh)) Some(row)
              else None // exactly seen — drop
          }
        }
      }
    spark.createDataFrame(fresh, schema)
  }
}

private[graft] object SeenSet {
  /** Executor-resident shard generation: (shard, (cuckoo sketch, exact set)). */
  type Shards = RDD[(Int, (CuckooFilter, SeenShard))]

  /** Cuckoo table capacity per shard; overflow degrades to the victim
    * stash, never to a false negative.
    */
  private[engine] val CuckooCapacityPerShard: Long = 1L << 18

  private val SeenSchema = StructType(Seq(
    StructField("seed_id", StringType), StructField("url_hash", LongType)))

  private def freshPair(): (CuckooFilter, SeenShard) =
    (CuckooFilter.create(CuckooCapacityPerShard), SeenShard.create())
}
