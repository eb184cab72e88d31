package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Per-host politeness scheduler.
  *
  * The reference paces with `DelaySleep`: a uniform-random sleep in
  * `[Delay[0], Delay[1]]` between every page (`/root/reference/
  * svcimpl.go:666-675`, `lib/base.go:68-73`), and *declares*
  * `Concurrency` / `ThrottleNum` / `ThrottleDuration` knobs it never
  * implemented (`config/config.go:17-22`, TODO). We implement the declared
  * contract with the same knob names (SURVEY.md §2.1 L11):
  *
  *   - per-host serialization (reference Concurrency=1 per browser),
  *   - inter-request gap uniform in [delayMin, delayMax], deterministic
  *     jitter seeded from the url hash (reproducible crawls),
  *   - throttle floor: at most throttleNum requests per throttleDuration
  *     per host.
  *
  * Implemented declaratively: a cumulative-sum window over
  * `partitionBy(host)` assigns each request a virtual `scheduled_ms`
  * offset — whole-stage-codegen'd, no mapPartitions, no driver loop. A real
  * fetcher would sleep to its `scheduled_ms`; on the static corpus the
  * column is the observable pacing contract (asserted in tests against the
  * same bounds the reference's sleeps guarantee).
  *
  * Scale note (SURVEY.md §7 hard part 6): the window shuffles by host ONLY
  * when politeness is on; hot hosts are already split upstream by the
  * salted repartition in the crawler, and executor slots stay busy because
  * a partition packs many hosts (hash partitioning) — one host's gap
  * overlaps other hosts' work.
  */
object Politeness {

  final case class Config(
      delayMinMs: Long = 0L,
      delayMaxMs: Long = 0L,
      concurrency: Int = 1,
      throttleNum: Int = 0,
      throttleDurationMs: Long = 1000L
  ) extends Serializable {
    def enabled: Boolean = delayMinMs > 0 || delayMaxMs > 0 || throttleNum > 0
  }

  /** Deterministic per-request jitter in [delayMin, delayMax]: uniform from
    * the low 32 bits of the url-hash (parity with `lib.RandDuration`'s
    * uniform draw, made reproducible).
    */
  private def gapMs(conf: Config, urlHash: Column): Column = {
    if (conf.delayMaxMs > conf.delayMinMs) {
      val span = conf.delayMaxMs - conf.delayMinMs + 1
      lit(conf.delayMinMs) + pmod(urlHash, lit(span)).cast("long")
    } else lit(conf.delayMinMs)
  }

  /** Budget-aware host bin-packing for wall-clock pacing (SURVEY.md §7
    * hard part 6). A paced task thread's wall time is governed by the
    * LATEST `scheduled_ms` it must sleep toward, so placement decides
    * utilization: hashing rows by url (the virtual-pace layout) spreads a
    * hot host's late-scheduled rows over every partition and each of the
    * P tasks ends up sleeping ~the hot host's whole span — P× the
    * mandated politeness wait in wasted task-seconds. Instead:
    *
    *   1. per-host delay budget = the host's schedule span
    *      (`max(scheduled_ms)` — what its bin must spend in wall-clock),
    *   2. the heavy head (top `4*bins` hosts by budget, a BOUNDED driver
    *      collect independent of corpus size) is packed exactly with
    *      greedy LPT; the long tail (budgets ~0) hashes uniformly,
    *   3. rows land on their bin's partition EXACTLY (identity
    *      partitioner — `repartition(col)` would hash bin ids and merge
    *      bins), sorted by `scheduled_ms` within the partition.
    *
    * The sort makes each thread's absolute-time sleeps monotone: it
    * sleeps only while AHEAD of schedule, and every gap in a hot host's
    * schedule is filled with whatever tail-host rows hashed into the bin.
    * Bin wall = max(own span, own work) instead of span + work — the
    * token-bucket waits overlap other hosts' work.
    *
    * The RDD identity-partition round-trip breaks whole-stage codegen at
    * this boundary — acceptable by construction: this path only runs
    * under `realPace`, where wall time is sleep-dominated by mandate.
    */
  def packForPace(df: DataFrame, bins: Int): DataFrame = {
    require(bins > 0, "packForPace needs at least one bin")
    val spark = df.sparkSession
    val budgets = df.groupBy("host").agg(max("scheduled_ms").as("__budget"))
    val heavy = budgets.orderBy(col("__budget").desc, col("host")).limit(4 * bins).collect()
    // no host, no row (the zero-row batch of a crawl that ran no round):
    // nothing to place, and the round trip's shuffle would cost a job
    if (heavy.isEmpty) return df
    val loads = new Array[Long](bins)
    val assign = heavy.map { r =>
      var best = 0
      var i = 1
      while (i < bins) { if (loads(i) < loads(best)) best = i; i += 1 }
      loads(best) += math.max(r.getLong(1), 1L)
      r.getString(0) -> best
    }.toMap
    val assignB = spark.sparkContext.broadcast(assign)
    val binOf = udf { (host: String) =>
      val h = if (host == null) "" else host
      assignB.value.getOrElse(h, math.floorMod(h.hashCode, bins))
    }
    val withBin = df.withColumn("__bin", binOf(col("host")))
    val schema = withBin.schema
    val binIdx = schema.fieldIndex("__bin")
    val placed = withBin.rdd
      .map(r => (r.getInt(binIdx), r))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = bins
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .values
    spark.createDataFrame(placed, schema)
      .sortWithinPartitions("scheduled_ms", "host", "url")
      .drop("__bin")
  }

  /** Real pacing: sleep each row's task thread until crawl-round start +
    * `scheduled_ms` (the moment a live fetcher would issue the request).
    * The schedule itself is the virtual-clock contract used by tests and
    * the sandbox corpus join; this stage turns it into wall-clock behavior
    * when `realPace` is on — per-host gaps then hold in real time while
    * other hosts' rows in the same partition proceed independently (rows
    * are scheduled, not the partition).
    */
  def pace(df: DataFrame, roundStartMs: Long): DataFrame = {
    val waiter = org.apache.spark.sql.functions.udf { (scheduledMs: Long) =>
      val target = roundStartMs + scheduledMs
      var now = System.currentTimeMillis()
      while (now < target) {
        Thread.sleep(math.min(target - now, 50L))
        now = System.currentTimeMillis()
      }
      System.currentTimeMillis() - roundStartMs // actual emission offset
    }
    df.withColumn("emitted_ms", waiter(col("scheduled_ms")))
  }

  /** Adds `scheduled_ms` (virtual emission time per host, ms from crawl
    * start of round) and `fetch_seq` (0-based per-host order).
    *
    * `concurrency` (reference `config/config.go:17-18`, declared-but-TODO
    * there): c requests may be in flight per host simultaneously — requests
    * are grouped into waves of c, and the inter-request delay applies
    * between WAVES (the wave leader's jitter draw), so
    * scheduled(k) = Σ gaps of wave leaders before k's wave. At c=1 this
    * reduces exactly to the previous per-request cumulative formula. All
    * windows share the host partitioning — one shuffle, reused exchanges.
    *
    * `robotsDelayMs`: optional per-row gap floor from the host's
    * robots.txt `Crawl-delay` (null where the host declares none) — the
    * effective wave gap is `greatest(configured jitter, crawl-delay)`, and
    * a crawl-delay alone activates scheduling even when the engine's own
    * delay knobs are 0.
    *
    * DELIBERATE DEVIATION: with `concurrency` c > 1 the crawl-delay floor
    * applies between WAVES, so a host still receives c near-simultaneous
    * requests per delay window — weaker than Crawl-delay's per-request
    * intent. The engine default (c = 1, matching the reference's one
    * browser per host) honors the strict reading; deployments raising c
    * on robots-delayed hosts are opting into the wave interpretation.
    */
  def schedule(df: DataFrame, conf: Config, robotsDelayMs: Option[Column] = None): DataFrame = {
    if (!conf.enabled && robotsDelayMs.isEmpty)
      return df.withColumn("scheduled_ms", lit(0L)).withColumn("fetch_seq", lit(0L))
    val w = Window.partitionBy(col("host")).orderBy(col("url"))
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seq = row_number().over(w).cast("long") - 1
    val c = math.max(1, conf.concurrency).toLong
    val waveGap = robotsDelayMs match {
      case Some(rd) => greatest(gapMs(conf, col("url_hash")), coalesce(rd, lit(0L)))
      case None     => gapMs(conf, col("url_hash"))
    }
    // wave-leader gap: null on followers so `last(..., ignoreNulls)` picks
    // the row's OWN wave leader (waves are contiguous in the host order);
    // projected first so the windowed sums don't nest window functions
    val withSeq = df.withColumn("fetch_seq", seq)
      .withColumn("__leader_gap",
        when(pmod(col("fetch_seq"), lit(c)) === 0, waveGap)
          .otherwise(lit(null).cast("long")))
      .withColumn("delay_cum_ms",
        sum(coalesce(col("__leader_gap"), lit(0L))).over(upTo) -
          last(col("__leader_gap"), ignoreNulls = true).over(upTo))
      .drop("__leader_gap")
    val throttled =
      if (conf.throttleNum > 0) {
        // floor: request k of a host may not start before
        // (k / throttleNum) * throttleDuration
        withSeq.withColumn("throttle_floor_ms",
          (col("fetch_seq") / lit(conf.throttleNum.toLong)).cast("long") * lit(conf.throttleDurationMs))
      } else withSeq.withColumn("throttle_floor_ms", lit(0L))
    throttled
      .withColumn("scheduled_ms", greatest(col("delay_cum_ms"), col("throttle_floor_ms")))
      .drop("delay_cum_ms", "throttle_floor_ms")
  }
}
