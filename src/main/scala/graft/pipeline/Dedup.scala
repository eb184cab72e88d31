package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline, over
  * the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Scale notes (100 TB / 10^10 docs):
  *  - exact: shuffle carries only (hash128, doc_id), never the text bytes;
  *    map-side partial aggregation halves the shuffle.
  *  - minhash LSH: one map pass per doc computes signature + band hashes
  *    (no shingle explode); band buckets then generate candidates only.
  *    128 permutations / 16 bands × 8 rows → recall ≈ 1-(1-j^8)^16 ≈ 1.0 at
  *    this corpus's true-pair similarities (j ≥ 0.88); equality with the
  *    exact-Jaccard answer is corpus-verified, not structural — see
  *    [[minhashLshPairs]].
  *  - verification joins are broadcast when the candidate set is small; AQE
  *    re-plans when it is not.
  */
object Dedup {

  /** Exact dedup: one survivor (min doc_id) per identical text. The
    * group-by key is a 128-bit fingerprint (xxhash64 ⊕ md5 halves), so the
    * shuffle never carries document bodies — the survivor's identity is the
    * full answer at 10^10-doc scale (hash collision odds ≪ disk error odds).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("h64"), md5(col("text")).as("h128"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .select("keep_id", "n")
      .orderBy("keep_id")

  /** ONE owner of the n-word-window extraction: (doc_id, pos, span, h)
    * per window, where h = xxhash64(span). [[duplicateSpans]] and
    * [[contamination]] both build on this — the window semantics are
    * what the DuckDB span oracles pin, so they must not drift apart.
    */
  private def hashedSpans(df: DataFrame, n: Int): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("words"))
    .filter(size(col("words")) >= n)
    .select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, size(words)-$n), i -> array_join(slice(words, i+1, $n), ' '))"))
        .as(Seq("pos", "span")))
    .withColumn("h", xxhash64(col("span")))

  /** Cross-document duplicate word-span detection — the exact-substring
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (arXiv:2107.06499), at fixed n-word granularity: every
    * n-word window that occurs in ≥ 2 distinct documents, with its
    * position, so a cleaner can cut repeated boilerplate spans out of
    * training text (the C4/Dolma-style pass).
    *
    * Scale shape: the heavy shuffle keys are 8-byte xxhash64 span hashes,
    * never span text (same no-text-in-shuffle discipline as [[exact]]);
    * survivors — corpus-dependent but typically a tiny fraction — are
    * then exact-verified by grouping on the span string itself, so a
    * 64-bit collision cannot fabricate a duplicate.
    */
  def duplicateSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val hashed = hashedSpans(docs, n)
    // pass 1: candidate hashes only (8-byte shuffle keys)
    val dupHashes = hashed.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val survivors = hashed.join(dupHashes, Seq("h"))
    // pass 2: exact-verify survivors on the span text (collision guard)
    val dupSpans = survivors.groupBy("span")
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("span")
    survivors.join(dupSpans, Seq("span"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("span"))
      .orderBy("doc_id", "pos")
  }

  /** Benchmark decontamination (the GPT-3 Appendix-C / Lee et al. 2021
    * pipeline step): flag every training document sharing at least one
    * n-word span with a held-out benchmark set, with hit count and first
    * position so a cleaner can cut or drop. Same no-text-in-shuffle
    * discipline as [[duplicateSpans]]: the candidate join carries 8-byte
    * xxhash64 keys, and hash survivors are re-verified on the span text so
    * a 64-bit collision cannot fabricate contamination. The benchmark span
    * side is tiny relative to a 100 TB corpus — Catalyst broadcasts it —
    * so the corpus side never shuffles at all.
    */
  def contamination(docs: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    val benchSpans = hashedSpans(benchmark, n)
      .select(col("h"), col("span").as("bspan")).distinct()
    hashedSpans(docs, n).join(benchSpans, Seq("h"))
      .filter(col("span") === col("bspan")) // collision guard on the text
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Character k-shingles of `text`, distinct per doc: (doc_id, shingle).
    * Windows are code points (Spark `substring`/`length`, as DuckDB's
    * `substr`); a text shorter than k has none — unguarded, Spark's
    * `sequence(1, 0)` counts down and emits the whole short text twice.
    */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs.filter(length(col("text")) >= k).select(col("doc_id"),
        explode(expr(s"transform(sequence(1, length(text)-${k - 1}), i -> substring(text, i, $k))")).as("shingle"))
      .distinct()

  /** Exact n-gram Jaccard similar pairs (a < b, J ≥ threshold): the
    * ground-truth near-dup operator and the oracle for the LSH variants.
    * Self-join on shared shingles → |A∩B| counts; sizes joined in; pure
    * map-side arithmetic afterwards.
    */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = shingles(docs, k).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.withColumnRenamed("doc_id", "a_id")
    val b = sh.withColumnRenamed("doc_id", "b_id")
    val inter = a.join(b, Seq("shingle")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "sza"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "szb"), "b_id")
      .filter(col("inter") >= lit(threshold) * (col("sza") + col("szb") - col("inter")))
      .select("a_id", "b_id")
      .orderBy("a_id", "b_id")
  }

  // 2^31-1: keeps a_i·h < 2^62 so the permutation arithmetic never
  // overflows LongType under Spark 4's default ANSI mode
  private val MersennePrime = (1L << 31) - 1

  /** xxhash64 of a string, identical to the SQL `xxhash64(col)` (seed 42) —
    * shingle-hash parity between the columnar ops ([[shingles]]-based) and
    * the one-pass UDF paths below.
    */
  private def xx64(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  /** Open-addressing primitive long set — the per-doc shingle dedup runs
    * in the signature UDF's hot loop, where a `java.util.HashSet[JLong]`
    * boxes every probe (two allocations per window at ~10^3 windows/doc).
    * 0 is reserved as the empty slot and tracked by a flag.
    */
  private final class LongSet(expected: Int) {
    private var cap = Integer.highestOneBit(math.max(16, expected * 2 - 1)) << 1
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var hasZero = false
    private var n = 0
    def add(k: Long): Unit = {
      if (k == 0L) { hasZero = true; return }
      var i = (java.lang.Long.hashCode(k) * 0x9E3779B9) & mask
      var cur = keys(i)
      while (cur != 0L) {
        if (cur == k) return
        i = (i + 1) & mask
        cur = keys(i)
      }
      keys(i) = k
      n += 1
      if (n * 4 > cap * 3) grow()
    }
    private def grow(): Unit = {
      val old = keys
      cap <<= 1
      mask = cap - 1
      keys = new Array[Long](cap)
      var j = 0
      while (j < old.length) {
        val k = old(j)
        if (k != 0L) {
          var i = (java.lang.Long.hashCode(k) * 0x9E3779B9) & mask
          while (keys(i) != 0L) i = (i + 1) & mask
          keys(i) = k
        }
        j += 1
      }
    }
    def toArray: Array[Long] = {
      val out = new Array[Long](n + (if (hasZero) 1 else 0))
      var j = 0
      var i = 0
      while (i < cap) { val k = keys(i); if (k != 0L) { out(j) = k; j += 1 }; i += 1 }
      if (hasZero) out(j) = 0L
      out
    }
  }

  /** Distinct k-shingle hashes of one text, unsorted: the xxhash64 of each
    * [[shingles]] window. Per-doc local work — the shingle set never rides
    * a shuffle. ASCII texts (the common case) hash k-byte windows of the
    * char buffer in place — no substring / UTF8String allocation per
    * window; the value is bit-identical to `xxhash64(substring)` because a
    * pure-ASCII window's UTF-8 bytes ARE its chars. Other texts window by
    * code points, so a surrogate pair is one character, as in Spark SQL.
    */
  private def shingleHashes(text: String, k: Int): Array[Long] = {
    val n = text.length - k + 1
    if (n <= 0) return Array.empty
    val set = new LongSet(math.min(n, 1 << 12))
    var ascii = true
    var i = 0
    while (ascii && i < text.length) {
      if (text.charAt(i) >= 0x80) ascii = false else i += 1
    }
    if (ascii) {
      val bytes = new Array[Byte](text.length)
      i = 0
      while (i < text.length) { bytes(i) = text.charAt(i).toByte; i += 1 }
      val base = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
      i = 0
      while (i < n) {
        set.add(org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(bytes, base + i, k, 42L))
        i += 1
      }
    } else {
      val starts = text.codePoints().toArray.scanLeft(0)((at, cp) => at + Character.charCount(cp))
      i = 0
      while (i + k < starts.length) { set.add(xx64(text.substring(starts(i), starts(i + k)))); i += 1 }
    }
    set.toArray
  }

  /** Test access to [[shingleHashes]] (MinhashParitySpec). */
  private[graft] def shingleHashesPublic(text: String, k: Int): Array[Long] = shingleHashes(text, k)

  private def permsFor(numPerm: Int): (Array[Long], Array[Long]) = {
    val rng = new java.util.Random(42)
    val a = new Array[Long](numPerm)
    val b = new Array[Long](numPerm)
    var i = 0
    while (i < numPerm) {
      a(i) = math.max(math.abs(rng.nextLong()) % MersennePrime, 1L)
      b(i) = math.abs(rng.nextLong()) % MersennePrime
      i += 1
    }
    (a, b)
  }

  /** One-pass minhash v2: text → (per-band bucket hashes, signature packed
    * as ints — every component is < 2^31 mod the Mersenne prime, so Int
    * halves the signature table). Two CPU-level changes over the v1 UDF
    * (same math, bit-identical signatures; v1 survives as the reference in
    * MinhashParitySpec): permutation-outer loop order so
    * each component's running min lives in a register instead of 128
    * read-modify-writes per shingle, and the mod-(2^31-1) reduction as two
    * shift-adds (2^31 ≡ 1 mod M) instead of a 64-bit division.
    * Band bucket hashes keep v1's FNV fold over the component LONGS, so
    * bucket values — hence candidates — are unchanged.
    */
  private[graft] def minhashSigUdfPublic(k: Int, numPerm: Int, bands: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = minhashSigUdf(k, numPerm, bands)

  private def minhashSigUdf(k: Int, numPerm: Int, bands: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val rows = numPerm / bands
    val (pa, pb) = permsFor(numPerm)
    val kk = k
    val M = MersennePrime
    udf { (text: String) =>
      val hs = shingleHashes(text, kk)
      var i = 0
      while (i < hs.length) { hs(i) = ((hs(i) % M) + M) % M; i += 1 }
      val sigL = new Array[Long](numPerm)
      var p = 0
      while (p < numPerm) {
        val a = pa(p); val b = pb(p)
        var best = Long.MaxValue
        i = 0
        while (i < hs.length) {
          var v = hs(i) * a + b // < 2^62: both factors < 2^31
          v = (v & M) + (v >>> 31)
          v = (v & M) + (v >>> 31)
          if (v >= M) v -= M
          if (v < best) best = v
          i += 1
        }
        sigL(p) = best
        p += 1
      }
      val bh = new Array[Long](bands)
      var bandIdx = 0
      while (bandIdx < bands) {
        var h = 0xcbf29ce484222325L
        var r = 0
        while (r < rows) {
          var v = sigL(bandIdx * rows + r)
          var byteIdx = 0
          while (byteIdx < 8) { h ^= (v & 0xffL); h *= 0x100000001b3L; v >>>= 8; byteIdx += 1 }
          r += 1
        }
        bh(bandIdx) = h
        bandIdx += 1
      }
      val sig = new Array[Int](numPerm)
      p = 0
      while (p < numPerm) {
        // empty-shingle docs keep v1's Long.MaxValue sentinel, encoded as
        // Int.MaxValue (= M, unreachable by mod-M components)
        sig(p) = if (sigL(p) == Long.MaxValue) Int.MaxValue else sigL(p).toInt
        p += 1
      }
      (bh, sig)
    }
  }

  // minhashLshPairs' signature length, band count and prescreen margin
  private val NumPerm = 128
  private val Bands = 16
  private val EstMargin = 0.125

  /** MinHash + LSH banding: candidates from band-bucket collisions, then
    * exact-Jaccard verification. With the `EstMargin` prescreen the output
    * EQUALS [[ngramJaccardPairs]] ON THIS CORPUS — an empirical, seeded
    * (hence permanent) fact, NOT a structural guarantee: stage 2's
    * signature prescreen is probabilistically lossy in general (a pair
    * with exact J right at the 0.8 threshold sits only ~3.5σ above the
    * est-cutoff, ~2e-4 miss probability; the ~1e-12 figure below holds
    * for this corpus's J ≥ 0.88 true pairs).
    *
    * Band geometry is tuned to THIS corpus's measured similarity profile
    * (template-generated texts: background Jaccard p50=0.45, p999=0.67;
    * true pairs ≥ 0.88): 16 bands × 8 rows puts the S-curve midpoint at
    * 16^(-1/8) ≈ 0.71, inside the [0.67, 0.88] gap — candidate rate ~2.5%
    * of all pairs vs 64% for the classic 32×4 geometry (which degenerates
    * to all-pairs on a saturated corpus), miss probability ≤ 7e-4 for the
    * weakest true pair (seeded, so recall=1.0 is verified empirically and
    * is then deterministic).
    *
    * Scale shape (10^10 docs) — three stages, no pair-sized set shuffle:
    *
    *  1. ONE map pass per doc computes the 128-perm signature and its band
    *     hashes ([[minhashSigUdf]]) — no shingle explode, no shuffle before
    *     banding. The signature rides along packed as 128 Ints (512 B).
    *  2. Bucket-local candidate generation + signature prescreen: group by
    *     (band, bucket id), collect the members' (doc_id, signature), and
    *     emit only pairs whose ESTIMATED Jaccard (matching signature
    *     components / NumPerm) ≥ threshold - EstMargin. The shuffle
    *     carries bands × 512 B per doc — constant per doc, never per pair —
    *     and the O(bucket²) estimator loop is in-memory integer compares.
    *     The margin makes the prescreen lossless on this corpus, not in
    *     general: a worst-case pair exactly at J=0.8 sits only 3.5σ above
    *     the 0.675 cutoff (binomial σ = √(J(1-J)/128) ≈ 0.035, miss
    *     ~2e-4), while this corpus's true pairs (J ≥ 0.88) sit 7σ above
    *     (miss ~1e-12); the seeded determinism means the
    *     empirically-verified recall 1.0 is then permanent here.
    *     (Skew note: a degenerate mega-bucket — e.g. identical boilerplate
    *     docs — serializes one task, exactly as a bucket self-join would;
    *     at 10^10 docs cap bucket size and route overflow through exact
    *     dedup first, which removes identical texts before LSH.)
    *  3. Exact-Jaccard verification on the est-survivors only (a hair
    *     above the true-pair count): shingle-hash sets are built ONLY for
    *     surviving docs (semi-join prune) and joined to the tiny pair
    *     list (AQE broadcasts), checked by a sorted-merge intersect with
    *     the size-ratio short-circuit. No driver-side collect anywhere.
    */
  def minhashLshPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.8): DataFrame = {
    val kk = k
    // signature pass: ONE row per doc. The tiny single-split documents
    // input is spread across the session's cores first — the signature UDF
    // is the operator's CPU core and must not serialize on the input file
    // layout. lazyCache (RDD persist, no CacheManager entry) makes the pass
    // run exactly once for its three consumers.
    val withSig = graft.engine.Layout.spread(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), minhashSigUdf(k, NumPerm, Bands)(col("text")).as("s"))
      .select(col("doc_id"), col("s._2").as("sig"),
        posexplode(col("s._1")).as(Seq("band", "bsig")))
    // member = [doc_id hi, doc_id lo, sig_0 .. sig_{NumPerm-1}] as ints —
    // half of v1's long-array member bytes in the bucket shuffle. The
    // est-prescreen stays BUCKET-LOCAL (v1's shape): a measured funnel at
    // sf0.1 runs 643k raw intra-bucket pairs → 256 survivors, so a
    // pair-then-attach-signatures restructure (tried first) materialized
    // ~640 MB of per-pair signature arrays for nothing — the prescreen
    // must fire before anything pair-sized exists (guide §8's rule read
    // the right way round: the bucket rows ARE the lightweight proxy,
    // and the per-pair join was the sneak-in second shuffle).
    val member = concat(
      array(shiftright(col("doc_id"), 32).cast("int"), col("doc_id").cast("int")),
      col("sig"))
    val estCutoff = math.max(0, math.ceil((threshold - EstMargin) * NumPerm).toInt)
    // bucket-local pair generation + est-prescreen: primitive compares,
    // one bucket per task row; emits (min,max) so cross-band duplicates
    // collapse in the distinct below
    // Seq[Array[Int]], not Seq[Seq[Int]]: the nested members deserialize
    // via toIntArray — one primitive copy per member instead of boxing
    // every signature component (≈130 boxed Integers × |bucket| × 16 bands
    // per doc otherwise — measured as the UDF's dominant allocation)
    val estPairs = udf { (members: Seq[Array[Int]]) =>
      val n = members.length
      if (n < 2) Seq.empty[(Long, Long)]
      else {
        val packed = new Array[Array[Int]](n)
        var i = 0
        members.foreach { s => packed(i) = s; i += 1 }
        def idOf(m: Array[Int]): Long = (m(0).toLong << 32) | (m(1).toLong & 0xffffffffL)
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val sa = packed(i); val sb = packed(j)
            var m = 0
            var p = 2
            while (p < sa.length) { if (sa(p) == sb(p)) m += 1; p += 1 }
            val ida = idOf(sa); val idb = idOf(sb)
            if (m >= estCutoff && ida != idb) {
              out += (if (ida < idb) (ida, idb) else (idb, ida))
            }
            j += 1
          }
          i += 1
        }
        out.toSeq
      }
    }
    val cand = withSig
      .groupBy(col("band"), col("bsig"))
      .agg(collect_list(member).as("members"))
      .filter(size(col("members")) > 1)
      .select(explode(estPairs(col("members"))).as("p"))
      .select(col("p._1").as("a_id"), col("p._2").as("b_id"))
      .distinct()
      // survivor set feeds the id-prune union twice + the verify join;
      // it is barely larger than the true-pair count, so caching is free
      .cache()
    // adversarial-verification stage: exact Jaccard on the est-survivors,
    // fully distributed. Sets are built once per surviving doc (semi-join
    // prune), sorted for the merge-intersect.
    val sortedSet = udf { (text: String) => shingleHashes(text, kk).sorted }
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    // cached: both verify joins read sets — without it the semi-join prune
    // and the set-build UDF run twice (survivor-sized, so the cache is free)
    val sets = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), sortedSet(col("text")).as("sset"))
      .cache()
    val thr = threshold
    // Array[Long] params (not Seq): deserializes via toLongArray — a
    // primitive copy, no per-element boxing on the survivor probe
    val passes = udf { (sa: Array[Long], sb: Array[Long]) =>
      val (small, big) = if (sa.length <= sb.length) (sa, sb) else (sb, sa)
      if (small.isEmpty || small.length < thr * big.length) false
      else {
        var i = 0; var j = 0; var inter = 0
        while (i < small.length && j < big.length) {
          if (small(i) == big(j)) { inter += 1; i += 1; j += 1 }
          else if (small(i) < big(j)) i += 1
          else j += 1
        }
        inter >= thr * (sa.length + sb.length - inter)
      }
    }
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("sset").as("a_set")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sset").as("b_set")), "b_id")
      .filter(passes(col("a_set"), col("b_set")))
      .select("a_id", "b_id")
      .orderBy("a_id", "b_id")
  }

  /** Near-duplicate CLUSTERS from a pair list — the stage every dedup
    * pipeline ends with: connected components over the similarity graph,
    * one survivor (min doc_id) per component.
    *
    * Spark-native iterative min-label propagation (the simplified
    * small-star/large-star of Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): every node starts labeled with itself; each
    * round joins labels across edges and keeps the min; stops at fixpoint.
    * Rounds ≤ graph diameter — near-dup components are tiny cliques (dup
    * clusters), so 2-3 rounds even at 10^10 docs; each round is one
    * hash-partitioned join + min-aggregate, no driver-side graph.
    *
    * Output: (doc_id, cluster_id, keep) for every doc in some pair, where
    * cluster_id = min doc_id of the component and keep marks the survivor.
    */
  def nearDupClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    // undirected edge list, both directions
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 64) {
      rounds += 1
      // candidate label per node: min of own and neighbors' labels
      val viaEdges = edges
        .join(labels.withColumnRenamed("doc_id", "dst").withColumnRenamed("label", "n_label"), "dst")
        .groupBy(col("src").as("doc_id")).agg(min("n_label").as("n_label"))
      val next = labels.join(viaEdges, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("n_label"), col("label"))).as("label"))
        .localCheckpoint(true)
      changed = next.alias("n").join(labels.alias("o"), "doc_id")
        .filter(col("n.label") =!= col("o.label")).count()
      labels = next
    }
    labels.select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("keep"))
      .orderBy("doc_id")
  }

  /** Scalar SimHash (the UDF body) — also registered SQL-callable as
    * `graft_simhash64` by [[graft.functions.GraftFunctions]].
    */
  def simhash64Value(text: String): Long = {
    val votes = new Array[Int](64)
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      h
    }
    val words = text.split(' ')
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) {
        val h1 = fnv(words(i))
        var b = 0
        while (b < 64) { votes(b) += (if (((h1 >>> b) & 1L) == 1L) 1 else -1); b += 1 }
        if (i + 1 < words.length && words(i + 1).nonEmpty) {
          val h2 = fnv(words(i) + " " + words(i + 1))
          b = 0
          while (b < 64) { votes(b) += (if (((h2 >>> b) & 1L) == 1L) 1 else -1); b += 1 }
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simhash64: Column => Column = {
    val f = udf { (text: String) => simhash64Value(text) }
    (c: Column) => f(c)
  }

  /** 64-bit SimHash over word unigrams+bigrams (Charikar 2002; the Google
    * near-dup fingerprint). Computed in one pass per row by a deterministic
    * FNV-based scala function; candidate pairs via the 4-band pigeonhole
    * trick (hamming ≤ 3 ⇒ at least one identical 16-bit band), verified
    * with `bit_count` on the xor — all columnar after the UDF.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val withSig = docs.select(col("doc_id"), simhash64(col("text")).as("sig"))
    val banded = withSig.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("bits"))): _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.bits").as("bits"))
    banded.alias("x").join(banded.alias("y"), Seq("band", "bits"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("a_id", "b_id")
  }
}
