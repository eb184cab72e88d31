package graft.engine

/** From-scratch cuckoo filter over 64-bit url hashes — the partitioned
  * exact-ish URL-seen sketch from the north star ("broadcast bloom filter
  * plus partitioned cuckoo-filter URL-seen set keyed by canonicalized URL
  * hash"). Per Fan et al., "Cuckoo Filter: Practically Better Than Bloom"
  * (CoNEXT 2014): 4-slot buckets, 16-bit fingerprints, partial-key cuckoo
  * hashing; supports delete (unlike bloom) and ~0.01% FP at 95% load.
  *
  * NO FALSE NEGATIVES, ever: when a kick chain exhausts MaxKicks the final
  * evicted (bucket, fingerprint) pair lands in a victim stash (Fan et al.
  * §4's stash variant) that `contains` also probes, so an insert can degrade
  * the table toward its load ceiling but never silently evicts a resident
  * key. `merge` overflow takes the same stash path.
  *
  * One filter per `host_bucket` partition of the frontier's seen table
  * (FIXTURES.md `seen` schema): membership probes stay partition-local at
  * 10^10-URL scale, so successor dedup is a map-side filter rather than a
  * full shuffle; the broadcast bloom handles the cross-bucket fast path and
  * the exact anti-join remains the authority at test scale (engine verifies
  * filter/anti-join agreement).
  */
final class CuckooFilter private (
    val numBuckets: Int,
    private val table: Array[Short] // numBuckets * 4 slots; 0 = empty
) extends Serializable {

  import CuckooFilter._

  private var count: Long = 0L
  // victim stash: (bucket, fp) pairs evicted past MaxKicks. `bucket` is one
  // of the victim's two legitimate buckets, so a contains() probe matches it
  // through either of the probe buckets. Stays tiny (non-empty only past
  // ~95% load); linear scan is fine.
  private var stash: List[(Int, Int)] = Nil

  def size: Long = count

  private def altBucket(b: Int, fp: Int): Int =
    // partial-key: b XOR hash(fp); multiply-shift over the fingerprint
    (b ^ ((fp * 0x5bd1e995) >>> 16)) & (numBuckets - 1)

  /** Insert; always succeeds (victim stash absorbs overflow). Returns false
    * only when the insert had to stash — a size-up signal, not a failure.
    */
  def insert(hash: Long): Boolean = {
    val fp = fingerprint(hash)
    val b = bucketOf(hash, numBuckets)
    count += 1
    insertFrom(b, fp, hash)
  }

  /** Place fp whose legitimate bucket is b0 (the other being altBucket).
    * Returns true if it landed in the table, false if it went to the stash.
    */
  private def insertFrom(b0: Int, fp0: Int, seed: Long): Boolean = {
    if (tryInsertAt(b0, fp0)) return true
    var b = altBucket(b0, fp0)
    if (tryInsertAt(b, fp0)) return true
    // cuckoo kicks
    var cur = fp0
    var rng = seed | 1L
    var i = 0
    while (i < MaxKicks) {
      rng = rng * 6364136223846793005L + 1442695040888963407L
      val slot = ((rng >>> 33) % 4).toInt
      val idx = b * 4 + slot
      val evicted = table(idx) & 0xffff
      table(idx) = cur.toShort
      cur = evicted
      b = altBucket(b, cur)
      if (tryInsertAt(b, cur)) return true
      i += 1
    }
    // table overfull: the victim `cur` was resident (previously inserted) —
    // keep it findable in the stash; `b` is one of cur's two buckets.
    stash = (b, cur) :: stash
    false
  }

  private def tryInsertAt(b: Int, fp: Int): Boolean = {
    var s = 0
    while (s < 4) {
      val idx = b * 4 + s
      if (table(idx) == 0) { table(idx) = fp.toShort; return true }
      s += 1
    }
    false
  }

  def contains(hash: Long): Boolean = {
    val fp = fingerprint(hash)
    val b1 = bucketOf(hash, numBuckets)
    val b2 = altBucket(b1, fp)
    var s = 0
    while (s < 4) {
      if ((table(b1 * 4 + s) & 0xffff) == fp) return true
      if ((table(b2 * 4 + s) & 0xffff) == fp) return true
      s += 1
    }
    stash.exists { case (b, f) => f == fp && (b == b1 || b == b2) }
  }

  /** Union-in another filter's keys. Same no-false-negative guarantee: a
    * fingerprint that can't be placed (even after kicks) goes to the stash.
    */
  def merge(other: CuckooFilter): CuckooFilter = {
    require(other.numBuckets == numBuckets, "cannot merge differently-sized cuckoo filters")
    var i = 0
    while (i < other.table.length) {
      val fp = other.table(i) & 0xffff
      if (fp != 0) {
        val b = i / 4 // a legitimate bucket of fp in other ⇒ legitimate here (same size)
        insertFrom(b, fp, (b.toLong << 17) ^ fp)
        count += 1
      }
      i += 1
    }
    other.stash.foreach { case (b, fp) =>
      insertFrom(b, fp, (b.toLong << 17) ^ fp)
      count += 1
    }
    this
  }

  /** Deep copy for copy-on-write merging (see [[SeenShard.copy]]): `merge`
    * mutates `this` and is NOT idempotent (it re-inserts every resident
    * fingerprint, inflating `count` and pushing entries toward the stash),
    * so the per-round shard merge must never run it against an object
    * owned by the previous generation's cached RDD block.
    */
  def copy(): CuckooFilter = {
    val c = new CuckooFilter(numBuckets, table.clone())
    c.count = count
    c.stash = stash
    c
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 + table.length * 2 + 4 + stash.length * 8)
    bb.putInt(Magic)
    bb.putInt(numBuckets)
    bb.putLong(count)
    table.foreach(bb.putShort)
    bb.putInt(stash.length)
    stash.foreach { case (b, fp) => bb.putInt(b); bb.putInt(fp) }
    bb.array()
  }
}

object CuckooFilter {
  private val Magic = 0x43554b47 // "CUKG" (v2: victim stash appended)
  private val MaxKicks = 500

  def create(expectedItems: Long): CuckooFilter = {
    // 4 slots/bucket at 95% load; round buckets up to power of two
    val needed = math.max(16L, (expectedItems / (4 * 0.95)).toLong + 1)
    val buckets = java.lang.Long.highestOneBit(needed * 2 - 1).toInt match {
      case b if b < needed => (b * 2).toInt
      case b               => b.toInt
    }
    new CuckooFilter(buckets, new Array[Short](buckets * 4))
  }

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == Magic, "not a cuckoo filter blob")
    val buckets = bb.getInt()
    val count = bb.getLong()
    val table = new Array[Short](buckets * 4)
    var i = 0
    while (i < table.length) { table(i) = bb.getShort(); i += 1 }
    val f = new CuckooFilter(buckets, table)
    f.count = count
    val nStash = bb.getInt()
    var j = 0
    while (j < nStash) {
      f.stash = (bb.getInt(), bb.getInt()) :: f.stash
      j += 1
    }
    f
  }

  private def bucketOf(hash: Long, numBuckets: Int): Int =
    ((hash >>> 16) & (numBuckets - 1)).toInt

  /** 16-bit nonzero fingerprint from the low bits. */
  private def fingerprint(hash: Long): Int = {
    val fp = (hash & 0xffff).toInt
    if (fp == 0) 1 else fp
  }
}
