package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** Focused parity pins for the r6 minhash rewrite (Dedup.minhashSigUdf):
  * the ASCII byte-window shingle path, the shift-add Mersenne reduction
  * and the Int-packed signature must be BIT-IDENTICAL to the v1 UDF the
  * DuckDB-gated operator shipped with (kept below as a test-local
  * reference) — the LSH candidate set (band
  * bucket hashes) and the est-prescreen (signature components) both hang
  * off these values.
  */
class MinhashParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("minhash-parity")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def xxRef(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  // v1 signature UDF, kept here as the reference the v2 UDF must match
  // bit for bit: text → one element per band of (band index, band bucket
  // hash, full signature), components min((a·h + b) mod M) over the
  // shingle hashes, each band an FNV-1a fold of its rows' component longs.
  private def v1Udf(k: Int, numPerm: Int, bands: Int) = {
    val M = (1L << 31) - 1
    val rows = numPerm / bands
    val rng = new java.util.Random(42)
    val perms = Array.fill(numPerm) {
      val a = math.max(math.abs(rng.nextLong()) % M, 1L)
      (a, math.abs(rng.nextLong()) % M)
    }
    udf { (text: String) =>
      val hs = Dedup.shingleHashesPublic(text, k)
      val sig = Array.fill(numPerm)(Long.MaxValue)
      for (h0 <- hs; h = ((h0 % M) + M) % M; p <- 0 until numPerm) {
        val v = (h * perms(p)._1 + perms(p)._2) % M
        if (v < sig(p)) sig(p) = v
      }
      Array.tabulate(bands) { b =>
        var h = 0xcbf29ce484222325L
        for (r <- 0 until rows) {
          var v = sig(b * rows + r)
          for (_ <- 0 until 8) { h ^= (v & 0xffL); h *= 0x100000001b3L; v >>>= 8 }
        }
        (b, h, sig)
      }
    }
  }

  val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "aaabbbcccaaa", // repeated shingles exercise the dedup set
    "ab", // shorter than k=3: empty shingle set
    "zéro café naïve", // non-ASCII: substring fallback path
    "mixed ascii then 中文 tail",
    (0 until 2000).map(i => ('a' + i % 26).toChar).mkString // long, grows the set
  )

  test("shingleHashes: ASCII byte-window path == xxhash64(substring) reference") {
    for (t <- texts) {
      val got = Dedup.shingleHashesPublic(t, 3).toSet
      val want = (0 to t.length - 3).map(i => xxRef(t.substring(i, i + 3))).toSet
      assert(got == want, s"shingle hash set diverged for '${t.take(30)}...'")
    }
  }

  test("sig UDF v2 == v1: identical band bucket hashes and signature components") {
    val s = spark
    import s.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val v1 = df.select(col("doc_id"), explode(v1Udf(3, 128, 16)(col("text"))).as("e"))
      .select(col("doc_id"), col("e._1").as("band"), col("e._2").as("bsig"), col("e._3").as("sig"))
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getSeq[Long](3))))
      .toMap
    val v2 = df.select(col("doc_id"), Dedup.minhashSigUdfPublic(3, 128, 16)(col("text")).as("s"))
      .select(col("doc_id"), col("s._1").as("bh"), col("s._2").as("sig"))
      .collect()
    assert(v2.length == texts.length)
    for (r <- v2) {
      val id = r.getLong(0)
      val bh = r.getSeq[Long](1)
      val sig = r.getSeq[Int](2)
      assert(bh.length == 16 && sig.length == 128)
      for (b <- 0 until 16) {
        val (bsig1, sig1) = v1((id, b))
        assert(bh(b) == bsig1, s"band hash diverged doc=$id band=$b")
        // v1 carries the full signature on every band row; components are
        // longs < 2^31 (or Long.MaxValue for empty docs → Int.MaxValue)
        for (p <- 0 until 128) {
          val want = if (sig1(p) == Long.MaxValue) Int.MaxValue else sig1(p).toInt
          assert(sig(p) == want, s"sig component diverged doc=$id p=$p")
        }
      }
    }
  }
}
