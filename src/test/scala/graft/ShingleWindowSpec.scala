package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** The one-pass shingle hashes and the columnar shingles window the same
  * characters as the DuckDB oracle (`substr` over code points, no window
  * in a text shorter than k), on text the fixtures never generate.
  */
class ShingleWindowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("shingle-window")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val texts = Seq(
    "a😀bc", // two code-point windows, not three UTF-16 ones
    "😀😀😀😀",
    "clef 𝄞 and café 𝄞",
    "x😀", // two code points: shorter than k
    "a\uD800bc", // lone surrogate: one '?' character on both paths
    "",
    "ab",
    "abc",
    "plain ascii text")

  test("shingleHashes == xxhash64 of Dedup.shingles, over non-BMP, empty and sub-k text") {
    val s = spark
    import s.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val columnar = Dedup.shingles(df, 3).select(col("doc_id"), xxhash64(col("shingle")))
      .collect().groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    for ((t, i) <- texts.zipWithIndex) {
      val got = Dedup.shingleHashesPublic(t, 3).toSet
      assert(got == columnar.getOrElse(i.toLong, Set.empty[Long]), s"windows diverged for doc $i")
    }
  }

  test("identical texts shorter than k form no near-duplicate pair") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "ab"), (2L, "ab"), (3L, ""), (4L, "")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(docs).count() == 0)
    assert(Dedup.minhashLshPairs(docs).count() == 0)
  }
}
