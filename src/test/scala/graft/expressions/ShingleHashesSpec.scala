package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{Kmv, TextFunctions}

/** The fused shingle-hash expression must be VALUE-IDENTICAL to the
  * composed idiom it replaces — both hash conventions, distinct and
  * multiset forms, across ASCII, unicode (multi-byte code points),
  * whitespace-normalization cases, short texts, empties, and nulls.
  */
class ShingleHashesSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  private val texts: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "  leading and   trailing   whitespace \t mixed\n lines  ",
    "UPPER lower MiXeD case",
    "短文本中文字符串与英文 mixed 多字节",
    "aaaaaaaaaa", // heavy duplicate shingles
    "abcd",       // exactly n-1 chars at n=5
    "abcde",      // exactly n chars
    "",           // empty
    " \t\n ",     // whitespace-only (trims to empty)
    null,
    "éàüß€漢字カタカナ🙂 emoji and accents é",
    "a b", "x"
  )

  private def df = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  private def collectArrays(c: org.apache.spark.sql.Column): Map[Long, Seq[Long]] =
    df.select(col("id"), c.as("h")).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))
    }.toMap

  test("xxhash64 distinct form equals sort_array(array_distinct(transform(charShingles)))") {
    for (n <- Seq(2, 5, 9)) {
      val composed = collectArrays(sort_array(array_distinct(
        transform(TextFunctions.charShingles(col("text"), n), x => xxhash64(x)))))
      val fused = collectArrays(ShingleHashes.hashedCharShingles(col("text"), n))
      assert(fused == composed, s"xxhash64 distinct mismatch at n=$n")
    }
  }

  test("xxhash64 multiset form equals sort_array(transform(charShingles))") {
    val composed = collectArrays(sort_array(
      transform(TextFunctions.charShingles(col("text"), 5), x => xxhash64(x))))
    val fused = collectArrays(
      ShingleHashes.hashedCharShingles(col("text"), 5, distinct = false))
    assert(fused == composed)
  }

  test("md5-slice distinct form equals the composed Kmv.hash idiom") {
    for (n <- Seq(3, 5)) {
      val composed = collectArrays(sort_array(array_distinct(
        transform(TextFunctions.charShingles(col("text"), n), x => Kmv.hash(x)))))
      val fused = collectArrays(
        ShingleHashes.hashedCharShingles(col("text"), n, hash = ShingleHash.Md5Slice))
      assert(fused == composed, s"md5-slice mismatch at n=$n")
    }
  }
}
