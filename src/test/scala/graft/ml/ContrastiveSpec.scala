package graft.ml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.SemDedup
import graft.catalog.Shared.exitScopedDir

class ContrastiveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mine(rows: Seq[(Long, Array[Float])], tau: Double) =
    Contrastive
      .mineTriplets(rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        SemDedup.signBucket(col("embedding"), 2), tau)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))

  test("near-dup pair yields a triplet whose hard negative is the closest sub-threshold vector") {
    val out = mine(Seq(
      1L -> Array(1f, 1f, 0f, 0f),
      2L -> Array(1f, 1f, 0.01f, 0f), // positive of 1 (cos ≈ 0.99997)
      3L -> Array(1f, 0.5f, 0.9f, 0f), // same bucket, cos(1,3) ≈ 0.739 — hard negative
      4L -> Array(-1f, -1f, 0f, 0f) // cos(1,4) = −1, never the hard negative
    ), tau = 0.95)
    assert(out.length == 1)
    val (a, p, n, ps, ns) = out.head
    assert((a, p, n) == ((1L, 2L, 3L)))
    assert(ps > 0.95 && ns < 0.95 && ns > 0.7)
  }

  test("an anchor with two positives repeats its single hard negative") {
    val out = mine(Seq(
      1L -> Array(1f, 1f, 0f, 0f),
      2L -> Array(1f, 1f, 0.01f, 0f),
      3L -> Array(1f, 1f, 0.02f, 0f),
      5L -> Array(1f, 0.5f, 0.9f, 0f)
    ), tau = 0.95)
    assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 2L), (1L, 3L)))
    assert(out.map(_._3).toSet == Set(5L))
  }

  test("hard negatives are not bucket-restricted") {
    // the closest sub-threshold vector sits in ANOTHER bucket (dim-1 sign
    // differs) — the negative scan must still find it
    val out = mine(Seq(
      1L -> Array(1f, 1f, 0f, 0f),
      2L -> Array(1f, 1f, 0.01f, 0f),
      3L -> Array(-0.01f, 1f, 0.4f, 0f) // other bucket, cos(1,3) ≈ 0.65
    ), tau = 0.95)
    assert(out.length == 1)
    assert(out.head._3 == 3L)
  }

  test("no near-dups ⇒ no triplets") {
    val out = mine(Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f)), tau = 0.95)
    assert(out.isEmpty)
  }

  test("mineTripletsIndexed over the stored IVF index equals the inline miner at nProbe == nCells") {
    import java.nio.file.Files
    val emb = graft.Engine.table(spark, TestSpark.Sf, "embeddings")
    val dir = exitScopedDir("ivf-triplets") + "/idx"
    val h = graft.functions.IvfIndex.buildKMeans(emb, "vec_id", "embedding",
      nCells = 8, dir)
    val bucket = SemDedup.signBucket(col("embedding"), 6)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("anchor"), col("positive"), col("negative"),
        round(col("pos_sim") + lit(1e-9), 6).as("ps"),
        round(col("neg_sim") + lit(1e-9), 6).as("ns"))
      .collect().map(_.toSeq).toSet
    val inline = canon(Contrastive.mineTriplets(
      emb, "vec_id", "embedding", bucket, tauPos = 0.3))
    val indexed = canon(Contrastive.mineTripletsIndexed(
      emb, "vec_id", "embedding", bucket, tauPos = 0.3, h, nProbe = 8))
    assert(inline.nonEmpty, "fixture mined no triplets — tauPos too high for this data")
    assert(indexed == inline,
      "degenerate-probe indexed miner diverged from the inline brute-force miner")
    // and a genuinely approximate probe still returns sub-threshold negatives
    val approx = Contrastive.mineTripletsIndexed(
      emb, "vec_id", "embedding", bucket, tauPos = 0.3, h, nProbe = 2)
    assert(approx.filter(col("neg_sim") >= 0.3).count() == 0)
  }
}
