package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Kmv, TopK}

/** Weighted sampling without replacement — Efraimidis & Spirakis,
  * IPL 97(5) 2006: draw u_i ~ Uniform(0,1) per item and keep the k largest
  * keys u_i^(1/w_i); the result is a weighted sample without replacement
  * (for k=1 the inclusion probability is exactly w_i / Σw). The pipeline
  * use: "give me a quality- or token-weighted subsample of each language"
  * without ever sorting the corpus.
  *
  * Determinism & oracle portability: u_i is the exact dyadic rational
  * (h_i + 0.5) / 2^52 from the 52-bit md5 slice of the id ([[Kmv.hash]]),
  * so both engines hash and divide identically; ranking uses the
  * monotone-equivalent ln(u)/w instead of u^(1/w) — one transcendental
  * (ln, ≤1 ulp divergence cross-engine) instead of two (pow composes the
  * error), applied to the SAME dyadic input. Measured adjacent-key gaps on
  * the test corpora are ~1e-8 — seven orders above ulp noise — so rank
  * order and membership agree across engines.
  *
  * Scale shape: [[TopK.topKPerKey]] plans as ObjectHashAggregate with a
  * partial phase — each map task reduces to ≤2k candidates per group
  * before the exchange, so a 100-TB corpus shuffles O(groups·k·tasks)
  * rows, never the corpus. Per-shard samples merge by re-top-k (the same
  * property KMV uses), which is exactly the aggregator's merge.
  */
object WeightedSample {

  private val HashSpace = 4503599627370496.0 // 2^52

  /** The ES ranking key ln(u)/w for an id column and a positive weight:
    * larger is better (monotone-equivalent to u^(1/w)).
    */
  def esKey(id: Column, weight: Column): Column =
    log((Kmv.hash(id.cast("string")).cast("double") + 0.5) / lit(HashSpace)) /
      weight.cast("double")

  /** The validated integral weight the sample echoes: FAILS LOUD on a
    * fractional weight rather than silently truncating the echoed column
    * while ranking by the untruncated value. assert_true returns null on
    * pass, so the `when` both forces its evaluation per row and yields the
    * checked long weight.
    */
  private def checkedWeight(weight: Column): Column = {
    val wLong = weight.cast("long")
    when(
      assert_true(weight.cast("double") === wLong.cast("double"),
        concat(lit("WeightedSample.sample: non-integral weight "),
          weight.cast("string"),
          lit(" — scale fractional weights to integers before calling"))).isNull,
      wLong)
  }

  /** Top-k weighted sample per group. `idCol` must be integral and unique
    * (it seeds the per-item uniform and breaks exact key ties); `weight`
    * must be positive and integral (it is carried through the bounded-heap
    * aggregator as the output `weight` column — scale fractional weights
    * to integers before calling; a fractional weight FAILS LOUD rather
    * than silently truncating the echoed column while ranking by the
    * untruncated value). Rows with null/non-positive weight are excluded:
    * they can never be sampled (u^(1/w) → 0).
    *
    * Returns (groupCol, rank, id, weight, es_key) with rank 1 = largest key.
    */
  def sample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weight: Column,
      k: Int): DataFrame =
    explodeBufs(bufs(df, Seq(groupCol), idCol, weight, k), groupCol)

  /** The aggregation core alone: (groupCols…, _tk) — one bounded ES top-k
    * buffer per group (TopK.bufsPerKey over the ln(u)/w keys). This is the
    * STREAMING-SAFE half of [[sample]] (the Kmv.bufs discipline): as a
    * streaming aggregation the state store holds exactly one ≤ 2k-entry
    * buffer per group, bounded by construction, and per-micro-batch merges
    * are the aggregator's own re-top-k — so the drained sample equals the
    * batch sample over the same rows (q250). Runs unchanged on a streaming
    * frame (a running aggregation, complete mode) and under
    * `StreamOps.windowed` (per event-time window, append mode). Explode
    * with `TopK.explodeBufs(df, groupCols)`: sim/id/tag are the
    * es_key/id/weight columns.
    */
  def bufs(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      weight: Column,
      k: Int): DataFrame = {
    val scored = df
      .where(col(idCol).isNotNull && weight.isNotNull && weight > 0)
      .select(groupCols.map(col) ++ Seq(
        col(idCol).cast("long").as("_id"),
        esKey(col(idCol), weight).as("_ek"),
        checkedWeight(weight).as("_w")): _*)
    TopK.bufsPerKey(scored, groupCols, col("_ek"), col("_id"), col("_w"), k)
  }

  /** Explode a [[bufs]] table to the [[sample]] output shape
    * (groupCol, rank, id, weight, es_key), rank 1 = largest key.
    */
  def explodeBufs(bufsDf: DataFrame, groupCol: String): DataFrame =
    TopK.explodeBufs(bufsDf, groupCol)
      .select(
        col(groupCol), col("rank"), col("id"),
        col("tag").as("weight"), col("sim").as("es_key"))
}
