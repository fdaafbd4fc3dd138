package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Input row for the KMV aggregator: 52-bit item hash + the item itself. */
case class KmvEntry(h: Long, item: String)

/** Bounded KMV buffer: parallel arrays of the k smallest DISTINCT
  * (hash, item) pairs seen so far, capacity 2k (compacted with dedup when
  * full — the [[TopKBuf]] discipline).
  */
case class KmvBuf(var size: Int, var hs: Array[Long], var items: Array[String])

/** Map-side-combinable bottom-k by (hash asc, item asc) with duplicate
  * elimination — the aggregation core of the KMV sketch. Plans as
  * ObjectHashAggregate with a partial phase: each map task reduces its
  * items to ≤ 2k live entries per group before the exchange (duplicates of
  * one item collapse at compaction because they share the same hash), so
  * the shuffle carries O(n_groups · k · n_map_partitions) rows, never the
  * item stream.
  */
class BottomKByHash(k: Int) extends Aggregator[KmvEntry, KmvBuf, KmvBuf] {
  require(k > 0 && k <= 65536, s"bottom-k out of range: $k")
  private val cap = 2 * k

  private def better(h1: Long, i1: String, h2: Long, i2: String): Boolean =
    h1 < h2 || (h1 == h2 && i1 < i2)

  /** Sort live prefix by (h asc, item asc), drop duplicates, keep ≤ k. */
  private def compact(b: KmvBuf): Unit = {
    val idx = Array.range(0, b.size)
      .sortWith((a, c) => better(b.hs(a), b.items(a), b.hs(c), b.items(c)))
    val nh = new Array[Long](cap)
    val ni = new Array[String](cap)
    var n = 0
    var i = 0
    while (i < b.size && n < k) {
      val j = idx(i)
      if (n == 0 || nh(n - 1) != b.hs(j) || ni(n - 1) != b.items(j)) {
        nh(n) = b.hs(j); ni(n) = b.items(j); n += 1
      }
      i += 1
    }
    b.hs = nh; b.items = ni; b.size = n
  }

  private def append(b: KmvBuf, h: Long, item: String): Unit = {
    if (b.hs.length < cap) {
      b.hs = java.util.Arrays.copyOf(b.hs, cap)
      val ni = new Array[String](cap)
      System.arraycopy(b.items, 0, ni, 0, b.size)
      b.items = ni
    }
    if (b.size == cap) compact(b)
    b.hs(b.size) = h; b.items(b.size) = item
    b.size += 1
  }

  override def zero: KmvBuf = KmvBuf(0, Array.emptyLongArray, Array.empty[String])

  override def reduce(b: KmvBuf, a: KmvEntry): KmvBuf = {
    append(b, a.h, a.item); b
  }

  override def merge(b1: KmvBuf, b2: KmvBuf): KmvBuf = {
    var i = 0
    while (i < b2.size) { append(b1, b2.hs(i), b2.items(i)); i += 1 }
    b1
  }

  override def finish(b: KmvBuf): KmvBuf = {
    compact(b)
    KmvBuf(
      b.size,
      java.util.Arrays.copyOf(b.hs, b.size),
      java.util.Arrays.copyOf(b.items, b.size))
  }

  override def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
  override def outputEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
}

/** KMV (k-minimum-values) distinct sketch — Bar-Yossef et al. 2002 /
  * Beyer et al. 2007: keep the k smallest values of a uniform hash over the
  * distinct items. Completes the sketch tier with the one thing HLL cannot
  * give back: an actual uniform SAMPLE of the distinct items (HLL = count
  * only, CMS = frequencies, histogram = order statistics) — "show me 32
  * representative distinct tokens per language, plus how many there are"
  * without shuffling the vocabulary.
  *
  * Properties: the sketch is the k smallest hashes, so per-shard sketches
  * MERGE by union + re-bottom-k (exactly what [[BottomKByHash.merge]]
  * does), and the k-th smallest normalized hash U_(k) estimates the
  * distinct count as (k−1)/U_(k) (unbiased; σ ≈ D/√(k−2)). Below k
  * distinct items the sketch IS the distinct set and the count is exact.
  *
  * Portability: the hash is the first 13 hex chars of md5 (52 bits —
  * exactly representable in a double, so the estimate's division is the
  * same IEEE op cross-engine), mirrored literally by the SQL oracle
  * (q242), which re-derives members, ranks, and estimate.
  */
object Kmv {

  /** 52-bit uniform item hash: first 13 hex chars of md5. */
  def hash(item: Column): Column =
    conv(substring(md5(item), 1, 13), 16, 10).cast("long")

  private val HashSpace = 4503599627370496.0 // 2^52

  /** The aggregation core alone: (groupCols..., _buf) — one bounded
    * bottom-k buffer per group. This is the STREAMING-SAFE half of
    * [[cells]]: as a streaming aggregation the state store holds exactly
    * one ≤ 2k-entry buffer per group (bounded by construction), and the
    * drained buffers explode to cells with [[explodeBufs]]. Runs
    * unchanged on a streaming frame (a running aggregation, complete mode)
    * and under `StreamOps.windowed` (per event-time window, append mode).
    */
  def bufs(
      df: DataFrame,
      item: Column,
      k: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    val fn = udaf(new BottomKByHash(k), Encoders.product[KmvEntry])
    val prepped = df.where(item.isNotNull)
      .select(groupCols.map(col) :+ hash(item).as("h") :+ item.cast("string").as("item"): _*)
    val grouped =
      if (groupCols.isEmpty) prepped.groupBy()
      else prepped.groupBy(groupCols.map(col): _*)
    grouped.agg(fn(col("h"), col("item")).as("_buf"))
  }

  /** Explode a [[bufs]] table to rank-ordered sketch cells — finish
    * truncated the arrays to the live size in (h, item) ascending order,
    * so rank = position + 1.
    */
  def explodeBufs(bufsDf: DataFrame, groupCols: Seq[String] = Nil): DataFrame =
    bufsDf
      .select(groupCols.map(col) :+ posexplode(
        arrays_zip(col("_buf.hs").as("hs"), col("_buf.items").as("items")))
        .as(Seq("_rk0", "_e")): _*)
      .select(groupCols.map(col) :+ (col("_rk0") + 1).cast("int").as("rk")
        :+ col("_e.hs").as("h") :+ col("_e.items").as("item"): _*)

  /** Build the sketch: (groupCols..., rk, h, item) — the k smallest
    * distinct (hash, item) pairs per group, rk the 1-based rank by
    * (h asc, item asc). NULL items are skipped (no rank information).
    */
  def cells(
      df: DataFrame,
      item: Column,
      k: Int,
      groupCols: Seq[String] = Nil): DataFrame =
    explodeBufs(bufs(df, item, k, groupCols), groupCols)

  /** Merge sketch tables built with the SAME k: union + re-bottom-k. */
  def merge(a: DataFrame, b: DataFrame, k: Int, groupCols: Seq[String] = Nil): DataFrame =
    cells(a.unionByName(b).select((groupCols :+ "item").map(col): _*),
      col("item"), k, groupCols)

  /** Pairwise set algebra on per-segment sketches built by [[cells]] with
    * the SAME k (Beyer et al., SIGMOD'07 §5): for every unordered segment
    * pair (a, b) the merged sketch K = bottom-k of the union of the two
    * cell sets estimates |A ∪ B| exactly as [[estimate]] does (exact below
    * k), and the co-membership fraction ρ = |{c ∈ K : c ∈ A ∧ c ∈ B}| / |K|
    * estimates the Jaccard similarity, giving |A ∩ B| ≈ ρ · est_union.
    * Below k both reduce to the exact set computation by construction.
    *
    * Scale shape: every join/window here runs on SKETCH CELLS — at most
    * S · k rows in, S² · k intermediate — never on the raw item stream, so
    * "overlap between every pair of corpus segments" costs the same at
    * 100 TB as at 100 MB once the one [[cells]] pass is paid. The pair
    * domain is the segment dimension crossed with itself (bounded by
    * dimension cardinality, not input size; the caller's plan audit should
    * treat it like any dimension-squared frame).
    *
    * Returns (seg_a, seg_b, n_union_cells, est_union, est_inter,
    * jaccard_est) — estimates unrounded; callers round for presentation.
    */
  def setAlgebra(cellsDf: DataFrame, k: Int, segCol: String): DataFrame = {
    require(k > 1, s"setAlgebra needs k > 1 (the (k-1)/U_(k) estimator): $k")
    val segs = cellsDf.select(col(segCol)).distinct()
    val pairs = broadcast(segs.select(col(segCol).as("seg_a")))
      .crossJoin(broadcast(segs.select(col(segCol).as("seg_b"))))
      .where(col("seg_a") < col("seg_b"))
    val ca = cellsDf.select(col(segCol).as("seg_a"), col("h"), col("item"))
    val cb = cellsDf.select(col(segCol).as("seg_b"), col("h"), col("item"))
    // union of the two cell sets per pair (distinct collapses items present
    // in both sides — same item ⇒ same hash), then re-bottom-k per pair
    val uni = pairs.join(ca, "seg_a").select(col("seg_a"), col("seg_b"), col("h"), col("item"))
      .unionByName(
        pairs.join(cb, "seg_b").select(col("seg_a"), col("seg_b"), col("h"), col("item")))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg_a"), col("seg_b")).orderBy(col("h"), col("item"))
    val ku = uni.withColumn("_rk", row_number().over(w)).where(col("_rk") <= k)
    // co-membership of each merged-sketch cell in BOTH input sketches
    val flagged = ku
      .join(ca.select(col("seg_a"), col("item"), lit(1).as("_ina")), Seq("seg_a", "item"), "left")
      .join(cb.select(col("seg_b"), col("item"), lit(1).as("_inb")), Seq("seg_b", "item"), "left")
    flagged
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(
        count(lit(1)).as("n_union_cells"),
        max(col("h")).as("_hk"),
        sum((col("_ina").isNotNull && col("_inb").isNotNull).cast("long")).as("_matched"))
      .select(
        col("seg_a"), col("seg_b"), col("n_union_cells"),
        when(col("n_union_cells") < k, col("n_union_cells").cast("double"))
          .otherwise(lit((k - 1).toDouble) / (col("_hk").cast("double") / lit(HashSpace)))
          .as("est_union"),
        (when(col("n_union_cells") < k, col("n_union_cells").cast("double"))
          .otherwise(lit((k - 1).toDouble) / (col("_hk").cast("double") / lit(HashSpace)))
          * (col("_matched").cast("double") / col("n_union_cells"))).as("est_inter"),
        (col("_matched").cast("double") / col("n_union_cells")).as("jaccard_est"))
  }

  /** Distinct-count estimate per group from a sketch: exact cell count when
    * the group holds fewer than k cells (the sketch is the distinct set),
    * else (k−1)/(h_(k)/2^52). Closed-form — the oracle recomputes it.
    * Returns (groupCols..., est).
    */
  def estimate(cellsDf: DataFrame, k: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(k > 1, s"estimate needs k > 1 (the (k-1)/U_(k) estimator): $k")
    val grouped =
      if (groupCols.isEmpty) cellsDf.groupBy()
      else cellsDf.groupBy(groupCols.map(col): _*)
    grouped
      .agg(count(lit(1)).as("_n"), max(col("h")).as("_hk"))
      .select(groupCols.map(col) :+
        when(col("_n") < k, col("_n").cast("double"))
          .otherwise(lit((k - 1).toDouble) / (col("_hk").cast("double") / lit(HashSpace)))
          .as("est"): _*)
  }
}
