package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Input row for the top-k aggregator: similarity, candidate id, opaque
  * numeric payload (the label for kNN classification; 0 when unused).
  */
case class ScoredEntry(sim: Double, id: Long, tag: Long)

/** Bounded top-k aggregation buffer: parallel primitive arrays with `size`
  * live entries. Capacity is 2k — when full it is compacted back to the
  * current top k, so per-key state never exceeds O(k) regardless of how many
  * candidates score against the key.
  */
case class TopKBuf(
    var size: Int,
    var sims: Array[Double],
    var ids: Array[Long],
    var tags: Array[Long])

/** Map-side-combinable top-k by (sim desc, id asc).
  *
  * The `row_number().over(Window.partitionBy(key))` idiom shuffles EVERY
  * scored (corpus × query) pair onto n_key reducers and sorts there — at
  * 100× corpus each reducer holds an entire corpus's scores. This typed
  * Aggregator plans as ObjectHashAggregate with a partial phase: each map
  * task reduces its pairs to ≤ 2k entries per key before the exchange, so
  * the shuffle carries O(n_keys · k · n_map_partitions) rows instead of the
  * full candidate set. Ties break by ascending id for determinism.
  */
class TopKBySim(k: Int) extends Aggregator[ScoredEntry, TopKBuf, TopKBuf] {
  require(k > 0 && k <= 65536, s"top-k out of range: $k")
  private val cap = 2 * k

  private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  /** Sort the live prefix by (sim desc, id asc), truncate to at most k. */
  private def compact(b: TopKBuf): Unit = {
    val idx = Array
      .range(0, b.size)
      .sortWith((a, c) => better(b.sims(a), b.ids(a), b.sims(c), b.ids(c)))
    val n = math.min(k, b.size)
    val ns = new Array[Double](cap)
    val ni = new Array[Long](cap)
    val nt = new Array[Long](cap)
    var i = 0
    while (i < n) {
      val j = idx(i)
      ns(i) = b.sims(j); ni(i) = b.ids(j); nt(i) = b.tags(j)
      i += 1
    }
    b.sims = ns; b.ids = ni; b.tags = nt; b.size = n
  }

  private def append(b: TopKBuf, sim: Double, id: Long, tag: Long): Unit = {
    if (b.sims.length < cap) {
      b.sims = java.util.Arrays.copyOf(b.sims, cap)
      b.ids = java.util.Arrays.copyOf(b.ids, cap)
      b.tags = java.util.Arrays.copyOf(b.tags, cap)
    }
    if (b.size == cap) compact(b)
    b.sims(b.size) = sim; b.ids(b.size) = id; b.tags(b.size) = tag
    b.size += 1
  }

  override def zero: TopKBuf =
    TopKBuf(0, Array.emptyDoubleArray, Array.emptyLongArray, Array.emptyLongArray)

  override def reduce(b: TopKBuf, a: ScoredEntry): TopKBuf = {
    append(b, a.sim, a.id, a.tag); b
  }

  override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = {
    var i = 0
    while (i < b2.size) { append(b1, b2.sims(i), b2.ids(i), b2.tags(i)); i += 1 }
    b1
  }

  override def finish(b: TopKBuf): TopKBuf = {
    compact(b)
    TopKBuf(
      b.size,
      java.util.Arrays.copyOf(b.sims, b.size),
      java.util.Arrays.copyOf(b.ids, b.size),
      java.util.Arrays.copyOf(b.tags, b.size))
  }

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
}

object TopK {

  /** Group `scored` by `keyCol` and keep the top-k rows per key by
    * (`sim` desc, `id` asc). Returns (keyCol, rank, id, sim, tag) with rank
    * starting at 1. `tag` carries an optional numeric payload through the
    * aggregation (pass `lit(0L)` when unused).
    */
  def topKPerKey(
      scored: DataFrame,
      keyCol: String,
      sim: Column,
      id: Column,
      tag: Column,
      k: Int): DataFrame =
    explodeBufs(bufsPerKey(scored, Seq(keyCol), sim, id, tag, k), keyCol)

  /** The aggregation core alone: (keyCols…, _tk) — one bounded top-k
    * buffer per key. This is the STREAMING-SAFE half of [[topKPerKey]]
    * (the Kmv.bufs discipline): as a streaming aggregation the state store
    * holds exactly one ≤ 2k-entry buffer per key — bounded by construction
    * — and drained buffers explode to ranked rows with [[explodeBufs]].
    */
  def bufsPerKey(
      scored: DataFrame,
      keyCols: Seq[String],
      sim: Column,
      id: Column,
      tag: Column,
      k: Int): DataFrame = {
    val fn = udaf(new TopKBySim(k), Encoders.product[ScoredEntry])
    scored
      // null similarity (cosine's null-vector/zero-norm contract) can never
      // rank, and the non-nullable ScoredEntry encoder would throw on any
      // null field (sim, id, or tag) — match the old window ranking, where
      // nulls sorted last; null-tag rows are likewise unrepresentable
      .filter(sim.isNotNull && id.isNotNull && tag.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(fn(sim, id, tag).as("_tk"))
  }

  /** Explode a [[bufsPerKey]] table to rank-ordered rows, carrying any
    * number of key columns (e.g. (ws, group) from `StreamOps.windowed`) —
    * finish truncated the arrays to the live size in (sim desc, id asc)
    * order, so rank = position + 1. Output columns:
    * (keyCols…, rank, id, sim, tag).
    */
  def explodeBufs(bufsDf: DataFrame, keyCols: Seq[String]): DataFrame =
    bufsDf
      .select(
        keyCols.map(col) :+ posexplode(
          arrays_zip(
            col("_tk.sims").as("sims"),
            col("_tk.ids").as("ids"),
            col("_tk.tags").as("tags"))): _*)
      .select(
        keyCols.map(col) :+ (col("pos") + 1).cast("int").as("rank")
          :+ col("col.ids").as("id") :+ col("col.sims").as("sim")
          :+ col("col.tags").as("tag"): _*)

  /** Single-key [[explodeBufs]]. */
  def explodeBufs(bufsDf: DataFrame, keyCol: String): DataFrame =
    explodeBufs(bufsDf, Seq(keyCol))
}
