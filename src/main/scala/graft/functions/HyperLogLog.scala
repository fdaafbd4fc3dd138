package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog (Flajolet et al. 2007) as a DECLARATIVE relational sketch —
  * the bounded-memory distinct counter a 100-TB corpus profile needs
  * ("how many distinct tokens / urls / users?"): the sketch table has at
  * most m = 2^p rows no matter how many items flow in, standard error is
  * ~1.04/√m, and sketches MERGE by (bucket, max r) — per-shard sketches
  * roll up to a corpus sketch without touching the data again. The exact
  * alternative (`count(distinct x)`) shuffles every distinct key; the
  * sketch shuffles ≤ numPartitions·m cells (Spark's partial max caps
  * map-side state at m counters per partition).
  *
  * Hashing is PORTABLE, the CountMin convention (`CountMin.bucket`): two
  * disjoint 8-hex-char slices of md5(item) give a 32-bit bucket word and a
  * 32-bit rank word; rho = leading zeros of the rank word + 1, computed by
  * string position over the zero-padded binary form — exact integer logic
  * any engine reproduces verbatim (no float log2 near power-of-two
  * boundaries), which is how the DuckDB oracle re-derives the whole sketch
  * AND the estimate (the bias-corrected formula is closed-form).
  *
  * Correction regimes: small-range linear counting when raw ≤ 2.5m with
  * empty buckets (the standard HLL switch). The 32-bit large-range
  * correction is omitted — it only matters within ~1% of 2^32 distinct
  * items, where the right fix is p larger or a 64-bit variant, not the
  * wraparound formula.
  *
  * Relation to the stock path: Spark's `hll_sketch_agg` (Apache
  * DataSketches, exercised in HllSketchSpec) is the high-performance
  * binary-sketch route and remains the first choice inside one Spark
  * deployment. THIS variant exists where the sketch itself must be a plain
  * relational table: cross-engine reproducible (the DuckDB oracle
  * re-derives cells and estimate — q234), maintainable as a streaming
  * aggregation ([[cells]] on a stream, q235), and mergeable with ordinary
  * SQL (groupBy-max) by engines that can't read DataSketches blobs.
  */
object HyperLogLog {

  private def checkP(p: Int): Unit =
    require(p >= 7 && p <= 16,
      s"p must be in [7, 16] (alpha constant assumes m >= 128; 2^16 cells is plenty): $p")

  /** Bucket of `item`: first 8 hex chars of md5 as a 32-bit word, mod 2^p
    * (2^p divides 2^32 — exact uniformity, no modulo bias).
    */
  def bucket(item: Column, p: Int): Column =
    conv(substring(md5(item), 1, 8), 16, 10).cast("long") % (1L << p)

  /** Rank of `item`: leading zeros of the SECOND 8-hex-char md5 slice
    * (disjoint from the bucket bits) + 1, in [1, 33]; 33 = all-zero word.
    */
  def rho(item: Column): Column = {
    val w = conv(substring(md5(item), 9, 8), 16, 10).cast("long")
    when(w === 0L, lit(33)).otherwise(instr(lpad(bin(w), 32, "0"), "1"))
  }

  /** Build the sketch cell table (groupCols..., bucket, r) — at most
    * m = 2^p rows per group, the whole summary. NULL items are skipped
    * (they don't count toward distinct, matching `count(distinct x)`).
    * Runs unchanged on a streaming frame (a running aggregation, complete
    * mode) and under `StreamOps.windowed` (per event-time window, append
    * mode).
    */
  def cells(
      df: DataFrame,
      item: Column,
      p: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    checkP(p)
    df.where(item.isNotNull)
      .select((groupCols.map(col) :+ bucket(item, p).as("bucket") :+ rho(item).as("_r")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("_r")).as("r"))
  }

  /** Merge sketch tables built with the SAME p: cell-wise max — the
    * idempotent/commutative merge that makes per-shard sketches roll up.
    */
  def merge(a: DataFrame, b: DataFrame, groupCols: Seq[String] = Nil): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("r")).as("r"))

  /** Bias-corrected cardinality estimate per group from a cell table:
    * raw = α·m² / (Σ 2^−r + zeroBuckets), switching to linear counting
    * m·ln(m/zeroBuckets) in the small range. Closed-form and deterministic,
    * so an oracle recomputes the identical value. Returns
    * (groupCols..., est: double).
    */
  def estimate(cellsDf: DataFrame, p: Int, groupCols: Seq[String] = Nil): DataFrame = {
    checkP(p)
    val m = (1L << p).toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // coalesce: an EMPTY cell table (no items at all) must estimate 0, not
    // null — with sumPow=0 and zeros=m the linear-counting branch returns
    // exactly m·ln(m/m) = 0
    val sumPow = coalesce(sum(pow(lit(2.0), -col("r"))), lit(0.0))
    val used = count(lit(1)).cast("double")
    val zeros = lit(m) - used
    val raw = lit(alpha * m * m) / (sumPow + zeros)
    val est = when(raw <= lit(2.5 * m) && zeros > 0, lit(m) * log(lit(m) / zeros))
      .otherwise(raw)
    val grouped =
      if (groupCols.isEmpty) cellsDf.groupBy()
      else cellsDf.groupBy(groupCols.map(col): _*)
    grouped.agg(est.as("est"))
  }
}
