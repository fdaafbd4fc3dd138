package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-bin mergeable quantile summary — the third member of the sketch
  * tier (CMS = frequency, HLL = distinct, THIS = order statistics): a
  * declarative equi-width histogram over a declared value range whose cell
  * table has at most `bins` rows per group no matter how many values flow
  * in, with closed-form linear-interpolated quantile estimates read off the
  * cumulative distribution. The exact alternative (`percentile`) buffers
  * every value per group; the sketch shuffles ≤ numPartitions·bins cells
  * (Spark's partial count caps map-side state at `bins` counters per
  * partition), and per-shard cell tables MERGE by (bin, Σ cnt) — ordinary
  * SQL any engine can run, the q234 HyperLogLog convention.
  *
  * Reference tie-in: the describe()/quartile reports (红楼梦分析.py's
  * describe tables, the q34 price-quartile family) are exact order
  * statistics; this is their 100-TB form — error is bounded by one bin
  * width ((hi−lo)/bins ≈ 0.05% of range at 2048 bins), the trade the
  * KLL/t-digest literature makes adaptively and a fixed-range histogram
  * makes statically. The fixed range is the DESIGN point, not a limitation:
  * it is what makes every arithmetic step (bin id, cumulative rank,
  * interpolation) exact integer/double closed-form that a second engine —
  * the DuckDB oracle (q238) — reproduces bit-for-bit, and what makes the
  * cell table maintainable as a streaming aggregation
  * ([[cells]] on a stream, q239) with state bounded by construction.
  *
  * Numeric portability: choose (lo, hi, bins) so the bin width is a dyadic
  * rational (e.g. 110000/2048 = 53.7109375 = 6875/128) — then
  * `floor((x−lo)/w)` and the interpolation are the same IEEE operations in
  * any engine, written in the same algebraic order on both sides. Values
  * outside [lo, hi) clamp into the edge bins (the Prometheus-histogram
  * convention); quantiles that land in a clamped edge bin degrade
  * gracefully (bounded by the edge-bin width) rather than failing.
  */
object QuantileSketch {

  private def width(lo: Double, hi: Double, bins: Int): Double = {
    require(bins > 0, s"bins must be positive: $bins")
    require(hi > lo, s"need hi > lo: [$lo, $hi)")
    (hi - lo) / bins
  }

  /** Two-pass ADAPTIVE-RANGE probe — the answer to "profile a column you
    * have never seen" (the describe()/quartile archetype on unknown data),
    * where the fixed declared range can't be guessed up front: one min/max
    * aggregation picks (lo, hi) = (floor(min), floor(max) + 1), then the
    * caller feeds the usual [[cells]]/[[quantiles]] with it.
    *
    * Why this exact form:
    *  - CLAMP-FREE by construction: lo ≤ min and hi > max, so every value
    *    bins inside [0, bins) without touching the edge-bin clamp — the
    *    probe removes the one accuracy degradation the fixed-range form
    *    documents (spec-proved).
    *  - PORTABLE: lo and hi are exact integers, so with power-of-two
    *    `bins` the width (hi − lo)/bins is a dyadic rational — exactly
    *    representable, making bin ids and interpolation the same IEEE ops
    *    in any engine (the q238 discipline, now without hand-picking the
    *    range). Keep `bins` a power of two to keep that guarantee.
    *  - MERGEABLE/STREAMING-SAFE once frozen: the probe is the only extra
    *    pass; after it the cell table has the fixed-range form's contracts
    *    verbatim (merge by cell-wise sum, ≤ bins state). For a stream,
    *    probe a bounded prefix (or declare the range) — the probe itself
    *    is the standard two-pass trade, not a streaming operator.
    *
    * Returns (lo, hi) as exact-integer doubles; one bounded driver action
    * (the GlobalRank-offset precedent). Fails loud on all-NULL input.
    */
  def probeRange(df: DataFrame, value: Column): (Double, Double) = {
    val r = df.where(value.isNotNull)
      .agg(
        floor(min(value)).cast("double").as("lo"),
        (floor(max(value)) + 1).cast("double").as("hi"))
      .head()
    require(!r.isNullAt(0) && !r.isNullAt(1),
      "probeRange: no non-null values to probe a range from")
    (r.getDouble(0), r.getDouble(1))
  }

  /** Bin id of `value`: floor((x − lo)/w) clamped to [0, bins−1]. NULLs
    * propagate (callers drop them — a NULL holds no rank information).
    */
  def bin(value: Column, lo: Double, hi: Double, bins: Int): Column = {
    val w = width(lo, hi, bins)
    least(greatest(floor((value - lit(lo)) / lit(w)), lit(0)), lit(bins - 1))
      .cast("long")
  }

  /** Build the cell table (groupCols..., bin, cnt) — at most `bins` rows
    * per group, the whole summary. Runs unchanged on a streaming frame (a
    * running aggregation, complete mode) and under `StreamOps.windowed`
    * (per event-time window, append mode).
    */
  def cells(
      df: DataFrame,
      value: Column,
      lo: Double,
      hi: Double,
      bins: Int,
      groupCols: Seq[String] = Nil): DataFrame =
    df.where(value.isNotNull)
      .select((groupCols.map(col) :+ bin(value, lo, hi, bins).as("bin")): _*)
      .groupBy((groupCols :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Merge cell tables built with the SAME (lo, hi, bins): cell-wise sum —
    * the commutative/associative merge that rolls per-shard summaries up.
    */
  def merge(a: DataFrame, b: DataFrame, groupCols: Seq[String] = Nil): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols :+ "bin").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Linear-interpolated quantile estimates per group from a cell table:
    * for target rank t = q·N the unique non-empty bin with
    * cumBefore < t ≤ cum holds the answer, est = lo + w·bin +
    * w·(t − cumBefore)/cnt. Closed-form and deterministic — an oracle
    * recomputes the identical values. Returns (groupCols..., q, est, n);
    * `qs` must lie in (0, 1].
    *
    * Cost shape: the window runs over ≤ bins rows per group and the qs
    * frame is a broadcast of |qs| literal rows — nothing here rescans the
    * data the cells summarized.
    */
  def quantiles(
      cellsDf: DataFrame,
      qs: Seq[Double],
      lo: Double,
      hi: Double,
      bins: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    val w = width(lo, hi, bins)
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1]: $qs")
    val part =
      if (groupCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(groupCols.map(col): _*)
    val cum = part.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumed = cellsDf
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(part))
    // |qs| literal rows broadcast against ≤ bins cells per group: the only
    // join in the estimate read-off, never a data-sized shuffle
    val spark = cellsDf.sparkSession
    val qDf = spark.range(1)
      .select(explode(array(qs.map(lit): _*)).as("q"))
    val t = col("q") * col("n")
    cumed
      .crossJoin(broadcast(qDf))
      .where(col("cum") >= t && (col("cum") - col("cnt")) < t)
      .select(
        (groupCols.map(col) :+
          col("q") :+
          (lit(lo) + lit(w) * col("bin") +
            lit(w) * ((t - (col("cum") - col("cnt"))) / col("cnt"))).as("est") :+
          col("n")): _*)
  }
}
