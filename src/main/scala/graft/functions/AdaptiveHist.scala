package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded adaptive-histogram buffer: parallel (bin, cnt) arrays at dyadic
  * scale `scale` with `size` live entries, capacity 2·maxBins (compacted —
  * and escalated if the span demands — when full, the [[TopKBuf]]
  * discipline).
  */
case class AdaptiveHistBuf(
    var scale: Int,
    var size: Int,
    var bins: Array[Long],
    var cnts: Array[Long])

/** Map-side-combinable one-pass ADAPTIVE dyadic histogram — the
  * unknown-range/streaming answer [[QuantileSketch.probeRange]]'s two-pass
  * probe can't give (a stream has no second pass): bin width starts at
  * 2^minScale and DOUBLES (bin ids halve: floorDiv 2) whenever the
  * occupied span would exceed `maxBins` bins — the dyadic-interval
  * escalation of the q-digest family (Shrivastava et al., SenSys'04),
  * kept deterministic instead of randomized (KLL) so a second engine can
  * re-derive the result exactly.
  *
  * DETERMINISM (what makes it oracle-checkable): a buffer's scale is
  * always the SMALLEST s ≥ minScale with
  * floor(max/2^s) − floor(min/2^s) + 1 ≤ maxBins over the values it has
  * absorbed, and rebinning to a coarser scale is floorDiv — independent of
  * insertion order and merge shape. The drained cell table is therefore a
  * pure function of the value multiset: scale = the global requirement,
  * cells = floor(x/2^scale) counts. Mergeable by construction (align to
  * the coarser requirement, sum counts); streaming-safe (complete-mode
  * running aggregation, ≤ 2·maxBins entries per group per partition —
  * `AdaptiveHist.bufs` on a stream).
  *
  * The trade vs the fixed-range [[QuantileSketch]]: resolution is a
  * posteriori (one bin = 2^scale wide, scale set by the observed range)
  * instead of declared, so quantile error is bounded by one FINAL bin
  * width; vs KLL: O(maxBins) space for a rank-error guarantee tied to the
  * value DISTRIBUTION's spread rather than KLL's distribution-free ε·n —
  * the standard dyadic trade, bought for exact cross-engine replay.
  *
  * Dynamic-range contract: |value|/2^minScale must fit within ±2^61
  * (|x| < 2^61·2^minScale — any analytics column; fails loud otherwise).
  * The 2^61 bound (not 2^63) keeps the compaction span check
  * `bins(n-1) - bins(0)` ≤ 2^62 overflow-free and every align shift
  * `1L << (scale gap)` < 64 bits. NULLs are skipped by `reduce` itself
  * (standard SQL aggregate semantics — the registered UDAF sees raw
  * column values); NaN is rejected loud (it has no bin).
  */
class AdaptiveHistAgg(maxBins: Int, minScale: Int)
    extends Aggregator[java.lang.Double, AdaptiveHistBuf, AdaptiveHistBuf] {
  require(maxBins >= 2 && maxBins <= 65536, s"maxBins out of range: $maxBins")
  require(minScale >= -64 && minScale <= 64, s"minScale out of range: $minScale")
  private val cap = 2 * maxBins

  /** floor(x / 2^s) as an exact Long, with the loud range guard. */
  private def binOf(x: Double, s: Int): Long = {
    require(!x.isNaN, "AdaptiveHist: NaN has no bin — filter NaNs first")
    val b = math.floor(x * math.pow(2.0, -s))
    require(b >= -2.305843009213694e18 && b <= 2.305843009213694e18,
      s"AdaptiveHist: value $x outside the dynamic range at minScale $minScale")
    b.toLong
  }

  /** Sort live prefix by bin, merge duplicate bins, then escalate the scale
    * until the span fits maxBins (halving bin ids floorDiv-2 per step —
    * which can itself create new duplicates, so merge inside the loop).
    */
  private def compact(b: AdaptiveHistBuf): Unit = {
    var n = b.size
    var continue = true
    while (continue) {
      if (n > 1) {
        val idx = Array.range(0, n).sortBy(b.bins(_))
        val nb = new Array[Long](cap)
        val nc = new Array[Long](cap)
        var m = 0
        var i = 0
        while (i < n) {
          val j = idx(i)
          if (m > 0 && nb(m - 1) == b.bins(j)) nc(m - 1) += b.cnts(j)
          else { nb(m) = b.bins(j); nc(m) = b.cnts(j); m += 1 }
          i += 1
        }
        b.bins = nb; b.cnts = nc; n = m
      }
      // span check on the (now sorted, distinct) bins
      continue = n > 0 && (b.bins(n - 1) - b.bins(0)) >= maxBins
      if (continue) {
        var i = 0
        while (i < n) { b.bins(i) = Math.floorDiv(b.bins(i), 2L); i += 1 }
        b.scale += 1
      }
    }
    b.size = n
  }

  /** Insert a (bin, cnt) computed at the buffer's scale AS OF CALL TIME.
    * A full buffer compacts first — and compaction may ESCALATE the scale,
    * so the pending bin must be rebinned by the scale delta before it lands
    * (floorDiv composes exactly); inserting it stale would plant a
    * finer-scale id among coarser ones and make the drained cells depend on
    * compaction timing, breaking the determinism contract.
    */
  private def append(b: AdaptiveHistBuf, bin: Long, cnt: Long): Unit = {
    if (b.bins.length < cap) {
      b.bins = java.util.Arrays.copyOf(b.bins, cap)
      b.cnts = java.util.Arrays.copyOf(b.cnts, cap)
    }
    var bn = bin
    if (b.size == cap) {
      val preScale = b.scale
      compact(b)
      if (b.scale > preScale) bn = Math.floorDiv(bn, 1L << (b.scale - preScale))
    }
    b.bins(b.size) = bn; b.cnts(b.size) = cnt
    b.size += 1
  }

  override def zero: AdaptiveHistBuf =
    AdaptiveHistBuf(minScale, 0, Array.emptyLongArray, Array.emptyLongArray)

  override def reduce(b: AdaptiveHistBuf, x: java.lang.Double): AdaptiveHistBuf = {
    // NULL skips like every SQL aggregate — the SQL-registered form
    // (graft_ahist64) feeds raw column values with no caller-side filter
    if (x != null) append(b, binOf(x.doubleValue(), b.scale), 1L)
    b
  }

  override def merge(b1: AdaptiveHistBuf, b2: AdaptiveHistBuf): AdaptiveHistBuf = {
    // align to the coarser scale first (floorDiv composes: rebinning s→s+k
    // in one floorDiv(2^k) equals k single steps)
    val s = math.max(b1.scale, b2.scale)
    def align(b: AdaptiveHistBuf): Unit = if (b.scale < s) {
      val shift = 1L << (s - b.scale)
      var i = 0
      while (i < b.size) { b.bins(i) = Math.floorDiv(b.bins(i), shift); i += 1 }
      b.scale = s
    }
    align(b1); align(b2)
    var i = 0
    while (i < b2.size) {
      // b1.scale can drift UPWARD mid-loop (append → compact → escalate);
      // rebin each b2 entry from the aligned scale s to b1's current scale
      // so no entry lands stale.
      val d = b1.scale - s
      val bn = if (d > 0) Math.floorDiv(b2.bins(i), 1L << d) else b2.bins(i)
      append(b1, bn, b2.cnts(i))
      i += 1
    }
    b1
  }

  override def finish(b: AdaptiveHistBuf): AdaptiveHistBuf = {
    compact(b)
    AdaptiveHistBuf(
      b.scale, b.size,
      java.util.Arrays.copyOf(b.bins, b.size),
      java.util.Arrays.copyOf(b.cnts, b.size))
  }

  override def bufferEncoder: Encoder[AdaptiveHistBuf] = Encoders.product[AdaptiveHistBuf]
  override def outputEncoder: Encoder[AdaptiveHistBuf] = Encoders.product[AdaptiveHistBuf]
}

/** Entry points for the one-pass adaptive dyadic histogram — see
  * [[AdaptiveHistAgg]] for the design contract.
  */
object AdaptiveHist {

  /** The aggregation core: (groupCols..., _ah) — one bounded buffer per
    * group (the Kmv.bufs discipline). NULL values are skipped (no rank
    * information). Runs unchanged on a streaming frame (a running
    * aggregation, complete mode) and under `StreamOps.windowed` (per
    * event-time window, append mode). Under a window each window's scale
    * escalates on its own span: a wide-range day coarsens while a narrow
    * day keeps fine bins (q259).
    */
  def bufs(
      df: DataFrame,
      value: Column,
      maxBins: Int,
      groupCols: Seq[String] = Nil,
      minScale: Int = 0): DataFrame = {
    val prepped = df.where(value.isNotNull)
      .select(groupCols.map(col) :+ value.cast("double").as("_v"): _*)
    val grouped =
      if (groupCols.isEmpty) prepped.groupBy()
      else prepped.groupBy(groupCols.map(col): _*)
    val fn = udaf(new AdaptiveHistAgg(maxBins, minScale),
      Encoders.DOUBLE.asInstanceOf[Encoder[java.lang.Double]])
    grouped.agg(fn(col("_v")).as("_ah"))
  }

  /** Explode a [[bufs]] table to cells (groupCols..., scale, bin, cnt) —
    * finish left the bins sorted ascending and duplicate-free.
    */
  def explodeBufs(bufsDf: DataFrame, groupCols: Seq[String] = Nil): DataFrame =
    bufsDf
      .select(groupCols.map(col) :+ col("_ah.scale").as("scale") :+
        posexplode(arrays_zip(col("_ah.bins").as("bins"), col("_ah.cnts").as("cnts")))
          .as(Seq("_p", "_e")): _*)
      .select(groupCols.map(col) :+ col("scale") :+
        col("_e.bins").as("bin") :+ col("_e.cnts").as("cnt"): _*)

  /** Build the cell table (groupCols..., scale, bin, cnt): per group, the
    * counts of floor(value / 2^scale) at the group's own smallest
    * span-fitting scale.
    */
  def cells(
      df: DataFrame,
      value: Column,
      maxBins: Int,
      groupCols: Seq[String] = Nil,
      minScale: Int = 0): DataFrame =
    explodeBufs(bufs(df, value, maxBins, groupCols, minScale), groupCols)

  /** Linear-interpolated quantile estimates per group from a [[bufs]]
    * table — the QuantileSketch.quantiles read-off with the bin width
    * 2^scale a COLUMN, since each group sits at its own data-derived
    * resolution (the q251 p50 form generalized to any `qs`). For target
    * rank t = q·N the unique cell with cumBefore < t ≤ cum holds the
    * answer, est = w·bin + w·(t − cumBefore)/cnt with w = 2^scale —
    * closed-form and deterministic; error is bounded by one FINAL bin
    * width (the operator's accuracy contract). Returns
    * (groupCols..., q, est, n); `qs` must lie in (0, 1].
    *
    * Cost shape: the window runs over ≤ 2·maxBins cells per group and the
    * qs frame is a broadcast of |qs| literal rows — nothing rescans the
    * data the buffers summarized.
    */
  def quantiles(
      bufsDf: DataFrame,
      qs: Seq[Double],
      groupCols: Seq[String] = Nil): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1]: $qs")
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(groupCols.map(col): _*)
    val cum = part.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumed = explodeBufs(bufsDf, groupCols)
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(part))
    val spark = bufsDf.sparkSession
    import spark.implicits._
    val qsDf = qs.toDF("q")
    val t = col("q") * col("n")
    val w = pow(lit(2.0), col("scale"))
    cumed
      .crossJoin(broadcast(qsDf))
      .where(col("cum") >= t && (col("cum") - col("cnt")) < t)
      .select(groupCols.map(col) :+ col("q") :+
        (w * col("bin") + w * ((t - (col("cum") - col("cnt"))) / col("cnt")))
          .as("est") :+ col("n"): _*)
  }
}
