package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Persistable, MERGEABLE Bloom filter as a plain cell table — the stored
  * half of decontamination at 100 TB (the n-gram analog of the similarity
  * tier's postings index). [[graft.operators.Decontaminate]]'s inline path
  * builds Spark's driver-side `stat.bloomFilter` per call; this form makes
  * the filter a DATA ARTIFACT instead: `(groupCols…, word, bits)` rows —
  * `word` a 32-bit slice index, `bits` its OR-mask — that persist as
  * parquet beside the benchmark grams, MERGE by `bit_or` when the
  * benchmark set grows (build per slice, union, re-OR: bitwise OR is
  * associative/commutative/idempotent, so any merge shape equals the
  * whole-data build), probe as a broadcast join, and replay exactly in a
  * second engine.
  *
  * Hashing is the portable 52-bit md5-slice discipline (the CMS/HLL/KMV
  * convention): two DISJOINT 13-hex slices h1 (chars 1–13) and h2
  * (chars 14–26) drive Kirsch–Mitzenmacher double hashing — bit positions
  * (h1 + i·h2) mod m for i = 0..k−1 (Kirsch & Mitzenmacher, ESA 2006:
  * two hashes give the asymptotic false-positive rate of k independent
  * ones). i·h2 ≤ 2^52·k stays far under 2^63 — no overflow at any sane k —
  * and every term is integer arithmetic both engines reproduce
  * bit-identically; a DuckDB oracle re-derives words, masks, and
  * membership exactly (no java.util.Random seeding, no engine-private
  * hash).
  *
  * One-sidedness contract (what makes the filter USABLE for exact
  * results): a member item's bits are all set by construction — no false
  * negatives, ever; false positives are removed by the caller's exact
  * verify against the stored item table, so `fpp` tunes COST, not
  * correctness (the [[graft.operators.Decontaminate]] argument, now over
  * stored artifacts).
  *
  * Sizing: `m` bits for n items at k hashes gives fpr ≈ (1 − e^(−kn/m))^k;
  * the usual rule m ≈ 1.44·k·n bits for target fpr 2^−k — [[sizeFor]]
  * computes (m, k) from (n, target fpr) so callers never hand-roll it.
  * State is ≤ ⌈m/32⌉ cell rows per group BY CONSTRUCTION — which is what
  * makes [[cells]] on a stream a bounded running aggregation. As OR-merges
  * grow a stored filter past its sizing, the fill ratio degrades the effective fpr — [[saturationReport]] is the
  * rebuild trigger (the lifecycle analog of the postings index's
  * `indexDriftReport`).
  */
object Bloom {

  /** Standard Bloom sizing for `n` expected distinct items at `targetFpp`:
    * m = ⌈−n·ln(p) / (ln 2)²⌉ bits (≈ 1.44·n·log₂(1/p)) and
    * k = round(m/n · ln 2) hashes — the textbook optimum (k minimizing
    * (1 − e^(−kn/m))^k at fixed m/n). Fails loud when the optimal m
    * exceeds Int.MaxValue bits (~256 MB of bitmap): at that scale, split
    * the filter by `groupCols` (per-shard filters merge-probe exactly like
    * one — the cell table is already group-keyed) or relax `targetFpp` —
    * fpp tunes cost, not correctness.
    */
  def sizeFor(n: Long, targetFpp: Double): (Int, Int) = {
    require(n > 0, s"n must be positive: $n")
    require(targetFpp > 0.0 && targetFpp < 0.5,
      s"targetFpp must be in (0, 0.5): $targetFpp")
    val ln2 = math.log(2.0)
    // 6-dp pre-round before each discrete decision (ceil / round) — the
    // cross-engine convention for transcendental-fed integer choices
    // (the q240/q243 epoch discipline): a second engine's ln() may differ
    // in the last ulp, and an unrounded ceil could then land on m ± 1 —
    // which changes EVERY hash position. Rounded at 6 dp, both engines
    // derive the identical (m, k) from the same (n, targetFpp), so a
    // resize is oracle-replayable end to end.
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val mReal = math.ceil(r6(-n.toDouble * math.log(targetFpp) / (ln2 * ln2)))
    require(mReal <= Int.MaxValue.toDouble,
      f"optimal m = $mReal%.0f bits exceeds Int.MaxValue — split the filter by " +
        "groupCols or relax targetFpp")
    val m = math.max(32L, mReal.toLong).toInt
    val k = math.max(1L, math.min(64L, math.round(r6(m.toDouble / n.toDouble * ln2)))).toInt
    (m, k)
  }

  /** SATURATION MONITOR for a stored cell table — the rebuild trigger the
    * merge contract defers to the caller: OR-merged bits can never unset,
    * so a year of benchmark growth drives the set-bit fill ratio up and
    * the effective false-positive rate (≈ fill^k under the double-hash
    * independence approximation) with it; every probe then pays
    * fpp × (distinct non-member probes) of false-positive candidate mass
    * at the exact-verify join. Correctness never degrades (one-sidedness),
    * only cost — exactly the postings-order situation `indexDriftReport`
    * monitors, so the report shape matches: one row per group,
    * (groupCols…, set_bits, fill_ratio, effective_fpp, recommend_rebuild),
    * with `recommend_rebuild` at effective_fpp ≥ `maxFpp` (documented
    * default 0.02: at 2% the prefilter passes 1-in-50 non-member probes to
    * the verify join — an order of magnitude above a [[sizeFor]]-sized
    * filter's design point, and one rebuild at the grown n restores it).
    *
    * effective_fpp is computed as an explicit k-fold product (not `pow`)
    * so a second engine re-derives it bit-identically from the integer
    * set_bits — the report is itself oracle-checkable.
    *
    * (m, k) must be the BUILD's values — pass the `BenchIndex`-carried pair
    * ([[graft.operators.Decontaminate.saturationReport]] threads the handle
    * so they can't drift). A too-small `m` is caught in-plan (a cell built
    * at larger m has word indices ≥ ⌈m/32⌉ — fail loud instead of reading
    * fill_ratio > 1 and a meaningless fpp); a too-LARGE `m` over truncated
    * cells is undetectable from the cells alone (every word fits), which is
    * exactly why the handle overload exists.
    *
    * Cost shape: one bounded aggregate over ≤ ⌈m/32⌉ cell rows per group —
    * run it on the monitoring cadence; it never touches the item stream.
    */
  def saturationReport(
      cellsDf: DataFrame,
      m: Int,
      k: Int,
      groupCols: Seq[String] = Nil,
      maxFpp: Double = 0.02): DataFrame = {
    checkParams(m, k)
    require(maxFpp > 0.0 && maxFpp < 1.0, s"maxFpp must be in (0, 1): $maxFpp")
    require(cellsDf.columns.contains("word") && cellsDf.columns.contains("bits"),
      s"cells frame needs (word, bits) — build it with Bloom.cells: ${cellsDf.columns.toSeq}")
    val clash = Set("set_bits", "fill_ratio", "effective_fpp", "recommend_rebuild", "_maxw")
      .intersect(groupCols.toSet)
    require(clash.isEmpty,
      s"saturationReport's output columns clash with groupCols: $clash — rename them first")
    val grouped =
      if (groupCols.isEmpty) cellsDf.groupBy()
      else cellsDf.groupBy(groupCols.map(col): _*)
    val words = (m + 31) / 32
    val fill = col("set_bits").cast("double") / m.toDouble
    grouped
      .agg(
        coalesce(sum(bit_count(col("bits"))), lit(0L)).as("set_bits"),
        max(col("word")).as("_maxw"))
      // in-plan m-mismatch guard (the psiByPeriod empty-reference pattern):
      // NULL _maxw = an empty/zero-row group, legitimately fill 0
      .where(assert_true(col("_maxw").isNull || col("_maxw") < words,
        lit(s"saturationReport: cell table has word indices >= $words — the cells " +
          s"were built at a larger m than the passed m=$m; pass the BenchIndex-carried " +
          "(m, k) (Decontaminate.saturationReport takes the handle directly)")).isNull)
      .drop("_maxw")
      .withColumn("fill_ratio", fill)
      .withColumn("effective_fpp", Seq.fill(k)(fill).reduce(_ * _))
      .withColumn("recommend_rebuild", col("effective_fpp") >= maxFpp)
  }

  /** The k bit positions of `item` — (h1 + i·h2) mod m, i = 0..k−1, over
    * the two disjoint md5 slices. NULL-safe: a NULL item yields a NULL
    * array (callers filter).
    */
  def positions(item: Column, m: Int, k: Int): Column =
    // bindOnce each hash stage: a bare reference inside the transform
    // lambda would re-run md5+conv once PER ELEMENT (2k md5 evaluations
    // per item on the decontamination hot path — the hazard bindOnce
    // documents)
    TextFunctions.bindOnce(md5(item)) { h =>
      TextFunctions.bindOnce(conv(substring(h, 1, 13), 16, 10).cast("long")) { h1 =>
        TextFunctions.bindOnce(conv(substring(h, 14, 13), 16, 10).cast("long")) { h2 =>
          transform(sequence(lit(0), lit(k - 1)), i => (h1 + i * h2) % m)
        }
      }
    }

  /** Shared (m, k) validation — every entry point that hashes positions
    * fails loud on the same contract: an unguarded k = 0 turns
    * `sequence(0, -1)` into [0, -1] and emits silently corrupt cells.
    */
  private def checkParams(m: Int, k: Int): Unit = {
    require(m >= 32, s"m must be at least one 32-bit word: $m")
    require(k >= 1 && k <= 64, s"k out of range: $k")
  }

  /** Build the cell table (groupCols…, word, bits) over `item` — one
    * bounded bit-set per group. NULL items are skipped (membership of
    * nothing). Persist as parquet; merge growth slices with [[merge]].
    * Runs unchanged on a streaming frame (a running aggregation, complete
    * mode) and under `StreamOps.windowed` (per event-time window, append
    * mode). A running build's drained cells are a pure function of the
    * item SET seen (OR is idempotent, so micro-batch boundaries and
    * replays cannot move a bit), and per-window filters probe with `ws`
    * in groupCols and OR-merge into coarser periods.
    */
  def cells(
      df: DataFrame,
      item: Column,
      m: Int,
      k: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    checkParams(m, k)
    df.where(item.isNotNull)
      .select(groupCols.map(col) :+ explode(positions(item, m, k)).as("_pos"): _*)
      .select(groupCols.map(col)
        :+ (col("_pos") / 32).cast("int").as("word")
        :+ expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 32 AS INT))").as("_mask"): _*)
      .groupBy((groupCols :+ "word").map(col): _*)
      .agg(expr("bit_or(_mask)").as("bits"))
  }

  /** OR two cell tables (same m/k/groupCols — a CONTRACT, like shingleN on
    * the signature index): the merged filter equals the whole-data build
    * for any merge shape.
    */
  def merge(a: DataFrame, b: DataFrame, groupCols: Seq[String] = Nil): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols :+ "word").map(col): _*)
      .agg(expr("bit_or(bits)").as("bits"))

  /** The bloom-POSITIVE distinct item values of `items` — the
    * (groupCols…, itemCol) values whose k bits are ALL set in `cellsDf`
    * (built at the SAME m/k/groupCols — a contract). Returns the distinct
    * (groupCols…, itemCol) survivors; callers `left_semi`-join their full
    * frame back (the composable shape — membership is a property of the
    * VALUE, not the row). The cell table is ≤ ⌈m/32⌉ rows per group and is
    * broadcast; the probe side never shuffles its payload. No false
    * negatives (one-sidedness contract); callers exact-verify survivors
    * against the stored item table when they need exactness.
    *
    * The all-k check counts exploded position OCCURRENCES (not distinct
    * positions): each of the k occurrences joins at most one cell row, so
    * over a distinct item the set-bit count equals k iff every position is
    * set — duplicate positions (h1 + i·h2 colliding mod m) count once per
    * occurrence on both sides of the equality and cannot false-negative.
    */
  def positiveItems(
      cellsDf: DataFrame,
      items: DataFrame,
      itemCol: String,
      m: Int,
      k: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    checkParams(m, k)
    require(cellsDf.columns.contains("word") && cellsDf.columns.contains("bits"),
      s"cells frame needs (word, bits) — build it with Bloom.cells: ${cellsDf.columns.toSeq}")
    val keyCols = groupCols :+ itemCol
    items
      .select(keyCols.map(col): _*)
      .where(col(itemCol).isNotNull)
      .distinct()
      .withColumn("_pos", explode(positions(col(itemCol), m, k)))
      .withColumn("word", (col("_pos") / 32).cast("int"))
      .withColumn("_mask", expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 32 AS INT))"))
      .join(broadcast(cellsDf), (groupCols :+ "word").toSeq)
      .where(expr("(bits & _mask) = _mask"))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_hits"))
      .where(col("_hits") === k)
      .drop("_hits")
  }
}
