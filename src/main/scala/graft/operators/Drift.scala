package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distribution-drift read-offs over histogram CELL TABLES — the
  * monitoring layer on top of the sketch tier: the cells
  * ([[graft.functions.QuantileSketch.cells]] /
  * `StreamOps.windowedHistCells`) summarize the data once; drift scoring
  * then runs on the summaries only (periods × bins rows), never on the
  * data. Complements the batch two-sample forms (q116's decile PSI,
  * q125's KS) with the STANDING-MONITOR shape: one reference window, a
  * PSI score per period, scheduled over drained streaming cells.
  */
object Drift {

  /** Population Stability Index per period from cell tables:
    * `cells` = (periodCol, bin, cnt), `refCells` = (bin, cnt) — both at
    * the SAME (lo, hi, bins) declaration (a contract, like every cell
    * merge). psi(period) = Σ_bins (p − q)·ln(p/q) with
    * p = max(cnt_period/total_period, eps),
    * q = max(cnt_ref/total_ref, eps) — the standard empty-bin floor, kept
    * DETERMINISTIC: p and q are ratios of exact integers and the one ln
    * per term is the single transcendental (the q245 discipline), so a
    * batch oracle re-derives every psi bit-for-bit modulo final rounding.
    * Returns (periodCol, psi).
    *
    * The conventional alarm levels on this statistic (Karakoulas 2004 /
    * credit-scoring practice): < 0.1 stable, 0.1–0.2 watch, > 0.2 drifted.
    *
    * Scale shape: the score grid is periods × union-of-bins — both sides
    * BOUNDED (bins by declaration, periods by the calendar/watermark), so
    * the broadcast bin spine and the 1-row reference-total bind are
    * dimension products, never input-cardinality work; nothing here
    * rescans the data the cells summarized.
    *
    * An EMPTY reference (no rows, or all-NULL counts) fails loud at
    * action time (in-plan assert on the 1-row total) instead of silently
    * flooring every q to eps and scoring garbage PSI against nothing.
    *
    * `keyCols` (optional) scores one PSI per (periodCol, keyCols…) on a
    * KEYED grid — `cells` = (periodCol, keyCols…, bin, cnt), `refCells` =
    * (keyCols…, bin, cnt) — with reference totals and bin spines PER KEY
    * (the [[embeddingPsiByPeriod]] substrate: one score per embedding
    * dimension). The keys are a shared spine contract: a key observed in
    * `cells` with no reference rows fails loud in-plan (scoring a period's
    * key against an eps-floored phantom reference is the empty-reference
    * bug keyed), as does a key whose reference counts are all NULL. Scale
    * shape unchanged: the grid is periods × keys × bins, all bounded.
    */
  def psiByPeriod(
      cells: DataFrame,
      periodCol: String,
      refCells: DataFrame,
      eps: Double = 1e-6,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(eps > 0.0 && eps < 1.0, s"eps must be in (0, 1): $eps")
    Seq("bin", "cnt").foreach { c =>
      require(cells.columns.contains(c) && refCells.columns.contains(c),
        s"cell tables need (bin, cnt): ${cells.columns.toSeq} / ${refCells.columns.toSeq}")
    }
    val working = Set("_tp", "_cp", "_cr", "_tr", "_ta")
    val clash = working.intersect(
      cells.columns.toSet ++ refCells.columns.toSet + periodCol ++ keyCols)
    require(clash.isEmpty,
      s"psiByPeriod's working columns clash with input columns: $clash — rename them first")
    if (keyCols.nonEmpty) return psiKeyed(cells, periodCol, refCells, eps, keyCols)
    val totals = cells.groupBy(col(periodCol)).agg(sum(col("cnt")).as("_tp"))
    // `agg` on a frame with zero rows still yields one row with a NULL sum,
    // so this 1-row filter sees exactly one tuple: assert_true throws on an
    // empty/all-null reference, and the IsNull wrapper reads true otherwise
    // (the filter can't be pruned — its child is non-foldable).
    val refTot = refCells.agg(sum(col("cnt")).as("_tr"))
      .where(assert_true(col("_tr").isNotNull && col("_tr") > 0,
        lit("psiByPeriod: reference cells are empty (no rows or all-NULL counts) — " +
          "a PSI against nothing is meaningless")).isNull)
    val bins = cells.select(col("bin"))
      .unionByName(refCells.select(col("bin"))).distinct()
    val p = greatest(coalesce(col("_cp"), lit(0L)) / col("_tp"), lit(eps))
    val q = greatest(coalesce(col("_cr"), lit(0L)) / col("_tr"), lit(eps))
    totals
      .crossJoin(broadcast(bins)) // period × bin spine: bounded dimensions
      .join(cells.select(col(periodCol), col("bin"), col("cnt").as("_cp")),
        Seq(periodCol, "bin"), "left")
      .join(broadcast(refCells.select(col("bin"), col("cnt").as("_cr"))),
        Seq("bin"), "left")
      .crossJoin(broadcast(refTot)) // 1-row total bind
      .groupBy(col(periodCol))
      .agg(sum((p - q) * log(p / q)).as("psi"))
  }

  /** Unconditional empty-reference guard for the KEYED paths: the per-key
    * in-plan assert only fires on keys OBSERVED in `cells`, so a scheduled
    * monitor fed two empty frames would read "no drift" instead of "broken
    * feed". A join-side bind can't close that gap — AQE's empty-relation
    * propagation prunes a join whose other side turns out empty, guard and
    * all — so the guard rides a UNION leg instead: both union children
    * always materialize. The leg aggregates `refCells` to one row, fails
    * loud in-plan if the total is NULL/zero, and otherwise filters itself
    * to zero rows with a NON-FOLDABLE, NULL-TOLERANT predicate: a literal
    * false would be pruned at optimize time taking the assert with it, and
    * a null-intolerant `_ta < 0` makes InferFiltersFromConstraints prepend
    * `isnotnull(_ta)` which short-circuits the And past the assert exactly
    * when `_ta` is NULL — the case the guard exists for. Then projects
    * NULL-cast columns so it unions with any result schema.
    */
  private def withRefGuard(result: DataFrame, refCells: DataFrame, msg: String): DataFrame = {
    val guard = refCells.agg(sum(col("cnt")).as("_ta"))
      .where(assert_true(col("_ta").isNotNull && col("_ta") > 0, lit(msg)).isNull &&
        coalesce(col("_ta"), lit(-1L)) < 0)
      .select(result.schema.fields.toSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name)): _*)
    result.unionByName(guard)
  }

  /** The keyed grid behind `psiByPeriod(…, keyCols)` — kept as a separate
    * path so the unkeyed monitors (q254/q260) keep their exact plan: the
    * bounded binds become per-key JOINS (bin spine and reference totals
    * join on the keys instead of cross-binding), and the empty-reference
    * assert moves in-plan onto every scored row (a left-joined NULL `_tr`
    * IS the keyed form of "reference is empty" — the 1-row agg trick can't
    * see a single missing key).
    */
  private def psiKeyed(
      cells: DataFrame,
      periodCol: String,
      refCells: DataFrame,
      eps: Double,
      keyCols: Seq[String]): DataFrame = {
    val gridKeys = periodCol +: keyCols
    val totals = cells.groupBy(gridKeys.map(col): _*).agg(sum(col("cnt")).as("_tp"))
    val refTot = refCells.groupBy(keyCols.map(col): _*).agg(sum(col("cnt")).as("_tr"))
    val bins = cells.select((keyCols :+ "bin").map(col): _*)
      .unionByName(refCells.select((keyCols :+ "bin").map(col): _*)).distinct()
    val p = greatest(coalesce(col("_cp"), lit(0L)) / col("_tp"), lit(eps))
    val q = greatest(coalesce(col("_cr"), lit(0L)) / col("_tr"), lit(eps))
    val scored = totals
      .join(broadcast(bins), keyCols) // per-key bin spine: bounded dimensions
      .join(cells.select((gridKeys :+ "bin").map(col) :+ col("cnt").as("_cp"): _*),
        gridKeys :+ "bin", "left")
      .join(broadcast(refCells.select((keyCols :+ "bin").map(col)
        :+ col("cnt").as("_cr"): _*)), keyCols :+ "bin", "left")
      .join(broadcast(refTot), keyCols, "left")
      .where(assert_true(col("_tr").isNotNull && col("_tr") > 0,
        lit("psiByPeriod: a key observed in cells has an empty reference (no rows " +
          "or all-NULL counts) under keyCols — the keyed reference must cover " +
          "every scored key")).isNull)
      .groupBy(gridKeys.map(col): _*)
      .agg(sum((p - q) * log(p / q)).as("psi"))
    withRefGuard(scored, refCells,
      "psiByPeriod: reference cells are empty (no rows or all-NULL counts) — " +
        "a PSI against nothing is meaningless")
  }

  /** Two-sample Kolmogorov–Smirnov distance per period from cell tables —
    * the drift tier's SECOND statistic beside [[psiByPeriod]], same
    * standing-monitor shape and contracts: `cells` =
    * (periodCol, keyCols…, bin, cnt), `refCells` = (keyCols…, bin, cnt),
    * both at one binning declaration. ks(period) = max over the union bin
    * spine of |CDF_period − CDF_ref| where each CDF is a running sum of
    * exact integer counts over bin order divided by its exact total —
    * NO transcendental at all (PSI's one-ln-per-term discipline, improved
    * on: the score is a max of |a/b − c/d| over longs, so a second engine
    * re-derives every value bit-identically, not just per-term).
    *
    * Where the two monitors differ in practice: PSI weights by probability
    * mass and reacts to any redistribution (including tail mass the eps
    * floor keeps finite); KS is the largest CDF gap — sharp for location/
    * scale shifts, blind to compensating reshuffles that cross back over
    * the CDF, and it carries the classical two-sample alarm
    * c(α)·sqrt((n+m)/(n·m)) so the threshold SCALES with sample size
    * instead of PSI's fixed 0.1/0.2 conventions. Binned KS understates
    * continuous KS by at most one bin's mass — the usual discretization
    * trade, same declaration contract as every cell table.
    *
    * `keyCols` scores one KS per (periodCol, keyCols…) with reference
    * totals and bin spines per key (the [[psiByPeriod]] keyed contract,
    * including the loud in-plan failure on a key the reference doesn't
    * cover — and on an empty/all-NULL reference, which that same assert
    * catches since every scored row left-joins the reference totals).
    * Returns (periodCol, keyCols…, ks, n_period, n_ref) — the totals ride
    * along because the classical alarm needs them. Scale shape: the grid
    * is periods × keys × bins, the running sums are windows over ≤ bins
    * rows per (period, keys…) partition — bounded by declaration, never
    * input-sized.
    */
  def ksByPeriod(
      cells: DataFrame,
      periodCol: String,
      refCells: DataFrame,
      keyCols: Seq[String] = Nil): DataFrame = {
    Seq("bin", "cnt").foreach { c =>
      require(cells.columns.contains(c) && refCells.columns.contains(c),
        s"cell tables need (bin, cnt): ${cells.columns.toSeq} / ${refCells.columns.toSeq}")
    }
    val working = Set("_tp", "_cp", "_cr", "_tr", "_one", "_ta")
    val clash = working.intersect(
      cells.columns.toSet ++ refCells.columns.toSet + periodCol ++ keyCols)
    require(clash.isEmpty,
      s"ksByPeriod's working columns clash with input columns: $clash — rename them first")
    // one generic keyed path: an unkeyed call rides a constant key
    val (kc, cellsK, refK) =
      if (keyCols.nonEmpty) (keyCols, cells, refCells)
      else (Seq("_one"),
        cells.withColumn("_one", lit(1)), refCells.withColumn("_one", lit(1)))
    val gridKeys = periodCol +: kc
    val totals = cellsK.groupBy(gridKeys.map(col): _*).agg(sum(col("cnt")).as("_tp"))
    val refTot = refK.groupBy(kc.map(col): _*).agg(sum(col("cnt")).as("_tr"))
    val spine = cellsK.select((kc :+ "bin").map(col): _*)
      .unionByName(refK.select((kc :+ "bin").map(col): _*)).distinct()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(gridKeys.map(col): _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumP = sum(coalesce(col("_cp"), lit(0L))).over(w) / col("_tp")
    val cumR = sum(coalesce(col("_cr"), lit(0L))).over(w) / col("_tr")
    val scored = totals
      .join(broadcast(spine), kc) // per-key bin spine: bounded dimensions
      .join(cellsK.select((gridKeys :+ "bin").map(col) :+ col("cnt").as("_cp"): _*),
        gridKeys :+ "bin", "left")
      .join(broadcast(refK.select((kc :+ "bin").map(col) :+ col("cnt").as("_cr"): _*)),
        kc :+ "bin", "left")
      .join(broadcast(refTot), kc, "left")
      .where(assert_true(col("_tr").isNotNull && col("_tr") > 0,
        lit("ksByPeriod: the reference is empty (no rows or all-NULL counts) for a " +
          "scored key — a KS distance against nothing is meaningless")).isNull)
      .withColumn("_d", abs(cumP - cumR))
      .groupBy(gridKeys.map(col): _*)
      .agg(max(col("_d")).as("ks"),
        first(col("_tp")).as("n_period"), first(col("_tr")).as("n_ref"))
      .drop("_one")
    withRefGuard(scored, refCells,
      "ksByPeriod: the reference is empty (no rows or all-NULL counts) — " +
        "a KS distance against nothing is meaningless")
  }

  /** BOTH drift statistics in ONE grid pass — [[psiByPeriod]] and
    * [[ksByPeriod]] build the same (period, bin) spine, the same count
    * joins and the same total binds, and [[monitorTick]] then joined
    * their outputs per chunk: the fused scorer computes the psi term and
    * the CDF gap on one grid and aggregates both in one groupBy, so a
    * monitor chunk pays one scoring subtree instead of two plus a join
    * (r15; the scoring arithmetic is UNCHANGED — the same IEEE expressions
    * over the same spine rows in the same accumulation order, DriftSpec
    * pins BIT-identity against the composed psi ⋈ ks form). Returns
    * (periodCol, psi, ks, n_period, n_ref) — exactly the composed join's
    * columns. Contracts (cell shape, binning declaration, loud
    * empty-reference failure) are the two scorers', unchanged.
    *
    * UNKEYED ONLY, deliberately: on the keyed grid the composed psi's
    * spine join groups rows per key in a different physical order, so the
    * float psi sum can differ in the last ulp from the composed form —
    * keyed monitors keep the composed join (bit-stability outranks the
    * saved subtree there).
    */
  def psiKsByPeriod(
      cells: DataFrame,
      periodCol: String,
      refCells: DataFrame,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0.0 && eps < 1.0, s"eps must be in (0, 1): $eps")
    Seq("bin", "cnt").foreach { c =>
      require(cells.columns.contains(c) && refCells.columns.contains(c),
        s"cell tables need (bin, cnt): ${cells.columns.toSeq} / ${refCells.columns.toSeq}")
    }
    val working = Set("_tp", "_cp", "_cr", "_tr", "_one", "_ta")
    val clash = working.intersect(
      cells.columns.toSet ++ refCells.columns.toSet + periodCol)
    require(clash.isEmpty,
      s"psiKsByPeriod's working columns clash with input columns: $clash — rename them first")
    // the ksByPeriod constant-key grid, verbatim — the psi term is one
    // extra projected expression on the same rows
    val (kc, cellsK, refK) =
      (Seq("_one"),
        cells.withColumn("_one", lit(1)), refCells.withColumn("_one", lit(1)))
    val gridKeys = periodCol +: kc
    val totals = cellsK.groupBy(gridKeys.map(col): _*).agg(sum(col("cnt")).as("_tp"))
    val refTot = refK.groupBy(kc.map(col): _*).agg(sum(col("cnt")).as("_tr"))
    val spine = cellsK.select((kc :+ "bin").map(col): _*)
      .unionByName(refK.select((kc :+ "bin").map(col): _*)).distinct()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(gridKeys.map(col): _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumP = sum(coalesce(col("_cp"), lit(0L))).over(w) / col("_tp")
    val cumR = sum(coalesce(col("_cr"), lit(0L))).over(w) / col("_tr")
    val p = greatest(coalesce(col("_cp"), lit(0L)) / col("_tp"), lit(eps))
    val q = greatest(coalesce(col("_cr"), lit(0L)) / col("_tr"), lit(eps))
    val scored = totals
      .join(broadcast(spine), kc) // per-key bin spine: bounded dimensions
      .join(cellsK.select((gridKeys :+ "bin").map(col) :+ col("cnt").as("_cp"): _*),
        gridKeys :+ "bin", "left")
      .join(broadcast(refK.select((kc :+ "bin").map(col) :+ col("cnt").as("_cr"): _*)),
        kc :+ "bin", "left")
      .join(broadcast(refTot), kc, "left")
      .where(assert_true(col("_tr").isNotNull && col("_tr") > 0,
        lit("psiKsByPeriod: the reference is empty (no rows or all-NULL counts) for a " +
          "scored key — a drift score against nothing is meaningless")).isNull)
      .withColumn("_d", abs(cumP - cumR))
      .groupBy(gridKeys.map(col): _*)
      .agg(sum((p - q) * log(p / q)).as("psi"),
        max(col("_d")).as("ks"),
        first(col("_tp")).as("n_period"), first(col("_tr")).as("n_ref"))
      .drop("_one")
    withRefGuard(scored, refCells,
      "psiKsByPeriod: reference cells are empty (no rows or all-NULL counts) — " +
        "a drift score against nothing is meaningless")
  }

  /** Rotate a standing monitor's REFERENCE to the trailing `k` closed
    * periods of the SAME cell table it scores — the re-referencing verb a
    * year-long deployment needs (a fixed reference frame ages: seasonal
    * mix, encoder updates, and legitimate corpus growth all read as
    * "drift" against a January baseline; the operational pattern is to
    * re-reference on a cadence from the most recent accepted windows).
    * Selects the `k` largest distinct values of `periodCol` present in
    * `cells` and re-aggregates their counts to the reference shape
    * (keyCols…, bin, cnt) — exactly what a fresh batch build over those
    * periods' rows would produce, because fixed-range cells merge by
    * cell-wise sum ([[graft.functions.QuantileSketch.merge]]'s contract;
    * DriftSpec pins rotated-reference PSI and KS ≡ the same scores
    * against a freshly aggregated reference). Feed the result straight
    * back as `refCells` to [[psiByPeriod]] / [[ksByPeriod]].
    *
    * Scale shape: one distinct + top-k over the period spine (bounded by
    * declaration — periods, not events), one broadcast semi-join over the
    * bounded cell table, one re-aggregation. The period ordering is the
    * column's natural ordering (dates/timestamps/strings all work).
    */
  def rotateReference(
      cells: DataFrame,
      periodCol: String,
      k: Int,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(k > 0, s"rotateReference needs k > 0 trailing periods: $k")
    Seq("bin", "cnt").foreach(c => require(cells.columns.contains(c),
      s"cell tables need (bin, cnt): ${cells.columns.toSeq}"))
    val trailing = cells.select(col(periodCol)).distinct()
      .orderBy(col(periodCol).desc).limit(k)
    cells.join(broadcast(trailing), Seq(periodCol))
      .groupBy((keyCols :+ "bin").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Fixed-range histogram cells over an EMBEDDING column, one histogram
    * per (keyCols…, dimension): posexplode the vector, bin each component
    * with the declared (lo, hi, bins) ([[graft.functions.QuantileSketch]]
    * binning — out-of-range values clamp into the edge bins), count per
    * (keyCols…, dim, bin). This is the drift tier's summary of an
    * embedding DISTRIBUTION: dims × bins counters per key — bounded by
    * declaration — against which [[embeddingPsiByPeriod]] scores PSI
    * without a second pass over the vectors. NULL vectors are skipped;
    * `dim` is the 0-based component index, so cells from shards/periods
    * merge like any fixed-range cell table (same (lo, hi, bins) contract,
    * [[graft.functions.QuantileSketch.merge]] with `keyCols :+ "dim"`).
    *
    * Deliberately NOT centroid-based: a per-dimension marginal needs no
    * aggregated-float reference vector, so every bin decision is a pure
    * function of raw component values and literals — a second engine
    * re-derives the cells exactly (the q240/q243 discipline: never feed an
    * engine-summed float into a discrete decision).
    */
  def embeddingCells(
      df: DataFrame,
      embCol: String,
      lo: Double,
      hi: Double,
      bins: Int,
      keyCols: Seq[String] = Nil): DataFrame = {
    val clash = Set("dim", "pos", "col").intersect(keyCols.toSet)
    require(clash.isEmpty,
      s"embeddingCells reserves (dim, pos, col) as working columns: $clash — rename them")
    val ex = df.where(col(embCol).isNotNull)
      .select(keyCols.map(col) :+ posexplode(col(embCol)): _*)
      .withColumnRenamed("pos", "dim")
    graft.functions.QuantileSketch.cells(
      ex, col("col").cast("double"), lo, hi, bins, keyCols :+ "dim")
  }

  /** Embedding-distribution drift per period: PSI of each DIMENSION's
    * marginal against a reference cohort — (periodCol, dim, psi), the
    * drift tier extended to the embedding column type (the one first-class
    * column the scalar monitors q254/q260 couldn't watch; an encoder swap,
    * a corpus-mix shift, or a normalization bug shows up as mass moving
    * in component marginals long before any downstream metric moves).
    *
    * Both sides bin at the declared (lo, hi, bins) via [[embeddingCells]]
    * and score through the keyed [[psiByPeriod]] grid (key = `dim`), so
    * the whole monitor inherits the tier's contracts: exact integer count
    * ratios, one ln per term, eps floor on empty bins, loud failure when a
    * dimension observed in `df` has no reference mass (ragged dims are a
    * broken feed, not a score of 0). Per-dim marginals deliberately trade
    * correlation visibility for DETERMINISM and mergeability — a rotation
    * that preserves every marginal is invisible here, but every cell and
    * every psi term is replayable bit-identically by a second engine,
    * which is what lets the score gate an oracle. The conventional alarm
    * levels apply per dimension (< 0.1 stable, 0.1–0.2 watch, > 0.2
    * drifted); summaries (max/avg over dims, worst dim) are one bounded
    * aggregation over the dims × periods grid.
    *
    * Scale shape: one pass over the vectors (posexplode → groupBy — a
    * map-side-combinable count at rows × dims granularity), then all
    * scoring on the periods × dims × bins grid. The reference side
    * aggregates once and broadcasts; nothing rescans the data.
    */
  def embeddingPsiByPeriod(
      df: DataFrame,
      embCol: String,
      periodCol: String,
      refDf: DataFrame,
      lo: Double,
      hi: Double,
      bins: Int,
      eps: Double = 1e-6): DataFrame =
    psiByPeriod(
      embeddingCells(df, embCol, lo, hi, bins, Seq(periodCol)),
      periodCol,
      embeddingCells(refDf, embCol, lo, hi, bins, Nil),
      eps,
      keyCols = Seq("dim"))

  /** [[psiByPeriod]] over ADAPTIVE histogram cells — the align step that
    * lets the standing monitor ride the unknown-range sketch
    * ([[graft.functions.AdaptiveHist]] /
    * `StreamOps.windowedAdaptiveHistBufs`) instead of requiring a declared
    * (lo, hi, bins). Inputs carry a `scale` column: `cells` =
    * (periodCol, scale, bin, cnt), `refCells` = (scale, bin, cnt) — each
    * row's bin is floor(value / 2^scale), and different periods (or a
    * grown reference) legitimately sit at different scales.
    *
    * Alignment is the `AdaptiveHistAgg.merge` discipline: every row rebins
    * to the COARSEST scale present in either input —
    * bin' = floorDiv(bin, 2^(target − scale)), counts summed — which is
    * exact (floorDiv composes: a cell at a finer scale partitions
    * perfectly into the coarser bins), order-independent, and leaves all
    * distributions on ONE shared bin grid, the precondition
    * [[psiByPeriod]]'s contract states. floorDiv by 2^d is an arithmetic
    * shift; deltas ≥ 63 collapse to the sign bin (0 / −1) explicitly —
    * Java's `>>` would silently wrap at 64. The PSI read-off is then
    * [[psiByPeriod]] verbatim, so the determinism contract (exact integer
    * ratios, one ln per term) carries over, at the resolution cost the
    * adaptive trade always pays: PSI is scored at the coarsest
    * contributing scale (when every input sits at one scale already, the
    * align step is the identity and this equals the fixed-range score —
    * same bins, counts, and per-term doubles; only the float summation
    * order can differ at the ulp level — DriftSpec pins it).
    */
  def psiByPeriodAdaptive(
      cells: DataFrame,
      periodCol: String,
      refCells: DataFrame,
      eps: Double = 1e-6): DataFrame = {
    Seq("scale", "bin", "cnt").foreach { c =>
      require(cells.columns.contains(c) && refCells.columns.contains(c),
        s"adaptive cell tables need (scale, bin, cnt): " +
          s"${cells.columns.toSeq} / ${refCells.columns.toSeq}")
    }
    val workingAd = Set("_ts", "_bin2")
    val clashAd = workingAd.intersect(
      cells.columns.toSet ++ refCells.columns.toSet + periodCol)
    require(clashAd.isEmpty,
      s"psiByPeriodAdaptive's working columns clash with input columns: $clashAd — " +
        "rename them first")
    val tgt = cells.select(col("scale"))
      .unionAll(refCells.select(col("scale")))
      .agg(max(col("scale")).as("_ts"))
    def aligned(df: DataFrame, keys: Seq[String]): DataFrame = {
      val d = col("_ts") - col("scale")
      val bin2 = when(d >= 63, when(col("bin") < 0, lit(-1L)).otherwise(lit(0L)))
        .otherwise(expr("shiftright(bin, _ts - scale)"))
      df.crossJoin(broadcast(tgt)) // 1-row target-scale bind
        .withColumn("_bin2", bin2)
        .groupBy((keys :+ "_bin2").map(col): _*)
        .agg(sum(col("cnt")).as("cnt"))
        .withColumnRenamed("_bin2", "bin")
    }
    psiByPeriod(aligned(cells, Seq(periodCol)), periodCol, aligned(refCells, Nil), eps)
  }

  /** The standing state a STREAMING drift-monitor service carries across
    * micro-batches — [[rotateReference]] wired into the service loop (the
    * `Curation.ServiceState` pattern on the drift tier): the accumulated
    * closed-period cell table, the reference currently in force, and the
    * rotation clock. Driver-held and mutable BY DESIGN — `foreachBatch` is
    * Spark's seam for per-micro-batch batch code against driver state; the
    * frames stay lazily-planned, pin-backed DataFrames (nothing cell-table-
    * sized lives on the driver). Deployment shape:
    *
    * {{{
    *   val cells  = StreamOps.windowedHistCells(stream, col("value"), lo, hi, bins)
    *   val state  = Drift.monitorState(seedCells, "ws", Nil, cadence = 7, refK = 4)
    *   cells.writeStream.outputMode("append").foreachBatch { (batch, _) =>
    *     sink(Drift.monitorTick(state, batch))   // (ws, keys…, psi, ks, n_period, n_ref)
    *   }.start()
    * }}}
    *
    * Append-mode windowed cells emit each closed window EXACTLY once, which
    * is the premise [[monitorTick]] scores under (a period's cells arrive
    * complete, in one batch).
    */
  final class MonitorState private[Drift] (
      @volatile var cells: DataFrame,
      @volatile var refCells: DataFrame,
      @volatile var sinceRotation: Int,
      val periodCol: String,
      val keyCols: Seq[String],
      val cadence: Int,
      val refK: Int,
      val pin: Pin)

  /** Seed a [[MonitorState]] from the closed-period cells already on hand
    * (a warmup window's batch build, or the restored cell table of a prior
    * deployment). The initial reference is the trailing `refK` periods of
    * the seed — i.e. the monitor starts exactly as if it had just rotated.
    * `cadence` = closed periods between rotations; `refK` = periods the
    * rotated reference aggregates.
    */
  def monitorState(
      seedCells: DataFrame,
      periodCol: String,
      keyCols: Seq[String] = Nil,
      cadence: Int = 7,
      refK: Int = 4,
      pin: Pin = Pin.LocalCheckpoint): MonitorState = {
    require(cadence > 0, s"monitorState: cadence must be positive: $cadence")
    new MonitorState(
      pin(seedCells),
      pin(rotateReference(seedCells, periodCol, refK, keyCols)),
      0, periodCol, keyCols, cadence, refK, pin)
  }

  /** The most closed periods one [[monitorTick]] batch may carry: its period
    * spine is read to the driver, so this bounds the driver memory of a
    * tick (a day-period stream would need 27 years of backlog in one batch).
    */
  val MaxBatchPeriods = 10000

  /** One drift-service micro-batch: score each NEWLY CLOSED period in
    * `newCells` (both statistics, keyed by the state's `keyCols`) against
    * the reference IN FORCE when that period closes, folding the rotation
    * cadence in as it goes — after every `cadence` scored periods the
    * reference rotates to the trailing `refK` periods of everything
    * accumulated so far (INCLUDING the period that tripped the clock), the
    * q270 verb run ON SCHEDULE instead of by hand. Periods are processed
    * in period order, so scores are independent of how the stream batches
    * them (DriftSpec pins tick-by-tick ≡ one-batch ≡ hand-rotated).
    *
    * Returns the batch's scored rows: (periodCol, keyCols…, psi, ks,
    * n_period, n_ref). Cost per tick: O(new cells + bounded grids) — the
    * period spine read is periods-per-batch ints (the q264 1-row-bind
    * class; more than [[MaxBatchPeriods]] fails loud), and each period's
    * scoring grid is bounded by declaration (periods × keys × bins). The
    * accumulated cell table grows one bounded period slice per close and
    * is re-read only at rotation.
    */
  def monitorTick(state: MonitorState, newCells: DataFrame): DataFrame = {
    val pCol = col(state.periodCol)
    val joinKeys = state.periodCol +: state.keyCols
    // ONE fused scoring subtree per chunk on the unkeyed path (r15): psi
    // and ks ride the same grid, so the former psiByPeriod ⋈ ksByPeriod
    // pair — two grid builds plus a join per chunk — collapses into one
    // psiKsByPeriod call (BIT-identical; DriftSpec pins it against the
    // composed form). Keyed monitors keep the composed join — see
    // psiKsByPeriod's unkeyed-only note.
    def score(periodCells: DataFrame): DataFrame =
      if (state.keyCols.isEmpty)
        psiKsByPeriod(periodCells, state.periodCol, state.refCells)
      else
        psiByPeriod(periodCells, state.periodCol, state.refCells,
            keyCols = state.keyCols)
          .join(ksByPeriod(periodCells, state.periodCol, state.refCells,
            keyCols = state.keyCols), joinKeys)
    // bounded driver read: this batch's newly closed period spine, in order,
    // at most MaxBatchPeriods of it — a batch closing more periods than that
    // is a mis-declared period column, not a micro-batch, and fails loud
    val spine = newCells.select(pCol).distinct()
    val periods = spine.orderBy(pCol).take(MaxBatchPeriods + 1).map(_.get(0))
    require(periods.length <= MaxBatchPeriods,
      s"monitorTick: the batch closes ${spine.count()} periods in '${state.periodCol}', " +
        s"more than the $MaxBatchPeriods one micro-batch may close — check the " +
        "period column (a raw timestamp instead of a window start?) or split the batch")
    if (periods.isEmpty) return score(newCells) // empty, schema-correct
    // Periods sharing a reference-in-force score in ONE multi-period
    // psi/ks call: the spine is chunked at the rotation boundaries
    // (first chunk = cadence − sinceRotation periods, then cadence-sized),
    // so no rotation ever lands mid-chunk and every period still scores
    // against exactly the reference the one-at-a-time loop would use.
    // Scoring a chunk together is value-identical to per-period calls —
    // the only plan difference is the shared bin spine, and a spine bin
    // absent from both a period and the reference contributes an exact
    // +0.0 PSI term and repeats the previous KS CDF step (DriftSpec pins
    // tick-by-tick ≡ one-batch ≡ hand-rotated) — while the per-batch job
    // count drops from O(periods) to O(rotations): at cadence c a P-period
    // batch runs ⌈P/c⌉ scoring passes, not P (the r14 optimization-round
    // rewrite; q277's 25-tick loop was plan-bound, guide §3.3).
    var idx = 0
    val out = Seq.newBuilder[DataFrame]
    while (idx < periods.length) {
      val take = math.min(state.cadence - state.sinceRotation, periods.length - idx)
      val chunk = periods.slice(idx, idx + take)
      // the spine is sorted and the chunk contiguous in it, so a closed
      // range filter selects exactly the chunk's periods (works for any
      // ordered period type — date, timestamp, string, int)
      val slice = newCells.filter(
        pCol >= lit(chunk.head) && pCol <= lit(chunk.last))
      state.cells = state.pin(state.cells.unionByName(slice))
      out += score(slice)
      state.sinceRotation += take
      if (state.sinceRotation >= state.cadence) {
        state.refCells = state.pin(
          rotateReference(state.cells, state.periodCol, state.refK, state.keyCols))
        state.sinceRotation = 0
      }
      idx += take
    }
    out.result().reduce(_ unionByName _)
  }

  /** `gen=<digits>` directory name → number; anything else ignored (the
    * `Curation.genNumber` contract — a stray scratch dir must not crash
    * both restart verbs).
    */
  private def genNumber(name: String): Option[Long] = {
    val s = name.stripPrefix("gen=")
    if (name.startsWith("gen=") && s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong)
    else None
  }

  /** Commit check = can the 1-row ledger be READ (portable against
    * `marksuccessfuljobs=false` deployments, the `Curation` reasoning). */
  private def ledgerCommitted(spark: SparkSession, ledgerDir: String): Boolean =
    scala.util.Try(spark.read.parquet(ledgerDir).head()).isSuccess

  /** CHECKPOINT a standing monitor — [[MonitorState]] is driver-held by
    * design, so without this verb a restart loses the accumulated cell
    * table, the reference in force, and (silently worst) the rotation
    * clock: a rebuilt monitor would rotate on a different schedule than
    * the one the deployment declared. Same crash-safe shape as
    * `Curation.persistServiceState`: a fresh `gen=<k>` directory holding
    * the two frames plus a 1-row ledger written LAST (the commit record —
    * a crash mid-persist leaves an uncommitted generation [[
    * restoreMonitorState]] skips), then older generations are pruned.
    * Checkpoint-cadence cost: the cell table is (periods × keys × bins)
    * rows — bounded by declaration, never event mass.
    */
  def persistMonitorState(state: MonitorState, dir: String): Long = {
    val spark = state.cells.sparkSession
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens: Seq[Long] =
      if (fs.exists(root))
        fs.listStatus(root).toSeq.map(_.getPath.getName).flatMap(genNumber)
      else Seq.empty
    val gen = if (gens.isEmpty) 0L else gens.max + 1L
    val gdir = s"$dir/gen=$gen"
    state.cells.write.mode("overwrite").parquet(s"$gdir/cells")
    state.refCells.write.mode("overwrite").parquet(s"$gdir/ref")
    import spark.implicits._
    Seq((state.periodCol, state.keyCols, state.cadence, state.refK,
        state.sinceRotation))
      .toDF("period_col", "key_cols", "cadence", "ref_k", "since_rotation")
      .coalesce(1).write.mode("overwrite").parquet(s"$gdir/ledger")
    gens.foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/gen=$g"), true))
    gen
  }

  /** Rebuild a [[MonitorState]] from a [[persistMonitorState]] directory:
    * highest COMMITTED generation (ledger readable ⇒ the frames it
    * describes were fully written; crash-truncated partials are skipped by
    * construction), scalars from the ledger, frames PINNED — the restored
    * handle must not stay lazily bound to generation files the NEXT
    * checkpoint's pruning will delete (the `restoreServiceState`
    * contract). The restored monitor resumes mid-rotation-cycle exactly:
    * `since_rotation` rides the ledger, so the next rotation fires on the
    * declared cadence, not `cadence` periods after the restart.
    */
  def restoreMonitorState(
      spark: SparkSession,
      dir: String,
      pin: Pin = Pin.LocalCheckpoint): MonitorState = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"restoreMonitorState: no persisted monitor at $dir")
    val committed = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .flatMap(genNumber)
      .filter(g => ledgerCommitted(spark, s"$dir/gen=$g/ledger"))
    require(committed.nonEmpty,
      s"restoreMonitorState: no COMMITTED generation under $dir — a generation " +
        "commits by its ledger (written last); only crash-truncated partials exist")
    val gdir = s"$dir/gen=${committed.max}"
    val led = spark.read.parquet(s"$gdir/ledger").head()
    new MonitorState(
      pin(spark.read.parquet(s"$gdir/cells")),
      pin(spark.read.parquet(s"$gdir/ref")),
      led.getAs[Int]("since_rotation"),
      led.getAs[String]("period_col"),
      led.getSeq[String](led.fieldIndex("key_cols")).toList,
      led.getAs[Int]("cadence"),
      led.getAs[Int]("ref_k"),
      pin)
  }
}
