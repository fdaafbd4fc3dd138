package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift read-offs over histogram CELL TABLES — the
  * monitoring layer on top of the sketch tier: the cells
  * ([[graft.functions.QuantileSketch.cells]], per closed window under
  * `StreamOps.windowed`) summarize the data once; drift scoring
  * then runs on the summaries only (periods × bins rows), never on the
  * data. Complements the batch two-sample forms (q116's decile PSI,
  * q125's KS) with the STANDING-MONITOR shape: one reference window, a
  * PSI score per period, scheduled over drained streaming cells.
  *
  * Every score comes off ONE grid, [[psiKsByPeriod]]; [[psiByPeriod]],
  * [[ksByPeriod]] and every [[monitorTick]] chunk are projections of it.
  * Rounding contract: ks, n_period and n_ref are exact (integer totals,
  * and a max over |a/b − c/d| of exact longs, so any engine re-derives
  * them bit for bit). psi is a float SUM of per-bin terms whose
  * accumulation order follows the physical plan and is not fixed, so psi
  * is declared at round(x + 1e-9, 6), the surface the catalog emits and
  * the oracle checks; raw psi values may differ in the last ulps.
  */
object Drift {

  /** Working columns of the scoring grid; an input column of the same name
    * would be overwritten (or grouped on) silently, so it fails loud. */
  private val Reserved = Set("_tp", "_cp", "_cr", "_tr", "_one", "_ta", "_d")

  private val EmptyReference =
    "Drift: reference cells are empty (no rows or all-NULL counts) — the " +
      "reference is empty, and a drift score against nothing is meaningless"

  private val UncoveredKey =
    "Drift: a scored key has an empty reference — its reference is empty (no " +
      "rows or all-NULL counts for that key, or reference cells are empty " +
      "altogether); the reference must cover every scored key"

  /** Both drift statistics per period from cell tables, on the one scoring
    * grid: `cells` = (periodCol, keyCols…, bin, cnt), `refCells` =
    * (keyCols…, bin, cnt), both at the SAME (lo, hi, bins) declaration (a
    * contract, like every cell merge). Returns (periodCol, keyCols…, psi,
    * ks, n_period, n_ref).
    *
    * The grid is (period, keys…) × the per-key union bin spine, with the
    * period and reference counts left-joined on and the per-key totals
    * n_period / n_ref bound; an unkeyed call rides a constant key. Over it:
    *  - psi = Σ_bins (p − q)·ln(p/q), p = max(cnt_period/n_period, eps),
    *    q = max(cnt_ref/n_ref, eps) — the standard empty-bin floor, with p
    *    and q ratios of exact integers and one ln per term (the q245
    *    single-transcendental discipline);
    *  - ks = max over the spine of |CDF_period − CDF_ref|, each CDF a
    *    running sum of exact integer counts in bin order over its exact
    *    total — no transcendental at all.
    * Both aggregate in one groupBy. A caller that projects one statistic
    * away pays nothing for it: Catalyst's column pruning drops its
    * aggregate, and for ks the running-sum window too.
    *
    * Failure contracts: the [[Reserved]] working columns may not name an
    * input column, period or key; a key observed in `cells` with no
    * reference mass fails loud in-plan on every scored row (scoring it
    * against an eps-floored phantom reference is the empty-reference bug
    * keyed); and an empty or all-NULL reference fails loud even when
    * `cells` is empty too ([[withRefGuard]]).
    *
    * Scale shape: the grid is periods × keys × bins, all BOUNDED (bins by
    * declaration, periods by the calendar/watermark, keys by the schema),
    * so the broadcast spine and total binds are dimension products, and
    * the running sums are windows over ≤ bins rows per (period, keys…);
    * nothing here rescans the data the cells summarized.
    */
  def psiKsByPeriod(
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
    val clash = Reserved.intersect(
      cells.columns.toSet ++ refCells.columns.toSet + periodCol ++ keyCols)
    require(clash.isEmpty,
      s"Drift's working columns clash with input columns: $clash — rename them first")
    val (kc, cellsK, refK) =
      if (keyCols.nonEmpty) (keyCols, cells, refCells)
      else (Seq("_one"),
        cells.withColumn("_one", lit(1)), refCells.withColumn("_one", lit(1)))
    val gridKeys = periodCol +: kc
    val totals = cellsK.groupBy(gridKeys.map(col): _*).agg(sum(col("cnt")).as("_tp"))
    val refTot = refK.groupBy(kc.map(col): _*).agg(sum(col("cnt")).as("_tr"))
    val spine = cellsK.select((kc :+ "bin").map(col): _*)
      .unionByName(refK.select((kc :+ "bin").map(col): _*)).distinct()
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
      .where(assert_true(col("_tr").isNotNull && col("_tr") > 0, lit(UncoveredKey)).isNull)
      .withColumn("_d", abs(cumP - cumR))
      .groupBy(gridKeys.map(col): _*)
      .agg(sum((p - q) * log(p / q)).as("psi"),
        max(col("_d")).as("ks"),
        first(col("_tp")).as("n_period"), first(col("_tr")).as("n_ref"))
      .drop("_one")
    withRefGuard(scored, refCells)
  }

  /** Unconditional empty-reference guard: the per-row in-plan assert only
    * fires on rows of keys OBSERVED in `cells`, so a scheduled monitor fed
    * two empty frames would read "no drift" instead of "broken feed". A
    * join-side bind can't close that gap — AQE's empty-relation
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
  private def withRefGuard(result: DataFrame, refCells: DataFrame): DataFrame = {
    val guard = refCells.agg(sum(col("cnt")).as("_ta"))
      .where(assert_true(col("_ta").isNotNull && col("_ta") > 0, lit(EmptyReference)).isNull &&
        coalesce(col("_ta"), lit(-1L)) < 0)
      .select(result.schema.fields.toSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name)): _*)
    result.unionByName(guard)
  }

  /** Population Stability Index per period: [[psiKsByPeriod]] projected to
    * (periodCol, keyCols…, psi), with its cell shapes and contracts. The
    * conventional alarm levels on this statistic (Karakoulas 2004 /
    * credit-scoring practice): < 0.1 stable, 0.1–0.2 watch, > 0.2 drifted.
    *
    * `keyCols` scores one PSI per (periodCol, keyCols…) with reference
    * totals and bin spines PER KEY (the [[embeddingPsiByPeriod]]
    * substrate: one score per embedding dimension).
    */
  def psiByPeriod(
      cells: DataFrame,
      periodCol: String,
      refCells: DataFrame,
      eps: Double = 1e-6,
      keyCols: Seq[String] = Nil): DataFrame =
    psiKsByPeriod(cells, periodCol, refCells, eps, keyCols)
      .select((periodCol +: keyCols :+ "psi").map(col): _*)

  /** Two-sample Kolmogorov–Smirnov distance per period: [[psiKsByPeriod]]
    * projected to (periodCol, keyCols…, ks, n_period, n_ref) — the totals
    * ride along because the classical alarm needs them.
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
    */
  def ksByPeriod(
      cells: DataFrame,
      periodCol: String,
      refCells: DataFrame,
      keyCols: Seq[String] = Nil): DataFrame =
    psiKsByPeriod(cells, periodCol, refCells, keyCols = keyCols)
      .select(((periodCol +: keyCols) ++ Seq("ks", "n_period", "n_ref")).map(col): _*)

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
    *
    * Runs unchanged on a streaming frame (a running aggregation, complete
    * mode) and under `StreamOps.windowed` (per event-time window, append
    * mode; q269). NULL components drop like NULL values do in
    * QuantileSketch.cells, so they never mint a bin=NULL cell.
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
    * ([[graft.functions.AdaptiveHist.bufs]] under `StreamOps.windowed`)
    * instead of requiring a declared (lo, hi, bins). Inputs carry a `scale` column: `cells` =
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
    *   val cells  = StreamOps.windowed(stream)((df, g) =>
    *     QuantileSketch.cells(df, col("value"), lo, hi, bins, g))
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
    // one scoring grid per chunk: psi and ks, keyed or not
    def score(periodCells: DataFrame): DataFrame =
      psiKsByPeriod(periodCells, state.periodCol, state.refCells, keyCols = state.keyCols)
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
    // scoring call: the spine is chunked at the rotation boundaries
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
