package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — flag corpus documents that share word
  * n-grams with an evaluation/benchmark set so they can be removed before
  * training (the q63 overlap report's corpus-side dual: q63 counts
  * contamination per benchmark doc; this emits the removal list).
  *
  * Scale shape: the benchmark set is small (eval suites are ~10⁴–10⁶
  * grams), the corpus is the 100-TB side. The corpus gram stream is
  * prefiltered by a BLOOM FILTER built over the benchmark grams and
  * broadcast to the executors — the full corpus never shuffles its grams;
  * only the tiny bloom-positive slice reaches the verification join, which
  * then removes the false positives exactly. Result is therefore EXACT
  * (bloom errors are one-sided: no false negatives), independent of `fpp`.
  */
object Decontaminate {

  /** The word n-gram recipe every decontamination path shares: (idCol, g),
    * one row per document × DISTINCT lowercase whitespace n-gram, blank
    * texts skipped. Tokenization mirrors the oracle's
    * `regexp_split_to_array(trim(lower(text)), '\s+')`. Build and probe
    * must gram alike, so this is the one place the recipe lives.
    */
  private[graft] def wordGrams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be positive: $n")
    df.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), explode(graft.expressions.WordShingles
        .wordShingles(lower(col(textCol)), n, distinct = true)).as("g"))
  }

  /** Distinct shared-n-gram counts per corpus document.
    *
    * Grams are [[wordGrams]]. Returns (idCol, shared_grams) for corpus
    * docs with at least one shared gram.
    *
    * `useBloom=false` skips the prefilter (exact join only) — the
    * equivalence of the two paths is the operator's correctness test.
    */
  def sharedGramCounts(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      useBloom: Boolean = true,
      fpp: Double = 0.001): DataFrame = {
    val corpusGrams = wordGrams(corpus, idCol, textCol, n)
    val benchGrams = wordGrams(bench, idCol, textCol, n).select(col("g")).distinct()
    val candidates =
      if (useBloom) {
        // two driver-visible jobs over the SMALL side only (count sizes the
        // filter, then one pass builds it); the corpus side stays lazy
        val expected = benchGrams.count()
        // an empty benchmark contaminates nothing — and Spark's bloomFilter
        // aggregation returns a NULL buffer on zero rows (NPE on readFrom).
        // Same output schema, zero rows:
        if (expected == 0L)
          return corpusGrams
            .groupBy(col(idCol))
            .agg(count_distinct(col("g")).as("shared_grams"))
            .limit(0)
        val bloom = benchGrams.stat.bloomFilter("g", expected, fpp)
        val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
        val mightContain = udf((g: String) => g != null && bc.value.mightContain(g))
        corpusGrams.filter(mightContain(col("g")))
      } else corpusGrams
    candidates
      .join(benchGrams, Seq("g")) // exact verify: eliminates bloom false positives
      .groupBy(col(idCol))
      .agg(count_distinct(col("g")).as("shared_grams"))
  }

  /** Handle bundling the two stored [[benchIndex]] frames with the
    * (idCol, n, m, k) they were built at — what a tick loop passes around
    * (`Curation.tickIndexed(benchIdx = …)`). Carrying `n` matters as much
    * as m/k: an index built at a different gram size than the tick's
    * `decontN` would silently underreport shared grams (no error is
    * possible from the gram strings alone), so `tickIndexed` checks it.
    * `grams` is ID-KEYED — (idCol, g), one row per benchmark doc × distinct
    * gram — which is what makes [[benchIndexDelete]]'s takedown exact: a
    * gram a removed doc shares with a RETAINED doc must keep flagging, and
    * only the per-doc rows can tell (the postings index stores per-doc
    * rows for the same reason).
    */
  case class BenchIndex(
      grams: DataFrame, bloomCells: DataFrame, idCol: String, n: Int, m: Int, k: Int)

  /** The benchmark side as a PERSISTABLE INDEX — what a standing
    * decontamination service stores instead of rebuilding the driver-side
    * bloom every call: a [[BenchIndex]] whose `grams` is the id-keyed gram
    * table (idCol, g) and `bloomCells` its mergeable
    * [[graft.functions.Bloom.cells]] at (m, k) over the distinct grams
    * (size m with `Bloom.sizeFor(expectedGrams, targetFpp)`). Persist both
    * frames as parquet. Lifecycle:
    *   - GROWTH: append the new slice's grams and `Bloom.merge` its cells —
    *     OR-merge equals the whole-data build for any merge shape;
    *   - TAKEDOWN: [[benchIndexDelete]] (bits can't unset — the cells
    *     rebuild from the surviving grams; `Curation.takedown` composes it
    *     with the similarity tier's deletes in one call);
    *   - SATURATION: [[saturationReport]] on the monitoring cadence —
    *     OR-merged growth degrades effective fpp (cost, never correctness)
    *     until a rebuild at the grown size pays;
    *   - RESIZE: [[benchIndexResize]] when the monitor trips — (m, k)
    *     re-sized to the grown gram count and the cells rebuilt from the
    *     stored gram table, no benchmark text re-read.
    * The grams are [[wordGrams]], as in [[sharedGramCounts]]
    * (`n` is a contract across build and probe, like shingleN on the
    * signature index — the handle carries it so ticks can check).
    */
  def benchIndex(
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      m: Int,
      k: Int): BenchIndex = {
    val grams = wordGrams(bench, idCol, textCol, n).distinct()
    BenchIndex(
      grams,
      graft.functions.Bloom.cells(grams.select(col("g")).distinct(), col("g"), m, k),
      idCol, n, m, k)
  }

  /** [[graft.functions.Bloom.saturationReport]] over the handle — the
    * monitor-site analog of `tickIndexed(benchIdx = …)`'s probe-site check:
    * `BenchIndex` exists precisely so (n, m, k) can't drift between the
    * build and its uses, and a hand-threaded `saturationReport(cells, m, k)`
    * reopened that seam at the monitor (a too-large m over the stored cells
    * is undetectable from the cells alone — see the base doc). Reads the
    * carried (m, k); same report shape and `maxFpp` contract.
    */
  def saturationReport(bi: BenchIndex, maxFpp: Double = 0.02): DataFrame =
    graft.functions.Bloom.saturationReport(bi.bloomCells, bi.m, bi.k, maxFpp = maxFpp)

  /** [[benchIndex]] with (m, k) SIZED from the data — gram the benchmark
    * ONCE (pinned), count the distinct grams, pick (m, k) via
    * [[graft.functions.Bloom.sizeFor]] at `targetFpp`, and build the cells
    * from the same pinned gram frame. This is the service-start build
    * ([[graft.operators.Curation.serviceState]]): callers who hand-rolled
    * the sizing re-implemented the gram recipe to count it — a second
    * benchmark text scan AND a silent-drift hazard if the recipe here ever
    * changed (the sizing count would diverge from the built index). One
    * bounded driver action (the gram count); an empty benchmark sizes at
    * n = 1 (the smallest legal filter — nothing will probe positive).
    */
  def benchIndexSized(
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      targetFpp: Double = 0.001,
      pin: Pin = Pin.LocalCheckpoint): BenchIndex = {
    val grams = pin(wordGrams(bench, idCol, textCol, n).distinct())
    val nGrams = grams.select(col("g")).distinct().count()
    val (m, k) = graft.functions.Bloom.sizeFor(math.max(1L, nGrams), targetFpp)
    BenchIndex(
      grams,
      pin(graft.functions.Bloom.cells(grams.select(col("g")).distinct(), col("g"), m, k)),
      idCol, n, m, k)
  }

  /** GROWTH for the stored [[BenchIndex]] — the third lifecycle verb named
    * (with [[benchIndexDelete]] and [[benchIndexResize]]; previously the
    * growth recipe lived in docs as `grams.unionByName + Bloom.merge`
    * folklore): gram the new benchmark slice at the index's (idCol, n),
    * row-append the id-keyed gram table, OR-merge the cells at the carried
    * (m, k). IDEMPOTENT like the bits themselves, and at SLICE cost, not
    * stored-index cost: growth is keyed by the doc id — the slice's rows
    * anti-join a broadcast of the stored DISTINCT ids (one row per
    * benchmark doc — small by the benchmark-side premise), so re-ingesting
    * an already-absorbed doc (a replayed feed, an overlapping drop) is a
    * no-op and the stored gram table row-appends without ever being
    * re-shuffled or re-distincted. Grow ≡ fresh build over the union
    * benchmark set (spec). The id-keyed contract this implies: ids are
    * immutable — re-ingesting an id with CHANGED text is still a no-op
    * (first write wins); a revised benchmark doc is [[benchIndexDelete]]
    * then grow, exactly like any other mutation in the tier. Growth
    * degrades the effective fpp over time — [[saturationReport]] watches,
    * [[benchIndexResize]] responds. When additions arrive as a stream,
    * `Bloom.cells` running over the gram feed drains cells that merge the
    * same way.
    */
  def benchIndexGrow(bi: BenchIndex, newBench: DataFrame, textCol: String): BenchIndex = {
    Seq(bi.idCol, textCol).foreach(c => require(newBench.columns.contains(c),
      s"newBench is missing column '$c': ${newBench.columns.toSeq}"))
    val fresh = newBench.join(
      broadcast(bi.grams.select(col(bi.idCol)).distinct()), Seq(bi.idCol), "left_anti")
    val add = benchIndex(fresh, bi.idCol, textCol, bi.n, bi.m, bi.k)
    bi.copy(
      grams = bi.grams.unionByName(add.grams),
      bloomCells = graft.functions.Bloom.merge(bi.bloomCells, add.bloomCells))
  }

  /** TAKEDOWN contract for the stored [[BenchIndex]] — the delete the
    * postings index got in the similarity tier, mirrored for the
    * membership tier. OR-merged bits can never unset, so the recipe is:
    * anti-join the id-keyed gram table on the removed benchmark ids, then
    * REBUILD the cells from the surviving distinct grams (one bounded pass
    * over the stored gram table — no benchmark text is re-read). Exactness
    * the gram-keyed shortcut can't give: a gram the removed doc SHARES
    * with a retained doc survives the anti-join (its row under the
    * retained id remains), so it keeps flagging; a gram EXCLUSIVE to the
    * removed docs loses its last row and stops flagging — probes after the
    * takedown behave exactly as if the index were built fresh over the
    * retained benchmark set. `removedIds` is any frame carrying the
    * index's id column.
    */
  def benchIndexDelete(bi: BenchIndex, removedIds: DataFrame): BenchIndex = {
    require(removedIds.columns.contains(bi.idCol),
      s"removedIds needs the index id column '${bi.idCol}': ${removedIds.columns.toSeq}")
    val survivors = bi.grams.join(
      removedIds.select(col(bi.idCol)).distinct(), Seq(bi.idCol), "left_anti")
    bi.copy(
      grams = survivors,
      bloomCells = graft.functions.Bloom.cells(
        survivors.select(col("g")).distinct(), col("g"), bi.m, bi.k))
  }

  /** EXECUTABLE REBUILD for a saturated [[BenchIndex]] — the operator
    * [[saturationReport]]'s `recommend_rebuild` flag asks for (previously
    * the response was an undocumented re-call of [[benchIndex]], which
    * re-reads benchmark TEXT the stored index already digested): the
    * id-keyed gram table holds everything a rebuild needs, so resizing is
    * one bounded pass over STORED state — `Bloom.sizeFor` over the distinct
    * gram count picks the (m, k) for `targetFpp` at the GROWN size, and
    * `Bloom.cells` re-hashes the stored grams at it. The result is
    * bit-identical to a fresh [[benchIndex]] built at the new (m, k) over
    * the same benchmark set (same grams, same hash discipline —
    * DecontaminateSpec proves probe-identity and that the monitor reads
    * green afterwards), and the returned handle carries the new (m, k) so
    * every downstream probe/monitor site re-sizes with it atomically.
    *
    * The distinct-gram count is one driver-visible action over the gram
    * table (benchmark-proportional, the same class as the build itself) —
    * a resize runs on the monitoring cadence, never per tick. Fails loud
    * on an empty index (nothing to size) and on `sizeFor`'s own contracts
    * (m overflow → split by groupCols or relax targetFpp).
    */
  def benchIndexResize(bi: BenchIndex, targetFpp: Double): BenchIndex = {
    val distinctGrams = bi.grams.select(col("g")).distinct()
    val n = distinctGrams.count()
    require(n > 0,
      "benchIndexResize: the stored gram table is empty — an empty index cannot be " +
        "sized (build it with benchIndex once the benchmark set is non-empty)")
    val (m2, k2) = graft.functions.Bloom.sizeFor(n, targetFpp)
    bi.copy(
      bloomCells = graft.functions.Bloom.cells(distinctGrams, col("g"), m2, k2),
      m = m2, k = k2)
  }

  /** [[sharedGramCounts]] against a prebuilt [[benchIndex]] — the
    * production shape: the corpus gram stream probes the STORED bloom
    * cells (a broadcast ≤ ⌈m/32⌉-row join — no driver-side filter build,
    * no benchmark re-gram), then the stored gram table removes the false
    * positives exactly. Output is IDENTICAL to [[sharedGramCounts]]
    * (one-sidedness: the bloom never drops a true member), for any m/k —
    * `fpp` tunes probe cost, not correctness. The corpus grams at the
    * handle's `n` and the probe at its (m, k), so they cannot drift from
    * the build; `idCol` and `textCol` name the corpus columns.
    */
  def sharedGramCountsIndexed(
      corpus: DataFrame,
      bi: BenchIndex,
      idCol: String,
      textCol: String): DataFrame = {
    val corpusGrams = wordGrams(corpus, idCol, textCol, bi.n)
    val candidates = graft.functions.Bloom
      .positiveItems(bi.bloomCells, corpusGrams, "g", bi.m, bi.k)
    corpusGrams
      .join(broadcast(candidates), Seq("g"), "left_semi")
      // exact verify as a SEMI join: membership only — no distinct pass
      // over the id-keyed gram table, and a gram held by several bench
      // docs can't multiply candidate rows (count_distinct would absorb
      // duplicates, but a standing service shouldn't re-aggregate the
      // bench side every tick to begin with)
      .join(bi.grams.select(col("g")), Seq("g"), "left_semi")
      .groupBy(col(idCol))
      .agg(count_distinct(col("g")).as("shared_grams"))
  }
}
