package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.{HashExpressions, VectorExpressions}

/** How [[SimilarityJoin]] generates its candidate pairs (both entry
  * points). All strategies are EXACT (identical output); they differ only
  * in cost, and the right one is data-dependent — see the cost model on
  * [[SimilarityJoin.selfJoinVolumes]].
  */
sealed trait SimilarityStrategy
object SimilarityStrategy {

  /** Run all-pairs outright when one size aggregate per input proves it
    * cheaper than building the prefix postings — or, on the self-join, when
    * a lower bound on each block's prefix candidate volume (from its
    * distinct element count) already exceeds the block's all-pairs volume;
    * otherwise measure both candidate volumes per block on the prepared
    * inputs and route each block to its cheaper plan — one aggregation job
    * buys the decision (an unblocked call is one block).
    * Past the size check the verify is the join's dominant cost, so Auto
    * returns its verified pairs pinned through the call's `pin`: a caller
    * that reads the output twice (a stage count and a later filter) runs
    * the verify once. Below the size check the output stays a lazy plan.
    */
  case object Auto extends SimilarityStrategy

  /** Force the rarest-first prefix-postings join (output-sensitive; wins on
    * large blocks/frames with low duplicate density — the common corpus).
    */
  case object PrefixFilter extends SimilarityStrategy

  /** Force exhaustive enumeration + early-exit verify, kept an equi-join by
    * salting (within-block all-pairs for the self-join; salted full cross
    * for the two-frame join). Density-independent ~0.2 µs/pair; wins on
    * replica-dense corpora or small inputs.
    */
  case object AllPairs extends SimilarityStrategy

  /** The APPROXIMATE tier — MinHash banding (q16's engine behind the same
    * API): candidates are an equi-join on (band, band-hash) over
    * `bands`·`rowsPerBand`-long MinHash signatures, then the SAME exact
    * verify as every other strategy. Precision is therefore 1.0 (every
    * emitted pair truly has J ≥ t, with its exact Jaccard); RECALL is
    * 1 − (1 − j^r)^b per pair of true similarity j — the classic LSH
    * S-curve. The defaults (4 × 4) put the 50% point at j ≈ 0.69: right
    * for τ ≈ 0.8 near-dup detection, far too lossy for τ ≤ 0.5 — size
    * bands/rows to the threshold (r ≈ log(1/b)/log(t) at the curve knee).
    *
    * Candidate volume is Σ over (band, bucket) of n·(n−1)/2 — near-linear
    * whenever signatures discriminate, and UNLIKE the prefix filter it does
    * not degenerate on replica-dense corpora (a cluster collapses into one
    * bucket per band: its true pairs are regenerated at most `bands`
    * times, not once per shared prefix element). This is the τ-low 100-TB
    * path when neither exact engine's volume is affordable.
    *
    * [[Auto]] NEVER silently picks this: Auto chooses among EXACT plans
    * only (identical output, cost-only choice) — trading recall is a
    * semantic decision the caller must make explicitly.
    */
  final case class MinHashLsh(bands: Int = 4, rowsPerBand: Int = 4)
      extends SimilarityStrategy {
    require(bands > 0 && rowsPerBand > 0 && bands * rowsPerBand <= 1024,
      s"MinHashLsh needs positive bands/rowsPerBand with bands*rowsPerBand <= 1024: " +
        s"$bands x $rowsPerBand")
  }
}


/** Prefix-filtered EXACT set-similarity join — the AllPairs/PPJoin family
  * (Bayardo, Ma & Srikant, WWW 2007; Xiao et al., WWW 2008): every pair
  * with Jaccard ≥ t is found with NO all-pairs enumeration and NO recall
  * loss (contrast MinHash banding, which trades recall for speed).
  *
  * The filter: order the element universe rarest-first (global document
  * frequency, ties on the element value). A set of size s keeps only its
  * first p(s) = s − ⌈t·s⌉ + 1 elements as its PREFIX. Two sets with
  * J ≥ t must share an element lying in BOTH prefixes — their smallest
  * common element e cannot sit outside either prefix, because a set's
  * suffix holds only ⌈t·s⌉ − 1 elements while J ≥ t forces an
  * intersection of at least ⌈t·s⌉ on each side. So the equi-join of
  * prefix postings is a LOSSLESS candidate generator, and hub elements
  * (stopword shingles) sort last — they almost never enter a prefix, which
  * is what keeps the candidate count near-linear on text corpora.
  *
  * Scale shape: one frequency aggregation over element instances, one
  * per-doc sort (narrow, after a broadcast-or-shuffle freq join), one
  * equi-join of prefix postings (AQE handles residual skew), then the
  * early-exit exact verify on candidates only. No window, no driver state.
  *
  * Fault tolerance: both entry points pin their multiply-read intermediates
  * via the `pin` parameter — [[Pin.LocalCheckpoint]] by default (fastest,
  * not executor-loss-safe); pass [[Pin.Persist]] on elastic clusters.
  */
object SimilarityJoin {

  /** Per-row prefix postings: for each key row of `df` (columns `keyCols`
    * plus the element array `_set`), emit the first s − ⌈t·s⌉ + 1 elements
    * in global rarest-first `(df, h)` order as (keyCols…, _sz, _pos, h)
    * rows — `_pos` is the element's 1-based rank in the FULL set ordering
    * and `_sz` the set size, which is what the PPJoin positional filter
    * needs at candidate time. The −1e-9 nudge before ceil errs the prefix
    * LONGER under FP rounding of t·s — extra candidates, never a missed
    * pair.
    */
  private def prefixPostings(
      df: DataFrame,
      keyCols: Seq[String],
      freq: DataFrame,
      threshold: Double): DataFrame = {
    val s = size(col("_byRank"))
    // LEFT join: when `freq` is a FROZEN build-time order (the indexed-join
    // path), probe elements the index never saw take df 0 — they sort first
    // (rarest), which is maximally selective and, being absent from every
    // indexed set, can never displace a pair's first common element. When
    // freq is computed over df itself (every other path) the left join is
    // exactly the old inner join.
    df.select(keyCols.map(col) :+ explode(col("_set")).as("h"): _*)
      .join(freq, Seq("h"), "left")
      .groupBy(keyCols.map(col): _*)
      .agg(array_sort(collect_list(
        struct(coalesce(col("_df"), lit(0L)).as("_df"), col("h")))).as("_byRank"))
      .select(keyCols.map(col) :+ s.as("_sz") :+ posexplode(
        transform(slice(col("_byRank"), lit(1), probeLen(s, threshold)), e => e.getField("h")))
        .as(Seq("_pos0", "h")): _*)
      .select(keyCols.map(col) :+ col("_sz") :+ (col("_pos0") + 1).as("_pos") :+ col("h"): _*)
  }

  /** PPJoin positional filter (Xiao et al., WWW 2008) on a candidate
    * OCCURRENCE: the shared element sits at 1-based ranks (pa, pb) of sets
    * sized (sa, sb); the overlap still reachable from here is
    * 1 + min(sa − pa, sb − pb), and J ≥ t needs overlap
    * α = ⌈t/(1+t)·(sa+sb)⌉. LOSSLESS on pairs: a qualifying pair's FIRST
    * common element always passes (everything before it on either side is
    * non-shared), so the pair survives through that occurrence; deep-prefix
    * occurrences of non-qualifying pairs — the bulk of the candidate mass
    * at low thresholds — die before the dedup shuffle. The −1e-9 nudge
    * errs α SMALLER (keeps more), never drops a boundary pair.
    */
  private def positionalKeep(
      sa: Column, pa: Column, sb: Column, pb: Column, threshold: Double): Column = {
    val alpha = ceil((sa + sb).cast("double") * (threshold / (1 + threshold)) - lit(1e-9))
    lit(1) + least(sa - pa, sb - pb) >= alpha
  }

  /** PPJoin INDEX-prefix length (Xiao et al., WWW 2008): for a qualifying
    * pair the required overlap is α = ⌈t/(1+t)·(sa+sb)⌉, and on the pair's
    * SMALLER side (sa ≤ sb) that lower-bounds to ⌈2t/(1+t)·sa⌉ — so the
    * first common element sits within the smaller set's first
    * s − ⌈2t/(1+t)·s⌉ + 1 elements, SHORTER than the probe prefix
    * s − ⌈t·s⌉ + 1 (2t/(1+t) > t for t < 1). The self-join candidate join
    * therefore pairs index-prefix postings (smaller-or-equal-size side)
    * against probe-prefix postings only: per-element join volume drops from
    * n(h)² to nIdx(h)·n(h) — ~20% at t = 0.25, ~33% at t = 0.5 — on the
    * engine's dominant stage, with zero recall loss. The −1e-9 nudge errs
    * the prefix LONGER, never dropping a boundary pair.
    */
  private def indexKeep(sz: Column, pos: Column, threshold: Double): Column =
    pos <= indexLen(sz, threshold)

  /** Probe-prefix length s − ⌈t·s⌉ + 1 of a set of size `s` — the postings
    * [[prefixPostings]] emits per row (at most `s` of them).
    */
  private def probeLen(s: Column, threshold: Double): Column =
    (s - ceil(s.cast("double") * threshold - lit(1e-9)) + 1).cast("int")

  /** Index-prefix length s − ⌈2t/(1+t)·s⌉ + 1 of a set of size `s` — the
    * positions [[indexKeep]] keeps.
    */
  private def indexLen(s: Column, threshold: Double): Column =
    (s - ceil(s.cast("double") * (2 * threshold / (1 + threshold)) - lit(1e-9)) + 1).cast("int")

  /** The exact verify every exact engine ends in, on paired set columns
    * `_as`/`_bs`: the exact size prune (J ≤ min/max of the DISTINCT-set
    * sizes; −0.5 slack keeps FP rounding of t·max from dropping boundary
    * pairs), then the early-exit sorted-merge Jaccard kernel as `_j`, kept
    * where `_j` ≥ t.
    */
  private def verified(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .filter(least(size(col("_as")), size(col("_bs")))
        >= lit(threshold) * greatest(size(col("_as")), size(col("_bs"))) - lit(0.5))
      .withColumn("_j",
        VectorExpressions.jaccardSortedMin(col("_as"), col("_bs"), threshold))
      .filter(col("_j") >= threshold)

  /** Exact verify on candidate id pairs: join the set arrays back, then
    * [[verified]].
    */
  private def verify(
      candidates: DataFrame,
      aSets: DataFrame, // (_aid, _as)
      bSets: DataFrame, // (_bid, _bs)
      threshold: Double): DataFrame =
    verified(candidates.join(aSets, Seq("_aid")).join(bSets, Seq("_bid")), threshold)

  /** MinHash banding, the candidate key of [[SimilarityStrategy.MinHashLsh]]:
    * one (keyCols…, _band, _bh) row per band of each set in `setCol`, `_bh`
    * hashing the band's `rowsPerBand` signature slots. Empty sets are
    * dropped BEFORE signing: an all-sentinel signature would cross-match
    * every other empty set, and the exact engines pair them with nothing,
    * since J(∅, X) < t for any t > 0.
    */
  private def banded(
      df: DataFrame, keyCols: Seq[String], setCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    df.filter(size(col(setCol)) > 0)
      .withColumn("_mh", HashExpressions.minhashSignature(col(setCol), bands * rowsPerBand))
      .select(keyCols.map(col) :+
        posexplode(array((0 until bands).map { bd =>
          hash((0 until rowsPerBand).map(r =>
            element_at(col("_mh"), bd * rowsPerBand + r + 1)): _*)
        }: _*)).as(Seq("_band", "_bh")): _*)

  /** Build the PERSISTABLE prefix-postings index over a standing frame —
    * the corpus-side half of [[jaccardJoin]]'s prefix engine, precomputed
    * once so an incremental-ingest loop (Curation.tickIndexed) stops paying
    * O(corpus shingle mass) per tick. Returns `(freq, posts)`:
    *
    *  - `freq` — (h, _df): the global rarest-first document frequencies
    *    over `df`'s sets. This IS the element order every postings row
    *    (stored now, appended later, probe-side at query time) must be
    *    generated under.
    *  - `posts` — (idCol, blockCols…, _sz, _pos, h): the prefix postings of
    *    `df` under that order, at prefix length for `threshold`.
    *
    * Both are plain DataFrames — write them as parquet next to the
    * signature index and pass them back via [[jaccardJoin]]'s `leftIndex`.
    *
    * THE FROZEN-ORDER CONTRACT (what makes the index exact forever): the
    * prefix filter is lossless under ANY single consistent total element
    * order (header proof) — rarest-first is only the cost heuristic. So the
    * order is frozen at build time: appended rows build their postings
    * under the SAME `freq` (pass it as `frozenFreq`; their unseen elements
    * take df 0 via [[prefixPostings]]'s left join — maximally selective and
    * still consistent), and probe-side postings at query time do the same.
    * New data drifting the TRUE frequencies therefore never affects
    * correctness, only candidate volume (a hub element that was rare at
    * build time keeps entering prefixes); [[indexDriftReport]] MEASURES
    * that cost (stored-order vs fresh-order candidate volume, with the
    * documented rebuild threshold), [[dfCounts]]/[[mergeDfCounts]] keep the
    * true frequencies mergeably on the side, and the rebuild is one
    * [[prefixIndex]] pass over the stored signatures.
    *
    * THE THRESHOLD CONTRACT: prefix length grows as the threshold falls, so
    * an index built at `threshold` t_b serves any query threshold ≥ t_b
    * losslessly (longer-than-needed prefixes = extra candidates, never a
    * missed pair) and MUST NOT be probed below t_b. Not checkable from the
    * frames alone — the caller owns it, like shingleN on the signatures.
    */
  def prefixIndex(
      df: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double,
      blockCols: Seq[String] = Nil,
      frozenFreq: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(!blockCols.contains(idCol),
      s"idCol $idCol must not appear in blockCols: $blockCols")
    val base = df.select(
      (col(idCol) +: blockCols.map(col)) :+ col(setCol).as("_set"): _*)
    val freq = frozenFreq.getOrElse(blockDocFreq(base, Nil))
    (freq, prefixPostings(base, idCol +: blockCols, freq, threshold))
  }

  /** All cross-frame pairs with exact Jaccard ≥ `threshold` between
    * `left` and `right` — frames of (idCol, setCol) where setCol is an
    * array<long> of DISTINCT SORTED element hashes (the q46 shingle-hash
    * contract; `sort_array(array_distinct(...))`). Returns
    * (id_l, id_r, jac). Self-pairs are the caller's concern — pass
    * disjoint frames (the incremental-ingest shape) or use
    * [[jaccardSelfJoin]] for the within-corpus dedup shape.
    *
    * `leftIndex` — a prebuilt `(freq, posts)` for the LEFT frame from
    * [[prefixIndex]] (same idCol/blockCols; built at a threshold ≤ this
    * call's — see the contracts there). When present, the prefix engine
    * probes the stored postings instead of re-exploding the left side's
    * sets, and the right side's postings are generated under the index's
    * frozen `freq`: the similarity stage's cost becomes O(right prep +
    * postings join), independent of how the left corpus grew. Both frames
    * are treated as caller-materialized (a stored index re-reads for free —
    * the leftPinned discipline). The cost-based Auto still routes per
    * block; only the left postings BUILD is skipped.
    *
    * `strategy` picks the candidate engine ([[jaccardSelfJoin]] discusses
    * the cost model; the same degeneracy applies cross-frame — on a
    * replica-dense corpus the prefix postings regenerate every true pair
    * once per shared prefix element, and the salted FULL CROSS at
    * |L|·|R| cheap pairs wins). Auto first runs the size check of
    * [[allPairsBounded]] with the work bound
    * W = Σ_b (|L_b|·E^R_b + |R_b|·E^L_b) (E = set elements; one verified
    * pair scans at most |a| + |b| of them) against the elements the prefix
    * path would post — both sides, or only the right one under
    * `leftIndex` — and runs the salted cross directly when W is within
    * [[PostCostSteps]] of them. Otherwise it builds the postings, measures
    * Σ_h n_L(h)·n_R(h) against |L_b|·|R_b| in each block (an unblocked call
    * is one block) and routes each block to its cheaper exact plan — see
    * [[joinBlockVolumes]]. That plan's output — the verified
    * (id_l, id_r, jac) rows only — is pinned through `pin`, so later reads
    * scan the pairs instead of re-running the verify; the pin's action runs
    * the plan's map stages during the call. Below the size check, with a
    * forced strategy, or under [[Pin.Off]] the output is a lazy plan.
    *
    * `blockCols` (present in BOTH frames) restricts pairs to rows agreeing
    * on every block column, exactly as on [[jaccardSelfJoin]]: block keys
    * join the posting / salt-bucket key, so no engine enumerates
    * cross-block candidates; NULL block values pair with nothing.
    */
  def jaccardJoin(
      left: DataFrame,
      leftId: String,
      right: DataFrame,
      rightId: String,
      setCol: String,
      threshold: Double,
      pin: Pin = Pin.LocalCheckpoint,
      strategy: SimilarityStrategy = SimilarityStrategy.Auto,
      buckets: Int = 8,
      blockCols: Seq[String] = Nil,
      leftPinned: Boolean = false,
      rightPinned: Boolean = false,
      leftIndex: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(leftId != rightId,
      s"left and right id columns must differ in the output (rename one): $leftId")
    require(buckets > 0, s"buckets must be positive: $buckets")
    require(!blockCols.contains(leftId) && !blockCols.contains(rightId),
      s"id columns must not appear in blockCols: $blockCols")
    leftIndex.foreach { case (f, p) =>
      require(f.columns.contains("h") && f.columns.contains("_df"),
        s"leftIndex freq needs (h, _df) — build it with prefixIndex: ${f.columns.toSeq}")
      (Seq(leftId, "_sz", "_pos", "h") ++ blockCols).foreach(c =>
        require(p.columns.contains(c),
          s"leftIndex posts is missing column '$c' — build it with prefixIndex " +
            s"over the same idCol/blockCols: ${p.columns.toSeq}"))
    }

    // pin both inputs: each side is read 3× (frequency pass, prefix pass,
    // verify join-back) and the caller's set column is typically an
    // expensive shingle+hash+sort projection — without the pin the whole
    // prep would recompute per read. `leftPinned`/`rightPinned` declare a
    // side ALREADY materialized by the caller (a checkpointed frame or a
    // stored signature index): re-pinning such a side would write a second
    // full-width copy of data that re-reads for free, so the projection is
    // left lazy over the caller's materialization instead — at index scale
    // (q248's corpus signatures) that redundant copy dominates tick cost.
    val (ls, rs) = joinSides(left, leftId, right, rightId, setCol, blockCols)
    val l = (if (leftPinned) Pin.Off else pin)(ls)
    val r = (if (rightPinned) Pin.Off else pin)(rs)

    def buildPosts(pinPosts: Boolean): (DataFrame, DataFrame) = {
      // pin the postings ONLY when they'll be read twice (Auto: cost probe
      // + candidate join); the forced prefix path reads each side once, so
      // a pin there would be pure storage overhead
      val pp: Pin = if (pinPosts) pin else Pin.Off
      leftIndex match {
        case Some((idxFreq, idxPosts)) =>
          // PREBUILT left postings under the index's FROZEN order (see
          // prefixIndex): the left side's sets are never re-exploded; the
          // right side's postings are generated under the stored freq —
          // probe elements the index never saw take df 0 via the left join
          // in prefixPostings (sort first = maximally selective, and the
          // order stays one consistent total order, so the prefix filter
          // stays lossless). Both index frames re-read for free (stored /
          // caller-pinned), so no pin on the left side.
          (idxPosts.select(
            (col(leftId).cast("long").as("_aid") +: blockCols.map(col)) ++
              Seq(col("_sz"), col("_pos"), col("h")): _*),
            pp(sidePostings(r, blockCols, idxFreq, threshold)))
        case None =>
          // pinned: the order feeds both sides' postings, and recomputing it
          // would re-read both (already pinned) sides and re-aggregate
          val freq = pin(joinFreq(l, r))
          (pp(sidePostings(l, blockCols, freq, threshold)),
            pp(sidePostings(r, blockCols, freq, threshold)))
      }
    }

    def prefixPath(posts: (DataFrame, DataFrame)): DataFrame = {
      val pa = posts._1
        .withColumnRenamed("_sz", "_asz").withColumnRenamed("_pos", "_apos")
      val pb = posts._2
        .withColumnRenamed("_sz", "_bsz").withColumnRenamed("_pos", "_bpos")
      val candidates = pa.join(pb, "h" +: blockCols)
        .filter(positionalKeep(
          col("_asz"), col("_apos"), col("_bsz"), col("_bpos"), threshold))
        .select(col("_aid"), col("_bid"))
        .distinct()
      verify(candidates, l.drop(blockCols: _*), r.drop(blockCols: _*), threshold)
    }

    // salted full cross: every (a, b) meets exactly once — b lands in one
    // id-hash bucket, a replicates to all `buckets` — and the join stays an
    // equi-join (no CartesianProduct), so AQE spreads it like any shuffle.
    // Block keys ride the join key, so the cross is per-block.
    def crossPath(lf: DataFrame, rf: DataFrame): DataFrame = {
      val rb = rf.withColumn("_g", pmod(xxhash64(col("_bid")), lit(buckets)).cast("int"))
      val lb = lf.withColumn("_g",
        explode(sequence(lit(0), lit(buckets - 1)).cast("array<int>")))
      verified(lb.join(rb, "_g" +: blockCols), threshold)
    }

    // the approximate tier (see SimilarityStrategy.MinHashLsh): band-bucket
    // candidates across the two frames + the same exact verify
    def minHashPath(bands: Int, rowsPerBand: Int): DataFrame = {
      val candidates = banded(l, "_aid" +: blockCols, "_as", bands, rowsPerBand)
        .join(banded(r, "_bid" +: blockCols, "_bs", bands, rowsPerBand),
          Seq("_band", "_bh") ++ blockCols)
        .select(col("_aid"), col("_bid"))
        .distinct()
      verify(candidates, l.drop(blockCols: _*), r.drop(blockCols: _*), threshold)
    }

    def named(df: DataFrame): DataFrame =
      df.select(col("_aid").as(leftId), col("_bid").as(rightId), col("_j").as("jac"))

    strategy match {
      case SimilarityStrategy.PrefixFilter => named(prefixPath(buildPosts(pinPosts = false)))
      case SimilarityStrategy.AllPairs => named(crossPath(l, r))
      case SimilarityStrategy.MinHashLsh(b, rr) => named(minHashPath(b, rr))
      // the size check runs first — one action, before any postings exist
      case SimilarityStrategy.Auto if allPairsBounded(
          sizeRows(l, 0, "_as", blockCols).unionAll(sizeRows(r, 1, "_bs", blockCols)),
          blockCols,
          work = col("_m0") * col("_e1") + col("_m1") * col("_e0"),
          posted = if (leftIndex.isEmpty) col("_e0") + col("_e1") else col("_e1")) =>
        named(crossPath(l, r))
      // above the size check the verify dominates the join, so every route
      // from here pins its verified pairs: later reads scan them instead of
      // re-running the verify. PER-BLOCK routing, mirroring
      // [[jaccardSelfJoin]]: the regime is a property of each block.
      case SimilarityStrategy.Auto =>
        val posts = buildPosts(pinPosts = true)
        pin(routeBlocks(crossBlockVolumes(l, r, posts, blockCols), blockCols,
          b => named(prefixPath((inBlocks(posts._1, blockCols, b), inBlocks(posts._2, blockCols, b)))),
          b => named(crossPath(inBlocks(l, blockCols, b), inBlocks(r, blockCols, b)))))
    }
  }

  /** [[jaccardJoin]]'s two side projections, (_aid, blockCols…, _as) and
    * (_bid, blockCols…, _bs).
    */
  private def joinSides(
      left: DataFrame, leftId: String, right: DataFrame, rightId: String,
      setCol: String, blockCols: Seq[String]): (DataFrame, DataFrame) = {
    def side(df: DataFrame, id: String, idAs: String, setAs: String) = df.select(
      (col(id).cast("long").as(idAs) +: blockCols.map(col)) :+ col(setCol).as(setAs): _*)
    (side(left, leftId, "_aid", "_as"), side(right, rightId, "_bid", "_bs"))
  }

  /** [[jaccardJoin]]'s global rarest-first order: document frequency over
    * BOTH sides' sets. One GLOBAL order even under blockCols: the
    * lossless-prefix proof only needs SOME consistent element order, and a
    * shared one keeps the frequency pass a single aggregation.
    */
  private def joinFreq(l: DataFrame, r: DataFrame): DataFrame =
    blockDocFreq(l.select(col("_as").as("_set")).unionAll(r.select(col("_bs").as("_set"))), Nil)

  /** Prefix postings (id, blockCols…, _sz, _pos, h) of one [[joinSides]]
    * side under the order `freq`.
    */
  private def sidePostings(
      side: DataFrame, blockCols: Seq[String], freq: DataFrame, threshold: Double): DataFrame =
    prefixPostings(side.withColumnRenamed(side.columns.last, "_set"),
      side.columns.head +: blockCols, freq, threshold)

  /** Auto's per-block router, the only one in either join. `volumes` holds
    * one row per block (blockCols…, _cp, _cb): the prefix engine's
    * candidate volume and the other exact engine's. One action counts the
    * blocks where prefix is no dearer. When every block is in one regime —
    * always so unblocked, where the frame is one block — that engine runs
    * alone; otherwise each runs on its regime's blocks (`prefix`/`other`
    * take the regime filter, None for every block) and the outputs union,
    * the same pairs either way. AQE plans the regime joins.
    */
  private def routeBlocks(
      volumes: DataFrame, blockCols: Seq[String],
      prefix: Option[DataFrame] => DataFrame,
      other: Option[DataFrame] => DataFrame): DataFrame = {
    val regimes = volumes
      .select(blockCols.map(col) :+ (col("_cp") <= col("_cb")).as("_pr"): _*)
    val Seq(nPrefix, nBlocks) = regimes
      .agg(sum(col("_pr").cast("long")), count(lit(1)))
      .head().toSeq.map(v => if (v == null) 0L else v.asInstanceOf[Long])
    if (nPrefix == nBlocks) prefix(None)
    else if (nPrefix == 0L) other(None)
    else prefix(Some(regimes.filter(col("_pr")).drop("_pr")))
      .unionAll(other(Some(regimes.filter(!col("_pr")).drop("_pr"))))
  }

  /** `df` on the blocks of a regime filter (None: every block), in its own
    * column order: the self-join's engines address columns by position. On
    * postings built under one global order it is a filter, not a rebuild.
    */
  private def inBlocks(df: DataFrame, blockCols: Seq[String], blocks: Option[DataFrame]): DataFrame =
    blocks.fold(df)(b => df.join(b, blockCols).select(df.columns.map(col): _*))

  /** Per-block cross-frame candidate volumes: `_cp` (prefix postings join
    * volume Σ_h nL·nR within the block) and `_cb` (salted full cross
    * |L_b|·|R_b|). Blocks present in only one frame produce no pairs and
    * are dropped (inner join); a block with no postings on either side
    * reads `_cp` = 0 — prefix wins trivially with an empty candidate set
    * (only empty sets emit no postings, and J(∅, X) < t for any t > 0).
    *
    * `_cp` is computed as Σ over LEFT POSTING ROWS of nR(h) — the same
    * exact integer quantity as Σ_h nL·nR, with only the (small) probe side
    * aggregated per element: the corpus-sized left postings of the indexed
    * tick stream through a runtime-broadcast join with NO left-side
    * exchange.
    */
  private def crossBlockVolumes(
      l: DataFrame, r: DataFrame,
      posts: (DataFrame, DataFrame), blockCols: Seq[String]): DataFrame = {
    val hKey = ("h" +: blockCols).map(col)
    val cp = posts._1.select(hKey: _*)
      .join(posts._2.groupBy(hKey: _*).count().withColumnRenamed("count", "_nr"),
        "h" +: blockCols)
      .groupBy(blockCols.map(col): _*)
      .agg(sum(col("_nr").cast("double")).as("_cp"))
    val cb = l.groupBy(blockCols.map(col): _*).count().withColumnRenamed("count", "_bl")
      .join(r.groupBy(blockCols.map(col): _*).count().withColumnRenamed("count", "_br"),
        blockCols.toSeq)
      .select(blockCols.map(col) :+
        (col("_bl").cast("double") * col("_br")).as("_cb"): _*)
    cb.join(cp, blockCols.toSeq, "left")
      .select(blockCols.map(col) :+ coalesce(col("_cp"), lit(0.0)).as("_cp") :+ col("_cb"): _*)
  }

  /** γ — the cost of posting one set element (explode, frequency join,
    * per-set sort, pin) in verify merge steps, the unit of the all-pairs
    * work bound. Measured warm on the sf0.1 documents' signatures
    * (lang-blocked, t = 0.5, 4 cores): 0.95 µs per posted element against
    * 0.37 µs per verified pair of ~204-element sets (at most 409 merge
    * steps), i.e. γ ≈ 1060; ≈ 890 at half the corpus. Set at about half of
    * that, so the size check only skips the probe where all-pairs is
    * clearly cheaper.
    */
  private val PostCostSteps = 500.0

  /** One row per input row for [[allPairsBounded]]: the input's `_side`
    * (0 = left or the self-join frame, 1 = right), its block columns, and
    * `_e`, the set's element count — legacy `size(null) = −1` (and a NULL
    * size under the non-legacy setting) counts as 0.
    */
  private def sizeRows(
      df: DataFrame, side: Int, setCol: String, blockCols: Seq[String]): DataFrame =
    df.select((lit(side).as("_side") +: blockCols.map(col)) :+
      greatest(size(col(setCol)), lit(0)).cast("double").as("_e"): _*)

  /** Auto's size check, run BEFORE any postings are built: true when the
    * all-pairs work bound W = Σ_b `work` is at most [[PostCostSteps]] times
    * E_post = Σ_b `posted`, the elements the prefix path would post — then
    * all-pairs costs less than the postings build alone, and the caller
    * skips the build, its pins and the volume probe. `work` and `posted`
    * are over the per-block aggregates `_m0`/`_e0` (rows and elements of
    * side 0) and `_m1`/`_e1` (side 1) of `sized` ([[sizeRows]]). Blocks
    * with a NULL block value pair with nothing, so they add to E_post but
    * not to W. One action: both sides' aggregates and the reduction to one
    * row are a single plan of 2 jobs (the per-block exchange, then the
    * result), and nothing per block reaches the driver.
    */
  private def allPairsBounded(
      sized: DataFrame, blockCols: Seq[String], work: Column, posted: Column): Boolean = {
    def onSide(side: Int, v: Column) = sum(when(col("_side") === side, v).otherwise(0.0))
    val paired = blockCols.map(col(_).isNotNull).foldLeft(lit(true))(_ && _)
    val row = sized
      .groupBy(blockCols.map(col): _*)
      .agg(onSide(0, lit(1.0)).as("_m0"), onSide(0, col("_e")).as("_e0"),
        onSide(1, lit(1.0)).as("_m1"), onSide(1, col("_e")).as("_e1"))
      // one row per block: a single partition lets the reduction to one row
      // run in the block aggregate's own stage, without a second exchange
      .coalesce(1)
      .agg(coalesce(sum(when(paired, work)), lit(0.0)), coalesce(sum(posted), lit(0.0)))
      .head()
    row.getDouble(0) <= PostCostSteps * row.getDouble(1)
  }

  /** Per-(block, element) document frequencies (blockCols…, h, _df) over
    * the sets `_set` of `base` — the one frequency pass: the block's
    * distinct element count D_b for [[prefixBounds]], and, summed over
    * blocks ([[overBlocks]]), the global rarest-first order of the postings
    * build. With no block columns it is that global order itself — the
    * order of [[prefixIndex]] and both joins, and [[dfCounts]].
    */
  private def blockDocFreq(base: DataFrame, blockCols: Seq[String]): DataFrame =
    base.select(blockCols.map(col) :+ explode(col("_set")).as("h"): _*)
      .groupBy((blockCols :+ "h").map(col): _*).agg(count(lit(1)).as("_df"))

  /** The global (h, _df) order: a [[blockDocFreq]] frame summed over blocks
    * (with no block columns, the frame itself).
    */
  private def overBlocks(freq: DataFrame, blockCols: Seq[String]): DataFrame =
    if (blockCols.isEmpty) freq
    else freq.groupBy(col("h")).agg(sum(col("_df")).as("_df"))

  /** A lower bound on each block's prefix candidate volume, computed before
    * any postings exist. Index postings are a subset of probe postings, so
    * per element n_i(h) ≤ n_p(h), and by Cauchy–Schwarz over the block's
    * D_b distinct elements
    * cp_b = Σ_h n_i·n_p/2 ≥ Σ_h n_i²/2 ≥ P_b²/(2·D_b),
    * where P_b = Σ_h n_i(h), the block's index-prefix postings, has a closed
    * form per row: min(indexLen(s), probeLen(s), s) for s > 0.
    *
    * One row per block value: `_m` (rows), `_lb` (the bound, a double for
    * reporting) and `_lbAllPairs`, true when the bound alone exceeds the
    * block's all-pairs volume m_b(m_b − 1)/2, i.e. the volume probe would
    * route the block to all-pairs. That test is P_b² > D_b·m_b(m_b − 1) in
    * exact decimal arithmetic, so no float rounding can flip a block (the
    * probe's volumes are sums of integer halves, exact in double up to
    * 2^52 ≈ 4.5·10^15 candidate pairs a block).
    * Blocks the probe's equi-joins see only in part read `_lb` = 0 and
    * never fire: a NULL block value (its postings join nothing, and the
    * probe routes it to prefix) and a NULL element (its postings drop out
    * of cp_b). One aggregate over the frame's rows and `blockFreq`'s.
    */
  private def prefixBounds(
      base: DataFrame, blockFreq: DataFrame, blockCols: Seq[String],
      threshold: Double): DataFrame = {
    val keys = blockCols.map(col)
    val s = size(col("_set"))
    def counts(m: Column, p: Column, d: Column, nullH: Column) = keys ++ Seq(
      m.cast("long").as("_m"), p.cast("long").as("_p"),
      d.cast("long").as("_d"), nullH.cast("long").as("_nh"))
    def dec(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(20, 0))
    val covered = keys.map(_.isNotNull).foldLeft(col("_nh") === 0)(_ && _)
    base.select(counts(lit(1), when(s > 0,
        least(indexLen(s, threshold), probeLen(s, threshold), s)).otherwise(0),
        lit(0), lit(0)): _*)
      .unionAll(blockFreq.select(counts(lit(0), lit(0), lit(1), col("h").isNull): _*))
      .groupBy(keys: _*)
      .agg(sum(col("_m")).as("_m"), sum(col("_p")).as("_p"),
        sum(col("_d")).as("_d"), sum(col("_nh")).as("_nh"))
      .select(keys ++ Seq(col("_m"),
        when(covered && col("_d") > 0,
          col("_p").cast("double") * col("_p") / (col("_d") * 2)).otherwise(0.0).as("_lb"),
        coalesce(covered && dec(col("_p")) * dec(col("_p")) >
          dec(col("_d")) * dec(col("_m")) * dec(col("_m") - 1), lit(false)).as("_lbAllPairs")): _*)
  }

  /** True when every block of a [[prefixBounds]] frame routes to all-pairs
    * on the bound alone — one action, reduced to one row in the block
    * aggregate's own stage.
    */
  private def boundRoutesAllPairs(bounds: DataFrame): Boolean =
    bounds.coalesce(1)
      .agg(coalesce(min(col("_lbAllPairs").cast("int")), lit(0))).head().getInt(0) == 1

  /** All WITHIN-corpus pairs with exact Jaccard ≥ `threshold` — the dedup
    * self-join shape (the single most common near-dup call). Returns
    * (id_a, id_b, jac) with id_a < id_b, each qualifying unordered pair
    * exactly once.
    *
    * TWO exact engines, chosen by `strategy` (default: cost-based Auto):
    *
    *  - [[SimilarityStrategy.PrefixFilter]] — the lossless rarest-first
    *    prefix-postings join of [[jaccardJoin]] (proof in the header applies
    *    verbatim to the self case; id ordering halves the candidate space).
    *    OUTPUT-SENSITIVE: candidate volume is Σ_h n_p(h)·(n_p(h)−1)/2 over
    *    prefix postings — near-linear on corpora where rare elements
    *    discriminate (big blocks, low dup density: the realistic 100-TB
    *    corpus), but DEGENERATE on replica-dense corpora, where every
    *    cluster member shares its whole prefix and each true pair is
    *    regenerated once per shared prefix element (measured: 2.28 G
    *    candidate occurrences for ~0.25 M true pairs on the 10×-replica
    *    sf1 stress corpus).
    *  - [[SimilarityStrategy.AllPairs]] — [[Pairs.allPairs]] salted
    *    within-block enumeration + the same early-exit verify kernel.
    *    DENSITY-INDEPENDENT: Σ_b m_b·(m_b−1)/2 pairs at ~0.2 µs each
    *    (length-prune + early-exit), quadratic in block size but immune to
    *    duplicate clustering.
    *
    * Auto first runs a size check before building any postings (one
    * aggregate over the frame — see [[allPairsBounded]]): the all-pairs
    * work bound W = Σ_b (m_b − 1)·E_b (E_b = the block's set elements; one
    * verified pair scans at most |a| + |b| of them) against [[PostCostSteps]]
    * times the elements the postings build would process. When W is
    * within that, all-pairs costs less than the build alone and runs
    * directly — the small-batch shape of the curation tick. Otherwise Auto
    * pins the per-(block, element) document frequencies and runs one more
    * action, still before any postings exist: the lower bound
    * P_b²/(2·D_b) on each block's prefix candidate volume (P_b = index-
    * prefix postings, closed-form per row; D_b = distinct elements — see
    * [[prefixBounds]]). When it exceeds the all-pairs volume
    * m_b(m_b − 1)/2 in every block (and no row has a NULL block value), the
    * probe below would send every block to all-pairs, so all-pairs runs
    * directly — the low-diversity shape of a corpus whose blocks share a
    * few thousand distinct shingles. Otherwise Auto builds the postings
    * under the global order summed from the same frequencies, measures both
    * volumes per block (one aggregation job — see [[selfJoinBlockVolumes]];
    * an unblocked call is one block) and routes each block to its cheaper
    * plan; the routing is the same as without the bound in every case. The
    * measured per-unit costs of the two engines agree
    * within ~10% (sf1 calibration: 250 M block-pairs ≈ 49 s, 2.28 G
    * candidates ≈ 500 s), so the volumes compare directly. Both engines
    * produce identical output (spec-proved), so the choice is invisible to
    * callers. Every route past the size check (the bound's all-pairs, the
    * probe's choice, the mixed per-block union) returns its verified pairs
    * pinned through `pin`: the verify is then the join's dominant cost, and
    * a caller reading the output twice would run it twice (q230 reads it
    * for its stage report and again for the survivors). The pin's action
    * runs the plan's map stages during the call. Below the size check —
    * the small-batch curation tick — with a forced strategy, or under
    * [[Pin.Off]], the output is a lazy plan.
    *
    * `blockCols` optionally restricts pairs to rows agreeing on every
    * block column (e.g. same language) — block keys join the posting /
    * pair-group key, so neither engine enumerates cross-block candidates.
    * Plain equi-join semantics: rows with a NULL block value pair with
    * nothing. `idCol` must be castable to long, unique, and non-null.
    */
  def jaccardSelfJoin(
      df: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double,
      blockCols: Seq[String] = Nil,
      pin: Pin = Pin.LocalCheckpoint,
      strategy: SimilarityStrategy = SimilarityStrategy.Auto,
      buckets: Int = 8,
      inputPinned: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(!blockCols.contains(idCol),
      s"idCol $idCol must not appear in blockCols")
    require(buckets > 0, s"buckets must be positive: $buckets")

    // base is read by every strategy 2-3× (stats/frequency pass, candidate
    // pass, verify join-back). `inputPinned` declares `df` already
    // materialized by the caller (see jaccardJoin's leftPinned): the base
    // projection then stays lazy over that materialization instead of
    // writing a redundant full-width copy.
    val base = selfBase(df, idCol, setCol, blockCols,
      if (inputPinned) Pin.Off else pin)

    // the postings table is BOTH sides of the candidate join (and the Auto
    // cost probe) — pin it so the freq-join + per-doc sort run once; built
    // lazily so a forced AllPairs run never pays the prefix prep
    def buildPost(freq: DataFrame): DataFrame = selfPost(base, blockCols, freq, threshold, pin)

    def prefixPath(post: DataFrame): DataFrame = {
      // asymmetric candidate join (see indexKeep): the pair's smaller set
      // must expose the first common element within its SHORTER index
      // prefix, so one join side is the indexKeep-filtered postings — a
      // filter over the pinned postings, not a rebuild
      val idx = post
        .toDF(("_aid" +: blockCols) ++ Seq("_asz", "_apos", "h"): _*)
        .filter(indexKeep(col("_asz"), col("_apos"), threshold))
      val candidates = idx
        .join(post.toDF(("_bid" +: blockCols) ++ Seq("_bsz", "_bpos", "h"): _*),
          "h" +: blockCols)
        // the index row must be the pair's smaller-or-equal side; equal
        // sizes canonicalize by id (which also drops self-pairs)
        .filter(col("_asz") < col("_bsz") ||
          (col("_asz") === col("_bsz") && col("_aid") < col("_bid")))
        .filter(positionalKeep(
          col("_asz"), col("_apos"), col("_bsz"), col("_bpos"), threshold))
        // for sa < sb the id order is arbitrary — canonicalize before dedup
        .select(least(col("_aid"), col("_bid")).as("_aid"),
          greatest(col("_aid"), col("_bid")).as("_bid"))
        .distinct()
      verifyCandidates(candidates)
    }

    def named(df: DataFrame): DataFrame =
      df.select(col("_aid").as("id_a"), col("_bid").as("id_b"), col("_j").as("jac"))

    // candidate id pairs, verified against the sets joined back from base
    def verifyCandidates(candidates: DataFrame): DataFrame = named(verify(candidates,
      base.select(col("_id").as("_aid"), col("_set").as("_as")),
      base.select(col("_id").as("_bid"), col("_set").as("_bs")), threshold))

    def allPairsPath(pairsBase: DataFrame): DataFrame =
      named(verified(Pairs.allPairs(pairsBase, "_id", blockCols, buckets)
        .select(col("a._id").as("_aid"), col("b._id").as("_bid"),
          col("a._set").as("_as"), col("b._set").as("_bs")), threshold))

    // the approximate tier: band-bucket candidates + the same exact verify
    // — see SimilarityStrategy.MinHashLsh for the recall contract
    def minHashPath(bands: Int, rowsPerBand: Int): DataFrame = {
      // pinned: the banded table is BOTH sides of the candidate join, and
      // the signature pass (k XXH64 probes per element) is the expensive bit
      val bandRows = pin(banded(base, "_id" +: blockCols, "_set", bands, rowsPerBand))
      val candidates = bandRows
        .toDF(("_aid" +: blockCols) ++ Seq("_band", "_bh"): _*)
        .join(bandRows.toDF(("_bid" +: blockCols) ++ Seq("_band", "_bh"): _*),
          Seq("_band", "_bh") ++ blockCols)
        .filter(col("_aid") < col("_bid"))
        .select(col("_aid"), col("_bid"))
        .distinct()
      verifyCandidates(candidates)
    }

    // the volume bound's frequencies: built only once Auto's size check has
    // not fired, and reused as the postings build's global order
    lazy val blockFreq = pin(blockDocFreq(base, blockCols))

    strategy match {
      case SimilarityStrategy.PrefixFilter => prefixPath(buildPost(blockDocFreq(base, Nil)))
      case SimilarityStrategy.AllPairs => allPairsPath(base)
      case SimilarityStrategy.MinHashLsh(b, r) => minHashPath(b, r)
      // the size check runs first — one action, before any postings exist
      case SimilarityStrategy.Auto if allPairsBounded(
          sizeRows(base, 0, "_set", blockCols), blockCols,
          work = (col("_m0") - 1) * col("_e0"), posted = col("_e0")) =>
        allPairsPath(base)
      // above the size check the verify dominates the join, so every route
      // from here pins its verified pairs: later reads scan them instead of
      // re-running the verify. Then the volume bound — one action, still
      // before any postings exist
      case SimilarityStrategy.Auto if boundRoutesAllPairs(
          prefixBounds(base, blockFreq, blockCols, threshold)) =>
        pin(allPairsPath(base))
      case SimilarityStrategy.Auto =>
        // PER-BLOCK routing: the regime is a property of each block, not of
        // the corpus — a realistic mixed corpus (one replica-dense language
        // from scraper echo, the rest sparse) would pay the worse engine on
        // half its blocks under a single global choice
        val post = buildPost(overBlocks(blockFreq, blockCols))
        pin(routeBlocks(blockVolumes(base, post, blockCols, threshold), blockCols,
          b => prefixPath(inBlocks(post, blockCols, b)),
          b => allPairsPath(inBlocks(base, blockCols, b))))
    }
  }

  /** Shared self-join prep: the projected/pinned base frame. */
  private def selfBase(
      df: DataFrame, idCol: String, setCol: String,
      blockCols: Seq[String], pin: Pin): DataFrame =
    pin(df.select(
      (col(idCol).cast("long").as("_id") +: blockCols.map(col)) :+ col(setCol).as("_set"): _*))

  /** Shared self-join prep: prefix postings over `base` under the global
    * (h, _df) order `freq` (it feeds exactly one prefixPostings call here —
    * no pin needed on it).
    */
  private def selfPost(
      base: DataFrame, blockCols: Seq[String], freq: DataFrame, threshold: Double,
      pin: Pin): DataFrame =
    pin(prefixPostings(base, "_id" +: blockCols, freq, threshold))

  /** Per-(h, block) posting counts for the prefix-engine volume estimate:
    * `_np` probe postings and `_ni` index-prefix postings (inner join — an
    * element with no index postings generates no candidates). The engine's
    * per-element join volume is nIdx·nProbe; /2 accounts for the size-order
    * split, keeping the estimate in the same pair units as the blocked
    * all-pairs volume Σ m(m−1)/2 (the calibrated ~10% per-unit agreement —
    * see [[jaccardSelfJoin]]).
    */
  private def prefixVolumeCells(
      post: DataFrame, blockCols: Seq[String], threshold: Double): DataFrame = {
    val hKey = ("h" +: blockCols).map(col)
    val np = post.groupBy(hKey: _*).count().withColumnRenamed("count", "_np")
    val ni = post.filter(indexKeep(col("_sz"), col("_pos"), threshold))
      .groupBy(hKey: _*).count().withColumnRenamed("count", "_ni")
    np.join(ni, "h" +: blockCols)
      .withColumn("_cp1", col("_ni").cast("double") * col("_np") / 2)
  }

  /** Run two INDEPENDENT driver actions concurrently (optimization guide
    * §2.6 — overlap independent jobs: Spark's scheduler happily runs
    * several jobs at once; actions are only sequential because the driver
    * calls them sequentially). `fb` runs on a pool thread while `fa` runs
    * on the caller's; results are identical to the sequential form, only
    * the wall time changes. Used for [[indexDriftReport]]'s two volume
    * measurements, bounded 1-row aggregates with no ordering dependency, and
    * for the curation tick's two similarity stages.
    *
    * `fb` runs under a copy of the caller's Spark local properties (job
    * group, description, scheduler pool, …): a pool thread otherwise keeps
    * the properties it inherited when it was created, so its jobs would
    * carry a stale group that `cancelJobGroup` misses. A copy, not the
    * caller's object, because each thread's SQL execution sets its own
    * execution id there.
    */
  private[operators] def par2[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import org.apache.spark.graftbridge.LocalProperties
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val props = LocalProperties.capture(sc)
    val f = Future(LocalProperties.withProperties(sc, props)(fb))
    val a = fa
    (a, Await.result(f, Duration.Inf))
  }

  /** PER-BLOCK candidate volumes: one row per distinct `blockCols` value
    * (exactly one with no block columns) with `_cp` (prefix-filter
    * candidate volume within the block) and `_cb` (blocked all-pairs
    * volume m(m−1)/2, a double to stay overflow-safe at any corpus size) —
    * what Auto's per-block routing compares, and what the public probes
    * report. A block whose rows emitted no postings (every set empty, or a
    * NULL block value, whose postings join nothing) reads `_cp` = 0 via the
    * left join.
    */
  private def blockVolumes(
      base: DataFrame, post: DataFrame, blockCols: Seq[String],
      threshold: Double): DataFrame = {
    val cp = prefixVolumeCells(post, blockCols, threshold)
      .groupBy(blockCols.map(col): _*)
      .agg(sum(col("_cp1")).as("_cp"))
    val cb = base.groupBy(blockCols.map(col): _*)
      .agg((count(lit(1)).cast("double") * (count(lit(1)) - 1) / 2).as("_cb"))
    cb.join(cp, blockCols.toSeq, "left")
      .select(blockCols.map(col) :+ coalesce(col("_cp"), lit(0.0)).as("_cp") :+ col("_cb"): _*)
  }

  /** Planning probe for [[jaccardSelfJoin]]: (prefix-filter candidate
    * volume, blocked all-pairs volume) on this corpus — the column sums of
    * [[selfJoinBlockVolumes]]' `prefix_volume` and `allpairs_volume`, in
    * one action. Auto compares the two per block, not summed; unblocked,
    * the frame is one block, so when neither Auto's size check nor its
    * volume bound already settles on all-pairs, Auto runs whichever is
    * smaller. Exposed so capacity planning (and the spec) can see the
    * regime a corpus is in without running either join. The probe itself
    * skips the size check and the bound: it always builds the postings.
    * The volumes are sums of integer halves, exact in double, so the sums
    * do not depend on the order they are taken in.
    */
  def selfJoinVolumes(
      df: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double,
      blockCols: Seq[String] = Nil): (Double, Double) = {
    val base = selfBase(df, idCol, setCol, blockCols, Pin.Off)
    val post = selfPost(base, blockCols, blockDocFreq(base, Nil), threshold, Pin.Off)
    val row = blockVolumes(base, post, blockCols, threshold)
      .agg(coalesce(sum(col("_cp")), lit(0.0)), coalesce(sum(col("_cb")), lit(0.0)))
      .head()
    (row.getDouble(0), row.getDouble(1))
  }

  /** Per-block planning probe: one row per distinct `blockCols` value with
    * the prefix-filter candidate volume (`prefix_volume`), Auto's lower
    * bound on it (`prefix_volume_lb`, from [[prefixBounds]]: 0 for a NULL
    * block value or a block holding a NULL element), the blocked all-pairs
    * volume (`allpairs_volume`), and the engine Auto routes that block to
    * (`engine`: "prefix" | "allpairs"). [[jaccardSelfJoin]]'s Auto runs
    * this comparison per block only when its size check has not already
    * sent the whole frame to all-pairs and `prefix_volume_lb` does not
    * exceed `allpairs_volume` in every block — so `engine` is Auto's routing
    * above the size check (where the bound, when it fires, agrees with it:
    * every block then reads "allpairs"). Exposed so capacity planning (and
    * the routing spec) can see each block's regime without running the
    * join.
    */
  def selfJoinBlockVolumes(
      df: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double,
      blockCols: Seq[String]): DataFrame = {
    require(blockCols.nonEmpty,
      "selfJoinBlockVolumes needs block columns — use selfJoinVolumes for the unblocked corpus")
    val base = selfBase(df, idCol, setCol, blockCols, Pin.Off)
    val blockFreq = blockDocFreq(base, blockCols)
    val post = selfPost(base, blockCols, overBlocks(blockFreq, blockCols), threshold, Pin.Off)
    // the bound's block keys renamed, so the NULL-safe join on them stays
    // unambiguous (both sides derive from `base`)
    val keys = blockCols.indices.map(i => s"_k$i")
    val bounds = prefixBounds(base, blockFreq, blockCols, threshold)
      .select(blockCols.zip(keys).map { case (c, k) => col(c).as(k) } :+ col("_lb"): _*)
    blockVolumes(base, post, blockCols, threshold)
      .join(bounds, blockCols.zip(keys).map { case (c, k) => col(c) <=> col(k) }.reduce(_ && _))
      .select(blockCols.map(col)
        :+ col("_cp").as("prefix_volume")
        :+ col("_lb").as("prefix_volume_lb")
        :+ col("_cb").as("allpairs_volume")
        :+ when(col("_cp") <= col("_cb"), lit("prefix")).otherwise(lit("allpairs")).as("engine"): _*)
  }

  /** Per-slice document-frequency counts (h, _df) over a frame's element
    * sets — the MERGEABLE side channel of the frozen-order contract
    * ([[prefixIndex]]): df counts sum across slices, so a tick loop keeps
    * the TRUE current frequencies without ever re-reading old slices —
    * `trueFreq = mergeDfCounts(trueFreq, dfCounts(acceptedSigs, "_h"))`
    * after each tick, starting from the build's own `freq` (which IS
    * `dfCounts` of the initial corpus). Feed it to [[indexDriftReport]] as
    * `currentFreq` so the monitor's only corpus-proportional term is the
    * postings-volume measurement itself.
    */
  def dfCounts(df: DataFrame, setCol: String): DataFrame =
    blockDocFreq(df.select(col(setCol).as("_set")), Nil)

  /** Sum two (h, _df) frames element-wise — see [[dfCounts]]. */
  def mergeDfCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("h")).agg(sum(col("_df")).as("_df"))

  /** Element-wise subtraction `a − b` for (h, _df) frames — the DELETE
    * side of the mergeable true-df feed ([[mergeDfCounts]] is the append
    * side): counts are sums, so a takedown subtracts the removed docs'
    * [[dfCounts]] EXACTLY — `trueFreq = subtractDfCounts(trueFreq,
    * dfCounts(removedSigs, "_h"))` — and the feed stays equal to a
    * recompute over the surviving corpus (without it, deleted docs
    * overcount the feed forever, silently degrading
    * [[indexDriftReport]]'s fresh-order estimate — monitor accuracy, never
    * correctness). Rows that reach exactly 0 are dropped: df 0 ≡ absent
    * (the frozen-order left join already treats unseen elements as df 0).
    * Subtracting MORE than was ever added — including a key the feed
    * never saw at all — means the caller's feed and delete set diverged;
    * that is a bug upstream, so it fails loud in-plan rather than
    * clamping/dropping and hiding it. Implemented as union-and-aggregate
    * (not a left join, which would silently DISCARD feed-absent keys
    * before the guard could see them); duplicate `h` rows on either side
    * are re-grouped first, the same shape tolerance [[mergeDfCounts]] has.
    */
  def subtractDfCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("h"), col("_df"))
      .unionByName(b.select(col("h"), (-col("_df")).as("_df")))
      .groupBy(col("h")).agg(sum(col("_df")).as("_df"))
      // per-row in-plan guard (the psiByPeriod pattern): assert_true is
      // NULL — so isNull reads true — whenever the condition holds, and
      // throws with context the moment any row violates it
      .where(assert_true(col("_df") >= 0,
        lit("subtractDfCounts: subtraction went negative — the subtracted counts " +
          "were never merged into this feed (feed and delete set diverged)")).isNull)
      .where(col("_df") > 0)

  /** DRIFT MONITOR for a frozen-order prefix index — the rebuild trigger
    * the frozen-order contract ([[prefixIndex]]) defers to the caller. The
    * contract guarantees drift can never cost correctness, only candidate
    * volume: an element that was rare at build time keeps entering prefixes
    * after it has become a hub. This probe MEASURES that cost on the
    * current corpus `df`: the prefix-engine candidate volume
    * (Σ_h nIdx(h)·n(h)/2, the exact quantity Auto's cost model routes on)
    * under the STORED order `storedFreq` versus under a FRESH rarest-first
    * order, as a 1-row report
    * (stored_volume, fresh_volume, drift_ratio, recommend_rebuild).
    *
    * `drift_ratio` = stored/fresh is the factor by which every future
    * tick's similarity stage overpays relative to a rebuilt index (stage
    * cost is candidate-volume-linear). The documented rebuild threshold is
    * `rebuildRatio` = 2: at 2× the accumulated per-tick overpayment
    * exceeds the one-off rebuild — one [[prefixIndex]] pass over the stored
    * signatures (no text re-shingling) — within a handful of ticks, and
    * below it the stored order is within noise of fresh on real corpora
    * (df ranks shift slowly under uniform growth; only a CHANGED corpus
    * mix moves the ratio). A fresh index always reads ratio ≈ 1; ratios
    * slightly below 1 are possible (rarest-first is a cost heuristic, not
    * the optimum) and never trigger.
    *
    * Cost shape: one scan of the stored signature frame per order (two
    * postings builds + two bounded aggregates — no text, no candidate
    * join, no pair enumeration); `currentFreq` (maintained mergeably via
    * [[dfCounts]]) skips the fresh-frequency aggregation. `pin` bounds the
    * re-reads when `df`'s lineage is expensive (a text-derived frame; the
    * default Off is right for a stored/parquet-backed signature index,
    * which re-reads for free — the leftPinned discipline). Run it on the
    * monitoring cadence, not per tick.
    *
    * Degenerate edges, pinned so the report can never mislead: both
    * volumes 0 (empty corpus / all-empty sets) reads ratio 1 and never
    * triggers; fresh 0 with stored > 0 (theoretically possible — posting
    * COUNTS are order-independent but index-prefix membership is not)
    * reads ratio +∞ and always triggers.
    */
  def indexDriftReport(
      df: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double,
      storedFreq: DataFrame,
      blockCols: Seq[String] = Nil,
      currentFreq: Option[DataFrame] = None,
      rebuildRatio: Double = 2.0,
      pin: Pin = Pin.Off): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(rebuildRatio >= 1.0, s"rebuildRatio must be >= 1: $rebuildRatio")
    require(storedFreq.columns.contains("h") && storedFreq.columns.contains("_df"),
      s"storedFreq needs (h, _df) — the prefixIndex freq half: ${storedFreq.columns.toSeq}")
    val spark = df.sparkSession
    val base = selfBase(df, idCol, setCol, blockCols, pin)
    val fresh = currentFreq.getOrElse(blockDocFreq(base, Nil))
    def volume(freq: DataFrame): Double =
      prefixVolumeCells(selfPost(base, blockCols, freq, threshold, Pin.Off), blockCols, threshold)
        .agg(coalesce(sum(col("_cp1")), lit(0.0))).head().getDouble(0)
    // the two volume measurements are independent single-row aggregates
    // over the same pinned/stored base — overlap them (guide §2.6); each is
    // the report's only corpus-proportional term, so this halves the
    // monitor's wall on an otherwise idle driver
    val (stored, freshV) = par2(volume(storedFreq), volume(fresh))
    val ratio =
      if (freshV > 0) stored / freshV
      else if (stored > 0) Double.PositiveInfinity
      else 1.0
    import spark.implicits._
    Seq((stored, freshV, ratio, ratio >= rebuildRatio))
      .toDF("stored_volume", "fresh_volume", "drift_ratio", "recommend_rebuild")
  }

  /** Cross-frame counterpart of [[selfJoinBlockVolumes]]: one row per
    * distinct `blockCols` value present in BOTH frames, with the prefix
    * postings join volume (`prefix_volume`), the salted full-cross volume
    * (`cross_volume`), and the engine [[jaccardJoin]]'s Auto routes that
    * block to (`engine`: "prefix" | "cross") once its size check has not
    * already sent every block to the salted cross.
    */
  def joinBlockVolumes(
      left: DataFrame,
      leftId: String,
      right: DataFrame,
      rightId: String,
      setCol: String,
      threshold: Double,
      blockCols: Seq[String]): DataFrame = {
    require(blockCols.nonEmpty,
      "joinBlockVolumes needs block columns — the unblocked comparison is global by definition")
    val (l, r) = joinSides(left, leftId, right, rightId, setCol, blockCols)
    val freq = joinFreq(l, r)
    crossBlockVolumes(l, r,
      (sidePostings(l, blockCols, freq, threshold), sidePostings(r, blockCols, freq, threshold)),
      blockCols)
      .select(blockCols.map(col)
        :+ col("_cp").as("prefix_volume")
        :+ col("_cb").as("cross_volume")
        :+ when(col("_cp") <= col("_cb"), lit("prefix")).otherwise(lit("cross")).as("engine"): _*)
  }
}
