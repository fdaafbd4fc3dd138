package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.{ShingleHash, ShingleHashes}

/** Incremental corpus curation — the PRODUCTION shape of the batch
  * curation funnel (SparkEntry q230): a standing curated corpus absorbs
  * new-batch ticks without ever re-processing itself. Each tick runs the
  * funnel's stages on the BATCH ONLY:
  *
  *   1. quality screen (per-doc pure function),
  *   2. n-gram decontamination against the benchmark set (per-doc pure
  *      function of text × bench),
  *   3. exact dedup — within-batch keep-min by content digest, then an
  *      anti-join against the corpus digest set,
  *   4. near-dup removal — cross-frame Jaccard vs the corpus
  *      ([[SimilarityJoin.jaccardJoin]] under cost-based Auto; any match
  *      rejects) plus a GREEDY-BY-RANK resolution of the within-batch
  *      pair graph ([[SimilarityJoin.jaccardSelfJoin]] Auto candidates).
  *
  * The near-dup stage is deliberately GREEDY (a doc is rejected iff it
  * matches the corpus or an ACCEPTED earlier-rank batch doc — rejected
  * docs never block anyone), because greedy sequential acceptance is the
  * unique pairwise rule that makes ticks COMPOSE: processing docs one at a
  * time in rank order, the accept/reject decision for each doc depends
  * only on the accepted set before it, so cutting the sequence into ticks
  * (each tick's ranks after every earlier tick's — the natural ingest
  * order) cannot change any decision. Two sequential ticks therefore
  * produce EXACTLY the docs of one combined tick (CurationSpec proves it
  * end-to-end, and q237's oracle recomputes a tick declaratively). The
  * batch q230 rule ("dominated by ANY smaller stage-3 survivor") is NOT
  * composable: a chain d ~ e, e ~ corpus, d !~ corpus flips d's fate
  * depending on whether e was still visible — greedy resolves it the same
  * way in every split.
  *
  * Scale shape: stages 1-3 are narrow maps + one digest aggregation + one
  * digest anti-join (32 B/row against the corpus, never payloads); stage 4
  * is the cost-based similarity machinery (bucketed candidates, never
  * all-pairs) and [[greedyDominated]]'s resolution runs on the PAIR frame
  * only — one ordered scan in a single task whose memory is the
  * rejected-id set (within-batch pairs are batch-proportional, never
  * corpus-proportional). Nothing re-reads the standing corpus except the
  * digest projection and the similarity join's own prepared side.
  */
object Curation {

  /** Greedy minimum-rank acceptance over an undirected conflict-pair
    * graph: process nodes in ascending rank; accept a node iff it is not
    * pre-rejected and no ACCEPTED smaller-rank neighbor exists. Returns the
    * REJECTED node ids (column `id`, each once) — callers anti-join
    * survivors against it; nodes with no pairs are accepted by construction
    * and never appear, unless pre-rejected.
    *
    * `pairs` carries one row per conflict in either orientation
    * (duplicates and self-pairs are harmless); a node's rank is its id,
    * cast to long. `preRejected` (column `id`) lists ids that are
    * rejected whatever their neighbors — e.g. batch docs already
    * matched against the standing corpus; they appear in the output and,
    * being rejected, never block anyone.
    *
    * Resolution is ONE ordered scan: pairs are normalized to (least,
    * greatest), each pre-rejected id adds one marker row (null, id), and a
    * single task walks the rows sorted by (b, a nulls first). When the walk
    * reaches b, every smaller node's fate is already decided, so b is
    * rejected iff a marker row or an accepted a precedes it in its group.
    * Nothing is collected to the driver and no job runs until the result
    * is read. Memory bound: the one task holds the rejected-id set (a hash
    * set of boxed longs, tens of bytes per rejected node); the pairs stream
    * through Spark's external sort, which spills.
    */
  def greedyDominated(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      preRejected: Option[DataFrame] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
    val markers = preRejected.toSeq.map(_
      .select(lit(null).cast("long").as("a"), col("id").cast("long").as("b"))
      .filter(col("b").isNotNull))
    markers.foldLeft(edges)(_ unionAll _)
      .repartition(1)
      .sortWithinPartitions(col("b"), col("a").asc_nulls_first)
      .mapPartitions(greedyWalk)
      .toDF("id")
  }

  /** The walk behind [[greedyDominated]] over rows (a, b) sorted by
    * (b, a nulls first): emits each rejected b once, at its first
    * rejecting row (a marker, or an a that was not rejected).
    */
  private def greedyWalk(rows: Iterator[org.apache.spark.sql.Row]): Iterator[Long] = {
    val rejected = scala.collection.mutable.HashSet.empty[Long]
    rows.flatMap { r =>
      val b = r.getLong(1)
      if (!rejected.contains(b) && (r.isNullAt(0) || !rejected.contains(r.getLong(0)))) {
        rejected += b
        Iterator.single(b)
      } else Iterator.empty
    }
  }

  /** The per-doc curation SIGNATURE projection — everything a tick ever
    * reads from the standing corpus: (`idCol`, `langCol`, `_dg` = sha256
    * content digest for the exact-dedup stage, `_h` = sorted distinct
    * char-`shingleN`-gram hashes for the near-dup stage). This is
    * the tick's PERSISTABLE INDEX: write it as parquet once, and every
    * subsequent [[tickIndexed]] probes it without re-reading or
    * re-shingling a byte of corpus TEXT — tick cost becomes
    * O(batch prep + index probe) instead of O(corpus re-prep). Appending is
    * row-wise (`index.unionByName(signatures(accepted))`), so the index
    * stays exact under the tick loop by construction.
    *
    * `shingleHash` is the gram → 64-bit-hash [[ShingleHash]] convention —
    * PART OF THE INDEX CONTRACT like `shingleN` (all slices and all tick
    * batches must use one). Default [[ShingleHash.XxHash64]] (fastest);
    * pass [[ShingleHash.Md5Slice]] when a second engine must re-derive the
    * element sets (the q252 oracle convention). Both run the fused
    * single-pass kernel ([[ShingleHashes.hashedCharShingles]]).
    * Distinct-set Jaccard is hash-invariant modulo collisions, so the
    * accepted output does not depend on the choice.
    */
  def signatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      shingleN: Int = 5,
      shingleHash: ShingleHash = ShingleHash.XxHash64): DataFrame =
    df.select(
      col(idCol), col(langCol),
      sha2(col(textCol), 256).as("_dg"),
      ShingleHashes.hashedCharShingles(col(textCol), shingleN, hash = shingleHash).as("_h"))

  /** The POSTINGS half of the persistable tick index — what stops the
    * similarity stage rebuilding document frequencies and corpus prefix
    * postings from `_h` every tick (the one corpus-proportional cost left
    * after [[signatures]]). Returns `(freq, posts)` per
    * [[SimilarityJoin.prefixIndex]]: `freq` = (h, _df) is the FROZEN
    * rarest-first order, `posts` = (idCol, langCol, _sz, _pos, h) the
    * corpus prefix postings under it at threshold `tau`. Persist both as
    * parquet beside the signature index and pass them to [[tickIndexed]]'s
    * `corpusPostings`; append after each tick with
    * `posts.unionByName(postingsIndex(signatures(accepted, …), …,
    * frozenFreq = Some(freq))._2)` — appended rows MUST build under the
    * stored `freq` (the frozen-order contract: drift affects candidate
    * volume only, never correctness; rebuild from signatures when volume
    * degrades). `tau` here must be ≤ every tick's `tau` (longer prefixes
    * are lossless, shorter ones drop pairs) and `idCol`/`langCol`/the
    * signatures' `shingleN` must match the tick's — contracts, not checks.
    * Deletes: [[takedown]] is the single-call form (anti-joins BOTH `posts`
    * and the signature index on the removed ids, subtracts the true-df
    * feed, and deletes the bench index); `freq` stays frozen (a deleted
    * doc's df contribution is staleness, not error — [[rebuildPostings]]
    * when the drift monitor says the staleness has accumulated a cost).
    */
  def postingsIndex(
      sig: DataFrame,
      idCol: String,
      langCol: String,
      tau: Double = 0.5,
      frozenFreq: Option[DataFrame] = None): (DataFrame, DataFrame) =
    SimilarityJoin.prefixIndex(sig, idCol, "_h", tau, Seq(langCol), frozenFreq)

  /** EXECUTABLE REBUILD for a drifted postings index — the response
    * [[indexDriftReport]]'s `recommend_rebuild` flag asks for, as a named
    * recipe instead of folklore: ONE [[postingsIndex]] pass over the
    * standing signature index (`frozenFreq = None`, so the rarest-first
    * order is re-derived from the CURRENT document frequencies) — no
    * corpus text is re-read or re-shingled; the signature index already
    * holds the element sets. Returns the fresh `(freq, posts)`; persist
    * both, REPLACING the stored halves, and thread the new `freq` as
    * `frozenFreq` into every subsequent tick's append (the frozen-order
    * contract restarts at the rebuilt order). Immediately after a rebuild
    * `indexDriftReport(index, …, frozenFreq = freshFreq)` reads
    * `drift_ratio` = 1.0 exactly — stored and fresh volumes are the same
    * measurement under the same order (CurationSpec pins it) — and decays
    * from there as the corpus drifts again.
    *
    * Cost shape: the q252 monitor class (shingle-mass linear — one
    * postings build + one frequency aggregation over the signature index),
    * paid once per rebuild on the monitoring cadence; ticks never pay it.
    */
  def rebuildPostings(
      index: DataFrame,
      idCol: String,
      langCol: String,
      tau: Double = 0.5): (DataFrame, DataFrame) =
    postingsIndex(index, idCol, langCol, tau, frozenFreq = None)

  /** APPEND the tick's accepted docs to the standing state in one call —
    * the maintenance loop every df-feed-carrying tick runs after
    * [[tickIndexed]], named (it was three hand-rolled statements in each
    * such caller — q261/q264 — and its inverse [[takedown]] was already
    * one call; loops that deliberately carry no feed, like q248's
    * pre-feed shape, stay hand-rolled and say so):
    *
    *   1. signature index: row-append the accepted docs' [[signatures]];
    *   2. stored postings: row-append the accepted docs' postings built
    *      UNDER THE FROZEN ORDER (`frozenFreq` — the [[postingsIndex]]
    *      contract; drift is cost, never correctness);
    *   3. true-df feed: [[SimilarityJoin.mergeDfCounts]] of the accepted
    *      docs' [[SimilarityJoin.dfCounts]].
    *
    * `shingleN`/`shingleHash`/`tau` must match the standing index's build
    * (the usual index contracts; [[serviceTick]] reads all three off its
    * [[ServiceState]] handle). The appended signature/postings frames
    * are pinned through `pin` (they are read per subsequent tick; the
    * merged df frame is left lazy — it re-aggregates from pinned parts).
    * [[takedown]] of exactly the appended ids inverts this call half for
    * half (CurationSpec proves the round trip lands on the original
    * state), which is what makes append/takedown a clean verb pair for a
    * standing service's ledger. The law's precondition is the tick
    * contract itself: appended ids are NEW to the standing state (unique,
    * monotone ingest ranks). Appending a COLLIDING id would put two docs'
    * rows under one key, and a later takedown of that id removes both —
    * id reuse is a caller bug everywhere in this tier, not something the
    * inverse can repair.
    */
  def appendState(
      index: DataFrame,
      posts: DataFrame,
      currentFreq: DataFrame,
      accepted: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      frozenFreq: DataFrame,
      shingleN: Int = 5,
      tau: Double = 0.5,
      shingleHash: ShingleHash = ShingleHash.XxHash64,
      pin: Pin = Pin.LocalCheckpoint): (DataFrame, DataFrame, DataFrame) = {
    val app = pin(signatures(accepted, idCol, textCol, langCol, shingleN, shingleHash))
    (
      index.unionByName(app),
      posts.unionByName(
        pin(postingsIndex(app, idCol, langCol, tau, frozenFreq = Some(frozenFreq))._2)),
      SimilarityJoin.mergeDfCounts(currentFreq, SimilarityJoin.dfCounts(app, "_h")))
  }

  /** TAKEDOWN TICK — the single-call inverse of [[appendState]] (and of
    * [[tickIndexed]]'s append side generally), composing the tier's four
    * delete contracts so a standing
    * service removes documents with one call and no state half drifts:
    *
    *   1. signature index: anti-join on the removed ids;
    *   2. stored postings: anti-join on the removed ids (postings rows are
    *      per-doc under the frozen order, so the survivors are EXACTLY the
    *      postings a fresh frozen-order build over the surviving
    *      signatures would emit — `freq` stays frozen, per the contract);
    *   3. true-df feed: [[SimilarityJoin.subtractDfCounts]] of the removed
    *      docs' [[SimilarityJoin.dfCounts]] — exact, so the feed keeps
    *      equaling a recompute over the survivors;
    *   4. benchmark index (when carried): [[Decontaminate.benchIndexDelete]]
    *      — grams anti-joined by id, cells rebuilt from survivors.
    *
    * `removedIds` is one frame carrying `idCol`; ids absent from a given
    * state half no-op there (anti-join/semi-join of nothing), so corpus
    * and benchmark takedowns share one call when they share an id
    * namespace (the q261/q264 shape — `benchIdx.idCol` must equal `idCol`
    * to be deleted here; pass `benchIdx = None` and call
    * `benchIndexDelete` separately otherwise). Returns the four updated
    * halves; N ticks + a takedown + more ticks ≡ the same sequence run
    * against a state built fresh over the surviving documents
    * (CurationSpec proves it end-to-end — greedy composability never sees
    * removed docs again, exactly as if they had been rejected upstream).
    */
  def takedown(
      index: DataFrame,
      posts: DataFrame,
      currentFreq: DataFrame,
      benchIdx: Option[Decontaminate.BenchIndex],
      removedIds: DataFrame,
      idCol: String): (DataFrame, DataFrame, DataFrame, Option[Decontaminate.BenchIndex]) = {
    require(removedIds.columns.contains(idCol),
      s"removedIds needs the id column '$idCol': ${removedIds.columns.toSeq}")
    Seq(index, posts).foreach(f => require(f.columns.contains(idCol),
      s"state frame is missing the id column '$idCol': ${f.columns.toSeq}"))
    require(index.columns.contains("_h"),
      s"index is missing '_h' — build it with Curation.signatures: ${index.columns.toSeq}")
    benchIdx.foreach(bi => require(bi.idCol == idCol,
      s"benchIdx is keyed by '${bi.idCol}' but the takedown id column is '$idCol' — " +
        "delete it separately with Decontaminate.benchIndexDelete"))
    val ids = removedIds.select(col(idCol)).distinct()
    val removedSigs = index.join(ids, Seq(idCol), "left_semi")
    (
      index.join(ids, Seq(idCol), "left_anti"),
      posts.join(ids, Seq(idCol), "left_anti"),
      SimilarityJoin.subtractDfCounts(
        currentFreq, SimilarityJoin.dfCounts(removedSigs, "_h")),
      benchIdx.map(bi => Decontaminate.benchIndexDelete(bi, removedIds)))
  }

  /** INTEGRITY AUDIT over the standing state — the fsck of the index tier.
    * The lifecycle verbs each maintain invariants by construction
    * ([[appendState]]/[[takedown]] keep postings ≡ a frozen-order build
    * over the signatures and the df feed ≡ a recompute;
    * [[Decontaminate.benchIndexGrow]]/[[benchIndexDelete]]/
    * [[benchIndexResize]] keep the bloom cells ≡ a fresh build over the
    * stored grams), and the monitors price COST drift — but nothing so far
    * VERIFIED a state that arrived over an operational seam the verbs
    * don't cover: a restore from backup, a partial parquet write, a
    * migration, a hand edit, two services appending concurrently. This
    * audit recomputes every invariant exactly and reports one row per
    * check: (check, observed, ok) with `observed` = the violation count
    * (0 ⇔ ok), so a red row localizes WHICH half drifted and by how many
    * rows:
    *
    *   - `ids_unique` — no id keys more than one signature row (id reuse
    *     is the one caller bug the verb pair can't repair — see
    *     [[appendState]]);
    *   - `postings_ids_covered` — every postings id has a signature row
    *     (observed = distinct orphaned ids);
    *   - `postings_exact` — the stored postings multiset EQUALS a fresh
    *     frozen-order build over the signature index at (`frozenFreq`,
    *     `tau`) (observed = symmetric-difference rows; covers missing,
    *     duplicated, AND corrupted rows);
    *   - `df_feed_exact` — the mergeable true-df feed equals
    *     [[SimilarityJoin.dfCounts]] recomputed over the index;
    *   - `bench_words_bounded` (with `benchIdx`) — every bloom cell's word
    *     index lies in [0, ⌈m/32⌉) (the saturation monitor's in-plan guard,
    *     audited over the stored artifact);
    *   - `bench_cells_exact` (with `benchIdx`) — the stored cells equal a
    *     fresh [[graft.functions.Bloom.cells]] build over the stored
    *     distinct grams at the handle's (m, k) — which implies the
    *     one-sidedness probe contract (no stored gram can read negative).
    *
    * `tau` and `frozenFreq` must be the stored postings' build values (the
    * usual index contracts — the audit checks the STATE against them, it
    * cannot recover them). Cost shape: the heavy checks are one postings
    * build + one df recompute over the signature index (the q252 monitor
    * class, shingle-mass linear) and one cell build over the gram table
    * (gram-linear) — an audit runs on operational cadence (after restores
    * / migrations / suspected faults), not per tick; the monitors stay the
    * scheduled cheap layer.
    */
  def auditState(
      index: DataFrame,
      posts: DataFrame,
      frozenFreq: DataFrame,
      currentFreq: DataFrame,
      benchIdx: Option[Decontaminate.BenchIndex],
      idCol: String,
      langCol: String,
      tau: Double = 0.5): DataFrame = {
    Seq(idCol, langCol, "_dg", "_h").foreach(c => require(index.columns.contains(c),
      s"index is missing column '$c' — build it with Curation.signatures"))
    Seq(idCol, langCol, "_sz", "_pos", "h").foreach(c =>
      require(posts.columns.contains(c),
        s"posts is missing column '$c' — build it with Curation.postingsIndex"))
    Seq(frozenFreq, currentFreq).foreach(f =>
      Seq("h", "_df").foreach(c => require(f.columns.contains(c),
        s"df frames need (h, _df): ${f.columns.toSeq}")))
    // the bench halves get the same loud diagnosis as the corpus frames —
    // the audit exists for states that arrived over operational seams, and
    // a restored-with-renamed-columns frame must name itself here, not die
    // as an unresolved-column error deep inside Bloom.cells/exceptAll
    benchIdx.foreach { bi =>
      require(bi.grams.columns.contains("g"),
        s"benchIdx.grams is missing column 'g' — build it with " +
          s"Decontaminate.benchIndex: ${bi.grams.columns.toSeq}")
      Seq("word", "bits").foreach(c => require(bi.bloomCells.columns.contains(c),
        s"benchIdx.bloomCells is missing column '$c' — build it with " +
          s"Bloom.cells: ${bi.bloomCells.columns.toSeq}"))
    }
    def checkRow(name: String, violations: DataFrame): DataFrame =
      violations.agg(count(lit(1)).as("observed"))
        .select(lit(name).as("check"), col("observed"), (col("observed") === 0L).as("ok"))
    // multiset symmetric-difference SIZE in one signed-count pass (r15):
    // |a∖b| + |b∖a| = Σ_row |n_a − n_b|, so one union + one group-by-all-
    // columns aggregation replaces the former two exceptAll pipelines —
    // which each re-evaluated BOTH unpinned subtrees (the fresh postings
    // build, the df recompute, the bloom cell rebuild ran TWICE per check).
    // Value-identical to counting symDiff rows: exceptAll and groupBy both
    // treat NULLs as equal, and the count is the same integer.
    def symDiffCheck(name: String, a: DataFrame, b: DataFrame): DataFrame =
      a.withColumn("_w", lit(1L)).unionAll(b.withColumn("_w", lit(-1L)))
        .groupBy(a.columns.toSeq.map(col): _*)
        .agg(sum(col("_w")).as("_net"))
        .agg(coalesce(sum(abs(col("_net"))), lit(0L)).as("observed"))
        .select(lit(name).as("check"), col("observed"), (col("observed") === 0L).as("ok"))
    val postCols = Seq(idCol, langCol, "_sz", "_pos", "h")
    val freshPosts =
      postingsIndex(index, idCol, langCol, tau, frozenFreq = Some(frozenFreq))._2
    val corpusChecks = Seq(
      checkRow("ids_unique",
        index.groupBy(col(idCol)).agg(count(lit(1)).as("_n")).where(col("_n") > 1)),
      checkRow("postings_ids_covered",
        posts.select(col(idCol)).distinct()
          .join(index.select(col(idCol)), Seq(idCol), "left_anti")),
      symDiffCheck("postings_exact",
        posts.select(postCols.map(col): _*),
        freshPosts.select(postCols.map(col): _*)),
      symDiffCheck("df_feed_exact",
        currentFreq.select(col("h"), col("_df")),
        SimilarityJoin.dfCounts(index, "_h").select(col("h"), col("_df"))))
    val benchChecks = benchIdx.toSeq.flatMap { bi =>
      val words = (bi.m + 31) / 32
      Seq(
        checkRow("bench_words_bounded",
          bi.bloomCells.where(col("word") < 0 || col("word") >= words)),
        symDiffCheck("bench_cells_exact",
          bi.bloomCells.select(col("word"), col("bits")),
          graft.functions.Bloom.cells(
            bi.grams.select(col("g")).distinct(), col("g"), bi.m, bi.k)
            .select(col("word"), col("bits"))))
    }
    (corpusChecks ++ benchChecks).reduce(_ unionAll _)
  }

  /** [[auditState]] over a live [[ServiceState]] handle — the fsck as a
    * one-call service verb (the handle carries everything the audit needs,
    * including the build `tau` it was constructed under, so the caller
    * can't pass a mismatched one; `langCol` stays a parameter because the
    * handle deliberately doesn't pin a language column — every downstream
    * verb re-validates what it reads).
    */
  def auditService(state: ServiceState, langCol: String): DataFrame =
    auditState(state.index, state.posts, state.frozenFreq, state.currentFreq,
      Some(state.benchIdx), state.benchIdx.idCol, langCol, state.tau)

  /** Drift monitor for the standing tick loop's postings index — the
    * operator that tells a user running daily ticks for a year that the
    * frozen element order has degraded their candidate volume (the
    * frozen-order contract guarantees EXACTNESS forever; this measures the
    * COST). `index` is the signature index the ticks maintain, `frozenFreq`
    * the stored [[postingsIndex]] freq half, `currentFreq` the mergeably
    * maintained true df counts (`SimilarityJoin.mergeDfCounts(freq,
    * SimilarityJoin.dfCounts(signatures(accepted, …), "_h"))` per tick —
    * omit to recompute from the index). Returns the 1-row
    * (stored_volume, fresh_volume, drift_ratio, recommend_rebuild) report;
    * at `drift_ratio` ≥ `rebuildRatio` (documented default 2: future ticks
    * overpay the similarity stage ≥ 2× vs one [[postingsIndex]] rebuild
    * over the stored signatures), run [[rebuildPostings]]. See
    * [[SimilarityJoin.indexDriftReport]] for the measurement contract.
    */
  def indexDriftReport(
      index: DataFrame,
      idCol: String,
      langCol: String,
      tau: Double,
      frozenFreq: DataFrame,
      currentFreq: Option[DataFrame] = None,
      rebuildRatio: Double = 2.0): DataFrame =
    SimilarityJoin.indexDriftReport(
      index, idCol, "_h", tau, frozenFreq, Seq(langCol), currentFreq, rebuildRatio)

  /** The standing state a STREAMING curation service carries across
    * micro-batches — the driver-held handle a `foreachBatch` loop reads
    * and [[serviceTick]] mutates: the signature index, the stored postings
    * under the frozen order `frozenFreq`, the mergeable true-df feed, the
    * benchmark [[Decontaminate.BenchIndex]], and the high-water ingest
    * rank (the executable form of the tick contract's monotone-rank
    * premise). Mutable BY DESIGN: Structured Streaming's `foreachBatch` is
    * Spark's own seam for exactly this shape — per-micro-batch batch code
    * against driver-held state (each half stays a lazily-planned,
    * pin-backed DataFrame; nothing event-sized lives on the driver). A
    * production service checkpoints the handle on a cadence with
    * [[persistServiceState]] (generation dirs, ledger-committed) and
    * rebuilds it at restart with [[restoreServiceState]] — every half is
    * already the persistable artifact its tier defined. Built by
    * [[serviceState]]; [[serviceTakedown]] is the delete verb on the same
    * handle.
    */
  final class ServiceState private[Curation] (
      @volatile var index: DataFrame,
      @volatile var posts: DataFrame,
      val frozenFreq: DataFrame,
      @volatile var currentFreq: DataFrame,
      @volatile var benchIdx: Decontaminate.BenchIndex,
      @volatile var maxRank: Long,
      @volatile var lastBatchId: Long = Long.MinValue,
      // build conventions: [[serviceTick]] ticks under these (and the
      // benchIdx's gram size n), never under caller-passed values —
      // postings built at one (tau, shingleN, hash) probed at another
      // produce a WRONG accepted set with no error possible from the stored
      // rows alone
      val tau: Double = 0.5,
      val shingleN: Int = 5,
      val shingleHash: ShingleHash = ShingleHash.XxHash64)

  /** Build a [[ServiceState]] at service start — the q261 service-start
    * shape as one call: corpus [[signatures]] + frozen-order
    * [[postingsIndex]] (its freq doubles as the df feed's initial value —
    * it IS `dfCounts` of the corpus) + a [[Decontaminate.benchIndex]]
    * sized by `Bloom.sizeFor` over the benchmark's distinct gram count at
    * `targetFpp`, + the corpus' max ingest rank. Three bounded driver
    * actions (gram count for the sizing, max rank, and the pins) — all
    * service-start cost, never per batch.
    */
  def serviceState(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      decontN: Int = 4,
      shingleN: Int = 5,
      tau: Double = 0.5,
      targetFpp: Double = 0.001,
      shingleHash: ShingleHash = ShingleHash.XxHash64,
      pin: Pin = Pin.LocalCheckpoint): ServiceState = {
    val idx = pin(signatures(corpus, idCol, textCol, langCol, shingleN, shingleHash))
    val (freqRaw, postsRaw) = postingsIndex(idx, idCol, langCol, tau)
    val freq = pin(freqRaw)
    val posts = pin(postsRaw)
    // gram once, size from the same frame, build cells from it — the
    // benchIndexSized contract (a hand-rolled sizing count here would scan
    // the benchmark text twice and drift if the gram recipe changed)
    val bi = Decontaminate.benchIndexSized(
      bench, idCol, textCol, decontN, targetFpp, pin)
    val maxRank = maxIdRank(idx, idCol, "serviceState")
    // the df feed starts AS the frozen build's freq (it is dfCounts of the
    // corpus); appendState replaces rather than mutates, so one pinned
    // frame serves both roles
    new ServiceState(idx, posts, freq, freq, bi, maxRank,
      tau = tau, shingleN = shingleN, shingleHash = shingleHash)
  }

  /** The max ingest rank of a signature index: the max of `idCol` as a
    * long, or Long.MinValue for an empty index. One bounded driver
    * aggregate, which also fails loud when any id is NULL or not castable
    * to long.
    */
  private def maxIdRank(index: DataFrame, idCol: String, caller: String): Long = {
    val mr = index.agg(
      count(lit(1)).as("n"),
      count(col(idCol).cast("long")).as("nc"),
      max(col(idCol).cast("long")).as("mx")).head()
    require(mr.getLong(0) == mr.getLong(1),
      s"$caller: ${mr.getLong(0) - mr.getLong(1)} of ${mr.getLong(0)} ids " +
        s"in '$idCol' are NULL or not castable to long — the service rank contract " +
        "needs long-castable, unique, monotone ingest ids")
    if (mr.getLong(0) == 0L) Long.MinValue else mr.getLong(2)
  }

  /** REBUILD a [[ServiceState]] from persisted halves — the restart verb
    * (the handle doc's "restart = rebuild the handle from parquet", made
    * executable): pass the five frames back (each half is already the
    * persistable artifact its tier defined — read them with
    * `spark.read.parquet`), plus the two scalars a restart ledger should
    * carry beside them:
    *
    *   - `maxRank` — the high-water ingest rank. Persist it (a 1-row
    *     ledger beside the frames); when absent it is recomputed from the
    *     index, which UNDERSTATES it (rejected docs consumed ranks too).
    *     That understatement is SAFE for the accepted set: a re-offered
    *     previously-REJECTED rank re-rejects identically (greedy decisions
    *     depend only on accepted predecessors — the object header), and a
    *     re-offered ACCEPTED rank is the id-collision bug the tier
    *     documents everywhere. The recomputed mark still rejects
    *     feed replays older than the last accepted doc.
    *   - `lastBatchId` — the at-least-once skip watermark. Persist it with
    *     the state IF the state is checkpointed mid-stream (a crash
    *     between a tick and its offset commit re-delivers that batch; the
    *     skip needs the id to recognize it). Defaults to MinValue (process
    *     everything the source re-delivers — correct whenever the state
    *     was persisted at a batch boundary the source also committed).
    *
    * One bounded driver aggregate (the recomputed mark) when `maxRank` is
    * absent; zero jobs otherwise. CurationSpec proves a mid-loop persist →
    * restore → continue run lands on the combined-tick output with a
    * clean audit.
    */
  def restoreServiceState(
      index: DataFrame,
      posts: DataFrame,
      frozenFreq: DataFrame,
      currentFreq: DataFrame,
      benchIdx: Decontaminate.BenchIndex,
      idCol: String,
      maxRank: Option[Long] = None,
      lastBatchId: Long = Long.MinValue,
      tau: Double = 0.5,
      shingleN: Int = 5,
      shingleHash: ShingleHash = ShingleHash.XxHash64): ServiceState = {
    // id/_dg/_h only — langCol varies by deployment and every downstream
    // verb re-validates what it reads
    Seq(idCol, "_dg", "_h").foreach(c => require(index.columns.contains(c),
      s"index is missing column '$c' — persist Curation.signatures output"))
    val mark = maxRank.getOrElse(maxIdRank(index, idCol, "restoreServiceState"))
    new ServiceState(index, posts, frozenFreq, currentFreq, benchIdx, mark, lastBatchId,
      tau = tau, shingleN = shingleN, shingleHash = shingleHash)
  }

  /** PERSIST a [[ServiceState]] to `dir` — the checkpoint half of the
    * restart verb pair ([[restoreServiceState]] is the other half, and its
    * `(spark, dir, pin)` overload reads this layout back). Each
    * call writes a fresh GENERATION directory `dir/gen=<k>` holding the
    * six state frames as parquet (`index`, `posts`, `freq`, `cur`,
    * `bench_grams`, `bench_cells`) and — written LAST — a 1-row `ledger`
    * parquet carrying the two restart scalars (max_rank, last_batch_id)
    * plus the build conventions (tau, shingle_n, hash_tag = the
    * [[ShingleHash]] name, id_col, bench_n, bench_m, bench_k). The ledger
    * is the COMMIT RECORD: a crash mid-persist leaves a generation WITHOUT
    * a committed ledger, which restore skips — the prior complete
    * generation stays restorable, so no rename dance is needed (completeness = "the last-written artifact
    * is readable", checked by reading the 1-row ledger back — NOT by the
    * `_SUCCESS` marker, which a deployment may disable via
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`). Generations
    * OLDER than the newly committed one are pruned after the commit
    * (keep-1: the just-committed state is the restore point; a crash
    * between commit and prune leaves extra complete generations, which is
    * only disk — restore always picks the highest committed one).
    * Returns the committed generation number.
    *
    * Cost: six parquet writes of the state frames (index/postings are
    * corpus-proportional — this is a CHECKPOINT-CADENCE verb, not a
    * per-tick one) plus a 1-row ledger write and a bounded listing.
    */
  /** Parse a generation-directory NAME to its number — `gen=<digits>` only.
    * A stray non-numeric entry under the checkpoint root (an editor backup
    * dir, a `gen=tmp` scratch) is IGNORED rather than crashing both restart
    * verbs with a NumberFormatException.
    */
  private def genNumber(name: String): Option[Long] = {
    val s = name.stripPrefix("gen=")
    if (name.startsWith("gen=") && s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong)
    else None
  }

  /** A generation's commit check: can the 1-row ledger parquet actually be
    * READ? Checking the `_SUCCESS` marker alone would make every checkpoint
    * invisible to restore on a deployment that writes with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`; reading the
    * row is the portable "written LAST and complete" test (a crash-partial
    * ledger dir fails the read and the generation is skipped, same as
    * before).
    */
  private def ledgerCommitted(
      spark: org.apache.spark.sql.SparkSession, ledgerDir: String): Boolean =
    scala.util.Try(spark.read.parquet(ledgerDir).head()).isSuccess

  def persistServiceState(state: ServiceState, dir: String): Long = {
    val spark = state.index.sparkSession
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens: Seq[Long] =
      if (fs.exists(root))
        fs.listStatus(root).toSeq.map(_.getPath.getName)
          .flatMap(genNumber)
      else Seq.empty
    val gen = if (gens.isEmpty) 0L else gens.max + 1L
    val gdir = s"$dir/gen=$gen"
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$gdir/$name")
    save(state.index, "index")
    save(state.posts, "posts")
    save(state.frozenFreq, "freq")
    save(state.currentFreq, "cur")
    save(state.benchIdx.grams, "bench_grams")
    save(state.benchIdx.bloomCells, "bench_cells")
    // ledger LAST — writing it is what commits the generation
    import spark.implicits._
    Seq((state.maxRank, state.lastBatchId, state.tau, state.shingleN,
        state.shingleHash.name, state.benchIdx.idCol, state.benchIdx.n,
        state.benchIdx.m, state.benchIdx.k))
      .toDF("max_rank", "last_batch_id", "tau", "shingle_n", "hash_tag",
        "id_col", "bench_n", "bench_m", "bench_k")
      .coalesce(1).write.mode("overwrite").parquet(s"$gdir/ledger")
    gens.foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/gen=$g"), true))
    gen
  }

  /** REBUILD a [[ServiceState]] from a [[persistServiceState]] directory —
    * the self-describing restore: picks the highest COMMITTED generation
    * (one whose ledger, written last, reads back as a row — marker-file
    * independent; a crash-truncated partial generation is skipped by
    * construction),
    * reads the scalars and build conventions from the ledger — the hash
    * through [[ShingleHash.fromName]], which fails loud on a name it does
    * not know (a ledger written before the closed type holds expression
    * text there) — and loads the six frames.
    *
    * The loaded frames are PINNED (`pin`, explicit because Scala allows
    * default arguments on only one `restoreServiceState` overload — pass
    * [[Pin.LocalCheckpoint]] unless you need another): the handle must
    * not stay lazily bound to the generation's files, because the NEXT
    * [[persistServiceState]] prunes older generations after committing —
    * an unpinned handle would be reading paths its own checkpoint just
    * deleted.
    */
  def restoreServiceState(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      pin: Pin): ServiceState = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"restoreServiceState: no persisted state at $dir")
    val committed = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .flatMap(genNumber)
      .filter(g => ledgerCommitted(spark, s"$dir/gen=$g/ledger"))
    require(committed.nonEmpty,
      s"restoreServiceState: no COMMITTED generation under $dir — a generation " +
        "commits by its ledger (written last); only crash-truncated partials exist")
    val gdir = s"$dir/gen=${committed.max}"
    val led = spark.read.parquet(s"$gdir/ledger").head()
    val hash = ShingleHash.fromName(led.getAs[String]("hash_tag"))
    def load(name: String) = pin(spark.read.parquet(s"$gdir/$name"))
    val bi = Decontaminate.BenchIndex(
      load("bench_grams"), load("bench_cells"), led.getAs[String]("id_col"),
      led.getAs[Int]("bench_n"), led.getAs[Int]("bench_m"), led.getAs[Int]("bench_k"))
    new ServiceState(
      load("index"), load("posts"), load("freq"), load("cur"), bi,
      led.getAs[Long]("max_rank"), led.getAs[Long]("last_batch_id"),
      tau = led.getAs[Double]("tau"), shingleN = led.getAs[Int]("shingle_n"),
      shingleHash = hash)
  }

  /** One STREAMING service micro-batch — the `foreachBatch` body of a
    * standing curation service (`stream.writeStream.foreachBatch { (df, _)
    * => sink(Curation.serviceTick(state, df, …)) }`): run [[tickIndexed]]
    * on the batch against the standing state (stage 2 probing the stored
    * bloom, stage 4 the stored postings — nothing corpus- or
    * bench-proportional rebuilt), [[appendState]] the accepted docs, and
    * advance the high-water rank. Returns the PINNED accepted rows for
    * the caller's sink. The tick runs under the handle's build conventions
    * — `state.tau`, `state.shingleN`, `state.shingleHash` and the bench
    * index's gram size `state.benchIdx.n` — so a probe can never disagree
    * with the stored postings it reads.
    *
    * The monotone-rank guard is the tick contract made EXECUTABLE: greedy
    * composability (the object header) requires every batch's ranks to
    * follow every earlier batch's, and a streaming source replaying or
    * reordering its feed would violate that silently — so a batch whose
    * min rank does not exceed the state's high-water mark fails loud
    * instead of producing an accepted set no combined run would. NULL or
    * non-long-castable ids fail loud too (under non-ANSI SQL the cast
    * yields NULL, and an unchecked guard would silently treat the batch
    * as empty). The guard is one bounded aggregate per batch; an empty
    * batch no-ops. Micro-batch BOUNDARIES, by contrast, never matter:
    * ticks compose, so any arrival slicing yields the combined-run
    * output — CurationSpec proves the streaming loop ≡ one combined tick
    * end-to-end.
    *
    * `batchId` — pass foreachBatch's second argument. Structured
    * Streaming is at-least-once per micro-batch: a failure after the tick
    * ran but before the offset commit re-delivers the SAME batch on
    * restart, and without the id the rank guard would then wedge the
    * service permanently (the re-delivery looks exactly like a feed
    * replay). An already-seen batchId skips as already-applied — the
    * canonical foreachBatch idempotence discipline; the rank guard keeps
    * catching true feed replays, which arrive under a NEW batchId.
    */
  def serviceTick(
      state: ServiceState,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      quality: Column,
      minQuality: Double = 0.5,
      decontShared: Int = 5,
      strategy: SimilarityStrategy = SimilarityStrategy.Auto,
      pin: Pin = Pin.LocalCheckpoint,
      batchId: Option[Long] = None): DataFrame = {
    // at-least-once idempotence (the canonical foreachBatch discipline):
    // Structured Streaming may re-deliver a micro-batch whose effects were
    // already applied (failure after the tick, before the offset commit) —
    // an already-seen batchId SKIPS instead of wedging on the rank guard
    // below (which exists for true FEED replays, a different fault)
    if (batchId.exists(_ <= state.lastBatchId)) return batch.limit(0)
    val mm = batch.agg(
      count(lit(1)).as("n"),
      count(col(idCol).cast("long")).as("nc"),
      min(col(idCol).cast("long")).as("mn"),
      max(col(idCol).cast("long")).as("mx"),
      count_distinct(col(idCol).cast("long")).as("nd")).head()
    if (mm.getLong(0) == 0L) {
      batchId.foreach(id => state.lastBatchId = id)
      return batch.limit(0)
    }
    // fail loud on NULL / non-long-castable ids: under non-ANSI SQL the
    // cast yields NULL and an unchecked guard would silently treat the
    // whole batch as empty — dropping every document without error
    require(mm.getLong(0) == mm.getLong(1),
      s"serviceTick: ${mm.getLong(0) - mm.getLong(1)} of ${mm.getLong(0)} batch ids in " +
        s"'$idCol' are NULL or not castable to long — the service rank contract needs " +
        "long-castable, unique, monotone ingest ids")
    // intra-batch uniqueness: duplicate ids would BOTH survive stage-3
    // keep-min (each equals the min) and appendState would then write
    // duplicate signature rows — silently corrupting the standing state
    // until a later auditState run flags ids_unique
    require(mm.getLong(1) == mm.getLong(4),
      s"serviceTick: batch has ${mm.getLong(1) - mm.getLong(4)} duplicate ids in " +
        s"'$idCol' — the service rank contract needs unique ingest ids (duplicates " +
        "would each survive keep-min dedup and corrupt the standing index)")
    require(mm.getLong(2) > state.maxRank,
      s"serviceTick: batch min rank ${mm.getLong(2)} does not exceed the state's " +
        s"high-water rank ${state.maxRank} — the feed replayed or reordered ingest " +
        "ranks, which breaks greedy tick composability (the tick contract)")
    val accepted = pin(tickIndexed(
      state.index, batch, batch.limit(0) /* ignored: benchIdx carries the set */,
      idCol, textCol, langCol, quality, minQuality, state.benchIdx.n, decontShared,
      state.shingleN, state.tau, pin, indexPinned = true,
      corpusPostings = Some((state.frozenFreq, state.posts)),
      strategy = strategy, benchIdx = Some(state.benchIdx),
      shingleHash = state.shingleHash))
    val (i2, p2, f2) = appendState(
      state.index, state.posts, state.currentFreq, accepted,
      idCol, textCol, langCol, state.frozenFreq, state.shingleN, state.tau,
      state.shingleHash, pin)
    state.index = i2
    state.posts = p2
    state.currentFreq = f2
    state.maxRank = mm.getLong(3)
    batchId.foreach(id => state.lastBatchId = id)
    accepted
  }

  /** [[takedown]] on the streaming handle — mutates every state half in
    * place (the delete verb beside [[serviceTick]]'s append; the rank
    * high-water mark deliberately does NOT rewind: removed ranks stay
    * consumed, because re-ingesting an old id is the id-reuse bug the
    * tier documents, not a supported resurrection path — a re-admitted
    * document arrives as a NEW rank like any other mutation).
    */
  def serviceTakedown(
      state: ServiceState, removedIds: DataFrame, idCol: String,
      pin: Pin = Pin.LocalCheckpoint): Unit = {
    val (i2, p2, f2, b2) = takedown(
      state.index, state.posts, state.currentFreq, Some(state.benchIdx),
      removedIds, idCol)
    state.index = pin(i2)
    state.posts = pin(p2)
    state.currentFreq = pin(f2)
    // the rebuilt bench halves pin too: benchIndexDelete's cells are a
    // full gram-proportional rebuild, and an unpinned handle would re-run
    // it inside EVERY subsequent tick's stage-2 probe (against
    // serviceTick's nothing-bench-proportional-per-tick contract)
    val bi2 = b2.get
    state.benchIdx = bi2.copy(grams = pin(bi2.grams), bloomCells = pin(bi2.bloomCells))
  }

  /** One curation tick: run the funnel stages on `batch` against the
    * standing `corpus` and `bench`, returning the ACCEPTED batch rows
    * (original columns). The caller appends them to the corpus for the
    * next tick (`corpus.unionByName(accepted)`); two sequential ticks give
    * exactly one combined tick's output when ranks (ids) are monotone
    * across ticks — see the object header for why.
    *
    * `quality` is the per-row score expression (e.g.
    * `TextFunctions.qualityScore(col("text"), stopwords)`); docs below
    * `minQuality` drop at stage 1. Decontamination drops docs sharing
    * ≥ `decontShared` distinct word-`decontN`-grams with `bench`. Near-dup
    * is exact char-`shingleN`-gram Jaccard ≥ `tau`, blocked on `langCol`.
    * `idCol` must be castable to long, unique, non-null, and is the greedy
    * RANK (ingest order).
    *
    * Implementation: builds the corpus [[signatures]] inline and delegates
    * to [[tickIndexed]] — the indexed form IS the tick, by construction.
    * Production loops should build the index once and call [[tickIndexed]]
    * directly.
    */
  def tick(
      corpus: DataFrame,
      batch: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      quality: Column,
      minQuality: Double = 0.5,
      decontN: Int = 4,
      decontShared: Int = 5,
      shingleN: Int = 5,
      tau: Double = 0.5,
      pin: Pin = Pin.LocalCheckpoint,
      strategy: SimilarityStrategy = SimilarityStrategy.Auto,
      shingleHash: ShingleHash = ShingleHash.XxHash64): DataFrame =
    tickIndexed(
      signatures(corpus, idCol, textCol, langCol, shingleN, shingleHash),
      batch, bench, idCol, textCol, langCol, quality,
      minQuality, decontN, decontShared, shingleN, tau, pin,
      strategy = strategy, shingleHash = shingleHash)

  /** [[tick]] against a prebuilt corpus signature `index` (the
    * [[signatures]] schema) instead of the corpus itself — the production
    * shape of the tick loop at scale: the standing corpus' text is never
    * re-read; stage 3 anti-joins the index's 32-byte digests and stage 4's
    * cross-frame similarity join takes the index's shingle-hash arrays as
    * its prepared corpus side. The caller owns index maintenance:
    * `index = index.unionByName(signatures(accepted, ...))` after each
    * tick (CurationSpec proves the indexed loop ≡ the one-combined-tick
    * output, and SparkEntry q248 gates it against the q237 oracle).
    *
    * `shingleN` and `shingleHash` must match the index's build — a
    * mismatch makes the batch and corpus shingle spaces incomparable (no
    * error is possible from the hashes alone, so this is a CONTRACT,
    * documented rather than checked; [[serviceTick]] reads both off its
    * handle).
    *
    * `corpusPostings` — the persistable `(freq, posts)` from
    * [[postingsIndex]] (same idCol/langCol, tau ≤ this tick's): the
    * cross-frame near-dup stage then probes the stored postings instead of
    * re-exploding the index's shingle arrays, making the whole tick
    * O(batch prep + index probe) — nothing corpus-proportional is rebuilt.
    * Output is IDENTICAL with or without it (frozen-order losslessness;
    * CurationSpec proves it end-to-end).
    *
    * `benchIdx` — the persistable [[Decontaminate.BenchIndex]] (grams +
    * bloom cells at its (m, k), built with `n` = this tick's `decontN`):
    * stage 2 then probes the STORED bloom table and gram table instead of
    * rebuilding the driver-side bloom from `bench` each tick — the last
    * per-tick rebuild gone (it was bench-proportional, not
    * corpus-proportional, but a standing service stores its benchmark set
    * once and OR-merges growth). `bench` is ignored when present. Output
    * is IDENTICAL with or without it (Bloom one-sidedness + exact verify;
    * CurationSpec proves it end-to-end).
    *
    * `strategy` — the similarity engine for BOTH near-dup joins (corpus
    * cross-frame and within-batch self). Default Auto = exact, cost-routed
    * per block. Passing [[SimilarityStrategy.MinHashLsh]] (sized to `tau` —
    * see its recall contract) buys the approximate tier for τ-low 100-TB
    * ticks: strictly FEWER near-dup rejections (missed pairs admit docs an
    * exact tick would reject), never a wrongly-rejected doc, since every
    * candidate still passes the exact Jaccard verify.
    */
  def tickIndexed(
      index: DataFrame,
      batch: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      quality: Column,
      minQuality: Double = 0.5,
      decontN: Int = 4,
      decontShared: Int = 5,
      shingleN: Int = 5,
      tau: Double = 0.5,
      pin: Pin = Pin.LocalCheckpoint,
      indexPinned: Boolean = false,
      corpusPostings: Option[(DataFrame, DataFrame)] = None,
      strategy: SimilarityStrategy = SimilarityStrategy.Auto,
      benchIdx: Option[Decontaminate.BenchIndex] = None,
      shingleHash: ShingleHash = ShingleHash.XxHash64): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1]: $tau")
    require(minQuality >= 0.0, s"minQuality must be non-negative: $minQuality")
    require(idCol != "_cid", "idCol '_cid' clashes with the tick's working column")
    Seq(idCol, langCol, "_dg", "_h").foreach(c =>
      require(index.columns.contains(c),
        s"index is missing column '$c' — build it with Curation.signatures"))

    // stage 1 — quality screen (per-doc, trivially tick-composable)
    val s1 = batch.filter(quality >= minQuality)

    // stage 2 — decontamination (per-doc function of text × bench);
    // a stored BenchIndex replaces the per-tick driver-bloom rebuild
    benchIdx.foreach(bi => require(bi.n == decontN,
      s"benchIdx was built at gram size n=${bi.n} but this tick's decontN=$decontN — " +
        "a mismatch silently underreports shared grams; rebuild the index at decontN"))
    val contaminated = (benchIdx match {
      case Some(bi) => Decontaminate.sharedGramCountsIndexed(s1, bi, idCol, textCol)
      case None => Decontaminate.sharedGramCounts(s1, bench, idCol, textCol, decontN)
    })
      .filter(col("shared_grams") >= decontShared)
      .select(col(idCol))
    val s2 = s1.join(broadcast(contaminated), Seq(idCol), "left_anti")

    // stage 3 — exact dedup: keep-min within the batch by content digest,
    // then drop anything whose digest the index already holds (the batch
    // analog of StreamOps.dedupByDigest: 32-byte digests shuffle, payloads
    // don't). Null-safe digest grouping mirrors q230's <=> keep-key join;
    // the corpus anti-join is === so a null-text batch doc (null digest)
    // is never corpus-matched, exactly as when digests came from raw text.
    val dg = sha2(col(textCol), 256)
    val keepMin = s2.groupBy(dg.as("_ctext")).agg(min(col(idCol)).as("_keep"))
    // no distinct() on the anti-join's right side: EXISTS semantics ignore
    // duplicate digests, and the distinct cost a corpus-sized exchange +
    // aggregation PER TICK for nothing (r15; output provably identical)
    val s3 = pin(s2
      .join(keepMin, dg <=> col("_ctext"))
      .filter(col(idCol) === col("_keep")).drop("_ctext", "_keep")
      .join(index.select(col("_dg").as("_ctext")),
        dg === col("_ctext"), "left_anti"))

    // stage 4 — near-dup: shingle the batch survivors once (column pruning
    // drops the signature digest — only `_h` is computed here), under the
    // index build's shingleN and shingleHash...
    val batchSh = pin(signatures(s3, idCol, textCol, langCol, shingleN, shingleHash).drop("_dg"))
    // ...reject any batch doc matching the standing corpus (corpus docs
    // outrank every batch doc — cost-based cross-frame join, lang-blocked,
    // corpus side straight from the index, postings straight from the
    // stored half when the caller carries one), and enumerate the
    // within-batch pair graph over the same batchSh. Both stages read only
    // the pinned batchSh and the standing state, so their construction-time
    // jobs run overlapped (par2): each Auto's size check, then — only where
    // that check does not settle on all-pairs — its postings pins and cost
    // probes.
    // `indexPinned` (a stored/checkpointed index) and the just-pinned
    // batchSh skip the joins' internal re-pins — the prep projections stay
    // lazy over the existing materializations instead of writing full-width
    // copies (at sf1 the corpus signature copy alone is GBs per tick).
    val (corpusMatched, selfPairs) = SimilarityJoin.par2(
      SimilarityJoin
        .jaccardJoin(
          index.select(col(idCol).as("_cid"), col(langCol), col("_h")), "_cid",
          batchSh, idCol, "_h", tau, pin = pin, blockCols = Seq(langCol),
          strategy = strategy,
          leftPinned = indexPinned, rightPinned = true,
          leftIndex = corpusPostings.map { case (f, p) =>
            (f, p.withColumnRenamed(idCol, "_cid")) })
        .select(col(idCol)),
      SimilarityJoin.jaccardSelfJoin(batchSh, idCol, "_h", tau, blockCols = Seq(langCol),
        pin = pin, strategy = strategy, inputPinned = true))
    // ...then greedily resolve the within-batch pair graph with the
    // corpus-matched docs pre-rejected. Rejected docs never block (that is
    // what makes ticks compose), so edges touching a corpus-matched doc
    // change no decision: the result equals resolving only the docs that
    // survived the corpus check. Both frames are read once, by this scan.
    val rejected = greedyDominated(selfPairs, "id_a", "id_b",
      preRejected = Some(corpusMatched.withColumnRenamed(idCol, "id")))
      .withColumnRenamed("id", idCol)
    s3.join(broadcast(rejected), Seq(idCol), "left_anti")
  }
}
