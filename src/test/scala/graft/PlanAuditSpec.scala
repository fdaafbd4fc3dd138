package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-catalog physical-plan audit: every declared batch query is planned
  * at sf0.001 and swept for the two operators that do not survive a 100×
  * scale-up — CartesianProduct and BroadcastNestedLoopJoin — so a future
  * query (or a join-condition typo that silently degrades an equi-join)
  * fails here before it ships. Streaming queries are skipped: building
  * their DataFrame executes the replay, and their stateful plans are
  * asserted separately in StreamOpsSpec.
  *
  * Allowlisted BroadcastNestedLoopJoin uses, each deliberate:
  *  - brute-force kNN family (q14/q18/q47/q59/q151): broadcast query side ×
  *    STREAMED corpus — the corpus is never shuffled or materialized, which
  *    is the correct exact-baseline shape (VERDICT r1 §LLM table);
  *  - q29: the size-gated exact path engages below the LSH cutover at this
  *    tiny sf (the sf0.1 declared plan is the bucketed equi-join, asserted
  *    in PlanSpec);
  *  - q45/q51/q62/q70/q79/q94/q106/q108: a crossJoin binding one broadcast
  *    1-ROW aggregate frame (IVF cell count / BM25 corpus stats / unigram
  *    total / decile cuts / histogram min-max / recency anchor / TF-IDF doc
  *    count / kappa marginal product) — a scalar bind, not a pairwise
  *    product;
  *  - q102: the chi-square R×C expected-count grid is the product of two
  *    AGGREGATE frames (row/column marginals, ≤ tens of rows each) plus a
  *    1-row total bind — bounded by category cardinalities, not input size;
  *  - q152: the densification spine is the grid of two AGGREGATE frames
  *    (selected users × distinct days) — the intended dense output shape,
  *    not a pairwise product over inputs;
  *  - q21: the rolling-origin fold spec (k=5 rows) broadcast-range-joined
  *    against the calendar-bounded daily series — a constant × bounded
  *    product, not input-cardinality pairwise work.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.Sf

  private val nljAllowed = Set(
    "q14_knn_bruteforce", "q18_knn_classify", "q47_knn_confusion",
    "q59_quantized_knn", "q151_knn_regression", "q29_embedding_neardups",
    "q45_ann_ivf", "q51_bm25_search", "q62_surprisal", "q70_quality_deciles",
    "q79_histogram", "q94_user_features", "q102_chi_square",
    "q106_tfidf_terms", "q108_langid_kappa", "q112_pagerank",
    "q116_psi_drift", "q117_bigram_surprisal", "q122_rfm_segments",
    "q132_mutual_information", "q134_funnel_windowed", "q136_token_pmi",
    "q145_dedup_savings", "q152_densify_ffill", "q155_target_encoding",
    "q164_activation_latency", "q173_triple_itemsets",
    "q193_rank_stability", "q196_value_bands", "q21_rolling_cv",
    // 1-row broadcast total/count frames (q203 mixture normalizer, q206
    // Mann–Kendall n×S combine, q208 smoothing denominator) and
    // calendar-bounded O(n²) pair joins (q205 Theil–Sen over ≤ ~2.4k
    // daily aggregates, q206 over ≤ ~84 monthly aggregates)
    "q203_mixture_weights", "q205_theilsen_trend", "q206_mann_kendall",
    "q208_event_transitions",
    // q209: the kNN stage is the declared broadcast-queries brute-force
    // baseline (swap to ivfTopK at scale) + two 1-row stat combines;
    // q213 rides Mixture's broadcast 1-row normalizer
    "q209_knn_triangles", "q213_curriculum_plan",
    // q271/q273/q274: the stored-IVF verbs' bounded centroid binds —
    // queries/corpus × broadcast nCells-row centroid table (cell ranking +
    // assignment) and q274's 1-row balance × quality report combine; the
    // candidate joins themselves are cell equi-joins against the
    // partition-pruned inverted file
    "q271_ivf_index_probe", "q273_ivf_append_probe", "q274_ivf_health",
    "q275_ivf_quantized_probe",
    // q276: same stored-IVF bounded binds as q271/q273 (build + append +
    // delete chain, then the probe's centroid ranking); the delete's
    // affected-cell find is a broadcast join against the bounded takedown
    // batch
    "q276_ivf_delete_probe",
    // q277: the monitor loop's per-chunk scoring grids — each chunk's
    // bounded (bins ∪ ref-bins) spine and constant-key reference-total
    // binds joined onto the period totals, the q254/q268 PSI/KS class;
    // every frame is cell-table-bounded (bins × days), never event mass
    "q277_drift_monitor_loop",
    // q278: q277's scoring-grid class with a persist/restore seam — same
    // bounded binds, restored frames are pinned generation reads
    "q278_monitor_restart",
    // q223: Dsir's broadcast 1-row totals bind (V, N_raw, N_target)
    "q223_dsir_weights",
    // q227: hard-negative scoring is the declared broadcast-anchors
    // brute-force baseline (anchor set ≪ corpus; ivfTopK is the scale swap)
    "q227_contrastive_triplets",
    // q19: centroidScored broadcasts ONE wide row (the two class-centroid
    // arrays, 2×dim doubles) into a narrow scoring map — the same 1-row
    // broadcast-bind class as q203/q206/q208
    "q19_scored_classifier",
    // q238: QuantileSketch.quantiles binds a broadcast |qs|-literal-row
    // frame (5 rows) against ≤ bins histogram cells per group — a
    // constant × sketch-bounded product, never input-cardinality work
    "q238_quantile_sketch",
    // q249: same read-off as q238 — the adaptive-range probe changes only
    // where (lo, hi) come from, not the |qs| × cells bind
    "q249_adaptive_quantiles",
    // q240: Mixing.temperaturePlan binds the broadcast 1-row normalizer
    // (Σ T^α, grand total) onto the |languages|-row aggregate — the
    // q203/q223 broadcast-scalar pattern
    "q240_temperature_mix",
    // q243: rides q240's temperaturePlan normalizer bind
    "q243_training_mix",
    // q244: the pair domain is the SEGMENT dimension crossed with itself
    // (distinct event types — bounded by dimension cardinality, never input
    // size); every downstream join/window runs on ≤ S²·k sketch cells
    "q244_kmv_overlap",
    // q254: Drift.psiByPeriod's score grid is days × bins (both bounded —
    // bins by declaration, days by the calendar/watermark) plus the
    // constant-key reference-total bind; it runs on drained sketch cells,
    // never on the event stream
    "q254_stream_psi",
    // q260: q254's bounded grid (bins now ≤ maxBins by the adaptive
    // buffer's construction) plus the 1-row target-scale aggregate
    // psiByPeriodAdaptive broadcasts onto the ≤ days·maxBins cell rows,
    // and psiByPeriod's constant-key reference-total bind; all
    // drained-cell work
    "q260_adaptive_psi")

  /** Queries that plan an unpartitioned WindowExec — DOCUMENTATION of why
    * each frame is bounded (the test below now asserts the boundedness
    * STRUCTURALLY — an Aggregate or Limit on every input path under the
    * window — instead of trusting this list): cardinality set by the
    * calendar, a fixed bin/category domain, or an explicit LIMIT — never by
    * input row count, so the single-partition sort cannot grow with the
    * data:
    *  - day-level series (≤ calendar days in range): q04, q74, q77, q113,
    *    q128, q169, q174, q184, q188;
    *  - fixed bins / domains: q116 + q125 (decile/value-range bins), q121
    *    (9 digits), q132 (bin grid), q133 (fixed hash buckets), q139
    *    (nation/region), q144 (10 deciles — the USER ranking feeding it is
    *    GlobalRank-partitioned), q163 + q193 (TPC-H brand domain), q200
    *    (orders-per-customer histogram, support grows ~log of input);
    *  - rounded-score thresholds: q55 (2-dp scores ⇒ ≤ 101 ROC points);
    *  - explicit top-N: q83 (LIMIT 1000 vocab), q88 (rides q83's frame).
    * Unbounded global rankings/scans (user-, vocab-, session-, price-
    * cardinality) must instead use GlobalRank's range-partitioned
    * row_number/ntile/cumsum/running-max — q114, q120, q122, q144, q160,
    * q170, q179, q190, q118 all do.
    */
  private val globalWindowAllowed: Set[String] = Set(
    "q04_event_day_features", "q55_roc_auc", "q74_rolling_corr",
    "q77_cumulative_users", "q83_vocab_build", "q88_zipf_fit",
    "q113_seasonal_decomp", "q116_psi_drift", "q121_benford",
    "q125_ks_drift", "q128_changepoint", "q132_mutual_information",
    "q133_hash_uniformity", "q139_share_of_parent", "q144_lorenz_curve",
    "q163_brand_hhi", "q169_seasonal_anomaly", "q174_survival_curve",
    "q184_max_drawdown", "q188_seasonal_strength", "q193_rank_stability",
    "q200_orders_per_customer")

  test("no declared batch query plans an unpartitioned WindowExec over an unbounded frame") {
    // STRUCTURAL invariant (not just the name allowlist above): every
    // unpartitioned WindowExec must sit above a frame whose cardinality an
    // Aggregate or an explicit Limit has already bounded on EVERY input
    // path — group domains and top-N are what keep the single-partition
    // sort from growing with the data. A future query that parks a global
    // window directly over an input-sized scan fails here even if its name
    // lands on the allowlist; the allowlist documents WHY each bounded
    // frame is bounded, it no longer gates the check.
    def bounded(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      // GlobalLimit only: a LocalLimit bounds rows PER PARTITION, so an
      // unpartitioned window above a pre-shuffle LocalLimit could still
      // hold limit × partitions rows — df.limit(n) plans a GlobalLimit,
      // so legitimately-bounded queries pass on the global node
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
    val offenders = SparkEntry.queries.toSeq
      .filterNot(_._1.contains("stream"))
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.sparkPlan
        val bad = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty && !bounded(w.child) => w
        }
        if (bad.nonEmpty) Seq(name) else Nil
      }
    assert(offenders.isEmpty,
      s"single-partition windows over unbounded frames: ${offenders.mkString("; ")}")
  }

  test("no declared batch query plans a CartesianProduct or unexpected nested-loop join") {
    val offenders = SparkEntry.queries.toSeq
      .filterNot(_._1.contains("stream"))
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val cart = if (plan.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
        val nlj =
          if (plan.contains("BroadcastNestedLoopJoin") && !nljAllowed(name))
            Seq(s"$name: BroadcastNestedLoopJoin")
          else Nil
        cart ++ nlj
      }
    assert(offenders.isEmpty, s"scale-killer plans: ${offenders.mkString("; ")}")
  }
}
