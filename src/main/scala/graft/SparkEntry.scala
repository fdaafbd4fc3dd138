package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Cleaning, Dedup, GlobalRank, Graph, Reshape, Stats, WeightedMedian, WindowOps}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.mining.Association
import graft.ml.{Classification, Clustering, Features, Regression}
import graft.text.Stylometry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator (or operator pipeline) from the
  * SURVEY.md §2 inventory, expressed Spark-first; `oracleSql` holds the
  * equivalent DuckDB SQL over the same parquet tables. Column names and
  * rounding are mirrored exactly on both sides (the driver's compare hashes
  * values after sorting columns by name).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(spark, dir, name)

  /** Stopword list shared by the text-quality operators and their oracles
    * (and the diagnostic mains under `tools/`). */
  private[graft] val Stopwords =
    Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")

  /** Oracle-stable rounding: money-style inputs make aggregate averages land
    * EXACTLY on round-half boundaries (e.g. avg = 46.49875), where the two
    * engines' float summation order decides the direction. A +1e-9 nudge —
    * far above float noise (~1e-12 rel), far below data resolution (0.01) —
    * applied identically in the Spark plan and the oracle SQL makes the
    * rounding deterministic on both sides.
    */
  private def rnd(c: Column, d: Int): Column = round(c + lit(1e-9), d)

  /** Exact-decimal money arithmetic: the 2-decimal money columns cast to
    * decimal make SUMS exact on both engines — float summation noise
    * (~1e-5 at 1e7 magnitudes) exceeds the epsilon trick's safety margin for
    * 2-decimal rounding, so big money sums must not go through doubles.
    * Intermediate casts keep every decimal width <= 38 on both engines.
    */
  private def dec2(name: String): Column = col(name).cast("decimal(12,2)")
  private def discPrice: Column =
    (dec2("l_extendedprice") * (lit(1) - dec2("l_discount"))).cast("decimal(18,4)")
  private def charge: Column =
    (discPrice * (lit(1) + dec2("l_tax"))).cast("decimal(24,6)")
  private def moneyRound(c: Column): Column = round(c, 2).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    regionalRevenue(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------------
  // q01 — TPC-H Q1-shaped pricing summary: scan → wide agg (A3/A4 family).
  // Partial (map-side) aggregation + single shuffle on the 2-col group key.
  private def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneyRound(sum(dec2("l_quantity"))).as("sum_qty"),
        moneyRound(sum(dec2("l_extendedprice"))).as("sum_base_price"),
        moneyRound(sum(discPrice)).as("sum_disc_price"),
        moneyRound(sum(charge)).as("sum_charge"),
        rnd(avg(col("l_quantity")), 4).as("avg_qty"),
        rnd(avg(col("l_extendedprice")), 4).as("avg_price"),
        rnd(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // q02 — 5-way star join (J1 at scale): fact lineitem ⋈ orders ⋈ customer
  // ⋈ nation ⋈ region. Dimension sides broadcast explicitly — zero shuffle
  // of the fact table for the dim joins; only the l↔o join + final agg shuffle.
  private def regionalRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        moneyRound(sum(discPrice)).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  // q03 — top-k by aggregate (O1/O2): revenue per order, top 10.
  // orderBy+limit plans as TakeOrderedAndProject (distributed top-k, no
  // global sort).
  private def topOrders(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    li.groupBy(col("l_orderkey"))
      .agg(moneyRound(sum(discPrice)).as("revenue"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("revenue"), to_date(col("o_orderdate")).as("order_date"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  // q04 — COVID-style time-series featurization (W1–W4): daily event counts
  // → lag/trailing-mean/pct-change/diff features over one ordered window.
  // Single series ⇒ single-partition window, explicit per SURVEY §7.5-7;
  // the daily pre-aggregation shuffles 10k → 30 rows first, so the window
  // input is tiny at any scale.
  private def eventDayFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val daily = ev
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n_events"), avg(col("value")).as("av"))
    val w = WindowOps.spec(Seq.empty, Seq(col("d")))
    val withLags = WindowOps.lagFeatures(daily, w, Seq("n_events"), Seq(1, 3, 7))
    val withMa = WindowOps.trailingMean(WindowOps.trailingMean(withLags, w, "av", 3), w, "av", 7)
    val withPct = WindowOps.laggedPctChange(withMa, w, "n_events")
    val full = WindowOps.laggedDiff(WindowOps.laggedDiff(withPct, w, "n_events", 1), w, "n_events", 7)
    full
      .select(
        col("d"),
        col("n_events"),
        rnd(col("av"), 4).as("avg_value"),
        col("n_events_lag1"),
        col("n_events_lag3"),
        col("n_events_lag7"),
        rnd(col("av_ma3"), 4).as("ma3"),
        rnd(col("av_ma7"), 4).as("ma7"),
        rnd(col("n_events_pct_change"), 6).as("pct_change"),
        col("n_events_diff1"),
        col("n_events_diff7"))
      .orderBy(col("d"))
  }

  // q05 — keep-last dedup (A1): latest event per (user_id, event_type),
  // explicit ordering (ts, event_id) per SURVEY §7.5-1. One shuffle on the
  // key; no global sort.
  private def latestEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    Dedup
      .keepLast(ev, Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  // q06 — pivot (A2): daily avg value per event_type as columns, explicit
  // value list (static schema; no distinct pre-job).
  private def dailyTypePivot(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("d", to_date(col("ts")))
    val types = Seq("click", "error", "purchase", "signup", "view")
    Reshape
      .pivotAgg(ev, "d", "event_type", types, rnd(avg(col("value")), 4), "avg_")
      .orderBy(col("d"))
  }

  // q07 — value_counts (A3): order-priority frequency.
  private def priorityCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o_orderpriority"))

  // q08 — describe() (A4): exact one-row numeric summary of lineitem measures.
  private def lineitemSummary(s: SparkSession, dir: String): DataFrame =
    Cleaning.numericSummary(
      t(s, dir, "lineitem").select("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  // q09 — VEG trend discretization (W5+P14): per event_type daily average,
  // adjacent-day comparison (lead), ±5% band → up/down/flat.
  private def trendLabels(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val daily = ev
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(avg(col("value")).as("v"))
    val w = WindowOps.spec(Seq("event_type"), Seq(col("d")))
    WindowOps
      .trendLabel(daily, w, "v", band = 0.05)
      .filter(col("trend").isNotNull)
      .select(col("d"), col("event_type"), col("trend"))
      .orderBy(col("d"), col("event_type"))
  }

  // q10 — 2-itemset support (A8): baskets = dates, items = type_trend
  // strings; canonical-pair self-join; min support 0.15 of baskets (the
  // reference's threshold, 蔬菜价格相关性分析.py:341 — absolute count resolved
  // driver-side exactly as the reference's ceil(min_support * n), VEG:135).
  private def trendPairSupport(s: SparkSession, dir: String): DataFrame = {
    val trends = trendLabels(s, dir)
      .withColumn("item", concat_ws("_", col("event_type"), col("trend")))
      .select(col("d"), col("item"))
    val nBaskets = trends.select(col("d")).distinct().count()
    val minCount = math.ceil(0.15 * nBaskets).toLong
    val a = trends.as("a")
    val b = trends.as("b")
    a.join(b, col("a.d") === col("b.d") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item1"), col("b.item").as("item2"))
      .agg(count(lit(1)).as("support_count"))
      .filter(col("support_count") >= minCount)
      .orderBy(col("item1"), col("item2"))
  }

  // q11 — exact content dedup at scale (north-star dedup): shuffle on a
  // 256-bit digest of the text, not the text itself.
  private def docDedup(s: SparkSession, dir: String): DataFrame =
    Dedup
      .exactDedupByHash(t(s, dir, "documents"), "text", "doc_id")
      .orderBy(col("doc_id"))

  // q12 — token statistics per language (text analysis suite): whitespace
  // tokens + BPE-ish regex pre-tokenization, both oracle-checked.
  private def tokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        rnd(avg(TF.tokenCount(col("text"))), 4).as("avg_tokens"),
        rnd(avg(col("n_chars")), 4).as("avg_chars"),
        sum(TF.tokenCount(col("text"))).as("total_tokens"),
        sum(TF.bpeTokenCount(col("text"))).as("total_bpe_tokens"))
      .orderBy(col("lang"))

  // q13 — document quality scoring (text analysis suite): deterministic
  // arithmetic score, top 20.
  private def docQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TF.qualityScore(col("text"), Stopwords).as("quality"))
      .orderBy(col("quality").desc, col("doc_id"))
      .limit(20)

  // q14 — brute-force exact kNN (similarity search baseline): queries =
  // vec_id < 10 broadcast against the full corpus; top-5 cosine neighbors.
  private def knnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    VF.bruteForceTopK(queries, emb, "q_id", "vec_id", "q_vec", "embedding", k = 5)
      .withColumnRenamed("vec_id", "c_id")
      .orderBy(col("q_id"), col("rank"))
  }

  // q15 — document signatures (dedup suite plumbing) through the oracle
  // gate on its DETERMINISTIC invariants: the signatures themselves
  // (fingerprint/SimHash/MinHash over xxhash64) are engine-specific, but the
  // shapes the pipeline depends on are not — token count, distinct-shingle
  // count (the set MinHash summarizes), signature length, and band count are
  // all recomputable in SQL. The full signature VALUES stay pinned by
  // HashExpressions/Dedup specs and flow through q16's verified pipeline;
  // here each invariant is computed FROM the real signature arrays (sig_len
  // = size of the actual MinHash signature, n_bands = size of the actual
  // banding array), so the operators still execute under the driver gate.
  private def docSignatures(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = TF.charShingles(col("text"), 5)
    val minhash = TF.minhashSignature(sh, 8)
    val bandArr = array((0 until 4).map { bd =>
      hash((0 until 2).map(r => element_at(minhash, bd * 2 + r + 1)): _*)
    }.toIndexedSeq: _*)
    docs
      .select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        size(array_distinct(sh)).as("n_shingles"),
        size(minhash).as("sig_len"),
        size(bandArr).as("n_bands"))
      .orderBy(col("doc_id"))
  }

  // q16 — MinHash-LSH near-duplicate pairs (dedup suite): 16-hash MinHash
  // signature → 4 bands of 4, bucket-join on (band, band-hash) — candidate
  // generation is an equi-join on a small key, NOT an O(n²) cross join —
  // then exact shingle-Jaccard verification of candidates only, emitting
  // pairs at jaccard ≥ 0.8. The EMITTED SET is engine-independent (exact
  // Jaccard over the shingle sets), so the oracle recomputes it as the
  // all-pairs threshold join in SQL: on this corpus the planted near-dups
  // sit at j ≈ 0.92–0.99 with the background below 0.4, and the seeded
  // 4×4 banding's miss probability at j ≥ 0.92 is ≤ 0.284⁴ ≈ 7e-3 per
  // pair — verified recall-1 against the all-pairs join at both test
  // scales, and deterministic (no runtime randomness anywhere).
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.VectorExpressions.jaccardSorted
    val bands = 4
    val rowsPerBand = 4
    val docs = t(s, dir, "documents")
      // candidate verification runs on SORTED HASHED shingles: the native
      // two-pointer Jaccard is ~10× the interpreted string-array intersect,
      // the join shuffles 8-byte hashes instead of 5-char strings, and the
      // minhash derives from the SAME hashes (each shingle string-hashed
      // once, in the fused one-pass expression — multiset form, since the
      // original sort_array(transform(...)) kept duplicate shingles).
      .select(col("doc_id"),
        graft.expressions.ShingleHashes
          .hashedCharShingles(col("text"), 5, distinct = false).as("hashes"))
      // sub-5-char docs have no shingles: exclude them (the oracle's len ≥ 5
      // guard) rather than let their shared sentinel signatures cross-match
      .filter(size(col("hashes")) > 0)
      .withColumn("minhash", TF.minhashSignature(col("hashes"), bands * rowsPerBand))
    // The self-join below would recompute the shingle+minhash subtree for
    // both sides; localCheckpoint materializes the banded table once and —
    // unlike persist(), which stays pinned with no unpersist hook after the
    // DataFrame is handed to the caller — its blocks are released by the
    // ContextCleaner as soon as the plan is unreferenced.
    val banded = docs.select(
      col("doc_id"),
      col("hashes"),
      posexplode(array((0 until bands).map { bd =>
        hash((0 until rowsPerBand).map(r => element_at(col("minhash"), bd * rowsPerBand + r + 1)): _*)
      }.toIndexedSeq: _*)).as(Seq("band", "band_hash")))
      .localCheckpoint()
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(
        b,
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"), col("a.hashes").as("h1"), col("b.hashes").as("h2"))
      .dropDuplicates("id1", "id2")
      .withColumn("jaccard", rnd(jaccardSorted(col("h1"), col("h2")), 4))
      .filter(col("jaccard") >= 0.8)
      .select(col("id1"), col("id2"), col("jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  // q17 — FPGrowth association rules over the trend baskets (M27/A9): the
  // full VEG pipeline end-to-end, restricted to the reference's k≤2 subset
  // (1-item antecedent → 1-item consequent, 蔬菜价格相关性分析.py:173-209). On that
  // subset FPGrowth's confidence/lift/support are pure functions of the pair
  // and item support counts, so a DuckDB oracle reproduces every value
  // relationally — this is the actual FPGrowth model output hash-checked
  // against an independent SQL derivation (the general any-size-itemset
  // equality stays pinned in AssociationSpec).
  private def trendRules(s: SparkSession, dir: String): DataFrame = {
    val tx = trendLabels(s, dir)
      .withColumn("item", concat_ws("_", col("event_type"), col("trend")))
      .groupBy(col("d"))
      .agg(array_sort(collect_set(col("item"))).as("items"))
    val model = Association.fpgrowth(tx, "items", minSupport = 0.15, minConfidence = 0.6)
    Association
      .rules(model)
      .filter(size(col("antecedent")) === 1 && size(col("consequent")) === 1)
      .select(
        col("antecedent_str").as("antecedent"),
        col("consequent_str").as("consequent"),
        rnd(col("confidence"), 4).as("confidence"),
        rnd(col("lift"), 4).as("lift"),
        rnd(col("support"), 4).as("support"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  // q18 — kNN-join classification (M11, oracle-checked): majority label of
  // the 5 cosine-nearest train vectors. Deterministic tiebreaks: neighbor
  // rank by (sim desc, id asc); vote by (count desc, label asc). Queries
  // broadcast; corpus streams; the per-query ranking is the bounded partial
  // top-k aggregator — no full-pair window shuffle at any scale.
  private def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val train = emb.filter(col("vec_id") >= 50)
    Classification
      .knnClassify(queries, train, "q_id", "q_vec", "vec_id", "embedding", "label", k = 5)
      .orderBy(col("q_id"))
  }

  // q19 — classifier scored-output endpoint (M10/M7 + GOLDEN shape),
  // VALUE-ORACLE form: nearest-centroid binary scorer (closed-form class
  // means on the vec_id > 99 train split, sigmoid-of-margin posterior) so
  // every probability is deterministic and DuckDB-checkable — the q55
  // precedent. The fitted-model bake-off (LogisticRegression etc.) stays
  // spec-gated (MlSpec) since iterative-solver floats are library-specific.
  private def scoredClassifier(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), (col("label") >= 5).cast("int").as("bin_label"))
    val (test, train) = Features.chronologicalSplit(emb, "vec_id", 99L)
    Classification.centroidScored(train, test, "vec_id", "embedding", "bin_label")
      .select(col("sample_id"), col("label"), col("predicted"),
        rnd(col("p_positive"), 6).as("p_positive"),
        rnd(col("p_negative"), 6).as("p_negative"),
        col("correct"))
      .orderBy(col("sample_id"))
  }

  // q20 — clustering summary (M19/M22 + A11), VALUE-ORACLE form:
  // deterministic Lloyd k=2 (seeds = min/max vec_id rows, 3 fixed
  // iterations — closed-form assign/update, so DuckDB unrolls the identical
  // iterations), then single-pass summary: simplified silhouette (centroid
  // form: s = (d_other − d_own)/max, the O(n·k) formula that scales where
  // pairwise silhouette can't), best-orientation label consistency, cluster
  // sizes. The library k-means (k-means|| init) stays spec-gated (MlSpec).
  private def clusterSummary(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val bounds = emb.agg(min(col("vec_id")), max(col("vec_id"))).head()
    val (assigned, _) = Clustering.lloydDeterministic(
      emb, "vec_id", "embedding",
      seedIds = Seq(bounds.getLong(0), bounds.getLong(1)), iters = 3)
    // k=2: own = dist2[prediction], other = the remaining entry (1-based
    // element_at: own at prediction+1, other at 2-prediction)
    val own = sqrt(element_at(col("dist2"), col("prediction") + 1))
    val other = sqrt(element_at(col("dist2"), lit(2) - col("prediction")))
    val sil = when(greatest(own, other) === 0, lit(0.0))
      .otherwise((other - own) / greatest(own, other))
    val k = col("prediction")
    val g = (col("label") >= 5)
    val n0 = sum(when(k === 0, 1L).otherwise(0L))
    val n1 = sum(when(k === 1, 1L).otherwise(0L))
    val orient1 = sum(when((k === 0 && g) || (k === 1 && !g), 1L).otherwise(0L))
    val orient2 = sum(when((k === 0 && !g) || (k === 1 && g), 1L).otherwise(0L))
    assigned.agg(
      rnd(avg(sil), 4).as("silhouette"),
      rnd(greatest(orient1, orient2).cast("double") / count(lit(1)), 4).as("consistency"),
      least(n0, n1).as("smaller_cluster"),
      greatest(n0, n1).as("larger_cluster"),
      count(lit(1)).as("n_points"))
  }

  // q21 — rolling-origin CV (M5, the TimeSeriesSplit analog): ridge on the
  // daily event-count series, 5 expanding-window folds. Fold mechanics are
  // exactly `Regression.rollingOriginCv`'s (cuts at lo + (hi-lo)*i/(k+1),
  // expanding train, next-segment validation); the per-fold fit is the
  // analytic 1-feature ridge solution under the reference's sklearn
  // objective (||y - a - bx||² + λb² ⇒ b = Sxy/(Sxx+λ), a = ȳ - b·x̄,
  // λ = 0.1), so every fold's coefficients and metrics are reproduced
  // value-for-value by the DuckDB oracle. All fold aggregates are exact
  // (integer-valued doubles), making b/a bit-identical across engines. The
  // iterative MLlib-fit form of M5 stays covered by
  // `Regression.rollingOriginCv` + RegressionSpec.
  private def rollingCv(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("y"))
      .withColumn("x", datediff(col("d"), lit("2024-01-01")).cast("double"))
      .select("x", "y")
      .cache()
    val k = 5
    val b = daily.agg(min(col("x")), max(col("x"))).head() // 1-row scalar bind
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val cuts = (1 to k).map(i => lo + (hi - lo) * i / (k + 1).toDouble)
    import s.implicits._
    val folds = cuts.zipWithIndex.map { case (cut, i) =>
      (i + 1, cut, if (i + 1 < k) cuts(i + 1) else hi + 1)
    }.toDF("fold", "cut", "nxt")
    // expanding-window train stats per fold: the fold spec is a k-row frame
    // broadcast against the bounded daily series — one shuffle-free pass
    val train = daily.join(broadcast(folds), col("x") <= col("cut"))
      .groupBy("fold", "cut", "nxt")
      .agg(count(lit(1)).as("n_train"), avg("x").as("xbar"), avg("y").as("ybar"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val coef = train
      .withColumn("beta", (col("sxy") - col("n_train") * col("xbar") * col("ybar"))
        / (col("sxx") - col("n_train") * col("xbar") * col("xbar") + lit(0.1)))
      .withColumn("alpha", col("ybar") - col("beta") * col("xbar"))
      .select("fold", "cut", "nxt", "n_train", "beta", "alpha")
    daily.join(broadcast(coef), col("x") > col("cut") && col("x") <= col("nxt"))
      .withColumn("r", col("y") - (col("alpha") + col("beta") * col("x")))
      .groupBy("fold", "n_train", "beta", "alpha")
      .agg(count(lit(1)).as("n_test"),
        sqrt(avg(col("r") * col("r"))).as("rmse_raw"),
        avg(abs(col("r"))).as("mae_raw"))
      .select(col("fold"), col("n_train"), col("n_test"),
        rnd(col("beta"), 4).as("slope"),
        rnd(col("alpha"), 4).as("intercept"),
        rnd(col("rmse_raw"), 4).as("rmse"),
        rnd(col("mae_raw"), 4).as("mae"))
      .orderBy(col("fold"))
  }

  // q22 — semi/anti joins (free Spark surface beyond the reference's J1):
  // per nation, customers with vs without orders.
  private def customerOrderPresence(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val n = t(s, dir, "nation")
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
    val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
    val agg1 = withO.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_with_orders"))
    val agg2 = withoutO.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_without_orders"))
    agg1.join(agg2, Seq("n_name"), "full_outer")
      .na.fill(0L, Seq("n_with_orders", "n_without_orders"))
      .orderBy("n_name")
  }

  // q23 — rollup (grouping-set surface, free in Spark beyond the reference):
  // revenue at (region, nation), (region), and grand-total levels.
  private def revenueRollup(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(moneyRound(sum(discPrice)).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  /** Shared sessionization core (q24 + q96): lag → break flag → running
    * sum = `_sess` id per user, gap > `gapSeconds`, (ts, event_id)
    * tie-break. ONE definition so the gap threshold and ordering can never
    * desynchronize between the per-user stats and the session-length
    * distribution (each oracle CTE mirrors this same pipeline).
    */
  private def withSessionIds(ev: DataFrame, gapSeconds: Double = 1800.0): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("_prev", lag(col("ts"), 1).over(w))
      .withColumn(
        "_brk",
        when(col("_prev").isNull ||
          (col("ts").cast("double") - col("_prev").cast("double")) > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("_sess", sum(col("_brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  // q24 — sessionization (gap > 30 min), the classic stateful window
  // pipeline: lag → break flag → running sum = session id → per-user stats.
  private def sessionize(s: SparkSession, dir: String): DataFrame =
    withSessionIds(t(s, dir, "events"))
      .groupBy(col("user_id"))
      .agg(max(col("_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  // q25 — string/JSON extraction (F-ops): pull the numeric k out of the
  // props JSON with a regex, aggregate per event type.
  private def propsExtract(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(k).as("k_sum"),
        rnd(avg(k), 4).as("k_avg"),
        min(k).as("k_min"),
        max(k).as("k_max"))
      .orderBy(col("event_type"))
  }

  // q26 — one-pass multi-substring counting (A15, oracle-checked): total
  // occurrences of a fixed word list per language, via the Aho-Corasick
  // expression (one O(text) pass for all words — the reference rescans the
  // text once per word). Patterns have no self-overlap, so overlapping and
  // non-overlapping (oracle replace-based) counts coincide.
  private def wordFrequency(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.MultiSubstringCountExpr.multiSubstringCount
    val words = Seq("the", "data", "spark", "query", "join")
    val docs = t(s, dir, "documents")
      .select(col("lang"), multiSubstringCount(col("text"), words).as("_c"))
    docs
      .groupBy(col("lang"))
      .agg(
        sum(element_at(col("_c"), 1)).as("w_the"),
        sum(element_at(col("_c"), 2)).as("w_data"),
        sum(element_at(col("_c"), 3)).as("w_spark"),
        sum(element_at(col("_c"), 4)).as("w_query"),
        sum(element_at(col("_c"), 5)).as("w_join"))
      .orderBy(col("lang"))
  }

  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Replay the events table through a streaming query and return the
    * in-memory sink table. Blocks until the replay drains — the streaming
    * analog of an action.
    */
  private def replayStream(
      s: SparkSession,
      dir: String,
      mode: String)(build: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    // isolated child session (shared SparkContext, own conf/catalog): the
    // replay's stateful operators pay per-state-store-partition overhead
    // (HDFS-backed checkpoint files per partition per batch), which at this
    // replay size dwarfs the compute — 8 partitions, not the session's 32.
    // On a real cluster the replay wouldn't exist (the stream is the input);
    // state-store partition sizing is a per-query knob either way.
    // newSession inherits only BUILDER-time conf (SparkConf), not runtime
    // spark.conf.set calls — the engine's confs (UTC, nanosAsLong, ANSI
    // off) are all builder-time in Engine.session, so the child has them
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // schema from a static footer read, not hardcoded: TESTDATA `events.ts`
    // has shipped both as TIMESTAMP(NANOS) (Long under nanosAsLong) and as
    // naive TIMESTAMP(MICROS) — the replay must accept either vintage
    val schema = ss.read.parquet(s"$dir/events.parquet").schema
    // the streaming file source requires a DIRECTORY of leaf files and does
    // not recurse: expose events.parquet through temp-dir symlinks — the
    // file itself when it is a single file (TESTDATA), or each contained
    // part file when it is a directory-style parquet dataset (scaled /
    // engine-written corpora)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    // toAbsolutePath: a symlink TARGET is stored verbatim — a relative
    // target would resolve against the temp dir and dangle silently
    // (0-file listing, empty replay) whenever the caller passed a relative
    // data dir
    val eventsPath =
      java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath
    val linked: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(eventsPath)) {
        import scala.jdk.CollectionConverters._
        val listing = java.nio.file.Files.list(eventsPath)
        // Files.list requires an explicit close (directory fd leak otherwise)
        val parts =
          try listing.iterator().asScala.toSeq
          finally listing.close()
        parts
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map { p =>
            java.nio.file.Files.createSymbolicLink(
              streamDir.resolve(p.getFileName), p.toAbsolutePath)
          }
      } else {
        Seq(java.nio.file.Files.createSymbolicLink(
          streamDir.resolve("events.parquet"), eventsPath))
      }
    // fail LOUD, not with an empty replay: a nested/Hive-partitioned layout
    // (key=x/part.parquet) has no top-level leaf files and would otherwise
    // stream zero events and green-light every downstream assertion
    require(
      linked.nonEmpty,
      s"replay source $eventsPath contains no top-level *.parquet leaf files")
    try {
      val read = ss.readStream.schema(schema).parquet(streamDir.toString)
      val raw = schema("ts").dataType match {
        case LongType =>
          // exact integer ns→µs division — same floor semantics as Engine.table
          read.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => read.withColumn("ts", col("ts").cast(TimestampType))
        case _ => read
      }
      drainToTable(ss, build(raw), mode)
    } finally {
      // deleteOnExit is a no-op on a non-empty directory — drop the
      // symlinks (not their targets) and the dir once the replay has drained
      linked.foreach(java.nio.file.Files.deleteIfExists)
      java.nio.file.Files.deleteIfExists(streamDir)
    }
  }

  /** Run a streaming frame to a memory sink, block until drained, return
    * the materialized result. localCheckpoint detaches the rows so the
    * sink view can be dropped immediately — its buffered rows live in
    * driver memory and would otherwise accumulate across a 60+-query sweep.
    */
  private def drainToTable(ss: SparkSession, out: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${streamSeq.incrementAndGet()}"
    val q = out.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val res = ss.table(name).localCheckpoint(eager = true)
    ss.catalog.dropTempView(name)
    res
  }

  /** Replay an arbitrary (small, pre-aggregated) batch frame as a stream —
    * the "upstream stage feeds a downstream stateful consumer" pipeline
    * split: write it to a temp parquet dir, stream it back in the same
    * right-sized child session replayStream uses.
    */
  private def replayFrame(
      s: SparkSession,
      frame: DataFrame,
      mode: String)(build: (SparkSession, DataFrame) => DataFrame): DataFrame = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val dirTmp = java.nio.file.Files.createTempDirectory("graft-frame-stream")
    try {
      frame.write.mode("overwrite").parquet(dirTmp.toString)
      val raw = ss.readStream.schema(frame.schema).parquet(dirTmp.toString)
      drainToTable(ss, build(ss, raw), mode)
    } finally {
      // deleteOnExit is a no-op on a non-empty directory — remove the
      // replay's parquet tree explicitly (the result is already
      // localCheckpoint-detached, so nothing references these files)
      import java.nio.file.{Files => F}
      import scala.jdk.CollectionConverters._
      F.walk(dirTmp).iterator().asScala.toSeq.reverse.foreach(p => F.deleteIfExists(p))
    }
  }

  // q27 — Structured Streaming windowed aggregation (phase E, oracle-checked):
  // tumbling 1-day windows × event_type over the replayed events stream must
  // equal the batch group-by the oracle computes.
  private def streamDailyCounts(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.windowedTypeStats(ev)
    }
      .select(
        to_date(col("window_start")).as("d"),
        col("event_type"),
        col("n"),
        rnd(col("avg_value"), 4).as("avg_value"))
      .orderBy(col("d"), col("event_type"))

  // q28 — stateful streaming sessionization via flatMapGroupsWithState
  // (phase E, oracle-checked): must equal the batch q24 pipeline.
  private def streamSessions(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "update") { ev =>
      import s.implicits._
      graft.streaming.StreamOps
        .sessionize(s, ev.select(col("user_id"), col("ts"), col("event_id"))
          .as[graft.streaming.StreamOps.Event], gapSeconds = 1800)
        .toDF()
    }.orderBy(col("user_id"))

  // q43 — streaming exact dedup (dedup suite × phase E, oracle-checked):
  // replay events as a stream, drop content-duplicate rows (digest of
  // user_id|event_type|props — the synthetic corpus has ~6% true dups),
  // then summarize per type. Must equal the batch DISTINCT the oracle runs.
  private def streamDedup(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.dedupByDigest(
        ev,
        sha2(concat_ws("|", col("user_id"), col("event_type"), col("props")), 256),
        "ts",
        watermark = "365 days")
    }
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_unique"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  // q29 — embedding-cosine near-duplicate pairs (dedup suite, oracle-checked):
  // all pairs with cosine ≥ 0.4 (the synthetic corpus has no true near-dups;
  // 0.4 selects the top ~0.1% closest pairs). Size-gated dual path
  // (VF.cosineNearDupPairs): exhaustive exact self-join up to 1000 vectors —
  // the oracle cross-check scale — and LSH-bucketed candidates + exact
  // verification beyond it, where candidate generation is an equi-join on
  // the hyperplane bucket key (no CartesianProduct over the corpus at scale).
  // Beyond the gate the output is approximate (recall per VF Scaladoc — the
  // default planes target the s ≥ 0.9 true near-dup regime); the oracle
  // compare runs at sf ≤ 0.01 where the path is exact by the gate.
  private def embeddingNearDups(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    VF.cosineNearDupPairs(emb, "vec_id", "embedding", threshold = 0.4, dim = 64)
      .select(col("id1"), col("id2"), rnd(col("sim"), 6).as("sim"))
      .orderBy(col("id1"), col("id2"))
  }

  // q30 — date arithmetic + statistical aggregates: monthly revenue with
  // Pearson correlation and exact distinct counts (the A/F surfaces the
  // reference exercises via numpy: corr, nunique, month bucketing).
  private def monthlyStats(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.groupBy(to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        moneyRound(sum(discPrice)).as("revenue"),
        rnd(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"))
      .orderBy(col("month"))
  }

  // q31 — cube (full grouping-set lattice) over returnflag × linestatus.
  private def pricingCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), moneyRound(sum(dec2("l_quantity"))).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  // q32 — brand revenue: fact ⋈ broadcast part dimension, grouped by brand
  // with a size-range filter pushed into the dimension scan.
  private def brandRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part").filter(col("p_size").between(1, 30))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        moneyRound(sum(discPrice)).as("revenue"),
        count(lit(1)).as("n_lines"),
        rnd(avg(col("p_retailprice")), 4).as("avg_retail"))
      .orderBy(col("p_brand"))
  }

  // q33 — supplier account stats per nation (left join keeps nations with
  // no suppliers).
  private def supplierBalance(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    n.join(sup, col("s_nationkey") === col("n_nationkey"), "left_outer")
      .groupBy(col("n_name"))
      .agg(
        count(col("s_suppkey")).as("n_suppliers"),
        rnd(sum(col("s_acctbal")), 2).as("total_acctbal"),
        rnd(min(col("s_acctbal")), 2).as("min_acctbal"),
        rnd(max(col("s_acctbal")), 2).as("max_acctbal"))
      .orderBy(col("n_name"))
  }

  // q34 — exact order statistics (the quartiles of pandas describe()):
  // linear-interpolated percentiles per group, matching DuckDB's
  // quantile_cont semantics.
  private def priceQuartiles(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val pcts = percentile(col("l_extendedprice"), array(lit(0.25), lit(0.5), lit(0.75)))
    li.groupBy(col("l_returnflag"))
      .agg(
        rnd(element_at(pcts, 1), 4).as("p25"),
        rnd(element_at(pcts, 2), 4).as("p50"),
        rnd(element_at(pcts, 3), 4).as("p75"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  // q35 — cleaning composite (P1/P3/P4/P5/P10/P11/P12, oracle-checked): the
  // reference's universal preamble (dropna/fillna/audit — 新冠疫情分析.py:36,
  // 蔬菜价格相关性分析.py:29-55, 乳腺癌预测.py:59-79) exercised end-to-end.
  // Deterministic dirt is injected into events (whitespace-only strings,
  // nulls, ±inf, unparseable numerics — keyed off event_id mod so the oracle
  // reproduces it), then cleaned by the Cleaning operators and audited per
  // remapped category. The `complete` flag is P1's dropna predicate over the
  // cleaned columns; fillNumeric (P3) feeds the filled averages.
  private def cleanAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val dirty = ev.select(
      col("event_id"),
      when(pmod(col("event_id"), lit(7)) === 0, lit("   ")).otherwise(col("event_type")).as("wtype"),
      when(pmod(col("event_id"), lit(5)) === 0, lit(null).cast("double")).otherwise(col("value")).as("v"),
      when(pmod(col("event_id"), lit(11)) === 0, lit(Double.PositiveInfinity))
        .when(pmod(col("event_id"), lit(13)) === 0, lit(Double.NegativeInfinity))
        .otherwise(col("value")).as("iv"),
      when(pmod(col("event_id"), lit(3)) === 0, lit("x"))
        .otherwise(pmod(col("event_id"), lit(100)).cast("string")).as("nstr"))
    val cleaned = Cleaning
      .replaceInf(Cleaning.whitespaceToNull(dirty), Seq("iv")) // P5, P4
      .withColumn("num", Cleaning.toNumeric(col("nstr"))) // P11: 'x' → null
      .withColumn("cat", Cleaning.remap(col("wtype"), Map( // P12 (null stays null)
        "click" -> "engagement", "view" -> "engagement",
        "purchase" -> "conversion", "signup" -> "conversion",
        "error" -> "problem")))
      .withColumn("v_was_null", col("v").isNull) // P10 audit flags, pre-fill
      .withColumn("num_was_null", col("num").isNull)
      .withColumn("complete", // P1: dropna("any") membership over the cleaned columns
        col("wtype").isNotNull && col("v").isNotNull && col("num").isNotNull)
    val filled = Cleaning.fillNumeric(cleaned, 0.0) // P3
    filled
      .groupBy(col("cat"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v_was_null").cast("long")).as("n_null_v"),
        sum(col("num_was_null").cast("long")).as("n_bad_num"),
        rnd(avg(col("v")), 4).as("avg_v_filled"),
        rnd(avg(col("iv")), 4).as("avg_iv"),
        sum(col("complete").cast("long")).as("n_complete"))
      .orderBy(asc_nulls_first("cat"))
  }

  // q36 — EDA feature-contrast table (A5/A6 + W6/W7, oracle-checked): doc
  // features → global row ordinal (W7) → 80/20 positional split (W6, the
  // first-80-vs-last-40 chapter contrast shape, 红楼梦作者分析.py:314-316) →
  // per-feature split means + |diff| (A5) joined with per-feature variance
  // (A6). Both library operators reduce to one aggregate row, so the final
  // join is driver-trivial.
  private def featureContrast(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Stylometry
    val docs = t(s, dir, "documents")
    val featCols = Seq("n_tokens", "n_chars", "punct_ratio")
    val feats = docs.select(
      col("doc_id"),
      TF.tokenCount(col("text")).cast("double").as("n_tokens"),
      col("n_chars").cast("double").as("n_chars"),
      TF.punctRatio(col("text")).as("punct_ratio"))
    val w = WindowOps.spec(Seq.empty, Seq(col("doc_id")))
    val withSeq = WindowOps.ordinal(feats, w, "seq") // W7
    val cut = math.ceil(0.8 * docs.count()).toLong
    val (first, last) = Features.chronologicalSplit(withSeq, "seq", cut) // W6
    val split = first.withColumn("is_first", lit(true))
      .unionByName(last.withColumn("is_first", lit(false)))
    val contrast = Stylometry.groupContrast(split, col("is_first"), featCols) // A5
    val varRank = Stylometry.varianceTopK(split, featCols, featCols.size) // A6
    contrast
      .join(varRank, "feature")
      .select(
        col("feature"),
        rnd(col("mean_a"), 4).as("mean_first"),
        rnd(col("mean_b"), 4).as("mean_last"),
        rnd(col("abs_diff"), 4).as("abs_diff"),
        rnd(col("variance"), 4).as("variance"))
      .orderBy("feature")
  }

  // q37 — 1-itemset support (A7, oracle-checked): supports of the single
  // trend items over the daily baskets, same 0.15 threshold as q10's pairs
  // (蔬菜价格相关性分析.py:116-134).
  private def itemSupport(s: SparkSession, dir: String): DataFrame = {
    val tx = trendLabels(s, dir)
      .withColumn("item", concat_ws("_", col("event_type"), col("trend")))
      .groupBy(col("d"))
      .agg(collect_list(col("item")).as("items"))
    val nBaskets = tx.count()
    Association
      .itemSupport(tx, "items", minCount = math.ceil(0.15 * nBaskets).toLong)
      .withColumn("support", rnd(col("support_count").cast("double") / nBaskets, 4))
      .orderBy("item")
  }

  // q38 — backward as-of join (the point-in-time join Spark lacks natively,
  // AsOf.asofBackward; oracle = DuckDB ASOF LEFT JOIN): each purchase picks
  // up the same user's most recent click at-or-before it. Right side is
  // deduped to one click per (user, ts) — max event_id — so the as-of match
  // is deterministic under time ties. Timestamps reduced to second-floor
  // longs in the OUTPUT (ns-vs-µs parity); the MATCH runs at µs on both
  // engines (CAST(ts AS TIMESTAMP) truncates DuckDB's ns like Engine.table).
  private def asofClicks(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOf
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val clicks = Dedup.keepLast(
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"),
          col("value").as("click_value")),
      Seq("user_id", "cts"), Seq(col("click_id")))
      .withColumn("cts2", col("cts"))
    AsOf.asofBackward(purchases, clicks, Seq("user_id"), "ts", "cts")
      .select(
        col("event_id"), col("user_id"), col("click_id"),
        rnd(col("value"), 4).as("purchase_value"),
        rnd(col("click_value"), 4).as("click_value"),
        (col("ts").cast("long") - col("cts2").cast("long")).as("gap_s"))
      .orderBy(col("event_id"))
  }

  // q39 — two-phase salted aggregation (Skew.saltedAgg; oracle = the plain
  // GROUP BY it must equal): the skewed-key mitigation for aggregations AQE
  // can't split. Decomposable aggregates over exact integers, so the salted
  // two-phase result is bit-equal to the direct one.
  private def saltedHotKey(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    val ev = t(s, dir, "events")
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
    Skew.saltedAgg(ev, Seq("event_type"), buckets = 16,
        partial = Seq(count(lit(1)).as("_c"), sum(col("k")).as("_s"),
          min(col("k")).as("_mn"), max(col("k")).as("_mx")),
        merge = Seq(sum(col("_c")).as("n"), sum(col("_s")).as("k_sum"),
          min(col("_mn")).as("k_min"), max(col("_mx")).as("k_max")))
      .orderBy(col("event_type"))
  }

  // q40 — end-to-end corpus curation (the flagship LLM-training-data
  // pipeline composition, oracle-checked): exact dedup on a content digest
  // (keep min doc_id) → deterministic quality scoring → quality-threshold
  // filter → per-language kept-doc / token-budget stats. Every stage is the
  // already-verified operator (q11 dedup, q13 quality, q12 tokens) — this
  // query checks their composition.
  private def corpusCuration(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = Dedup.exactDedupByHash(docs, "text", "doc_id").select("doc_id")
    docs
      .join(keep, Seq("doc_id"), "left_semi")
      .select(
        col("lang"),
        TF.tokenCount(col("text")).as("n_tokens"),
        TF.qualityScore(col("text"), Stopwords).as("quality"))
      .filter(col("quality") >= 0.5)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        rnd(avg(col("quality")), 4).as("avg_quality"))
      .orderBy(col("lang"))
  }

  /** Closed language-profile set for the q41 lang-ID heuristic: real
    * stopword lists; the synthetic corpus mostly resolves to en or und,
    * which is exactly what the oracle checks (tokenize → per-profile hit
    * ratio → argmax with deterministic tiebreak → unknown on zero evidence).
    */
  private val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "mit", "ist", "auf", "nicht"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "por", "con", "los", "una"),
    "fr" -> Seq("le", "les", "et", "des", "une", "du", "dans", "est", "pour", "au"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  // q41 — language-ID heuristic (north-star text analysis, oracle-checked):
  // predicted language per document over the closed profile set, aggregated
  // as a (true lang × predicted) contingency table. Pure codegen'd Column
  // pipeline — the 100-TB shape is one scan + a tiny groupBy.
  private def langIdCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TF.langIdWithUnknown(col("text"), LangProfiles).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  // q42 — chapter split + Chinese-numeral parse (F1/F2, golden-oracle): the
  // HLM heading regex over a literal mini-book, one row per chapter with
  // the parsed 第N回 number and the chapter-body token count. The oracle is
  // pinned VALUES rows (DuckDB cannot run the parser; the driver compare
  // still independently verifies every emitted value).
  private def chapterBook(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val book =
      "第一回 甄士隐梦幻识通灵\nalpha beta gamma delta\n" +
        "第十二回 王熙凤毒设相思局\nepsilon zeta\n" +
        "第二十五回 魇魔法姊妹逢五鬼\nred blue green yellow purple\n" +
        "第一百回 破好事香菱结深恨\nfinal chapter words here\n"
    Stylometry.splitChapters(s, Seq(book).toDF("text"), "text")
      .select(
        col("chapter").cast("long").as("chapter"),
        col("title"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy(col("chapter"))
  }

  // q44 — PII redaction (north-star text analysis, oracle-checked): the
  // synthetic corpus carries no PII, so the query plants deterministic
  // email/URL/phone fixtures on doc_id residues (mirrored verbatim in the
  // oracle SQL — the q35 injected-fixture pattern), redacts, and tallies
  // per-language hits. Verifies the full pattern table end to end.
  private def redactionStats(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").withColumn(
      "text2",
      concat(
        col("text"),
        when(col("doc_id") % 7 === 0, lit(" contact alice@example.com now")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" see https://example.com/d?id=1 page")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" call 555-123-4567 today")).otherwise(lit(""))))
    planted
      .withColumn("clean", TF.redact(col("text2")))
      .groupBy(col("lang"))
      .agg(
        count(when(col("clean").contains("<EMAIL>"), 1)).as("n_email"),
        count(when(col("clean").contains("<URL>"), 1)).as("n_url"),
        count(when(col("clean").contains("<PHONE>"), 1)).as("n_phone"),
        count(when(col("clean") =!= col("text2"), 1)).as("n_redacted"))
      .orderBy(col("lang"))
  }

  // q45 — IVF ANN through the oracle gate: the inverted-file path (KMeans
  // coarse quantizer → per-query cell probe → equi-join candidates → exact
  // scoring → bounded partial top-k) declared with nProbe == nCells, where
  // it degenerates to EXACT search regardless of how the quantizer split the
  // corpus — so DuckDB's brute-force top-k is a valid value oracle for the
  // whole ANN pipeline. Production tuning (nProbe << nCells, recall < 1) is
  // covered by VectorFunctionsSpec's recall tests.
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    VF.ivfTopK(queries, emb, "q_id", "vec_id", "q_vec", "embedding",
      k = 5, nCells = 8, nProbe = 8)
      .withColumnRenamed("vec_id", "c_id")
      .orderBy(col("q_id"), col("rank"))
  }

  // q46 — exact n-gram Jaccard near-dup pairs, blocked by language (north-
  // star dedup suite: the exact-scoring member next to q16's MinHash bands).
  // Shingle strings hash once (xxhash64) and sort; per-pair Jaccard is the
  // native two-pointer set merge. Pair enumeration is Pairs.allPairs — a
  // triangle-salted self-join, so the 5-language block key doesn't collapse
  // the join onto 5 reducers. The DuckDB oracle recomputes Jaccard on the
  // raw shingle STRING sets: hashing is injective in practice (64-bit, ~1e5
  // shingles), so values match exactly.
  /** Shared by q46/q49: all within-lang doc pairs with exact char-5-gram
    * Jaccard >= `threshold`, as (id_a, id_b, _j).
    */
  private def jaccardPairsAbove(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = docs.select(
      col("doc_id"),
      col("lang"),
      // array_distinct BEFORE the pair join: size(h) then IS the set size —
      // required for the length prune below to be exact (raw shingle lists
      // repeat whenever a 5-gram recurs, and differing duplicate densities
      // would make raw-length ratios a FALSE-NEGATIVE-prone bound) — and
      // every per-pair merge visits each element once per doc, not per copy
      graft.expressions.ShingleHashes.hashedCharShingles(col("text"), 5)
        .as("h"))
    graft.operators.Pairs.allPairs(sh, "doc_id", Seq("lang"), buckets = 8)
      // EXACT length prune before the O(|A|+|B|) merge: J(A,B) ≤ min/max of
      // the SET sizes, so a pair failing min ≥ t·max can never reach the
      // threshold — two int reads replace a full array intersection (~30%
      // of same-lang pairs at sf0.1, measured). The −0.5 slack keeps it
      // false-negative-free under FP rounding of t·max (e.g. t=0.65,
      // max=20 → 13.000000000000002 would drop a true J=0.65 pair); the
      // sizes are integers, so half a count can never admit a wrong prune
      // DECISION beyond pairs the exact verify below re-gates anyway
      .filter(least(size(col("a.h")), size(col("b.h")))
        >= lit(threshold) * greatest(size(col("a.h")), size(col("b.h"))) - lit(0.5))
      .select(
        col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"),
        // early-exit verify kernel: exact J for pairs at/above threshold,
        // −1 (bailing ~⅓ into the merge at t=0.5) for the overwhelming
        // majority below it — valid because h is array_distinct'd above
        graft.expressions.VectorExpressions
          .jaccardSortedMin(col("a.h"), col("b.h"), threshold).as("_j"))
      .filter(col("_j") >= threshold)
  }

  private def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsAbove(s, dir, 0.5)
      .select(col("id_a"), col("id_b"), rnd(col("_j"), 4).as("jac"))
      .orderBy(col("jac").desc, col("id_a"), col("id_b"))

  // q49 — near-dup CLUSTERS (the dedup step after pair generation): q46's
  // exact Jaccard pairs grouped into connected components by iterative
  // min-label propagation; every clustered doc labeled with its component's
  // canonical (min) id — the keep/drop decision of a dedup pass. The DuckDB
  // oracle computes the same transitive closure with a recursive CTE.
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup
      .connectedComponents(jaccardPairsAbove(s, dir, 0.5), "id_a", "id_b", idOut = "doc_id")
      .orderBy(col("doc_id"))

  // q47 — confusion matrix of the kNN classifier (A12/M9 through the oracle
  // gate): q18's deterministic predictions joined back to the true labels,
  // contingency counts per (label, prediction). The reference's
  // classification_report / confusion_matrix (乳腺癌预测.py:159,190-199) compose
  // from exactly this table.
  private def knnConfusion(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val train = emb.filter(col("vec_id") >= 50)
    val preds = Classification
      .knnClassify(queries, train, "q_id", "q_vec", "vec_id", "embedding", "label", k = 5)
      .withColumnRenamed("predicted", "prediction")
    val truth = emb.filter(col("vec_id") < 50).select(col("vec_id").as("q_id"), col("label"))
    Classification.confusion(preds.join(truth, "q_id"), "label")
  }

  // q48 — stream-static enrichment (phase E × J1): the replayed events
  // stream joins the static customer→nation dimension (broadcast — no
  // per-batch shuffle of the unbounded side) and aggregates per nation.
  // Must equal the batch 3-way join the oracle runs. The value sum rides
  // decimals on both sides: float summation order across micro-batches is
  // not deterministic enough for 4-decimal rounding.
  private def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
      .join(
        t(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.enrich(ev, dim, col("user_id") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("_tv"))
    }
      .select(
        col("n_name"),
        col("n_events"),
        round(col("_tv"), 4).cast("double").as("total_value"))
      .orderBy(col("n_name"))
  }

  // q50 — point-in-interval range join (RangeJoin.pointInInterval): ten
  // 3-day windows tiled from the first event day, each event joined into
  // its containing window(s) by binned equi-join (binWidth 2 days, so
  // windows genuinely span multiple bins), then per-window stats. Spark's
  // native plan for the bare range predicate would be a nested-loop join;
  // the oracle computes that naive form directly. The window table derives
  // deterministically from min(event date) on both sides. Windows overlap
  // nothing here, but the operator supports overlap — see RangeJoinSpec.
  private def rangeJoinWindows(s: SparkSession, dir: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val ev = t(s, dir, "events")
      .select(datediff(to_date(col("ts")), epoch).cast("long").as("d"), col("value"))
    // driver-side scalar (one-row agg): the windows anchor
    val day0 = ev.agg(min(col("d"))).head().getLong(0)
    import s.implicits._
    val windows = (0 until 10)
      .map(k => (k.toLong, day0 + 3L * k, day0 + 3L * k + 3L))
      .toDF("w_id", "w_start", "w_end")
    graft.operators.RangeJoin
      .pointInInterval(ev, "d", windows, "w_start", "w_end", binWidth = 2L)
      .groupBy(col("w_id"))
      .agg(count(lit(1)).as("n_events"), rnd(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("w_id"))
  }

  // q51 — BM25 full-text ranking (corpus-curation / retrieval capability):
  // score every document against a fixed term query with Okapi BM25
  // (k1=1.2, b=0.75) and return the top 15. Shape: ONE projection computes
  // per-doc length and per-term tf from a let-bound token array (no explode,
  // so no token-level shuffle and no doc×term join); the corpus-wide stats
  // (N, avgdl, per-term df) reduce to a ONE-ROW aggregate broadcast back;
  // ranking is TakeOrderedAndProject. Two scans of `documents` total — the
  // explode/join formulation re-scanned it once per derived table. The
  // oracle computes the identical formula (DuckDB `ln`, not `log` = log10).
  // BM25 constants appear as the same decimal literals on both engines
  // (k1=1.2, k1+1=2.2, 1-b=0.25, b=0.75) — a Scala-computed k1+1 could
  // differ from the SQL literal 2.2 by one ulp and flip a rank boundary.
  private def bm25Search(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("join", "window", "stream")
    val docs = t(s, dir, "documents")
    val withStats = docs.select(
      col("doc_id"),
      TF.bindOnce(TF.tokens(col("text"))) { tk =>
        struct(
          size(tk).as("dl") +:
            qTerms.zipWithIndex.map { case (qt, i) =>
              size(filter(tk, x => x === lit(qt))).as(s"tf$i")
            }: _*)
      }.as("st"))
    val corpus = withStats.agg(
      count(lit(1)).as("n_docs"),
      (avg(when(col("st.dl") > 0, col("st.dl")).cast("long")).as("avgdl") +:
        qTerms.indices.map(i =>
          sum((col(s"st.tf$i") > 0).cast("long")).as(s"df$i"))): _*)
    def idf(i: Int): Column =
      log((col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1)
    def termScore(i: Int): Column =
      when(
        col(s"st.tf$i") > 0,
        idf(i) * (col(s"st.tf$i") * 2.2) /
          (col(s"st.tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * col("st.dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    val nTerms = qTerms.indices.map(i => (col(s"st.tf$i") > 0).cast("long")).reduce(_ + _)
    withStats
      .crossJoin(broadcast(corpus))
      .filter(nTerms > 0)
      .select(
        col("doc_id"),
        rnd(qTerms.indices.map(termScore).reduce(_ + _), 4).as("score"),
        nTerms.as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(15)
  }

  // q52 — grouped top-N on relational data through the bounded-heap top-k
  // aggregator (TopK.topKPerKey): top-3 orders by total price per nation.
  // The aggregator generalizes beyond similarity search — any (key, metric,
  // id) triple ranks map-side to ≤ 2k rows per key before the exchange,
  // where the `row_number` window idiom would shuffle every order row onto
  // n_nation reducers. The oracle computes the window form.
  private def topOrdersPerNation(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val scored = ord
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
    graft.functions.TopK
      .topKPerKey(scored, "n_name", col("o_totalprice"), col("o_orderkey"), lit(0L), 3)
      .select(
        col("n_name"),
        col("rank"),
        col("id").as("o_orderkey"),
        rnd(col("sim"), 2).as("o_totalprice"))
      .orderBy(col("n_name"), col("rank"))
  }

  // q53 — association rules derived relationally (A9/A10 in full-oracle
  // form; q17's FPGrowth variant stays rows-only): both directions of each
  // frequent trend-item pair, confidence/lift/support from counts alone,
  // same 0.15/0.6 thresholds as the reference (蔬菜价格相关性分析.py:173-209).
  private def ruleMetrics(s: SparkSession, dir: String): DataFrame = {
    val tx = trendLabels(s, dir)
      .withColumn("item", concat_ws("_", col("event_type"), col("trend")))
      .groupBy(col("d"))
      .agg(array_sort(collect_set(col("item"))).as("items"))
    Association.rulesRelational(tx, "d", "items", minSupport = 0.15, minConfidence = 0.6)
      .select(
        col("antecedent"), col("consequent"), col("support_count"),
        rnd(col("confidence"), 4).as("confidence"),
        rnd(col("lift"), 4).as("lift"),
        rnd(col("support"), 4).as("support"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  // q54 — deterministic 7-day trailing-mean forecast of daily event counts
  // per type, scored with the relational per-group metric aggregates (M6 in
  // full-oracle form; the fitted-model variants stay rows-only in q19/q21).
  private def forecastMetrics(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("label"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val preds = WindowOps.trailingMean(daily, w, "label", 7)
      .filter(col("label_ma7").isNotNull)
    Regression.metricsRelational(preds, "label", "label_ma7", Seq("event_type"))
      .select(
        col("event_type"), col("n"),
        rnd(col("rmse"), 4).as("rmse"),
        rnd(col("mae"), 4).as("mae"),
        rnd(col("r2"), 4).as("r2"),
        rnd(col("mape"), 4).as("mape"))
      .orderBy(col("event_type"))
  }

  // q55 — ROC curve + trapezoid AUC over a deterministic scorer (M8 in
  // full-oracle form; the fitted-probability variant stays ScalaTest-only):
  // english-stopword ratio as a lang=='en' detector, one threshold row per
  // distinct 2-dp score so the curve (= the output) stays bounded at any
  // corpus size. The last row's auc_cum is the AUC.
  private def rocAuc(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(
        rnd(TF.stopwordRatio(col("text"), Stopwords), 2).as("score"),
        (col("lang") === "en").cast("int").as("is_en"))
    Classification.rocPoints(docs, "score", "is_en")
      .select(
        col("thr"), col("pos"), col("neg"),
        rnd(col("tpr"), 6).as("tpr"),
        rnd(col("fpr"), 6).as("fpr"),
        rnd(col("auc_cum"), 6).as("auc_cum"))
      .orderBy(col("thr").desc)
  }

  // q56 — stream-stream interval self-join (phase E, oracle-checked): each
  // purchase pairs with the same user's clicks in the preceding hour,
  // watermarks on both sides bounding the join state. The per-purchase
  // tally aggregates the DRAINED sink table (batch side); the join itself
  // runs inside the stream and must equal the batch join the oracle runs.
  private def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val pairs = replayStream(s, dir, "append") { ev =>
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      graft.streaming.StreamOps.intervalJoin(
        purchases, "p_user", "p_ts", clicks, "c_user", "c_ts",
        before = "1 hour", watermark = "1 day")
    }
    pairs
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_clicks"), max(col("c_id")).as("last_click_id"))
      .orderBy(col("p_id"))
  }

  // q57 — exact φ-heavy-hitters over 5-char shingles via the Misra–Gries
  // sketch → prune → recount path (the 100-TB shape for frequent items:
  // the full-vocabulary groupBy the oracle runs would shuffle every
  // distinct key; the sketch caps shuffled state at m ≈ 2/φ candidates per
  // map partition and the recount only aggregates candidate rows). At
  // sf0.01 the shingle vocabulary (~2000) genuinely exceeds the sketch
  // capacity (m=667), so the pruning regime is exercised, not just the
  // degenerate everything-fits case. Deterministic despite the sketch's
  // order-dependence: the exact recount filter removes any sub-threshold
  // survivor, so output = the oracle's plain GROUP BY ... HAVING.
  private def heavyShingles(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(explode(TF.charShingles(col("text"), 5)).as("sh"))
    graft.functions.HeavyHitters.frequentItems(sh, "sh", phi = 0.003)
      .orderBy(col("cnt").desc, col("item"))
  }

  // q58 — salted equi-join (§2.3 skewed-join row, oracle-checked): events
  // fact side salted over 16 buckets against a 16×-replicated customer
  // side, then per-segment stats. Salting only re-partitions — results are
  // identical to the plain join the oracle runs; this is the explicit form
  // for a skewed key against a right side too big to broadcast (AQE's
  // skew splitting handles the broadcastable cases at runtime). Value sums
  // ride decimals so the two engines' summation order cannot diverge.
  private def saltedJoinSegments(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    val ev = t(s, dir, "events").select(col("user_id").as("c_custkey"), col("value"))
    val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    Skew.saltedJoin(ev, cust, "c_custkey", buckets = 16)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("value_sum"))
      .orderBy(col("c_mktsegment"))
  }

  // q59 — kNN over int8-quantized embeddings (similarity-search memory
  // story, oracle-checked): quantize → dequantize → exact top-5 cosine.
  // Quantization arithmetic (per-vector affine min/scale, half-up codes) is
  // plain expressions mirrored in the DuckDB oracle, so the LOSSY pipeline
  // is still value-exact across engines; recall vs the unquantized exact
  // ranking is asserted in VectorFunctionsSpec.
  private def quantizedKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("deq", VF.dequantize(VF.quantizeInt8(col("embedding"))))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("deq").as("q_vec"))
    val corpus = emb.select(col("vec_id"), col("deq"))
    VF.bruteForceTopK(queries, corpus, "q_id", "vec_id", "q_vec", "deq", k = 5)
      .withColumnRenamed("vec_id", "c_id")
      .orderBy(col("q_id"), col("rank"))
  }

  // q60 — time-bounded conversion funnel (sequential-pattern analytics over
  // the event log): first 'view' → first 'click' within 4 h of it → first
  // 'purchase' within 48 h of that click. Each stage is an equi-join on
  // user_id against the previous (strictly shrinking) stage frame plus a
  // user-keyed min — one shuffle per stage on the join key, never a window
  // or self-join over the full log, so the plan is unchanged at 1000
  // executors. Stage counts union lazily into a single 3-row job.
  private def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + expr("INTERVAL 4 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t2") + expr("INTERVAL 48 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
    stage("S1_view", s1)
      .unionByName(stage("S2_click_4h", s2))
      .unionByName(stage("S3_purchase_48h", s3))
      .orderBy(col("stage"))
  }

  // q61 — cohort retention triangle: cohort = a user's first active day
  // (any event), activity = purchase days, offset in whole weeks. Two
  // shuffles total — user-keyed min, then (cohort, offset) distinct-count —
  // the scale shape for retention (no per-day self-join over the log).
  private def retention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val first = ev.groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("cohort_day"))
    val act = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    act.join(first, "user_id")
      .groupBy(
        col("cohort_day"),
        floor(datediff(col("d"), col("cohort_day")) / 7).cast("long").as("offset_w"))
      .agg(countDistinct(col("user_id")).as("users"))
      .orderBy(col("cohort_day"), col("offset_w"))
  }

  // q62 — unigram-LM surprisal (training-data quality signal): fit a
  // corpus-wide unigram model (token → count / total), score each doc by
  // mean -ln p(token), roll up per lang. Vocabulary stays distributed (the
  // tokens⋈vocab equi-join shuffles on the token — at 100 TB the vocab is
  // itself too big to broadcast); the only driver-sized frame is the final
  // per-lang rollup. Tokenization = TF.tokens on lowercased text, mirrored
  // exactly in the oracle.
  private def surprisal(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    val tok = docs.select(
      col("doc_id"), col("lang"), explode(TF.tokens(lower(col("text")))).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = vocab.agg(sum(col("c")).as("n_total"))
    val p = vocab.crossJoin(broadcast(tot))
    tok.join(p, "w")
      .groupBy(col("doc_id"), col("lang"))
      .agg(avg(-log(col("c") / col("n_total"))).as("sur"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), rnd(avg(col("sur")), 4).as("avg_surprisal"))
      .orderBy(col("lang"))
  }

  // q63 — n-gram decontamination sweep (the benchmark-leakage check every
  // training corpus needs): flag corpus docs sharing any word 3-gram with a
  // holdout set (here doc_id % 50 == 0). Corpus grams collapse to xxhash64
  // before the exchange (8-byte keys, not gram strings); the holdout side is
  // tiny by construction and broadcast, so the whole sweep is one scan + one
  // broadcast equi-join — no shuffle of the corpus at all. The string-vs-
  // hash distinct counts agree unless xxhash64 collides (~2⁻⁶⁴ per pair;
  // the oracle run would catch one).
  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    def grams(side: DataFrame) = side
      .select(col("doc_id"), explode(TF.wordShingles(lower(col("text")), 3)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    // only the TINY holdout side dedups before the broadcast; the corpus
    // side stays shuffle-free (duplicate grams just add join rows, and the
    // countDistinct aggregates below already collapse them)
    val bench = grams(docs.filter(col("doc_id") % 50 === 0))
      .distinct()
      .select(col("doc_id").as("bench_doc"), col("h"))
    val corpus = grams(docs.filter(col("doc_id") % 50 =!= 0))
    corpus.join(broadcast(bench), "h")
      .groupBy(col("bench_doc"))
      .agg(
        countDistinct(col("doc_id")).as("n_contaminated"),
        countDistinct(col("h")).as("n_shared_grams"))
      .orderBy(col("bench_doc"))
  }

  // q64 — sliding-window streaming counts (phase E): 7-day windows sliding
  // 1 day over the replayed event stream, counts per (window, type). Each
  // event lands in exactly 7 windows (epoch-aligned UTC midnights — same
  // boundaries the oracle derives as date - k for k in 0..6). Complements
  // q27's tumbling windows; same watermarked stateful-agg machinery.
  private def streamSliding(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.slidingTypeCounts(ev, "7 days", "1 day", "7 days")
    }
      .select(to_date(col("window_start")).as("window_day"), col("event_type"), col("n"))
      .orderBy(col("window_day"), col("event_type"))

  // q65 — deterministic hash-based train/val/test assignment (M2/M3 at
  // corpus scale): split membership from the id alone via Features.hashSplit
  // (Knuth multiplicative hash, exact int64) — unlike randomSplit/sampleBy
  // it is independent of partition layout and rerun, and the oracle derives
  // the SAME assignment from the same arithmetic, which no RNG-based split
  // can offer. Output: per (split, lang) document counts.
  private def hashSplitCounts(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs
      .withColumn("split", Features.hashSplit(
        col("doc_id"), Seq(("train", 80), ("val", 90), ("test", 100))))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("split"), col("lang"))
  }

  // q66 — per-label embedding centroids via Summarizer.mean (one agg pass
  // over the vectors — partial sums per partition, one shuffle on the
  // label, NOT a posexplode of n·d rows). The oracle averages the same
  // elements relationally; the first four dims are the declared scalars.
  private def embeddingCentroids(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val emb = t(s, dir, "embeddings")
      .withColumn("v", array_to_vector(col("embedding").cast("array<double>")))
    val cents = Clustering.centroids(emb, "label", "v")
      .withColumn("c", vector_to_array(col("centroid")))
    cents.select(
      Seq(col("label"), col("n")) ++
        (0 until 4).map(i => rnd(element_at(col("c"), i + 1), 6).as(s"c$i")): _*)
      .orderBy(col("label"))
  }

  // q67 — streaming trend detection (phase E: the VEG adjacent-period
  // comparison in streaming form, previously test-only): per-type daily
  // avg-value stats replayed as a stream through the
  // flatMapGroupsWithState trend labeler (state = last day's avg per
  // type). The upstream daily aggregation runs as its own batch stage —
  // the standard pipeline split, since chaining agg→fMGWS inside one
  // streaming query is restricted. Labels (±5% band, emitted at the
  // TO-day) must equal the batch lag-window labeling the oracle runs.
  private def streamTrends(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg(col("value")).as("avg_value"))
    replayFrame(s, daily, "update") { (ss, stream) =>
      import ss.implicits._
      graft.streaming.StreamOps
        .trendDetect(ss, stream.as[graft.streaming.StreamOps.DayStat])
        .toDF()
    }
      .select(col("day"), col("event_type"), col("trend"))
      .orderBy(col("day"), col("event_type"))
  }

  // q68 — deterministic per-lang corpus sample (the 100-TB sampling idiom):
  // first 20 docs per lang in Knuth-multiplicative-hash order of the id —
  // partition-layout/run/engine-independent (the oracle re-derives the SAME
  // sample from the same exact-int64 arithmetic, which no RNG sample can
  // offer). Ranking rides the bounded-heap top-k aggregator: map-side
  // partial top-n per lang, no full-corpus window shuffle.
  private def deterministicSample(s: SparkSession, dir: String): DataFrame =
    Features.deterministicSample(t(s, dir, "documents"), "lang", "doc_id", 20)
      .orderBy(col("lang"), col("rank"))

  // q69 — declarative data-quality expectations (the ingest contract check):
  // five constraint kinds over events evaluated in ONE aggregate pass
  // (single scan, map-side partials; the unique constraint's count-distinct
  // shares the same scan via Expand). Driver-sized report regardless of
  // input scale. InRange/InSet bounds chosen to exercise real violations.
  private def expectationsReport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations
    import graft.operators.Expectations._
    Expectations.check(
      t(s, dir, "events"),
      Seq(
        NotNull("user_id"),
        Unique("event_id"),
        InRange("value", 0.0, 100.0),
        InSet("event_type", Seq("click", "view", "purchase")),
        Matches("props", "\\{\"k\": [0-9]+\\}")))
  }

  // q70 — quality-decile curriculum binning: decile cut points from one
  // percentile aggregation, then a broadcast of the 9 cuts assigns each doc
  // value-based (decile = 1 + #cuts below the score — deterministic under
  // score ties, unlike rank-based ntile which would also need a global
  // single-partition sort). Size-gated like q29: the EXACT interpolated
  // percentile (type-7, = DuckDB quantile_cont; what the oracle checks)
  // buffers every value in the aggregation state, so it is only declared
  // under the gate; above it the cuts come from percentile_approx — the
  // KLL-style mergeable sketch with bounded state, the honest 100-TB path
  // (cut error moves bin boundaries only; assignment stays value-exact).
  private def qualityDeciles(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .select(
        col("doc_id"), col("n_chars"),
        TF.qualityScore(col("text"), Stopwords).as("q"))
    val pcts = array((1 to 9).map(i => lit(i / 10.0)): _*)
    val cutExpr =
      if (scored.count() <= 100000L) percentile(col("q"), pcts)
      else percentile_approx(col("q"), pcts, lit(10000))
    val cuts = scored.agg(cutExpr.as("cuts"))
    scored
      .crossJoin(broadcast(cuts))
      .withColumn(
        "decile",
        (lit(1) + size(filter(col("cuts"), c => c < col("q")))).cast("int"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        rnd(avg(col("q")), 6).as("avg_quality"),
        rnd(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("decile"))
  }

  // q71 — sliding token-window chunking (LLM pre-training document
  // splitter): 32-token windows, stride 24, per-chunk md5 so the oracle
  // verifies chunk CONTENT exactly, not just counts. Pure codegen'd
  // expression per row + explode — narrow, scan-parallel, no shuffle
  // before the final (tiny) sort.
  private def docChunks(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    docs
      .select(col("doc_id"), explode(TF.tokenChunks(lower(col("text")), 32, 24)).as("c"))
      .select(
        col("doc_id"),
        col("c.start").as("start"),
        col("c.n_tok").as("n_tok"),
        md5(col("c.chunk").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("start"))
  }

  // q72 — exponentially-weighted moving average over per-type daily values
  // (pandas ewm(alpha=0.3, adjust=True).mean() semantics, the smoothing
  // every monitoring/trend pipeline wants): closed-form ratio of two
  // running window sums — no recursion, stays codegen'd, oracle-exact.
  // Partitioned by event_type: parallel across series, never a global sort.
  private def ewmaDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg(col("value")).as("v"))
    WindowOps
      .ewma(daily, Seq("event_type"), Seq("day"), "v", 0.3)
      .select(col("event_type"), col("day"), rnd(col("v_ewma"), 4).as("ewma"))
      .orderBy(col("event_type"), col("day"))
  }

  // q73 — multi-touch conversion attribution over the event log: every
  // purchase is credited to a channel (event_type of the attributed touch)
  // under TWO models in one report. Last-touch = backward as-of join on
  // user_id (AsOf.asofBackward, q38's operator at payload level); first-
  // touch = the user's earliest non-purchase event (one min-struct agg —
  // the global first is the first at-or-before the purchase whenever one
  // exists at all), joined back on user_id. No event-log self-join by time
  // range anywhere; both sides are single-shuffle equi-joins.
  private def attribution(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOf
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    // dedup touches to one per (user, ts) — max event_id — so the as-of
    // match is deterministic under time ties (q38's discipline)
    val touches = Dedup.keepLast(
      ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts").as("tts"), col("event_id").as("touch_id"),
          col("event_type").as("channel")),
      Seq("user_id", "tts"), Seq(col("touch_id")))
      .withColumn("tts2", col("tts"))
    val lastTouch = AsOf.asofBackward(purchases, touches, Seq("user_id"), "ts", "tts")
      .select(
        lit("last_touch").as("model"),
        coalesce(col("channel"), lit("none")).as("channel"),
        ((col("ts").cast("long") - col("tts2").cast("long")) / 60.0).as("gap_min"))
    // first touch derives from the SAME deduped per-(user, ts) touches as
    // last touch — computing it from raw events would use the opposite
    // tie-break (min event_id) than the dedup (max event_id) at a tied
    // earliest timestamp and diverge from the oracle
    val firstEv = touches
      .groupBy(col("user_id"))
      .agg(min(struct(col("tts"), col("channel"))).as("f"))
      .select(col("user_id"), col("f.tts").as("fts"), col("f.channel").as("fchannel"))
    val firstTouch = purchases.join(firstEv, Seq("user_id"), "left")
      .select(
        lit("first_touch").as("model"),
        when(col("fts").isNotNull && col("fts") <= col("ts"), col("fchannel"))
          .otherwise(lit("none")).as("channel"),
        when(col("fts").isNotNull && col("fts") <= col("ts"),
          (col("ts").cast("long") - col("fts").cast("long")) / 60.0).as("gap_min"))
    lastTouch.unionByName(firstTouch)
      .groupBy(col("model"), col("channel"))
      .agg(count(lit(1)).as("n"), rnd(avg(col("gap_min")), 2).as("avg_gap_min"))
      .orderBy(col("model"), col("channel"))
  }

  // q74 — trailing 14-day rolling correlation between two event series
  // (click vs purchase daily volume): the co-movement diagnostic pandas
  // rolling(14).corr() gives. Runs AFTER the per-day aggregation has
  // shrunk the log to one row per day — the single-series window is the
  // documented q04 pattern (tiny frame), not a scan-scale sort.
  private def rollingCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
    val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
    // Spark's corr yields NaN on 1-point / zero-variance frames where SQL
    // engines yield NULL — normalize to the SQL convention
    val c = corr(col("clicks"), col("purchases")).over(w)
    daily
      .withColumn("corr_14d", rnd(when(isnan(c), lit(null)).otherwise(c), 4))
      .select(col("day"), col("clicks"), col("purchases"), col("corr_14d"))
      .orderBy(col("day"))
  }

  // q75 — key-skew diagnostics (Skew.keyDistributionReport): per event
  // type, the user-key distribution's concentration — entropy, Herfindahl
  // Σp², hottest-key share. The report that decides whether q39/q58's
  // salting is warranted. Two map-side-combinable aggregations; only
  // (key, count) pairs cross the wire.
  private def keySkew(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew
      .keyDistributionReport(t(s, dir, "events"), "event_type", "user_id")
      .select(
        col("event_type"), col("n_rows"), col("n_keys"),
        rnd(col("entropy"), 4).as("entropy"),
        rnd(col("hhi"), 6).as("hhi"),
        rnd(col("top_share"), 6).as("top_share"))
      .orderBy(col("event_type"))

  // q76 — SCD-2 state intervals (gaps-and-islands by value change): pack
  // each user's event stream into runs of consecutive equal event_type and
  // emit versioned validity intervals (valid_from, valid_to = next run's
  // start, null while current) — the CDC-changes→dimension-snapshot
  // transform. One shuffle on user_id for the change-flag window; the
  // run-pack groupBy and the lead() window ride the same key. Determinism
  // under time ties via (ts, event_id) ordering.
  private def scd2(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val packed = ev
      .withColumn(
        "chg",
        when(lag(col("event_type"), 1).over(w) === col("event_type"), 0L).otherwise(1L))
      .withColumn("seg", sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("seg"))
      .agg(
        min(col("event_type")).as("state"),
        min(col("ts")).as("valid_from"),
        max(col("ts")).as("last_seen"),
        count(lit(1)).as("n_events"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
    packed
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
      .select(
        col("user_id"), col("state"), col("valid_from"), col("valid_to"),
        col("last_seen"), col("n_events"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  // q77 — cumulative distinct users per day, the "running nunique" that is
  // NOT computed as a distinct-over-expanding-window (which would shuffle
  // every (day, user) pair into one reducer): each user reduces to a
  // first-seen day (one agg), days reduce to new-user counts (second agg,
  // both map-side combinable), and only the ~n_days-row frame rides the
  // single-partition running sum — the q04 post-shrink pattern.
  private def cumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val firstDay = ev.groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
    val newPerDay = firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val days = ev.select(to_date(col("ts")).as("day")).distinct()
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    days
      .join(newPerDay, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .orderBy(col("day"))
  }

  // q78 — snapshot diff (Diff.snapshotDiff): the dataset regression check
  // between two corpus versions. Both snapshots derive deterministically
  // from `documents` (removals, additions, and an uppercase mutation on a
  // slice), so the oracle reconstructs the identical comparison with a
  // FULL OUTER JOIN. One key-shuffle per side; no payload comparison
  // before key alignment.
  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Diff
    val docs = t(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 17 =!= 3)
    val neu = docs.filter(col("doc_id") % 19 =!= 5)
      .withColumn(
        "text",
        when(col("doc_id") % 23 === 7, upper(col("text"))).otherwise(col("text")))
    Diff.snapshotDiff(old, neu, Seq("doc_id"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("change_type"))
  }

  // q79 — fixed-width histogram of a numeric column (profiling op): min/max
  // reduce to a ONE-ROW broadcast bind (same scalar-bind class as q51/q70),
  // then binning is a pure map + one combinable count agg. Bin boundaries
  // are derived identically on both engines (same IEEE double arithmetic),
  // so even edge values land in the same bin.
  private def valueHistogram(s: SparkSession, dir: String): DataFrame = {
    val nBins = 20
    val ev = t(s, dir, "events").select(col("value")).filter(col("value").isNotNull)
    val stats = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    ev.crossJoin(broadcast(stats))
      .withColumn(
        "bin",
        least(floor((col("value") - col("mn")) / ((col("mx") - col("mn")) / nBins)),
          lit(nBins - 1)).cast("int"))
      .groupBy(col("bin"))
      .agg(
        rnd(min(col("mn")) + col("bin") * ((min(col("mx")) - min(col("mn"))) / nBins), 4).as("lo"),
        rnd(min(col("mn")) + (col("bin") + 1) * ((min(col("mx")) - min(col("mn"))) / nBins), 4).as("hi"),
        count(lit(1)).as("n"))
      .orderBy(col("bin"))
  }

  // q80 — melt/unpivot (the inverse reshape, pandas melt): q06's wide pivot
  // stacked back to long (day, event_type, avg_value) rows via the `stack`
  // expression — a pure per-row expansion, no shuffle beyond the pivot's
  // own aggregation. NULL cells (day×type combos absent from the log)
  // survive the round trip, matching the oracle's left join.
  private def meltDaily(s: SparkSession, dir: String): DataFrame = {
    val wide = dailyTypePivot(s, dir)
    val types = Seq("click", "error", "purchase", "signup", "view")
    graft.operators.Reshape
      .unpivot(wide, "d", types.map(tp => s"avg_$tp"), "metric", "avg_value")
      .withColumn("event_type", expr("substring(metric, 5)"))
      .select(col("d"), col("event_type"), col("avg_value"))
      .orderBy(col("d"), col("event_type"))
  }

  // q81 — CHAINED stateful streaming (Spark 3.5+ multi-stateful support):
  // exactly-once dedup → daily windowed counts in ONE streaming query (no
  // intermediate sink between the two state stores). The input is the
  // event stream UNIONED WITH ITSELF, so the dedup stage is load-bearing —
  // without it every count would double. Append mode emits only windows
  // the watermark (max event time − 1 h) has closed; the oracle applies
  // the same closure predicate arithmetically. Complements q43 (dedup
  // alone) and q27 (windowed agg alone).
  private def streamDedupCounts(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "append") { ev =>
      ev.unionByName(ev)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(Seq("event_id"))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
    }
      .select(to_date(col("ws")).as("day"), col("event_type"), col("n"))
      .orderBy(col("day"), col("event_type"))

  // q82 — grouped exact percentiles (the latency-report shape: p50/p90/p99
  // per key): one percentile aggregation per group, map-side partial
  // buffers per (group) — exact interpolated type-7 cuts, matching DuckDB
  // quantile_cont. Exact per-group percentile state holds the group's
  // values; the declared groups are low-cardinality types (bounded state).
  // For high-cardinality keys at 100 TB the approx sketch is the swap-in
  // (same gate discipline as q70).
  private def groupPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(percentile(col("value"), array(lit(0.5), lit(0.9), lit(0.99))).as("p"))
      .select(
        col("event_type"),
        rnd(element_at(col("p"), 1), 4).as("p50"),
        rnd(element_at(col("p"), 2), 4).as("p90"),
        rnd(element_at(col("p"), 3), 4).as("p99"))
      .orderBy(col("event_type"))

  // q83 — tokenizer vocabulary build (LLM-prep): top-1000 tokens by corpus
  // frequency get contiguous ids in (count desc, token asc) order — the
  // deterministic vocab-assignment step before BPE merging. The heavy part
  // (token counting) is one map-side-combinable agg; the ranked id
  // assignment happens on the driver-sized top-N only (TakeOrderedAndProject
  // feeds a single-partition window over 1000 rows, not the corpus).
  private def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(explode(TF.tokens(lower(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(1000)
    top
      .withColumn(
        "token_id",
        row_number().over(Window.orderBy(col("n").desc, col("token"))) - 1)
      .select(col("token_id"), col("token"), col("n"))
      .orderBy(col("token_id"))
  }

  // q84 — event-transition matrix (clickstream Markov chain): counts and
  // row-normalized probabilities of each (prev_type → next_type) adjacent
  // pair within a user's ordered stream. One lag window over the user key
  // (single shuffle), then a combinable pair-count agg; the probability
  // normalization joins against per-prev totals derived from the SAME
  // counts frame (tiny, broadcast).
  private def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
    pairs
      .join(broadcast(totals), Seq("prev_type"))
      .select(
        col("prev_type"), col("next_type"), col("n"),
        rnd(col("n") / col("tot"), 6).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  // q85 — IQR outlier fence (the Tukey 1.5×IQR rule, the standard EDA
  // outlier screen): per-type quartiles from one exact percentile agg, the
  // 5-row fence table broadcast back, outliers counted in one combinable
  // pass. Fence arithmetic is identical IEEE double ops on both engines,
  // so boundary values bin the same way.
  private def outlierFence(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"), col("value"))
    val fences = ev
      .groupBy(col("event_type"))
      .agg(percentile(col("value"), array(lit(0.25), lit(0.75))).as("p"))
      .select(
        col("event_type"),
        (element_at(col("p"), 1) - (element_at(col("p"), 2) - element_at(col("p"), 1)) * 1.5).as("lo"),
        (element_at(col("p"), 2) + (element_at(col("p"), 2) - element_at(col("p"), 1)) * 1.5).as("hi"))
    ev.join(broadcast(fences), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L).otherwise(0L))
          .as("n_outliers"),
        rnd(min(col("lo")), 4).as("fence_lo"),
        rnd(min(col("hi")), 4).as("fence_hi"))
      .orderBy(col("event_type"))
  }

  // q86 — canonical selection over near-dup clusters (corpus curation's
  // keep/drop decision, upgraded from q40's min-id rule): q49's connected
  // components joined with q13's quality scores; each cluster keeps its
  // best-quality member (ties → min doc_id, via one max-struct aggregate —
  // no per-cluster sort). The composition of three already-verified
  // operators, checked end-to-end by the oracle's recursive-CTE closure +
  // arg-max reconstruction.
  private def canonicalSelection(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.operators.Dedup
      .connectedComponents(jaccardPairsAbove(s, dir, 0.5), "id_a", "id_b", idOut = "doc_id")
    val quality = t(s, dir, "documents")
      .select(col("doc_id"), TF.qualityScore(col("text"), Stopwords).as("q"))
    clusters
      .join(quality, Seq("doc_id"))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("q").as("q"), (-col("doc_id")).as("nid"))).as("best"))
      .select(
        col("component"),
        (-col("best.nid")).cast("long").as("kept_doc"),
        col("n_members"),
        rnd(col("best.q"), 6).as("best_quality"))
      .orderBy(col("component"))
  }

  // q87 — incremental rollup maintenance: the history partition's PARTIAL
  // aggregates (count/sum/min/max — all mergeable) merge with the last-7-
  // days delta's partials into the exact full rollup, the pattern that
  // lets a 100-TB pipeline maintain aggregates without ever re-scanning
  // history. The oracle computes the full aggregate directly — the check
  // IS the merge-equals-recompute identity. avg derives from merged
  // sum/count (avg itself is not mergeable). The day cutoff is a
  // driver-side scalar (one cheap max; same driver-steered contract as
  // q21's CV loop).
  private def incrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("day", to_date(col("ts")))
    val maxDay = ev.agg(max(col("day"))).collect()(0).getDate(0)
    val cut = java.sql.Date.valueOf(maxDay.toLocalDate.minusDays(7))
    def partial(part: DataFrame) = part
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("s"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx"))
    partial(ev.filter(col("day") < lit(cut)))
      .unionByName(partial(ev.filter(col("day") >= lit(cut))))
      .groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n"),
        sum(col("s")).as("s"),
        min(col("mn")).as("mn"),
        max(col("mx")).as("mx"))
      .select(
        col("event_type"), col("n"),
        rnd(col("s") / col("n"), 4).as("avg_value"),
        rnd(col("mn"), 4).as("min_value"),
        rnd(col("mx"), 4).as("max_value"))
      .orderBy(col("event_type"))
  }

  // q88 — Zipf-law fit over the vocabulary (corpus health diagnostic: a
  // natural-language corpus shows slope ≈ −1 in log-rank/log-freq space;
  // a synthetic or template-heavy one deviates): OLS via the standard
  // regr_* aggregates (closed-form co-moments, map-side combinable) on
  // q83's ranked vocab — the regression itself costs one tiny agg over
  // the driver-sized top-N.
  private def zipfFit(s: SparkSession, dir: String): DataFrame =
    vocabBuild(s, dir)
      .select(
        log(col("token_id") + 1).as("lr"),
        log(col("n").cast("double")).as("lf"))
      .agg(
        count(lit(1)).as("n_points"),
        rnd(regr_slope(col("lf"), col("lr")), 6).as("slope"),
        rnd(regr_intercept(col("lf"), col("lr")), 6).as("intercept"),
        rnd(regr_r2(col("lf"), col("lr")), 6).as("r2"))

  // q89 — typed JSON column parsing (semi-structured surface): from_json
  // with an explicit schema (not regex like q25/q39) — malformed documents
  // parse to null and are ACCOUNTED, the tolerant-ingest contract.
  // from_json is a per-row expression: scan-parallel, no shuffle before
  // the final combinable agg.
  private def jsonStats(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
      .getField("k")
    ev.withColumn("k", k)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("k_nulls"),
        countDistinct(col("k")).as("k_distinct"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        rnd(avg(col("k")), 4).as("k_avg"))
      .orderBy(col("event_type"))
  }

  // q90 — per-source corpus profile ("corpus card"): the one-page summary
  // a training-data team publishes per source — volume, language spread
  // (distinct + entropy), quality, token budget, empty-doc rate. Pure
  // composition of verified pieces (quality q13, tokens q12, entropy q75)
  // in two combinable aggregation passes (doc-level stats, then the
  // lang-distribution rollup joined back — both tiny by source).
  private def corpusProfile(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(
        col("source"), col("lang"),
        TF.qualityScore(col("text"), Stopwords).as("q"),
        TF.tokenCount(col("text")).cast("long").as("toks"),
        (trim(col("text")) === "").cast("long").as("empty"))
    val base = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      rnd(avg(col("q")), 6).as("avg_quality"),
      sum(col("toks")).as("total_tokens"),
      rnd(percentile(col("toks"), lit(0.5)), 1).as("median_tokens"),
      sum(col("empty")).as("n_empty"))
    val langEntropy = docs
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(rnd(log(sum(col("c"))) - sum(col("c") * log(col("c"))) / sum(col("c")), 4)
        .as("lang_entropy"))
    base.join(langEntropy, Seq("source"))
      .orderBy(col("source"))
  }

  // q91 — trailing z-score anomaly detection on daily volumes (the
  // monitoring primitive): each (type, day) count scored against the
  // trailing 7 CALENDAR days excluding the current day (a RANGE frame
  // over the epoch-day ordinal — a ROWS frame would silently stretch the
  // baseline across gap days with no events, scoring a post-gap spike
  // against stale history). Runs after the per-day aggregation shrinks
  // the log; windows are per-type (parallel across series). Degenerate
  // windows (fewer than 2 prior days, or zero variance) are excluded on
  // both engines.
  private def anomalyDays(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day_ord", datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01"))))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_ord")).rangeBetween(-7, -1)
    val mean = avg(col("n")).over(w)
    val sd = stddev_samp(col("n")).over(w)
    daily
      .withColumn("sd", sd)
      .withColumn("z", (col("n") - mean) / col("sd"))
      .filter(col("sd").isNotNull && col("sd") > 0)
      .select(
        col("event_type"), col("day"), col("n"),
        rnd(col("z"), 4).as("z"),
        (abs(col("z")) > 2.0).as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  // q92 — set operations (§2.7 as a declared query, not just internal
  // plumbing): customers who ordered but never urgently (EXCEPT) and
  // customers who did both (INTERSECT), with SQL set-distinct semantics.
  // Both plan as aggregated anti/semi joins — one shuffle per side on the
  // key, no materialized distinct lists.
  private def setOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val all = o.select(col("o_custkey"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val never = all.except(urgent).withColumn("relation", lit("never_urgent"))
    val both = all.intersect(urgent).withColumn("relation", lit("ordered_urgent"))
    never.unionByName(both)
      .groupBy(col("relation"))
      .agg(count(lit(1)).as("n_customers"), sum(col("o_custkey")).as("custkey_sum"))
      .orderBy(col("relation"))
  }

  // q93 — dedup burden by source (the curation-dashboard rollup): how much
  // of each source is near-duplicate weight. Per source: docs, docs in any
  // near-dup cluster, distinct clusters represented, and droppable docs
  // (clustered − one representative per cluster per source — a component
  // spanning sources keeps one doc in EACH source by this accounting,
  // identically on both engines). Left join of the (small) cluster frame
  // onto docs, then one combinable rollup.
  private def dedupBurden(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.operators.Dedup
      .connectedComponents(jaccardPairsAbove(s, dir, 0.5), "id_a", "id_b", idOut = "doc_id")
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    docs
      .join(clusters, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("component").isNotNull.cast("long")).as("n_clustered"),
        countDistinct(col("component")).as("n_clusters"))
      .withColumn("n_droppable", col("n_clustered") - col("n_clusters"))
      .orderBy(col("source"))
  }

  // q94 — per-user behavioral feature table (the feature-store build every
  // downstream model starts from): volume, variety, tenure, monetary, and
  // recency features in ONE combinable aggregation over the log, with
  // recency anchored to the corpus max timestamp (one-row broadcast bind).
  // Output is capped to the first 200 users by id — the driver-compare
  // contract — while the aggregation itself is full-corpus.
  private def userFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val maxTs = ev.agg(max(col("ts")).as("max_ts"))
    ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(to_date(col("ts"))).as("days_active"),
        rnd(avg(col("value")), 4).as("avg_value"),
        sum((col("event_type") === "purchase").cast("long")).as("n_purchases"),
        max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(maxTs))
      .select(
        col("user_id"), col("n_events"), col("n_types"), col("days_active"),
        col("avg_value"), col("n_purchases"),
        // second-floor longs, not double casts (which keep sub-second
        // micros the oracle's floor(epoch()) drops) — q38's ns-vs-µs parity
        rnd((col("max_ts").cast("long") - col("last_ts").cast("long")) / 86400.0, 4)
          .as("recency_days"))
      .filter(col("user_id") < 200)
      .orderBy(col("user_id"))
  }

  // q95 — lag-1 autocorrelation of each type's daily series (the
  // persistence diagnostic that separates trending metrics from noise):
  // lag window to pair (x_t, x_{t−1}), then the corr aggregate per type.
  // Two tiny per-type passes after the per-day shrink.
  private def autocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev", lag(col("n"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_pairs"),
        rnd(corr(col("n"), col("prev")), 6).as("acf1"))
      .orderBy(col("event_type"))
  }

  // q96 — session-length distribution (q24's sessionization rolled to
  // per-session rows, then ONE distribution summary row): events per
  // session (mean/median/max) and session duration minutes — the
  // engagement profile behind every session metric. Exact median via one
  // percentile pass over the session-level frame (already shrunk to one
  // row per session).
  private def sessionStats(s: SparkSession, dir: String): DataFrame = {
    val sessions = withSessionIds(t(s, dir, "events"))
      .groupBy(col("user_id"), col("_sess"))
      .agg(
        count(lit(1)).as("n_ev"),
        (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("dur_s"))
    sessions.agg(
      count(lit(1)).as("n_sessions"),
      rnd(avg(col("n_ev")), 4).as("avg_events"),
      rnd(percentile(col("n_ev"), lit(0.5)), 1).as("median_events"),
      max(col("n_ev")).as("max_events"),
      rnd(avg(col("dur_s")) / 60.0, 4).as("avg_duration_min"))
  }

  // q97 — weekday seasonality profile: avg daily volume per (type,
  // ISO weekday) — the seasonal fingerprint trend models subtract first.
  // Two combinable aggs after the per-day shrink. ISO dayofweek (Mon=1)
  // derived identically on both engines.
  private def weekdayProfile(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    daily
      .withColumn("iso_dow", dayofweek(col("day"))) // Sun=1..Sat=7 (both engines mapped below)
      .withColumn("dow", when(col("iso_dow") === 1, 7).otherwise(col("iso_dow") - 1))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), rnd(avg(col("n")), 4).as("avg_volume"))
      .orderBy(col("event_type"), col("dow"))
  }

  // q98 — containment pairs (ASYMMETRIC near-dup: |A∩B|/|A| spots a doc
  // quoted or embedded inside a larger one where symmetric Jaccard stays
  // low — the boilerplate/quotation detector Jaccard-based dedup misses).
  // Same lang-blocked triangle-salted pair join as q46; the metric is
  // max-directional containment over DISTINCT 5-gram shingle-hash sets,
  // with the smaller doc reported as the contained side. Degenerate empty
  // shingle sets drop on both engines (NaN/NULL both fail the threshold).
  private def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = docs.select(
      col("doc_id"), col("lang"),
      graft.expressions.ShingleHashes.hashedCharShingles(col("text"), 5)
        .as("h"))
    // the per-pair hot path is the native two-pointer intersection with the
    // CONTAINMENT early-exit bound (inter + min remainder < ~0.6·min size ⇒
    // bail — the symmetric Jaccard length prune would wrongly drop exactly
    // the small-inside-huge pairs this query exists to find); exact I for
    // every surviving pair, final cut by the same double compare as before.
    // The distinct+sort runs once per DOC.
    graft.operators.Pairs.allPairs(sh, "doc_id", Seq("lang"), buckets = 8)
      .select(
        col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"),
        graft.expressions.VectorExpressions
          .intersectSortedMin(col("a.h"), col("b.h"), 0.6).as("i"),
        size(col("a.h")).as("na"),
        size(col("b.h")).as("nb"))
      .filter(col("i") >= 0L)
      .withColumn("containment", greatest(col("i") / col("na"), col("i") / col("nb")))
      .filter(col("containment") >= 0.6)
      .select(
        col("id_a"), col("id_b"),
        rnd(col("containment"), 6).as("containment"),
        when(col("na") <= col("nb"), col("id_a")).otherwise(col("id_b")).as("contained_id"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // q99 — repetition stats (the Gopher-family duplicate-token signal):
  // per-doc duplicate-token fraction 1 − distinct/total, rolled per lang
  // with the share of docs above the 0.3 repetition gate. Pure per-row
  // expressions + one combinable agg; mirrors the duplicate-content
  // quality screens production corpus filters run.
  private def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    docs
      .select(col("lang"), TF.duplicateTokenFraction(col("text")).as("rep"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        rnd(avg(col("rep")), 6).as("avg_repetition"),
        rnd(avg((col("rep") > 0.3).cast("double")), 6).as("frac_repetitive"))
      .orderBy(col("lang"))
  }

  // q100 — reason-coded quality filter (the Gopher-rules shape: each doc
  // either passes or is dropped with its FIRST failing rule as the reason
  // — the accounting a curation pipeline publishes alongside the kept
  // corpus). Rules, in precedence order: too_short (< 15 tokens),
  // too_repetitive (> 0.3 duplicate-token fraction), too_symbolic
  // (> 0.1 punctuation ratio), no_stopwords (zero stopword hits). All
  // per-row arithmetic over already-verified functions; one combinable
  // rollup per (lang, verdict).
  private def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    val nTok = size(TF.tokens(lower(col("text"))))
    val rep = TF.duplicateTokenFraction(col("text"))
    val punct = TF.punctRatio(col("text"))
    val stopHits = TF.stopwordRatio(col("text"), Stopwords)
    docs
      .select(
        col("lang"),
        when(nTok < 15, "too_short")
          .when(rep > 0.3, "too_repetitive")
          .when(punct > 0.1, "too_symbolic")
          .when(stopHits === 0.0, "no_stopwords")
          .otherwise("kept")
          .as("verdict"))
      .groupBy(col("lang"), col("verdict"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("verdict"))
  }

  // ======== round-3 extensions (q101+): statistical diagnostics =========

  // q101 — pairwise Pearson correlation matrix over lineitem's numeric
  // measures, melted to long form (the pandas df.corr() step of
  // 蔬菜价格相关性分析.py, distributed). All 6 pairwise corrs ride ONE
  // map-side-combinable aggregation pass (Stats.corrMatrix) — a single
  // scan, a 1-row aggregate, a driver-sized melt.
  private def corrMatrixQuery(s: SparkSession, dir: String): DataFrame =
    Stats
      .corrMatrix(
        t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .select(col("col_a"), col("col_b"), rnd(col("corr"), 6).as("corr"))
      .orderBy(col("col_a"), col("col_b"))

  // q102 — chi-square test of independence (order priority × status) with
  // Cramér's V: the contingency-analysis shape, computed from marginals of
  // ONE grouped count — the R×C grid is a product of two aggregate frames
  // (≤ tens of rows), never of the input.
  private def chiSquareQuery(s: SparkSession, dir: String): DataFrame =
    Stats
      .chiSquareIndependence(t(s, dir, "orders"), "o_orderpriority", "o_orderstatus")
      .select(
        col("n"),
        col("n_rows"),
        col("n_cols"),
        col("dof"),
        rnd(col("chi2"), 6).as("chi2"),
        rnd(col("cramers_v"), 6).as("cramers_v"))

  // q103 — per-event-type OLS trend of daily volume vs day index (the
  // np.polyfit per-series trend fit, distributed): closed-form slope /
  // intercept / r² from sufficient statistics in one grouped pass over the
  // (already tiny) daily aggregate.
  private def olsTrendQuery(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
      .withColumn("x", datediff(col("day"), lit("2024-01-01")).cast("double"))
    Stats
      .olsFit(daily, Seq("event_type"), "x", "y")
      .select(
        col("event_type"),
        col("n"),
        rnd(col("slope"), 6).as("slope"),
        rnd(col("intercept"), 6).as("intercept"),
        rnd(col("r2"), 6).as("r2"))
      .orderBy(col("event_type"))
  }

  // q104 — robust outlier report per event type via the MAD rule
  // (modified z-score, Iglewicz–Hoaglin): the robust companion to q85's
  // IQR fence. Exact medians via `percentile` (matches DuckDB
  // quantile_cont); only the group key is ever shuffled.
  private def madOutlierQuery(s: SparkSession, dir: String): DataFrame =
    Stats
      .madOutliers(t(s, dir, "events"), Seq("event_type"), "value", cutoff = 3.5)
      .select(
        col("event_type"),
        col("n"),
        rnd(col("med"), 6).as("med"),
        rnd(col("mad"), 6).as("mad"),
        col("n_outliers"),
        rnd(col("max_abs_z"), 6).as("max_abs_z"))
      .orderBy(col("event_type"))

  // q105 — per-day event-type mix diversity: Shannon entropy + Gini
  // impurity of the daily type distribution, computed from the identities
  //   H = ln(N) − Σ nᵢ·ln(nᵢ)/N,  G = 1 − Σ nᵢ²/N²
  // so the whole thing is sufficient statistics over the (day, type)
  // counts — two combinable aggregation levels, no window, no p-vector.
  private def typeEntropy(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    daily
      .groupBy(col("day"))
      .agg(
        sum(col("cnt")).cast("long").as("n_events"),
        count(lit(1)).as("n_types"),
        rnd(
          log(sum(col("cnt"))) - sum(col("cnt") * log(col("cnt"))) / sum(col("cnt")),
          6).as("entropy"),
        rnd(
          lit(1.0) - sum(col("cnt") * col("cnt")) / (sum(col("cnt")) * sum(col("cnt"))),
          6).as("gini"))
      .orderBy(col("day"))
  }

  // q106 — corpus-level TF-IDF salient terms per language: tf = term count
  // within the lang, df = docs containing the term corpus-wide,
  // score = tf·ln(N/df). Explode → two combinable aggregations → a window
  // over the AGGREGATE (vocab-sized) frame for the top 5 per lang; the
  // 1-row doc count binds via broadcast.
  private def tfidfTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    val toks = docs.select(
      col("doc_id"),
      col("lang"),
      explode(TF.tokens(lower(col("text")))).as("term"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = toks.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * log(col("n_docs").cast("double") / col("df")))
    val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(
        col("lang"),
        col("rank"),
        col("term"),
        col("tf"),
        col("df"),
        rnd(col("score"), 6).as("score"))
      .orderBy(col("lang"), col("rank"))
  }

  // q107 — vocabulary typo clustering via SymSpell deletion-neighborhood
  // blocking: explode each ASCII term's deletion keys, equi-join on the
  // key (NO pairwise product), then exact-verify candidates at Levenshtein
  // distance 1. Canonical = the more frequent spelling (ties: lexicographic
  // smaller). The candidate space is vocabulary-sized — bounded regardless
  // of corpus size, the spell-correction shape that survives 100 TB.
  // The synthetic wordlist has no misspellings, so (q44-redaction
  // precedent) the query plants deterministic typos of three corpus words —
  // insertion 'querry', deletion 'filtr', substitution 'merje' — on doc_id
  // modulo rules, mirrored exactly in the oracle.
  private def typoVariants(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(
        concat(
          col("text"),
          when(col("doc_id") % 7 === 0, lit(" querry")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" filtr")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" merje")).otherwise(lit(""))).as("text"))
    val vocab = docs
      .select(explode(TF.tokens(lower(col("text")))).as("term"))
      .filter(col("term").rlike("^[a-z]{3,}$"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
    val keyed = vocab.select(
      col("term"),
      col("n"),
      explode(TF.deletionNeighborhood(col("term"))).as("key"))
    val a = keyed.select(col("key"), col("term").as("term_a"), col("n").as("n_a"))
    val b = keyed.select(col("key"), col("term").as("term_b"), col("n").as("n_b"))
    val aFirst = col("n_a") > col("n_b") ||
      (col("n_a") === col("n_b") && col("term_a") < col("term_b"))
    a.join(b, "key")
      .filter(col("term_a") < col("term_b"))
      .select(col("term_a"), col("n_a"), col("term_b"), col("n_b"))
      .distinct()
      .filter(levenshtein(col("term_a"), col("term_b")) === 1)
      .select(
        when(aFirst, col("term_a")).otherwise(col("term_b")).as("canonical"),
        when(aFirst, col("term_b")).otherwise(col("term_a")).as("variant"),
        when(aFirst, col("n_a")).otherwise(col("n_b")).as("canon_n"),
        when(aFirst, col("n_b")).otherwise(col("n_a")).as("var_n"))
      .orderBy(col("canonical"), col("variant"))
  }

  // q108 — Cohen's kappa of the lang-ID heuristic against the labeled
  // lang: the chance-corrected agreement summary on top of q41's
  // contingency. Marginal-sized aggregates only (Classification.cohensKappa).
  private def langIdKappa(s: SparkSession, dir: String): DataFrame =
    Classification
      .cohensKappa(
        t(s, dir, "documents")
          .select(col("lang"), TF.langIdWithUnknown(col("text"), LangProfiles).as("predicted")),
        "lang",
        "predicted")
      .select(
        col("n"),
        rnd(col("po"), 6).as("po"),
        rnd(col("pe"), 6).as("pe"),
        rnd(col("kappa"), 6).as("kappa"))

  // q109 — GROUPING SETS with a mixed dimension list — ((flag, status),
  // (ship_year), ()) — the shape CUBE (q31) and ROLLUP (q23) cannot
  // express. Spark 4's Dataset.groupingSets keeps it one declarative agg
  // (Expand + single shuffle); money sums ride the exact-decimal path.
  private def groupingSetsQuery(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
      .groupingSets(
        Seq(
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("ship_year")),
          Seq()),
        col("l_returnflag"),
        col("l_linestatus"),
        col("ship_year"))
      .agg(count(lit(1)).as("n"), moneyRound(sum(dec2("l_quantity"))).as("sum_qty"))
      .orderBy(
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first,
        col("ship_year").asc_nulls_first)

  // q110 — frequent event-type trigrams over per-user sequences (the
  // PrefixSpan-lite sequential-pattern shape): two leads over the
  // (user, time) window, one combinable count, distributed top-20 via
  // TakeOrderedAndProject. Ties broken lexicographically.
  private def eventTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(
        col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  // q111 — higher-moment distribution summary per event type: population
  // skewness and excess kurtosis from raw power sums (Σx..Σx⁴) in ONE
  // combinable pass — closed forms mirrored exactly in the oracle, rather
  // than each engine's own skewness()/kurtosis() (their bias corrections
  // differ). Scale-free ratios, so float-sum noise stays ~1e-14.
  private def momentStats(s: SparkSession, dir: String): DataFrame = {
    val v = col("value")
    val agged = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast("double").as("_n"),
        sum(v).as("_s1"),
        sum(v * v).as("_s2"),
        sum(v * v * v).as("_s3"),
        sum(v * v * v * v).as("_s4"))
    val mu = col("_s1") / col("_n")
    val m2 = col("_s2") / col("_n") - mu * mu
    val m3 = col("_s3") / col("_n") - lit(3.0) * mu * col("_s2") / col("_n") +
      lit(2.0) * mu * mu * mu
    val m4 = col("_s4") / col("_n") - lit(4.0) * mu * col("_s3") / col("_n") +
      lit(6.0) * mu * mu * col("_s2") / col("_n") - lit(3.0) * mu * mu * mu * mu
    agged.select(
      col("event_type"),
      col("_n").cast("long").as("n"),
      rnd(mu, 4).as("mean"),
      rnd(m2, 4).as("variance"),
      rnd(when(m2 > 0.0, m3 / pow(m2, 1.5)), 6).as("skewness"),
      rnd(when(m2 > 0.0, m4 / (m2 * m2) - 3.0), 6).as("kurtosis"))
      .orderBy(col("event_type"))
  }

  // q112 — PageRank over the event-type transition graph: the edge list is
  // the q84 transition aggregation (heavy scan reduced to a
  // category-cardinality frame), then 5 unrolled power iterations with
  // damping 0.85 (Graph.pageRank, dangling mass not redistributed —
  // formulation mirrored in the oracle's chained CTEs).
  private def pageRankTypes(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = t(s, dir, "events")
      .select(col("event_type").as("next_type"), lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    Graph
      .pageRank(edges, "prev_type", "next_type", "n", iters = 5, damping = 0.85)
      .select(col("node"), rnd(col("pr"), 6).as("pr"))
      .orderBy(col("node"))
  }

  // q113 — classical seasonal decomposition of the daily event series:
  // trend = centered 7-day moving average (edge days average their partial
  // frame — ROWS semantics identical on both engines), seasonal = weekday
  // mean of the detrended series, resid = n − trend − seasonal. The series
  // is pre-aggregated to ~30 rows BEFORE any window touches it (q04
  // single-series precedent), so the global window is aggregate-sized.
  private def seasonalDecomp(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val detr = daily
      .withColumn("trend", avg(col("n")).over(w7))
      .withColumn("detrended", col("n") - col("trend"))
      .withColumn("dow", dayofweek(col("day")))
    val seasonal = detr.groupBy(col("dow")).agg(avg(col("detrended")).as("seasonal"))
    detr
      .join(broadcast(seasonal), "dow")
      .select(
        col("day"),
        col("n").cast("long").as("n_events"),
        rnd(col("trend"), 4).as("trend"),
        rnd(col("seasonal"), 4).as("seasonal"),
        rnd(col("n") - col("trend") - col("seasonal"), 4).as("resid"))
      .orderBy(col("day"))
  }

  // q114 — decile migration matrix: each user's spend decile in the first
  // half of the month vs the second (the rank-churn / customer-movement
  // report). ONE conditional-aggregation pass builds both period totals;
  // deciles via GlobalRank.globalNtile — range-partitioned exact ntile,
  // value-identical to the window form but with NO single-partition sort,
  // so the plan survives a user frame that grows with the input. Ties
  // broken by user_id so the bucketing is deterministic on both engines.
  private def decileMigration(s: SparkSession, dir: String): DataFrame = {
    val mid = lit("2024-01-15").cast("date")
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        sum(when(to_date(col("ts")) <= mid, col("value")).otherwise(lit(0.0))).as("v1"),
        sum(when(to_date(col("ts")) > mid, col("value")).otherwise(lit(0.0))).as("v2"))
    // melt to (user, period, spend) and rank BOTH periods' deciles off a
    // single range exchange (globalNtileGrouped) — two separate globalNtile
    // passes would pay the exchange + checkpoint + count job twice for the
    // same answer (the r4 bench's only 1.4× flag was exactly that overhead)
    val melted = perUser.select(
      col("user_id"),
      explode(array(
        struct(lit(1).as("period"), col("v1").as("v")),
        struct(lit(2).as("period"), col("v2").as("v")))).as("pv"))
      .select(col("user_id"), col("pv.period").as("period"), col("pv.v").as("v"))
    GlobalRank
      .globalNtileGrouped(melted, "period", Seq(col("v").desc, col("user_id")), 10, "decile")
      .groupBy(col("user_id"))
      .agg(
        max(when(col("period") === 1, col("decile"))).as("decile_p1"),
        max(when(col("period") === 2, col("decile"))).as("decile_p2"))
      .groupBy(col("decile_p1"), col("decile_p2"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("decile_p1"), col("decile_p2"))
  }

  // q115 — calibration table for the q55 deterministic scorer (stopword
  // ratio vs is-English): per score bin, volume, mean score, and observed
  // positive rate — the reliability-diagram input every model monitor
  // publishes. One combinable pass after the per-row score.
  private def calibrationBins(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .select(
        rnd(TF.stopwordRatio(col("text"), Stopwords), 2).as("score"),
        (col("lang") === "en").cast("int").as("is_en"))
    scored
      .withColumn(
        "bin",
        least(floor(col("score") * 10 + lit(1e-9)), lit(9.0)).cast("int"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        rnd(avg(col("score")), 6).as("avg_score"),
        rnd(avg(col("is_en")), 6).as("pos_rate"))
      .orderBy(col("bin"))
  }

  // q116 — population stability index (PSI) of `value` between the two
  // month halves: bins = strict-inequality deciles of the FIRST period
  // (q70 cut convention), both periods counted in one conditional pass,
  // per-bin PSI term (p−q)·ln(p/q). The drift metric a production scorer
  // monitors; the 1-row cut array binds via broadcast.
  private def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val mid = lit("2024-01-15").cast("date")
    val ev = t(s, dir, "events").select(to_date(col("ts")).as("day"), col("value"))
    val cuts = ev
      .filter(col("day") <= mid)
      .agg(
        percentile(
          col("value"),
          array((1 to 9).map(i => lit(i / 10.0)): _*)).as("cs"))
    val binned = ev
      .crossJoin(broadcast(cuts))
      .select(
        (size(filter(col("cs"), c => c < col("value"))) + 1).as("bin"),
        col("day"))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("day") <= mid, 1L).otherwise(0L)).as("n_p1"),
        sum(when(col("day") > mid, 1L).otherwise(0L)).as("n_p2"))
    val wAll = Window.partitionBy()
    val p = col("n_p1") / sum(col("n_p1")).over(wAll)
    val q = col("n_p2") / sum(col("n_p2")).over(wAll)
    binned
      .select(
        col("bin"),
        col("n_p1"),
        col("n_p2"),
        rnd(p, 6).as("frac_p1"),
        rnd(q, 6).as("frac_p2"),
        rnd(when(p > 0.0 && q > 0.0, (p - q) * log(p / q)), 6).as("psi_term"))
      .orderBy(col("bin"))
  }

  // q117 — bigram language-model surprisal per language (the n-gram step
  // up from q62's unigram): add-one-smoothed P(w2|w1) with c1 = full
  // corpus unigram count and V = distinct unigrams (convention stated so
  // the oracle mirrors it exactly). Bigrams form IN-ROW via zip_with over
  // the token array — no per-token shuffle — then join the two
  // vocabulary-sized count frames; the 1-row V binds via broadcast.
  private def bigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val toked = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), TF.tokens(lower(col("text"))).as("tk"))
      .filter(size(col("tk")) >= 2)
    val bigrams = toked
      .select(
        col("doc_id"),
        col("lang"),
        explode(
          zip_with(
            slice(col("tk"), lit(1), size(col("tk")) - 1),
            slice(col("tk"), lit(2), size(col("tk")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = toked
      .select(explode(col("tk")).as("w1"))
      .groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
    val c2 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val perDoc = bigrams
      .join(c2, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(
        col("doc_id"),
        col("lang"),
        (-log2((col("c2") + 1) / (col("c1") + col("v")))).as("sup"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(avg(col("sup")).as("m"))
    perDoc
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), rnd(avg(col("m")), 6).as("avg_surprisal"))
      .orderBy(col("lang"))
  }

  // q118 — 2-D Pareto frontier (skyline) of parts over (retail price,
  // size): collapse to one row per price (max size — same-price domination
  // resolved by the aggregate), then a strict-predecessor running max over
  // the price-ordered AGGREGATE frame; a price survives iff its best size
  // beats every strictly-higher price's. Window rides the
  // distinct-price-sized frame, never the input.
  private def paretoFrontier(s: SparkSession, dir: String): DataFrame = {
    val byPrice = t(s, dir, "part")
      .groupBy(col("p_retailprice").as("price"))
      .agg(max(col("p_size")).as("best_size"), count(lit(1)).as("n_parts"))
    // record-to-date scan via GlobalRank.globalRunningMaxExclusive: the
    // distinct-price frame grows with the catalog, so the frontier sweep is
    // range-partitioned instead of a single-partition window
    GlobalRank
      .globalRunningMaxExclusive(
        byPrice, Seq(col("price").desc), col("best_size"), "prev_max")
      .filter(col("prev_max").isNull || col("best_size") > col("prev_max"))
      .select(col("price"), col("best_size"), col("n_parts"))
      .orderBy(col("price").desc)
  }

  // q119 — two-proportion A/B test: users assigned to arms by the exact
  // Knuth-multiplicative hash split (q65's Features.hashSplit — stable
  // across runs, partitions, and engines), conversion = any purchase
  // event; pooled z-statistic with the 1.96 two-sided significance gate.
  // Everything after the scan is a user-sized then 2-row aggregate.
  private def abTest(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("converted"))
      .withColumn("arm", Features.hashSplit(col("user_id"), Seq(("a", 50), ("b", 100))))
    val row = perUser.agg(
      sum(when(col("arm") === "a", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "b", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "a", col("converted")).otherwise(0)).as("conv_a"),
      sum(when(col("arm") === "b", col("converted")).otherwise(0)).as("conv_b"))
    val p1 = col("conv_a") / col("n_a")
    val p2 = col("conv_b") / col("n_b")
    val pp = (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b"))
    val z = (p1 - p2) /
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    row.select(
      col("n_a"),
      col("n_b"),
      rnd(p1, 6).as("rate_a"),
      rnd(p2, 6).as("rate_b"),
      rnd(when(pp > 0.0 && pp < 1.0, z), 4).as("z"),
      when(pp > 0.0 && pp < 1.0, (abs(z) > 1.96).cast("int"))
        .otherwise(lit(null))
        .as("significant"))
  }

  // q120 — Gini coefficient of user spend concentration (the Lorenz-curve
  // inequality summary): G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over spends
  // sorted ascending, user_id tiebreak. Rank i via GlobalRank — the
  // range-partitioned exact row_number, no single-partition sort even
  // when the user frame grows with the input; result is
  // tie-order-invariant because tied spends contribute the same rank-sum
  // either way.
  private def spendGini(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(col("value")).as("spend"))
    GlobalRank
      .globalRowNumber(perUser, Seq(col("spend"), col("user_id")), "i")
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("spend")).as("_tot"),
        sum(col("i") * col("spend")).as("_wsum"))
      .select(
        col("n_users"),
        rnd(col("_tot"), 2).as("total_spend"),
        rnd(
          lit(2.0) * col("_wsum") / (col("n_users") * col("_tot")) -
            (col("n_users") + lit(1.0)) / col("n_users"),
          6).as("gini"))
  }

  // q121 — Benford first-digit audit of order totals (the forensic
  // data-quality screen): digit extracted from the DECIMAL(18,2) string
  // form — identical on both engines, immune to the floor(log10(x))
  // 1-ulp hazard at exact powers of ten — vs the Benford expectation
  // log10(1 + 1/d). One combinable digit count.
  private def benfordDigits(s: SparkSession, dir: String): DataFrame = {
    val digit = substring(col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
      .cast("int")
    val wAll = Window.partitionBy()
    t(s, dir, "orders")
      .filter(col("o_totalprice") > 0)
      .select(digit.as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("frac", col("n") / sum(col("n")).over(wAll))
      .select(
        col("digit"),
        col("n"),
        rnd(col("frac"), 6).as("frac"),
        rnd(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6).as("expected"),
        rnd(col("frac") - log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("deviation"))
      .orderBy(col("digit"))
  }

  // q122 — RFM segmentation: per-user recency (vs the global max
  // timestamp, q94 anchor pattern), frequency, monetary in ONE pass;
  // quintile scores via ntile on the user-sized aggregate (user_id
  // tiebreaks); segment code = 100·R + 10·F + M. The marketing
  // segmentation every events warehouse ships.
  private def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("freq"),
        sum(col("value")).as("monetary"))
    val anchor = perUser.agg(max(col("last_ts")).as("max_ts"))
    val rec = perUser
      .crossJoin(broadcast(anchor))
      .withColumn(
        "recency_days",
        (floor(unix_timestamp(col("max_ts"))) - floor(unix_timestamp(col("last_ts")))) / 86400.0)
    // quintiles via GlobalRank.globalNtile: exact SQL ntile semantics,
    // range-partitioned — no single-partition sort on the user frame
    val scored = Seq[(String, Seq[Column])](
      ("r_score", Seq(col("recency_days").desc, col("user_id"))),
      ("f_score", Seq(col("freq"), col("user_id"))),
      ("m_score", Seq(col("monetary"), col("user_id")))
    ).foldLeft(rec) { case (d, (name, sort)) =>
      GlobalRank.globalNtile(d, sort, 5, name)
    }
    scored
      .groupBy(
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("segment"))
      .agg(
        count(lit(1)).as("n_users"),
        rnd(avg(col("recency_days")), 4).as("avg_recency_days"),
        rnd(avg(col("freq")), 4).as("avg_freq"),
        rnd(avg(col("monetary")), 2).as("avg_monetary"))
      .orderBy(col("segment"))
  }

  // q123 — Flesch-style readability profile per language: words =
  // whitespace tokens, sentences = terminator runs (floored at 1),
  // syllables ≈ vowel-group count — every piece a codegen'd regexp over
  // the scan, one combinable rollup. A heuristic (zh scores off the
  // scale) but a deterministic, documented one.
  private def readability(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    val words = size(TF.tokens(col("text"))).cast("double")
    val sentences = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("double")
    val syllables = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("double")
    val wps = words / sentences
    val spw = syllables / words
    val flesch = lit(206.835) - lit(1.015) * wps - lit(84.6) * spw
    docs
      .select(col("lang"), wps.as("wps"), spw.as("spw"), flesch.as("fl"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        rnd(avg(col("wps")), 4).as("avg_words_per_sentence"),
        rnd(avg(col("spw")), 4).as("avg_syllables_per_word"),
        rnd(avg(col("fl")), 4).as("avg_flesch"))
      .orderBy(col("lang"))
  }

  // q124 — audience overlap matrix between event types: distinct
  // (user, type) presence, self-joined on user (type_a < type_b), overlap
  // coefficient |A∩B| / min(|A|,|B|) and Jaccard — the
  // cross-feature-adoption report. The presence frame is
  // users×categories-sized; the join key is the user id.
  private def overlapMatrix(s: SparkSession, dir: String): DataFrame = {
    val presence = t(s, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    val sizes = presence.groupBy(col("event_type")).agg(count(lit(1)).as("sz"))
    val a = presence.select(col("user_id"), col("event_type").as("type_a"))
    val b = presence.select(col("user_id"), col("event_type").as("type_b"))
    val both = a
      .join(b, "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_a").withColumnRenamed("sz", "n_a")), "type_a")
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_b").withColumnRenamed("sz", "n_b")), "type_b")
      .select(
        col("type_a"),
        col("type_b"),
        col("n_a"),
        col("n_b"),
        col("n_both"),
        rnd(col("n_both") / least(col("n_a"), col("n_b")), 6).as("overlap"),
        rnd(col("n_both") / (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  // q125 — two-sample Kolmogorov–Smirnov drift test between the month
  // halves of `value`, exact on the floor(value·10) grid (floor is
  // 1-ulp-safe where round-half is not; quantization documented — the D
  // statistic is exact for the binned distributions). ECDFs via cumulative
  // windows over the bin-cardinality aggregate frame; 1.358·√((n1+n2)/n1n2)
  // is the α=0.05 critical value.
  private def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val mid = lit("2024-01-15").cast("date")
    val binned = t(s, dir, "events")
      .select(
        floor(col("value") * 10).as("bin"),
        (to_date(col("ts")) <= mid).as("p1"))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("p1"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("p1"), 1L).otherwise(0L)).as("n2"))
    val wCum = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val ecdf = binned
      .withColumn("t1", sum(col("n1")).over(wAll))
      .withColumn("t2", sum(col("n2")).over(wAll))
      .withColumn("d", abs(
        sum(col("n1")).over(wCum) / col("t1") -
          sum(col("n2")).over(wCum) / col("t2")))
    ecdf
      .agg(first(col("t1")).as("n_p1"), first(col("t2")).as("n_p2"), max(col("d")).as("_d"))
      .select(
        col("n_p1"),
        col("n_p2"),
        rnd(col("_d"), 6).as("d_stat"),
        rnd(
          lit(1.358) * sqrt((col("n_p1") + col("n_p2")) / (col("n_p1") * col("n_p2")).cast("double")),
          6).as("crit_05"),
        (col("_d") > lit(1.358) * sqrt(
          (col("n_p1") + col("n_p2")) / (col("n_p1") * col("n_p2")).cast("double")))
          .cast("int").as("drifted"))
  }

  // q126 — Holt double-exponential forecast per event type (α=0.3, β=0.2):
  // the trend-aware step up from q72's EWMA, run as the same typed
  // per-group scan (WindowOps.holt) over the pre-aggregated ~30-row daily
  // series; 7-day-ahead forecast ŷ = l + 7b. The oracle replays the exact
  // recursion as a recursive CTE with (1 − α)-by-subtraction literals.
  private def holtForecast(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
    WindowOps
      .holt(daily, Seq("event_type"), Seq("day"), "y", alpha = 0.3, beta = 0.2)
      .select(
        col("event_type"),
        col("n").as("n_days"),
        rnd(col("level"), 4).as("level"),
        rnd(col("trend"), 4).as("trend"),
        rnd(col("level") + lit(7.0) * col("trend"), 4).as("forecast_7d"))
      .orderBy(col("event_type"))
  }

  // q127 — cohort LTV triangle: users grouped by first-seen day, purchase
  // revenue rolled up per (cohort, week offset), cumulative LTV per user
  // via a running window over the cohort-sized aggregate — q61's retention
  // triangle upgraded from presence counts to money.
  private def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val first = ev
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val cohortSize = first.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_users"))
    val rev = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
      .join(first, "user_id")
      .groupBy(
        col("cohort_day"),
        floor(datediff(col("d"), col("cohort_day")) / 7).cast("long").as("offset_w"))
      .agg(sum(col("value")).as("revenue"))
    val wCum = Window
      .partitionBy(col("cohort_day"))
      .orderBy(col("offset_w"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rev
      .join(broadcast(cohortSize), "cohort_day")
      .withColumn("cum_rev", sum(col("revenue")).over(wCum))
      .select(
        col("cohort_day"),
        col("offset_w"),
        col("cohort_users"),
        rnd(col("revenue"), 2).as("revenue"),
        rnd(col("cum_rev") / col("cohort_users"), 4).as("cum_ltv_per_user"))
      .orderBy(col("cohort_day"), col("offset_w"))
  }

  // q128 — single changepoint detection on the daily value mean: for every
  // split point of the 30-row daily aggregate, a Welch-style statistic
  // |m₁−m₂| / √(v₁/n₁ + v₂/n₂) from cumulative sufficient statistics
  // (running n, Σx, Σx² — no per-split rescan); the argmax split is the
  // detected shift. Ties break on the earlier day.
  private def changepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"), sum(col("value")).as("sx"),
        sum(col("value") * col("value")).as("sxx"))
    val wCum = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val cum = daily
      .withColumn("cn", sum(col("n")).over(wCum))
      .withColumn("cs", sum(col("sx")).over(wCum))
      .withColumn("css", sum(col("sxx")).over(wCum))
      .withColumn("tn", sum(col("n")).over(wAll))
      .withColumn("ts", sum(col("sx")).over(wAll))
      .withColumn("tss", sum(col("sxx")).over(wAll))
      .filter(col("cn") < col("tn"))
    val m1 = col("cs") / col("cn")
    val m2 = (col("ts") - col("cs")) / (col("tn") - col("cn"))
    val v1 = col("css") / col("cn") - m1 * m1
    val v2 = (col("tss") - col("css")) / (col("tn") - col("cn")) - m2 * m2
    val stat = abs(m1 - m2) / sqrt(v1 / col("cn") + v2 / (col("tn") - col("cn")))
    cum
      .select(
        col("day").as("change_day"),
        stat.as("t"),
        m1.as("mb"),
        m2.as("ma"))
      .orderBy(col("t").desc, col("change_day"))
      .limit(1)
      .select(
        col("change_day"),
        rnd(col("t"), 4).as("t_stat"),
        rnd(col("mb"), 4).as("mean_before"),
        rnd(col("ma"), 4).as("mean_after"))
  }

  // q129 — embedding L2-norm profile per label: the norm computes IN-ROW
  // (sequential left-fold over the float array, widened to double exactly
  // as the oracle's list arithmetic), then one combinable rollup. The
  // sanity screen run before any cosine-similarity work (un-normalized
  // vectors silently break cosine ANN).
  private def embeddingNorms(s: SparkSession, dir: String): DataFrame = {
    val norm = sqrt(
      aggregate(
        transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0),
        (acc, v) => acc + v))
    t(s, dir, "embeddings")
      .select(col("label"), norm.as("nrm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        rnd(avg(col("nrm")), 6).as("avg_norm"),
        rnd(min(col("nrm")), 6).as("min_norm"),
        rnd(max(col("nrm")), 6).as("max_norm"))
      .orderBy(col("label"))
  }

  // q130 — Davies–Bouldin cluster-quality index over the GIVEN labels,
  // entirely from sufficient statistics: per (label, dim) the mean and
  // mean-square give scatterᵢ² = E‖x‖² − ‖cᵢ‖² (since cᵢ = E[x]), and
  // centroid distances come from pairwise centroid dot products
  // (d²ᵢⱼ = ‖cᵢ‖² + ‖cⱼ‖² − 2cᵢ·cⱼ) — label²·dim-sized frames, never a
  // vector-pair product. Rᵢ = maxⱼ (sᵢ+sⱼ)/dᵢⱼ per label.
  private def daviesBouldin(s: SparkSession, dir: String): DataFrame = {
    val dims = t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("label"), col("dim"), col("xf").cast("double").as("x"))
    val perDim = dims
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("x")).as("c"), avg(col("x") * col("x")).as("m2"))
    val perLabel = perDim
      .groupBy(col("label"))
      .agg(
        sum(col("m2")).as("_em2"),
        sum(col("c") * col("c")).as("_cn2"))
      .select(
        col("label"),
        sqrt(greatest(col("_em2") - col("_cn2"), lit(0.0))).as("scatter"),
        col("_cn2"))
    val dots = perDim.as("a")
      .join(perDim.as("b"), Seq("dim"))
      .filter(col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    val pa = perLabel.select(col("label").as("la"), col("scatter").as("sa"), col("_cn2").as("na"))
    val pb = perLabel.select(col("label").as("lb"), col("scatter").as("sb"), col("_cn2").as("nb"))
    val pairs = dots
      .join(pa, "la")
      .join(pb, "lb")
      .withColumn("r", (col("sa") + col("sb")) /
        sqrt(greatest(col("na") + col("nb") - lit(2.0) * col("dot"), lit(0.0))))
    val ri = pairs.select(col("la").as("label"), col("r"))
      .union(pairs.select(col("lb").as("label"), col("r")))
      .groupBy(col("label"))
      .agg(max(col("r")).as("r_i"))
    perLabel
      .join(ri, "label")
      .select(col("label"), rnd(col("scatter"), 6).as("scatter"), rnd(col("r_i"), 6).as("r_i"))
      .orderBy(col("label"))
  }

  // q131 — inter-event gap latency profile per event type: per-user lag
  // over (ts, event_id), gap in exact fractional seconds, then exact p50 /
  // p90 / p99 via grouped `percentile` (matches DuckDB quantile_cont) —
  // the operational tail-latency report.
  private def gapPercentiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(
        col("event_type"),
        ((unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))) / 1e6).as("gap_s"))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        rnd(avg(col("gap_s")), 4).as("avg_gap_s"),
        rnd(percentile(col("gap_s"), lit(0.5)), 4).as("p50_s"),
        rnd(percentile(col("gap_s"), lit(0.9)), 4).as("p90_s"),
        rnd(percentile(col("gap_s"), lit(0.99)), 4).as("p99_s"))
      .orderBy(col("event_type"))
  }

  // q132 — mutual information between event type and weekday (the
  // information-theoretic companion to q102's chi-square): joint counts in
  // ONE pass, marginals via windows over the |X|·|Y|-sized aggregate,
  // MI = Σ pₓᵧ·ln(pₓᵧ·N/(nₓ·nᵧ)), entropies likewise, NMI = MI/√(HₓHᵧ).
  // The weekday key is internal (both engines group the same day-sets).
  private def mutualInformation(s: SparkSession, dir: String): DataFrame = {
    val joint = t(s, dir, "events")
      .groupBy(col("event_type").as("x"), dayofweek(to_date(col("ts"))).as("y"))
      .agg(count(lit(1)).cast("double").as("c"))
    val wx = Window.partitionBy(col("x"))
    val wy = Window.partitionBy(col("y"))
    val wAll = Window.partitionBy()
    val ext = joint
      .withColumn("cx", sum(col("c")).over(wx))
      .withColumn("cy", sum(col("c")).over(wy))
      .withColumn("tot", sum(col("c")).over(wAll))
    val hTerm = (c: Column, t: Column) => -(c / t) * log(c / t)
    val miAgg = ext.agg(
      first(col("tot")).cast("long").as("n"),
      sum((col("c") / col("tot")) *
        log(col("c") * col("tot") / (col("cx") * col("cy")))).as("_mi"))
    val hx = ext.select(col("x"), col("cx"), col("tot")).distinct()
      .agg(sum(hTerm(col("cx"), col("tot"))).as("_hx"))
    val hy = ext.select(col("y"), col("cy"), col("tot")).distinct()
      .agg(sum(hTerm(col("cy"), col("tot"))).as("_hy"))
    miAgg
      .crossJoin(broadcast(hx))
      .crossJoin(broadcast(hy))
      .select(
        col("n"),
        rnd(col("_mi"), 6).as("mi"),
        rnd(col("_hx"), 6).as("h_x"),
        rnd(col("_hy"), 6).as("h_y"),
        rnd(col("_mi") / sqrt(col("_hx") * col("_hy")), 6).as("nmi"))
  }

  // q133 — hash-split uniformity audit: occupancy of the 100
  // Knuth-multiplicative buckets (q65's exact split hash) over event ids,
  // with the chi-square goodness-of-fit against uniform — the check run
  // before trusting any hash split for sampling/experiments. df=99, α=0.05
  // critical value 123.225.
  private def hashUniformity(s: SparkSession, dir: String): DataFrame = {
    val bucket = shiftright(
      pmod(col("event_id") * lit(2654435761L), lit(4294967296L)) * lit(100),
      32)
    val wAll = Window.partitionBy()
    t(s, dir, "events")
      .select(bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("o"))
      .withColumn("e", sum(col("o")).over(wAll) / lit(100.0))
      .agg(
        sum(col("o")).cast("long").as("n"),
        count(lit(1)).as("n_buckets"),
        min(col("o")).as("min_bucket"),
        max(col("o")).as("max_bucket"),
        rnd(sum(pow(col("o") - col("e"), 2) / col("e")), 4).as("chi2"))
      .withColumn("uniform_05", (col("chi2") < 123.225).cast("int"))
  }

  // q134 — time-windowed sequential funnel view→click→purchase, each step
  // within 24h of the previous (q60's presence funnel upgraded to ordered
  // timing): per-step first-qualifying timestamps via user-sized
  // aggregates joined back to the filtered scan — never an event×event
  // product. Strict microsecond ordering between steps.
  private def funnelWindowed(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val t1 = ev
      .filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t1"))
    val t2 = ev
      .filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("us") > col("t1") && col("us") <= col("t1") + dayUs)
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t2"))
    val t3 = ev
      .filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("us") > col("t2") && col("us") <= col("t2") + dayUs)
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t3"))
    val users = ev.select(col("user_id")).distinct().agg(count(lit(1)).as("n_users"))
    val s1 = t1.agg(count(lit(1)).as("n_step1"))
    val s2 = t2.agg(count(lit(1)).as("n_step2"))
    val s3 = t3.agg(count(lit(1)).as("n_step3"))
    users
      .crossJoin(broadcast(s1))
      .crossJoin(broadcast(s2))
      .crossJoin(broadcast(s3))
      .select(
        col("n_users"),
        col("n_step1"),
        col("n_step2"),
        col("n_step3"),
        rnd(col("n_step2") / col("n_step1").cast("double"), 6).as("conv_1_2"),
        rnd(col("n_step3") / col("n_step2").cast("double"), 6).as("conv_2_3"))
  }

  // q135 — shingle novelty curve: per doc, the fraction of its distinct
  // 5-char shingles whose FIRST appearance (min doc_id) is this doc — the
  // "how much new content does each document add" signal a dataset-growth
  // audit tracks. Shingle-explode → min-agg (combinable) → per-doc ratio →
  // per-lang rollup.
  private def shingleNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(TF.charShingles(col("text"), 5)).as("sh"))
      .distinct()
    val firstSeen = docs.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = docs
      .join(firstSeen, "sh")
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).as("n_sh"),
        avg((col("first_doc") === col("doc_id")).cast("double")).as("novelty"))
    perDoc
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        rnd(avg(col("novelty")), 6).as("avg_novelty"),
        rnd(avg((col("novelty") < 0.1).cast("double")), 6).as("frac_mostly_dup"))
      .orderBy(col("lang"))
  }

  // q136 — token co-occurrence PMI (document-level): distinct ASCII-term
  // presence per doc, per-doc pair expansion (vocab-bounded, linear in
  // corpus), PMI = ln(c_ab·N/(d_a·d_b)) with doc-frequency marginals;
  // min-support gates keep the estimates stable. Top 15 by PMI,
  // lexicographic tiebreak.
  private def tokenPmi(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    val nDocs = docs.agg(count(lit(1)).cast("double").as("nd"))
    val presence = docs
      .select(col("doc_id"), explode(TF.tokens(lower(col("text")))).as("term"))
      .filter(col("term").rlike("^[a-z]{3,}$"))
      .distinct()
    val df = presence.groupBy(col("term")).agg(count(lit(1)).as("d")).filter(col("d") >= 25)
    val kept = presence.join(df, "term")
    val a = kept.select(col("doc_id"), col("term").as("term_a"), col("d").as("d_a"))
    val b = kept.select(col("doc_id"), col("term").as("term_b"), col("d").as("d_b"))
    a.join(b, "doc_id")
      .filter(col("term_a") < col("term_b"))
      .groupBy(col("term_a"), col("term_b"))
      .agg(count(lit(1)).as("n_both"), first(col("d_a")).as("d_a"), first(col("d_b")).as("d_b"))
      .filter(col("n_both") >= 10)
      .crossJoin(broadcast(nDocs))
      .select(
        col("term_a"),
        col("term_b"),
        col("n_both"),
        rnd(log(col("n_both") * col("nd") / (col("d_a") * col("d_b"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(15)
  }

  // q137 — point-in-time (PIT) lookup against the q76 SCD-2 ranges: each
  // purchase joins the user-state version valid AT its timestamp
  // (valid_from ≤ ts < valid_to, open tail = null) — the
  // dimension-as-of-fact-time warehouse pattern. Equi-join on user with
  // range residuals; segment boundaries make exactly one match per event.
  private def pitLookup(s: SparkSession, dir: String): DataFrame = {
    val ranges = scd2(s, dir)
      .select(col("user_id"), col("state"), col("valid_from"), col("valid_to"))
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    purchases
      .join(
        ranges,
        purchases("user_id") === ranges("user_id") &&
          col("valid_from") <= col("ts") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
      .groupBy(col("state"))
      .agg(
        count(lit(1)).as("n_purchases"),
        rnd(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("state"))
  }

  // q138 — 7-day sliding DISTINCT active users per day: distinct-over-
  // window cannot ride a window function, so each (user, day) presence row
  // EXPANDS to the ≤7 window-end days it serves (constant fan-out, fully
  // combinable) and a plain countDistinct lands per day — no 30-row
  // broadcast nested loop, no per-day rescan. Edge days trim via the
  // observed-day semi-join.
  private def slidingDistinct(s: SparkSession, dir: String): DataFrame = {
    val presence = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("pday"))
      .distinct()
    val days = presence.select(col("pday").as("day")).distinct()
    presence
      .select(
        col("user_id"),
        explode(transform(sequence(lit(0), lit(6)), i => date_add(col("pday"), i))).as("day"))
      .join(days, "day")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_users_7d"))
      .orderBy(col("day"))
  }

  // q139 — share-of-parent drilldown: nation revenue as a share of its
  // region, region as a share of the total — ratio-to-parent windows over
  // the 25-row aggregate of the q02-style star join. Shares divide
  // exact-decimal-rounded doubles, so both engines divide identical
  // numbers.
  private def shareOfParent(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(moneyRound(sum(discPrice)).as("revenue"))
    val wRegion = Window.partitionBy(col("region"))
    val wAll = Window.partitionBy()
    rev
      .withColumn("region_rev", sum(col("revenue")).over(wRegion))
      .withColumn("total_rev", sum(col("revenue")).over(wAll))
      .select(
        col("region"),
        col("nation"),
        col("revenue"),
        rnd(col("revenue") / col("region_rev"), 6).as("share_of_region"),
        rnd(col("region_rev") / col("total_rev"), 6).as("region_share_of_total"))
      .orderBy(col("region"), col("nation"))
  }

  // q140 — nearest as-of join (polars strategy="nearest"): every purchase
  // matched to the |gap|-minimizing click of the same user, exact-time and
  // tie cases resolving backward by the operator's stated contract
  // (AsOf.asofNearest — one union, one window pass). Summarized per
  // matched-direction with gap stats.
  private def asofNearestClicks(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOf
    val ev = t(s, dir, "events")
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = Dedup.keepLast(
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id")),
      Seq("user_id", "cts"),
      Seq(col("click_id")))
    AsOf
      .asofNearest(purchases, clicks, Seq("user_id"), "ts", "cts")
      .select(
        when(col("asof_gap_s").isNull, "unmatched")
          .when(col("asof_gap_s") >= 0, "backward")
          .otherwise("forward")
          .as("direction"),
        abs(col("asof_gap_s")).as("ags"))
      .groupBy(col("direction"))
      .agg(
        count(lit(1)).as("n"),
        rnd(avg(col("ags")) / 60.0, 4).as("avg_abs_gap_min"),
        rnd(percentile(col("ags"), lit(0.5)) / 60.0, 4).as("p50_abs_gap_min"))
      .orderBy(col("direction"))
  }

  // q141 — TPC-H Q5-shaped local-supplier volume: revenue only where the
  // supplier's nation equals the customer's nation — the two-path-to-
  // dimension join semantics (lineitem→supplier→nation AND lineitem→
  // orders→customer→nation must agree). Small dims broadcast; one
  // aggregate per nation.
  private def localSupplierVolume(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .filter(col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        count(lit(1)).as("n_lineitems"),
        moneyRound(sum(discPrice)).as("revenue"))
      .orderBy(col("revenue").desc, col("nation"))

  // q142 — running inventory balance per part: a GENUINELY distributed
  // window (partitioned by part key over the full scan, not an aggregate
  // frame) — returns subtract, other lines add; peak exposure = max of the
  // running sum under the unique (shipdate, orderkey, linenumber) order.
  // Quantities are integer-valued doubles, so the running sums are exact.
  // Distributed top-10 by peak via TakeOrderedAndProject.
  private def runningBalance(s: SparkSession, dir: String): DataFrame = {
    val delta = when(col("l_returnflag") === "R", -col("l_quantity"))
      .otherwise(col("l_quantity"))
    val w = Window
      .partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, 0)
    t(s, dir, "lineitem")
      .withColumn("running", sum(delta).over(w))
      .groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("n_moves"),
        rnd(max(col("running")), 2).as("peak_balance"),
        rnd(sum(delta), 2).as("final_balance"))
      .orderBy(col("peak_balance").desc, col("l_partkey"))
      .limit(10)
  }

  // q143 — winsorized robust statistics per event type: values clamped to
  // the exact [p05, p95] band (percentile matches quantile_cont), raw vs
  // winsorized mean and population std side by side — the clamping
  // counterpart to q85's discard fence. Cuts join back per type (equi,
  // broadcast-sized); moments via power sums in one pass.
  private def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val cuts = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        percentile(col("value"), lit(0.05)).as("p05"),
        percentile(col("value"), lit(0.95)).as("p95"))
    val clamped = t(s, dir, "events")
      .join(broadcast(cuts), "event_type")
      .select(
        col("event_type"),
        col("value").as("v"),
        least(greatest(col("value"), col("p05")), col("p95")).as("wv"))
    val std = (s2: Column, s1: Column, n: Column) =>
      sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), lit(0.0)))
    clamped
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast("double").as("_n"),
        sum(col("v")).as("_s1"),
        sum(col("v") * col("v")).as("_s2"),
        sum(col("wv")).as("_w1"),
        sum(col("wv") * col("wv")).as("_w2"))
      .select(
        col("event_type"),
        col("_n").cast("long").as("n"),
        rnd(col("_s1") / col("_n"), 4).as("raw_mean"),
        rnd(std(col("_s2"), col("_s1"), col("_n")), 4).as("raw_std"),
        rnd(col("_w1") / col("_n"), 4).as("wins_mean"),
        rnd(std(col("_w2"), col("_w1"), col("_n")), 4).as("wins_std"))
      .orderBy(col("event_type"))
  }

  // q144 — Lorenz curve points behind q120's Gini: users ranked ascending
  // by spend (user_id tiebreak), per-decile spend and the cumulative share
  // of total — the concentration curve a revenue team reads directly.
  // Deciles via GlobalRank.globalNtile (range-partitioned exact ntile, no
  // single-partition sort); the running share then rides the 10-row
  // decile frame only.
  private def lorenzCurve(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(col("value")).as("spend"))
    val byDecile = GlobalRank
      .globalNtile(perUser, Seq(col("spend"), col("user_id")), 10, "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("spend")).as("dspend"))
    val wCum = Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    byDecile
      .withColumn("cum", sum(col("dspend")).over(wCum))
      .withColumn("tot", sum(col("dspend")).over(wAll))
      .select(
        col("decile"),
        col("n_users"),
        rnd(col("dspend"), 2).as("decile_spend"),
        rnd(col("dspend") / col("tot"), 6).as("share"),
        rnd(col("cum") / col("tot"), 6).as("cum_share"))
      .orderBy(col("decile"))
  }

  // q145 — dedup token-savings report: the pipeline-economics summary a
  // curation run publishes — corpus token volume, after exact dedup (q11's
  // keep-min-doc_id per identical text), then after near-dup pruning
  // (q49's connected components: only each cluster's canonical min-id doc
  // survives). Token counts ride the combinable TF.tokenCount; the
  // component frame is pair-bounded.
  private def dedupSavings(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), TF.tokenCount(col("text")).cast("long").as("tok"))
    val exactKeep = docs
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("tok")).as("tok"))
      .select(col("doc_id"), col("tok"))
    val comps = dedupClusters(s, dir).select(col("doc_id"), col("component"))
    val nearKeep = exactKeep
      .join(comps, Seq("doc_id"), "left")
      .filter(col("component").isNull || col("component") === col("doc_id"))
    val tot = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("tok")).as("total_tokens"))
    val e = exactKeep.agg(sum(col("tok")).as("tokens_after_exact"))
    val nd = nearKeep.agg(sum(col("tok")).as("tokens_after_neardup"))
    tot
      .crossJoin(broadcast(e))
      .crossJoin(broadcast(nd))
      .select(
        col("n_docs"),
        col("total_tokens"),
        col("tokens_after_exact"),
        col("tokens_after_neardup"),
        rnd(
          (col("total_tokens") - col("tokens_after_neardup")) * 100.0 /
            col("total_tokens"),
          4).as("savings_pct"))
  }

  // q146 — linear multi-touch attribution: every purchase splits one unit
  // of credit equally across its distinct preceding touches within 24h
  // (q73's first/last models completed with the fractional one). The
  // purchase×touch pairing is per-user range-bounded; credit shares come
  // from a purchase-partitioned window over the pair aggregate. Untouched
  // purchases credit 'none' in full.
  private def linearAttribution(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val ev = t(s, dir, "events")
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), unix_micros(col("ts")).as("pt"))
    val touches = ev
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("channel"), unix_micros(col("ts")).as("tt"))
    val paired = purchases
      .join(
        touches,
        purchases("user_id") === touches("user_id") &&
          col("tt") < col("pt") && col("tt") >= col("pt") - dayUs,
        "left")
      .groupBy(col("pid"), coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("k"))
    val wP = Window.partitionBy(col("pid"))
    paired
      .withColumn("credit", col("k") / sum(col("k")).over(wP))
      .groupBy(col("channel"))
      .agg(
        countDistinct(col("pid")).as("n_purchases"),
        rnd(sum(col("credit")), 4).as("total_credit"))
      .orderBy(col("channel"))
  }

  // q147 — DAU/WAU stickiness per day: daily distinct actives over the
  // 7-day sliding distinct (q138's constant-fan-out expansion) — the
  // engagement ratio every growth dashboard tracks.
  private def stickiness(s: SparkSession, dir: String): DataFrame = {
    val presence = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("pday"))
      .distinct()
    val days = presence.select(col("pday").as("day")).distinct()
    val dau = presence.groupBy(col("pday").as("day")).agg(countDistinct(col("user_id")).as("dau"))
    val wau = presence
      .select(
        col("user_id"),
        explode(transform(sequence(lit(0), lit(6)), i => date_add(col("pday"), i))).as("day"))
      .join(days, "day")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau
      .join(wau, "day")
      .select(
        col("day"),
        col("dau"),
        col("wau"),
        rnd(col("dau") / col("wau").cast("double"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  // q148 — SQL-authored query through the spark.sql front-end (the engine's
  // second API surface, exercised end-to-end through the driver gate): top-2
  // orders per priority by rank() with full tiebreaks. Note: 5 rank
  // partitions is a demo of the SQL path — the scale idiom for top-k per
  // HIGH-cardinality groups is the bounded-heap aggregator behind q52.
  private def sqlAuthored(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT priority, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderpriority AS priority, o_orderkey, o_totalprice,
        |    rank() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders_v
        |)
        |WHERE rk <= 2
        |ORDER BY priority, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  // q149 — group-ALL / group-ANY semantics (relational ∀/∃ without a
  // correlated subquery): per order, ALL lineitems shipped before the
  // cutoff vs ANY vs NONE, from min/max over a boolean flag in one
  // combinable pass — the order-fill-rate report.
  private def orderFillRate(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("date")
    val shipped = (col("l_shipdate").cast("date") < cutoff).cast("int")
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(min(shipped).as("all_f"), max(shipped).as("any_f"), count(lit(1)).as("k"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("all_f")).as("n_fully_shipped"),
        sum(when(col("any_f") === 1 && col("all_f") === 0, 1L).otherwise(0L))
          .as("n_partial"),
        sum(when(col("any_f") === 0, 1L).otherwise(0L)).as("n_none"),
        rnd(avg(when(col("all_f") === 1, col("k"))), 4).as("avg_lines_when_full"))
  }

  // q150 — Pythagorean means per event type: arithmetic, geometric
  // (exp∘avg∘ln) and harmonic (n/Σ1/x) over the strictly positive values,
  // with the zero count reported — AM ≥ GM ≥ HM as the built-in sanity
  // invariant. All codegen'd aggregates.
  private def pythagoreanMeans(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum((col("value") <= 0).cast("long")).as("n_nonpos"),
        rnd(avg(when(col("value") > 0, col("value"))), 4).as("arith_mean"),
        rnd(exp(avg(when(col("value") > 0, log(col("value"))))), 4).as("geo_mean"),
        rnd(
          sum((col("value") > 0).cast("double")) /
            sum(when(col("value") > 0, lit(1.0) / col("value"))),
          4).as("harm_mean"))
      .orderBy(col("event_type"))

  // q151 — kNN regression over embeddings (the regression face of q18):
  // predicted value = mean neighbor label among the 5 cosine-nearest train
  // vectors, deterministic (sim desc, id) ranking via the bounded partial
  // top-k aggregation — no full-pair window shuffle.
  private def knnRegression(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb
      .filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"), col("label").as("actual"))
    val train = emb.filter(col("vec_id") >= 50)
    val preds = VF
      .bruteForceTopK(
        queries.select(col("q_id"), col("q_vec")),
        train.select(col("vec_id"), col("embedding")),
        "q_id", "vec_id", "q_vec", "embedding", k = 5)
      .join(train.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("q_id"))
      .agg(avg(col("label")).as("pred"))
    preds
      .join(queries.select(col("q_id"), col("actual")), "q_id")
      .select(
        col("q_id"),
        col("actual"),
        rnd(col("pred"), 6).as("predicted"),
        rnd(abs(col("pred") - col("actual")), 6).as("abs_err"))
      .orderBy(col("q_id"))
  }

  // q152 — calendar densification + forward fill (the pandas
  // reindex+ffill): the sparse (user, day) spend series for users 0..49
  // expands onto the full day spine (grid of two AGGREGATE frames), gaps
  // zero-flagged and forward-filled with last_value(ignoreNulls) per user
  // — filled-from-history, not interpolated; leading gaps stay null.
  private def densifyFfill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id") < 50)
    val spend = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("spend"))
    val days = t(s, dir, "events").select(to_date(col("ts")).as("day")).distinct()
    val users = ev.select(col("user_id")).distinct()
    val spine = users.crossJoin(broadcast(days))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine
      .join(spend, Seq("user_id", "day"), "left")
      .withColumn("is_gap", col("spend").isNull.cast("int"))
      .withColumn("filled", last(col("spend"), ignoreNulls = true).over(w))
      .select(
        col("user_id"),
        col("day"),
        rnd(col("spend"), 4).as("spend"),
        col("is_gap"),
        rnd(col("filled"), 4).as("spend_ffill"))
      .orderBy(col("user_id"), col("day"))
  }

  // q153 — deterministic per-group MODE: each user's most frequent event
  // type, count ties broken lexicographically (the tiebreak Spark's own
  // `mode()` does not promise), then the distribution of favorites. A
  // row_number over the user×type aggregate — no raw-row window.
  private def modePerGroup(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("event_type").as("favorite_type"))
      .agg(count(lit(1)).as("n_users"), rnd(avg(col("n")), 4).as("avg_fav_count"))
      .orderBy(col("favorite_type"))
  }

  // q154 — daily bounce rate: sessions (q96's 30-minute-gap sessionization)
  // attributed to their start day, a bounce being a single-event session —
  // the canonical engagement-quality metric on top of the shared session
  // machinery.
  private def bounceRate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn(
        "brk",
        when(
          col("prev").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev"))) > 1800L * 1000000L,
          1L).otherwise(0L))
      .withColumn("sess_id", sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(to_date(col("ts"))).as("day"), count(lit(1)).as("n_ev"))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum((col("n_ev") === 1).cast("long")).as("n_bounces"),
        rnd(avg((col("n_ev") === 1).cast("double")), 6).as("bounce_rate"))
      .orderBy(col("day"))
  }

  // q155 — smoothed target encoding of event type against the
  // high-value-event target (value > 50): enc = (n·rate + m·global)/(n+m),
  // m = 10 — the leakage-aware categorical feature encoder. Marginal-sized
  // aggregates; the 1-row global rate binds via broadcast.
  private def targetEncoding(s: SparkSession, dir: String): DataFrame = {
    val target = (col("value") > 50.0).cast("double")
    val perType = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(target).as("rate"))
    val global = t(s, dir, "events").agg(avg(target).as("g"))
    perType
      .crossJoin(broadcast(global))
      .select(
        col("event_type"),
        col("n"),
        rnd(col("rate"), 6).as("raw_rate"),
        rnd((col("n") * col("rate") + lit(10.0) * col("g")) / (col("n") + lit(10.0)), 6)
          .as("smoothed_rate"))
      .orderBy(col("event_type"))
  }

  // q156 — exact weighted median (lower-median convention: the smallest
  // price whose cumulative quantity weight reaches half the total) of the
  // extended price weighted by quantity, per return flag. Round 4: the
  // binary-search-on-histogram form (operators/WeightedMedian.scala) is the
  // primary path — iterative range refinement with NO per-flag sort, so the
  // plan survives unbounded price cardinality; flags are a 3-value domain,
  // satisfying the operator's driver-bounded-groups contract. Quantities
  // are integer-valued so every weight sum is exact in double. (The sorted
  // cumulative-window form remains the small-cardinality alternative,
  // property-tested equal in WeightedMedianSpec.)
  private def weightedMedian(s: SparkSession, dir: String): DataFrame =
    WeightedMedian(
      t(s, dir, "lineitem"),
      groupCols = Seq("l_returnflag"),
      valueCol = "l_extendedprice",
      weightCol = "l_quantity",
      outCol = "wm_price",
      totCol = "tot")
      .select(
        col("l_returnflag"),
        rnd(col("tot"), 2).as("total_weight"),
        rnd(col("wm_price"), 2).as("weighted_median_price"))
      .orderBy(col("l_returnflag"))

  // q157 — streaming hourly peak detection: hour-windowed counts
  // accumulate in complete mode (day×24-bounded state), then the per-day
  // argmax hour (count ties → earliest hour) lands as a batch post-step on
  // the replay result — the "what hour peaked" operational readout, equal
  // by construction to the batch hourly profile the oracle computes.
  private def streamHourlyPeak(s: SparkSession, dir: String): DataFrame = {
    val hourly = replayStream(s, dir, "complete") { ev =>
      ev.groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
    }
    val w = Window.partitionBy(col("day")).orderBy(col("n").desc, col("peak_hour"))
    hourly
      .select(to_date(col("ws")).as("day"), hour(col("ws")).as("peak_hour"), col("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("day"), col("peak_hour"), col("n").as("n_events"))
      .orderBy(col("day"))
  }

  // q158 — streaming first-seen user acquisition: per-user min timestamp
  // accumulates in complete mode (user-bounded state — the deterministic
  // twin of arrival-order dropDuplicates, which a single-batch replay
  // would leave unspecified), then daily new-user counts — the streaming
  // face of q77's batch acquisition curve.
  private def streamNewUsers(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "complete") { ev =>
      ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    }
      .groupBy(to_date(col("first_ts")).as("day"))
      .agg(count(lit(1)).as("new_users"))
      .orderBy(col("day"))

  // q159 — clickstream path analysis: each user-day's ordered event-type
  // sequence (deterministic (ts, event_id) order), truncated to the first
  // 8 steps, counted corpus-wide — top 10 paths. The collect rides the
  // bounded user-day group (cap documented: sort-then-slice keeps the
  // buffer at the group's activity, the truncation is of the PATH).
  private def eventPaths(s: SparkSession, dir: String): DataFrame = {
    val path = concat_ws(
      ">",
      slice(
        transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")),
        1,
        8))
    t(s, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(path.as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_user_days"))
      .orderBy(col("n_user_days").desc, col("path"))
      .limit(10)
  }

  // q160 — behavioral predictability: each user's OWN transition entropy
  // H_u = −Σ p·ln p over their consecutive type pairs, profiled by
  // activity quintile (ntile over transition counts, user_id tiebreak) —
  // low entropy = habitual users. user×type²-bounded frames throughout.
  private def userPredictability(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = t(s, dir, "events")
      .select(
        col("user_id"),
        col("event_type").as("next_t"),
        lag(col("event_type"), 1).over(w).as("prev_t"))
      .filter(col("prev_t").isNotNull)
      .groupBy(col("user_id"), col("prev_t"), col("next_t"))
      .agg(count(lit(1)).cast("double").as("c"))
    val perUser = pairs
      .groupBy(col("user_id"))
      .agg(
        sum(col("c")).as("nt"),
        (log(sum(col("c"))) - sum(col("c") * log(col("c"))) / sum(col("c"))).as("h"))
      .filter(col("nt") >= 5)
    GlobalRank
      .globalNtile(perUser, Seq(col("nt"), col("user_id")), 5, "quintile")
      .groupBy(col("quintile"))
      .agg(
        count(lit(1)).as("n_users"),
        rnd(avg(col("nt")), 2).as("avg_transitions"),
        rnd(avg(col("h")), 4).as("avg_entropy"))
      .orderBy(col("quintile"))
  }

  // q161 — explicit LEFT SEMI / LEFT ANTI join surface: suppliers with vs
  // without any 1997 shipment, per nation — the EXISTS/NOT EXISTS pair as
  // first-class join types (the broadcast-able existence check, no
  // row multiplication, no distinct needed).
  private def semiAntiJoins(s: SparkSession, dir: String): DataFrame = {
    val li97 = t(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1997)
      .select(col("l_suppkey"))
    val sup = t(s, dir, "supplier")
    val active = sup
      .join(li97, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_nationkey"), lit(1).as("is_active"))
    val inactive = sup
      .join(li97, col("s_suppkey") === col("l_suppkey"), "left_anti")
      .select(col("s_nationkey"), lit(0).as("is_active"))
    active
      .unionByName(inactive)
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("is_active")).cast("long").as("n_active_1997"),
        sum(lit(1) - col("is_active")).cast("long").as("n_inactive"))
      .orderBy(col("nation"))
  }

  // q162 — gaps-and-islands: each user's LONGEST consecutive-day activity
  // streak via the classic (day − row_number) island key — equal-length
  // runs collapse to one island group each — then the corpus-wide streak
  // distribution. Windows ride the user×day presence frame.
  private def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    val presence = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = presence
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("streak"))
    islands
      .groupBy(col("user_id"))
      .agg(max(col("streak")).as("longest"))
      .groupBy(col("longest"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("longest"))
  }

  // q163 — market concentration of brand revenue: Herfindahl–Hirschman
  // index Σ share² plus the top-3 concentration ratio, from the brand
  // aggregate (shares divide exact-decimal-rounded revenue). Rank rides
  // the brand-cardinality frame; 1-row total binds via broadcast.
  private def brandHhi(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(moneyRound(sum(discPrice)).as("rev"))
    val wAll = Window.partitionBy()
    val ranked = rev
      .withColumn("share", col("rev") / sum(col("rev")).over(wAll))
      .withColumn("rk", row_number().over(Window.orderBy(col("rev").desc, col("p_brand"))))
    ranked.agg(
      count(lit(1)).as("n_brands"),
      rnd(sum(col("share") * col("share")), 6).as("hhi"),
      rnd(sum(when(col("rk") <= 3, col("share")).otherwise(lit(0.0))), 6).as("cr3"))
  }

  // q164 — activation latency: signup → first-subsequent-purchase delay
  // per user (conditional min aggregates, one pass), summarized as rate +
  // exact latency percentiles in hours — the product-activation funnel
  // metric.
  private def activationLatency(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts")))).as("s_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("p_any"))
    val withLat = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      .join(perUser.filter(col("s_us").isNotNull), "user_id")
      .filter(col("p_us") > col("s_us"))
      .groupBy(col("user_id"), col("s_us"))
      .agg(min(col("p_us")).as("first_p"))
      .withColumn("lat_h", (col("first_p") - col("s_us")) / 3.6e9)
    perUser
      .filter(col("s_us").isNotNull)
      .agg(count(lit(1)).as("n_signed_up"))
      .crossJoin(broadcast(withLat.agg(
        count(lit(1)).as("n_activated"),
        rnd(avg(col("lat_h")), 4).as("avg_latency_h"),
        rnd(percentile(col("lat_h"), lit(0.5)), 4).as("p50_latency_h"),
        rnd(percentile(col("lat_h"), lit(0.9)), 4).as("p90_latency_h"))))
      .select(
        col("n_signed_up"),
        col("n_activated"),
        rnd(col("n_activated") / col("n_signed_up").cast("double"), 6).as("activation_rate"),
        col("avg_latency_h"),
        col("p50_latency_h"),
        col("p90_latency_h"))
  }

  // q165 — cross-source syndication: documents whose normalized 30-char
  // LEAD (the q46/q98 normalization, prefix-blocked like a syndicated-wire
  // headline) appears in more than one source, counted per source pair —
  // the "who copies whom" dedup analytics view. Exact full-text equality
  // finds nothing in this corpus (near-dups differ mid-text), so the
  // blocking key IS the declared semantic. Presence frame self-joined on
  // the prefix key; source-pair-bounded output.
  private def crossSourceDups(s: SparkSession, dir: String): DataFrame = {
    val pfx = substring(lower(regexp_replace(trim(col("text")), "\\s+", " ")), 1, 30)
    val presence = t(s, dir, "documents")
      .select(pfx.as("pfx"), col("source"))
      .distinct()
    val a = presence.select(col("pfx"), col("source").as("source_a"))
    val b = presence.select(col("pfx"), col("source").as("source_b"))
    a.join(b, "pfx")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(countDistinct(col("pfx")).as("n_shared_texts"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // q166 — ordered set aggregation: each region's top-3 nations by revenue
  // as a ranked '>'-joined string plus their combined share — the ordered
  // string_agg surface (Spark side: sort_array∘collect_list of (rank,
  // name) structs, deterministic because the rank pre-orders the list).
  private def rankedStringAgg(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(moneyRound(sum(discPrice)).as("rev"))
    val wR = Window.partitionBy(col("region"))
    val ranked = rev
      .withColumn("share", col("rev") / sum(col("rev")).over(wR))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("region")).orderBy(col("rev").desc, col("nation"))))
      .filter(col("rk") <= 3)
    ranked
      .groupBy(col("region"))
      .agg(
        concat_ws(
          ">",
          transform(
            sort_array(collect_list(struct(col("rk"), col("nation")))),
            x => x.getField("nation"))).as("top3_nations"),
        rnd(sum(col("share")), 6).as("top3_share"))
      .orderBy(col("region"))
  }

  // q167 — conversion-latency curve: the share of purchases whose backward
  // click match (q38's as-of semantics) arrived within each horizon —
  // the CDF readout at the 5m/30m/1h/6h/24h operating points. One as-of
  // pass, horizons expand via a constant literal array.
  private def conversionCurve(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOf
    val ev = t(s, dir, "events")
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = Dedup.keepLast(
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id")),
      Seq("user_id", "cts"),
      Seq(col("click_id")))
      .withColumn("cts2", col("cts")) // carry the match time through the payload (q73 discipline)
    val gaps = AsOf
      .asofBackward(purchases, clicks, Seq("user_id"), "ts", "cts")
      .select(
        ((col("ts").cast("double") - col("cts2").cast("double")) / 60.0).as("gap_min"))
    gaps
      .select(
        explode(array(Seq(5, 30, 60, 360, 1440).map(lit): _*)).as("horizon_min"),
        col("gap_min"))
      .groupBy(col("horizon_min"))
      .agg(
        count(lit(1)).as("n_purchases"),
        rnd(
          avg((col("gap_min").isNotNull && col("gap_min") <= col("horizon_min")).cast("double")),
          6).as("converted_frac"))
      .orderBy(col("horizon_min"))
  }

  // q168 — weekly growth accounting: every active (user, week) classified
  // as new / retained / resurrected against the user's own history, plus
  // churn attributed to the week after activity stops — the
  // new/retained/resurrected/churned ledger every growth team reconciles.
  // All windows ride the user×week presence frame; week = floor(days/7)
  // from the fixed 2024-01-01 anchor on both engines.
  private def growthAccounting(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "events")
      .select(
        col("user_id"),
        floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7).cast("long").as("wk"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val classified = p
      .withColumn("prev", lag(col("wk"), 1).over(w))
      .withColumn(
        "status",
        when(col("prev").isNull, "new")
          .when(col("prev") === col("wk") - 1, "retained")
          .otherwise("resurrected"))
    val weeks = p.select(col("wk")).distinct()
    val churn = p
      .withColumn("next", lead(col("wk"), 1).over(w))
      .filter(col("next").isNull || col("next") > col("wk") + 1)
      .select((col("wk") + 1).as("wk"))
      .join(weeks, "wk")
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_churned"))
    classified
      .groupBy(col("wk"))
      .agg(
        sum((col("status") === "new").cast("long")).as("n_new"),
        sum((col("status") === "retained").cast("long")).as("n_retained"),
        sum((col("status") === "resurrected").cast("long")).as("n_resurrected"))
      .join(churn, Seq("wk"), "left")
      .select(
        col("wk"),
        col("n_new"),
        col("n_retained"),
        col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("wk"))
  }

  // q169 — anomaly detection on the DESEASONALIZED residual (the
  // forecasting-practice upgrade over raw z-scores): q113's trend+seasonal
  // decomposition, residual z-scored against its own population σ, days
  // flagged beyond 2σ — all on the ~30-row daily aggregate.
  private def seasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val detr = daily
      .withColumn("trend", avg(col("n")).over(w7))
      .withColumn("detrended", col("n") - col("trend"))
      .withColumn("dow", dayofweek(col("day")))
    val seasonal = detr.groupBy(col("dow")).agg(avg(col("detrended")).as("seasonal"))
    val withResid = detr
      .join(broadcast(seasonal), "dow")
      .withColumn("resid", col("n") - col("trend") - col("seasonal"))
    val wAll = Window.partitionBy()
    withResid
      .withColumn("sigma", stddev_pop(col("resid")).over(wAll))
      .select(
        col("day"),
        col("n").cast("long").as("n_events"),
        rnd(col("resid"), 4).as("resid"),
        rnd(col("resid") / col("sigma"), 4).as("z"),
        (abs(col("resid")) > lit(2.0) * col("sigma")).cast("int").as("is_anomaly"))
      .orderBy(col("day"))
  }

  // q170 — peak session concurrency via the sweep line: each q96 session
  // contributes (+1 at start, −1 after end), one GLOBAL time-ordered
  // cumulative sum (starts before ends at ties ⇒ touching sessions
  // overlap), per-day maximum — the capacity-planning readout. The sweep
  // list is 2×sessions (aggregate-sized); midnight-crossing sessions carry
  // into the next day through the continuous cumsum.
  private def peakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn(
        "brk",
        when(
          col("prev").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev"))) > 1800L * 1000000L,
          1L).otherwise(0L))
      .withColumn("sess_id", sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(unix_micros(col("ts"))).as("start_us"), max(unix_micros(col("ts"))).as("end_us"))
    val sweep = sessions
      .select(col("start_us").as("t"), lit(1L).as("delta"))
      .unionByName(sessions.select(col("end_us").as("t"), lit(-1L).as("delta")))
    // global running sum via GlobalRank.globalCumSum — the sweep list is
    // 2×sessions and grows with the input, so the scan must stay
    // range-partitioned; ties within (t, delta) carry equal deltas, so the
    // per-day MAX downstream is tie-order-invariant
    GlobalRank
      .globalCumSum(sweep, Seq(col("t"), col("delta").desc), col("delta"), "conc")
      .groupBy(timestamp_micros(col("t")).cast("date").as("day"))
      .agg(max(col("conc")).as("peak_concurrent"))
      .orderBy(col("day"))
  }

  // q171 — revenue bridge (price/volume/mix waterfall) between the month
  // halves, per event type: Δrev decomposes exactly into
  // (Δn)·avg₁ + n₁·(Δavg) + (Δn)·(Δavg) — the finance variance-analysis
  // decomposition, from ONE conditional-aggregation pass.
  private def revenueBridge(s: SparkSession, dir: String): DataFrame = {
    val mid = lit("2024-01-15").cast("date")
    val p1 = to_date(col("ts")) <= mid
    val agged = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        sum(when(p1, 1L).otherwise(0L)).as("n1"),
        sum(when(!p1, 1L).otherwise(0L)).as("n2"),
        sum(when(p1, col("value")).otherwise(lit(0.0))).as("r1"),
        sum(when(!p1, col("value")).otherwise(lit(0.0))).as("r2"))
    val a1 = col("r1") / col("n1")
    val a2 = col("r2") / col("n2")
    agged.select(
      col("event_type"),
      rnd(col("r1"), 2).as("rev_p1"),
      rnd(col("r2"), 2).as("rev_p2"),
      rnd(col("r2") - col("r1"), 2).as("delta"),
      rnd((col("n2") - col("n1")) * a1, 4).as("volume_effect"),
      rnd(col("n1") * (a2 - a1), 4).as("rate_effect"),
      rnd((col("n2") - col("n1")) * (a2 - a1), 4).as("mix_effect"))
      .orderBy(col("event_type"))
  }

  // q172 — sampler bias audit: q68's deterministic Knuth-hash sample (500
  // per type) compared against the population on mean value and purchase
  // share — the check that the hash sample is representative before
  // anyone trusts sampled metrics. Selection = smallest (hash, id), exact
  // on both engines.
  private def sampleAudit(s: SparkSession, dir: String): DataFrame = {
    val pop = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pop"), avg(col("value")).as("pop_avg"))
    val samp = Features
      .deterministicSample(t(s, dir, "events"), "event_type", "event_id", 500)
      .join(t(s, dir, "events").select(col("event_id"), col("value")), "event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sample"), avg(col("value")).as("sample_avg"))
    pop
      .join(samp, "event_type")
      .select(
        col("event_type"),
        col("n_pop"),
        col("n_sample"),
        rnd(col("pop_avg"), 4).as("pop_avg"),
        rnd(col("sample_avg"), 4).as("sample_avg"),
        rnd(abs(col("sample_avg") - col("pop_avg")) / col("pop_avg"), 6).as("rel_diff"))
      .orderBy(col("event_type"))
  }

  // q173 — frequent 3-itemsets over user-day baskets (the k=3 rung of the
  // association family above q10's pairs): distinct basket presence,
  // double self-join with a<b<c ordering (candidate space bounded by
  // C(|types|,3)), support against the basket count — oracle-checked
  // relational apriori, not a model artifact.
  private def tripleItemsets(s: SparkSession, dir: String): DataFrame = {
    val baskets = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      .distinct()
    val nB = baskets.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).cast("double").as("nb"))
    val a = baskets.select(col("user_id"), col("day"), col("event_type").as("t_a"))
    val b = baskets.select(col("user_id"), col("day"), col("event_type").as("t_b"))
    val c = baskets.select(col("user_id"), col("day"), col("event_type").as("t_c"))
    a.join(b, Seq("user_id", "day"))
      .filter(col("t_a") < col("t_b"))
      .join(c, Seq("user_id", "day"))
      .filter(col("t_b") < col("t_c"))
      .groupBy(col("t_a"), col("t_b"), col("t_c"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(nB))
      .select(
        col("t_a"), col("t_b"), col("t_c"), col("n"),
        rnd(col("n") / col("nb"), 6).as("support"))
      .filter(col("support") >= 0.05)
      .orderBy(col("t_a"), col("t_b"), col("t_c"))
  }

  // q174 — Kaplan–Meier survival curve for time-to-first-purchase with
  // right censoring (users who never purchase are censored at their last
  // activity day): S(t) = Π(1 − dᵢ/nᵢ) computed as exp of the cumulative
  // log — risk sets from cumulative sums over the event-time aggregate,
  // the estimator a churn/survival analysis publishes.
  private def survivalCurve(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min(to_date(col("ts"))).as("first_day"),
        max(to_date(col("ts"))).as("last_day"),
        min(when(col("event_type") === "purchase", to_date(col("ts")))).as("p_day"))
      .select(
        when(col("p_day").isNotNull, datediff(col("p_day"), col("first_day")))
          .otherwise(datediff(col("last_day"), col("first_day"))).as("t"),
        col("p_day").isNotNull.cast("int").as("ev"))
    val byTime = perUser
      .groupBy(col("t"))
      .agg(sum(col("ev")).cast("double").as("d"), count(lit(1)).cast("double").as("c"))
    val wCum = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val wS = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)
    byTime
      .withColumn("at_risk", sum(col("c")).over(wAll) - coalesce(sum(col("c")).over(wCum), lit(0.0)))
      .filter(col("d") > 0)
      // d == at_risk (only possible at the terminal event time) sends the
      // log term to -inf — Spark's log(0) is null and would silently DROP
      // it from the window sum, so the zero-survival case is made explicit
      .withColumn(
        "term",
        when(col("d") < col("at_risk"), log(lit(1.0) - col("d") / col("at_risk")))
          .otherwise(lit(0.0)))
      .withColumn(
        "surv",
        when(col("d") === col("at_risk"), lit(0.0))
          .otherwise(exp(sum(col("term")).over(wS))))
      .select(
        col("t").as("t_days"),
        col("at_risk").cast("long").as("at_risk"),
        col("d").cast("long").as("events"),
        rnd(col("surv"), 6).as("survival"))
      .orderBy(col("t_days"))
  }

  // q175 — behavioral bitmask segmentation: each user's event-type set
  // packed into a 5-bit mask (fixed alphabetical bit order), segment
  // histogram with the decoded label — the set-valued GROUP BY a
  // segmentation dashboard runs. Presence frame only; 2⁵-bounded output.
  private def typeBitmask(s: SparkSession, dir: String): DataFrame = {
    val bit = when(col("event_type") === "click", 1)
      .when(col("event_type") === "error", 2)
      .when(col("event_type") === "purchase", 4)
      .when(col("event_type") === "signup", 8)
      .otherwise(16) // view
    val perUser = t(s, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .groupBy(col("user_id"))
      .agg(
        sum(bit).as("mask"),
        concat_ws("+", sort_array(collect_set(col("event_type")))).as("types_label"))
    perUser
      .groupBy(col("mask"), col("types_label"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("mask"))
  }

  // q176 — weekend-vs-weekday purchase odds ratio with the 95% CI
  // (ln OR ± 1.96·√(1/a+1/b+1/c+1/d)) — the epidemiology-style effect
  // measure completing the q102/q108/q132 association toolkit. One
  // conditional pass builds the 2×2.
  private def weekendOddsRatio(s: SparkSession, dir: String): DataFrame = {
    val wknd = dayofweek(to_date(col("ts"))).isin(1, 7)
    val isP = col("event_type") === "purchase"
    val agged = t(s, dir, "events").agg(
      sum((wknd && isP).cast("long")).as("a"),
      sum((wknd && !isP).cast("long")).as("b"),
      sum((!wknd && isP).cast("long")).as("c"),
      sum((!wknd && !isP).cast("long")).as("d"))
    val or = (col("a") * col("d")).cast("double") / (col("b") * col("c"))
    val se = sqrt(
      lit(1.0) / col("a") + lit(1.0) / col("b") + lit(1.0) / col("c") + lit(1.0) / col("d"))
    agged.select(
      col("a"), col("b"), col("c"), col("d"),
      rnd(or, 6).as("odds_ratio"),
      rnd(exp(log(or) - lit(1.96) * se), 6).as("ci_low"),
      rnd(exp(log(or) + lit(1.96) * se), 6).as("ci_high"))
  }

  // q177 — experiment power analysis for the q119 A/B split: minimum
  // detectable absolute effect at α=0.05 / power 0.8
  // (MDE = (1.96 + 0.8416)·√(2·p(1−p)/n̄)) vs the currently observed
  // delta — the "is this test even capable of deciding" readout. Pure
  // arithmetic over the 2-row arm aggregate.
  private def powerAnalysis(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("converted"))
      .withColumn("arm", Features.hashSplit(col("user_id"), Seq(("a", 50), ("b", 100))))
    val row = perUser.agg(
      sum(when(col("arm") === "a", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "b", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "a", col("converted")).otherwise(0)).as("conv_a"),
      sum(when(col("arm") === "b", col("converted")).otherwise(0)).as("conv_b"))
    val p = (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b"))
    val nBar = (col("n_a") + col("n_b")).cast("double") / 2.0
    val mde = lit(1.96 + 0.8416) * sqrt(lit(2.0) * p * (lit(1.0) - p) / nBar)
    val delta = abs(col("conv_a") / col("n_a") - col("conv_b") / col("n_b"))
    row.select(
      col("n_a"),
      col("n_b"),
      rnd(p, 6).as("pooled_rate"),
      rnd(mde, 6).as("mde_abs"),
      rnd(mde / p, 6).as("mde_rel"),
      rnd(delta, 6).as("observed_delta"),
      (delta > mde).cast("int").as("powered"))
  }

  // q178 — token economics per language: chars/token, UTF-8 BYTES/token
  // and bytes/char (octet_length vs length — the multibyte cost zh makes
  // visible) — the storage-and-tokenizer budget numbers an LLM data plan
  // quotes. One combinable pass.
  private def bytesPerToken(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text"))).as("n_tokens"),
        sum(length(col("text"))).as("n_chars"),
        sum(octet_length(col("text"))).as("n_bytes"))
      .select(
        col("lang"),
        col("n_docs"),
        col("n_tokens"),
        rnd(col("n_chars") / col("n_tokens").cast("double"), 4).as("chars_per_token"),
        rnd(col("n_bytes") / col("n_tokens").cast("double"), 4).as("bytes_per_token"),
        rnd(col("n_bytes") / col("n_chars").cast("double"), 4).as("bytes_per_char"))
      .orderBy(col("lang"))

  // q179 — vocabulary coverage curve: the share of all token occurrences
  // covered by the top-k vocabulary at k ∈ {10, 50, 100, 500, 1000}
  // (q83's ranking, melted) — the out-of-vocabulary budget behind any
  // fixed-vocab tokenizer. Conditional sums over the ranked vocab
  // aggregate, melted on a 1-row frame.
  private def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(explode(TF.tokens(lower(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
    // vocab grows sublinearly (Heaps' law) but still grows — rank it with
    // the range-partitioned GlobalRank, not a single-partition window
    val ranked = GlobalRank.globalRowNumber(
      counts, Seq(col("n").desc, col("token")), "rk")
    val wide = ranked.agg(
      sum(col("n")).cast("double").as("tot"),
      sum(when(col("rk") <= 10, col("n")).otherwise(0L)).as("c10"),
      sum(when(col("rk") <= 50, col("n")).otherwise(0L)).as("c50"),
      sum(when(col("rk") <= 100, col("n")).otherwise(0L)).as("c100"),
      sum(when(col("rk") <= 500, col("n")).otherwise(0L)).as("c500"),
      sum(when(col("rk") <= 1000, col("n")).otherwise(0L)).as("c1000"))
    wide.selectExpr(
      "stack(5, 10, c10/tot, 50, c50/tot, 100, c100/tot, 500, c500/tot, 1000, c1000/tot) AS (k, coverage)")
      .select(col("k"), rnd(col("coverage"), 6).as("coverage"))
      .orderBy(col("k"))
  }

  // q180 — near-dup cluster size distribution: how big the q49 connected
  // components get (the dedup-risk profile — one mega-cluster means the
  // similarity threshold is too loose). Component-bounded frames.
  private def clusterSizes(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("size"))

  // q181 — TPC-H Q4-shaped late-order audit: orders with ANY lineitem
  // shipped more than 90 days after the order date, per priority —
  // EXISTS expressed as a distinct-key semi-join against the offending
  // lines (no row multiplication into the aggregate).
  private def lateOrders(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val lateKeys = t(s, dir, "lineitem")
      .join(orders.select(col("o_orderkey").as("ok"), col("o_orderdate")),
        col("l_orderkey") === col("ok"))
      .filter(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) > 90)
      .select(col("l_orderkey")).distinct()
    orders
      .join(lateKeys, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("l_orderkey").isNotNull.cast("long")).as("n_late"),
        rnd(avg(col("l_orderkey").isNotNull.cast("double")), 6).as("late_share"))
      .orderBy(col("priority"))
  }

  // q182 — dormancy gap distribution: every time a user returns after ≥1
  // fully absent DAY, how long they were away — the win-back-latency
  // histogram (day granularity: this corpus has no week-long absences, so
  // weekly gaps would be vacuous). Per-user day windows only.
  private def dormancyGaps(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    p.withColumn("prev", lag(col("day"), 1).over(w))
      .filter(col("prev").isNotNull && datediff(col("day"), col("prev")) > 1)
      .select((datediff(col("day"), col("prev")) - 1).as("gap_days"))
      .groupBy(col("gap_days"))
      .agg(count(lit(1)).as("n_returns"))
      .orderBy(col("gap_days"))
  }

  // q183 — basket size curve: orders histogrammed by lineitem count with
  // the average order revenue at each size — the does-bigger-basket-mean-
  // more-revenue readout (two combinable aggregation levels, exact-decimal
  // money).
  private def basketSizeCurve(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("k"), sum(discPrice).as("_rev"))
      .groupBy(col("k").as("n_lines"))
      .agg(
        count(lit(1)).as("n_orders"),
        // exact decimal SUM cast to double (< 2^53, exact) then divided —
        // decimal AVG would round differently across engines (DuckDB's avg
        // is always double); the nudge makes the 2-dp rounding agree
        rnd(sum(col("_rev").cast("double")) / count(lit(1)), 2).as("avg_order_revenue"))
      .orderBy(col("n_lines"))

  // q184 — maximum drawdown of the cumulative daily net value (the
  // finance risk statistic): running peak of the cumulative sum minus the
  // current level, maximized — two stacked windows over the ~30-row daily
  // aggregate, argmax tie to the earliest day.
  private def maxDrawdown(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("net"))
    val wCum = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("cum", sum(col("net")).over(wCum))
      .withColumn("peak", max(col("cum")).over(wCum))
      .withColumn("dd", col("peak") - col("cum"))
    cum
      .orderBy(col("dd").desc, col("day"))
      .limit(1)
      .select(
        col("day").as("trough_day"),
        rnd(col("peak"), 4).as("peak_value"),
        rnd(col("cum"), 4).as("trough_value"),
        rnd(col("dd"), 4).as("max_drawdown"))
  }

  // q185 — autocorrelation function table of the daily total at lags 1..7
  // (q95's single lag widened to the ACF a forecaster actually reads):
  // the lag join is an equi-join on the shifted day key over the ~30-row
  // aggregate, one corr per lag.
  private def acfTable(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val lags = daily
      .select(col("day"), col("n"), explode(sequence(lit(1), lit(7))).as("lag"))
      .withColumn("match_day", expr("date_add(day, lag)"))
    lags
      .join(
        daily.select(col("day").as("match_day"), col("n").as("n_next")),
        Seq("match_day"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"), rnd(corr(col("n"), col("n_next")), 6).as("acf"))
      .orderBy(col("lag"))
  }

  // q186 — language-ID confusion profile: per true language, accuracy and
  // the dominant wrong guess (deterministic mode over the q41 heuristic's
  // errors; all-correct languages report null) — the per-class error
  // analysis on top of the q41 contingency.
  private def langConfusion(s: SparkSession, dir: String): DataFrame = {
    val preds = t(s, dir, "documents")
      .select(col("lang"), TF.langIdWithUnknown(col("text"), LangProfiles).as("predicted"))
    val acc = preds
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        rnd(avg((col("lang") === col("predicted")).cast("double")), 6).as("accuracy"))
    val wrong = preds
      .filter(col("lang") =!= col("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("predicted"))
    val top = wrong
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("lang"), col("predicted").as("top_confusion"), col("n").as("n_confused"))
    acc
      .join(top, Seq("lang"), "left")
      .select(
        col("lang"),
        col("n_docs"),
        col("accuracy"),
        col("top_confusion"),
        coalesce(col("n_confused"), lit(0L)).as("n_confused"))
      .orderBy(col("lang"))
  }

  // q187 — relative price dispersion per brand: coefficient of variation
  // (population σ/μ) and the IQR/median ratio — scale-free volatility
  // rankings, top 10 most dispersed brands (cv desc, brand tiebreak).
  // Moments and exact quartiles in one grouped pass each.
  private def priceDispersion(s: SparkSession, dir: String): DataFrame = {
    val joined = t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
    val byBrand = joined
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n"),
        avg(col("l_extendedprice")).as("mu"),
        stddev_pop(col("l_extendedprice")).as("sd"),
        percentile(
          col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
    byBrand
      .select(
        col("p_brand"),
        col("n"),
        rnd(col("sd") / col("mu"), 6).as("cv"),
        rnd(
          (element_at(col("q"), 3) - element_at(col("q"), 1)) / element_at(col("q"), 2),
          6).as("iqr_over_median"))
      .orderBy(col("cv").desc, col("p_brand"))
      .limit(10)
  }

  // q188 — strength of trend and seasonality (the Hyndman decomposition
  // diagnostics): F_trend = max(0, 1 − Var(resid)/Var(n − seasonal)),
  // F_seas = max(0, 1 − Var(resid)/Var(n − trend)) over the q113
  // decomposition — one row that says whether the series is trending,
  // seasonal, both, or noise.
  private def seasonalStrength(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val detr = daily
      .withColumn("trend", avg(col("n")).over(w7))
      .withColumn("detrended", col("n") - col("trend"))
      .withColumn("dow", dayofweek(col("day")))
    val seasonal = detr.groupBy(col("dow")).agg(avg(col("detrended")).as("seasonal"))
    val full = detr
      .join(broadcast(seasonal), "dow")
      .select(
        col("n"),
        (col("n") - col("trend") - col("seasonal")).as("resid"),
        (col("n") - col("seasonal")).as("deseason"),
        col("detrended"))
    full.agg(
      count(lit(1)).as("n_days"),
      rnd(
        greatest(
          lit(0.0),
          lit(1.0) - var_pop(col("resid")) / var_pop(col("deseason"))),
        6).as("trend_strength"),
      rnd(
        greatest(
          lit(0.0),
          lit(1.0) - var_pop(col("resid")) / var_pop(col("detrended"))),
        6).as("seasonal_strength"))
  }

  // q189 — day-over-day audience churn: what share of each day's active
  // users return the next day — presence frame equi-joined to its own
  // next-day shift, the short-horizon retention pulse (q61's cohort
  // triangle collapsed to the daily diagonal).
  private def audienceChurn(s: SparkSession, dir: String): DataFrame = {
    val presence = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val next = presence.select(date_sub(col("day"), 1).as("day"), col("user_id").as("uid2"))
    val dau = presence.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val both = presence
      .join(next, presence("day") === next("day") && col("user_id") === col("uid2"))
      .groupBy(presence("day").as("day"))
      .agg(count(lit(1)).as("n_retained_next"))
    dau
      .join(both, "day")
      .select(
        col("day"),
        col("n_active"),
        col("n_retained_next"),
        rnd(col("n_retained_next") / col("n_active").cast("double"), 6)
          .as("next_day_retention"))
      .orderBy(col("day"))
  }

  // q190 — power-user concentration: the event share captured by the top
  // 1% of users (ceil(n/100) by activity, user_id tiebreak) vs the rest —
  // the "how skewed is engagement" number next to q120's Gini. Rank via
  // GlobalRank (range-partitioned, no single-partition sort); the user
  // count falls out of the same offset pass, so top-membership binds as a
  // literal instead of a global count window.
  private def powerUserShare(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    val (ranked0, nUsers) = GlobalRank.globalRowNumberWithTotal(
      perUser, Seq(col("c").desc, col("user_id")), "rk")
    val k = math.ceil(nUsers / 100.0).toLong
    val ranked = ranked0.withColumn("is_top", (col("rk") <= k).cast("int"))
    ranked
      .agg(
        rnd(
          sum(when(col("is_top") === 1, col("c")).otherwise(0L)) /
            sum(col("c")).cast("double"),
          6).as("top1pct_share"),
        rnd(avg(when(col("is_top") === 1, col("c"))), 2).as("avg_events_top"),
        rnd(avg(when(col("is_top") === 0, col("c"))), 2).as("avg_events_rest"))
      .select(
        lit(nUsers).as("n_users"),
        lit(k).as("k_top"),
        col("top1pct_share"),
        col("avg_events_top"),
        col("avg_events_rest"))
  }

  // q191 — term burstiness (Church–Gale): variance-to-mean ratio of
  // per-document counts among documents CONTAINING the term — content
  // words burst, function words spread evenly. Doc-frequency gate ≥ 50,
  // top 10 by the rounded ratio with token tiebreak.
  private def termBurstiness(s: SparkSession, dir: String): DataFrame = {
    val perDoc = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), explode(TF.tokens(lower(col("text")))).as("token"))
      .filter(col("token").rlike("^[a-z]{3,}$"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("c"))
    perDoc
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("n_docs"),
        avg(col("c")).as("mu"),
        var_pop(col("c")).as("v"))
      .filter(col("n_docs") >= 50)
      .select(
        col("token"),
        col("n_docs"),
        rnd(col("mu"), 4).as("mean_count"),
        rnd(col("v") / col("mu"), 6).as("burstiness"))
      .orderBy(col("burstiness").desc, col("token"))
      .limit(10)
  }

  // q192 — referential reconciliation audit: each order's stored total
  // vs the exact-decimal sum of its lineitem charges — match rate within
  // a cent, plus the relative-deviation profile. The cross-table
  // consistency check a warehouse runs after every load; one join + one
  // rollup.
  private def orderReconciliation(s: SparkSession, dir: String): DataFrame = {
    val lineSums = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(charge).cast("double").as("line_total"))
    val joined = t(s, dir, "orders")
      .join(lineSums, col("o_orderkey") === col("l_orderkey"), "left")
      .select(
        col("o_totalprice"),
        col("line_total"),
        when(
          col("line_total").isNotNull,
          abs(col("line_total") - col("o_totalprice")) / col("o_totalprice")).as("rel"))
    joined.agg(
      count(lit(1)).as("n_orders"),
      sum(col("line_total").isNotNull.cast("long")).as("n_with_lines"),
      sum((col("rel") <= 0.0001).cast("long")).as("n_reconciled"),
      rnd(avg(col("rel")), 6).as("avg_rel_diff"),
      rnd(max(col("rel")), 6).as("max_rel_diff"))
  }

  // q193 — brand rank stability between 1997 and 1998: Spearman rho as
  // the plain corr of tie-broken revenue ranks (deterministic (rev desc,
  // brand) ranking — the tiebreak convention documented in place of the
  // tie-averaged textbook variant), plus the biggest rank mover. Ranks
  // ride the brand-sized yearly aggregates.
  private def rankStability(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(year(col("l_shipdate")).isin(1997, 1998))
      .groupBy(col("p_brand"), year(col("l_shipdate")).as("yr"))
      .agg(moneyRound(sum(discPrice)).as("rev"))
    def ranks(y: Int, out: String) = rev
      .filter(col("yr") === y)
      .withColumn(out, row_number().over(Window.orderBy(col("rev").desc, col("p_brand"))))
      .select(col("p_brand"), col(out))
    val joined = ranks(1997, "r97").join(ranks(1998, "r98"), "p_brand")
    val top = joined
      .orderBy(abs(col("r97") - col("r98")).desc, col("p_brand"))
      .limit(1)
      .select(
        col("p_brand").as("top_mover"),
        abs(col("r97") - col("r98")).as("max_rank_jump"))
    joined
      .agg(count(lit(1)).as("n_brands"), rnd(corr(col("r97"), col("r98")), 6).as("spearman"))
      .crossJoin(broadcast(top))
  }

  // q194 — distribution-shift days: the L1 distance between consecutive
  // days' event-type mix (share vectors), top 5 shift days — the "what
  // changed yesterday" trigger a monitoring stack fires on. Shares via
  // day-partitioned windows, the day-over-day pairing is an equi-join on
  // the shifted day.
  private def mixShiftDays(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", col("n") / sum(col("n")).over(Window.partitionBy(col("day"))))
    val prev = daily.select(
      date_sub(col("day"), -1).as("day"),
      col("event_type"),
      col("share").as("prev_share"))
    daily
      .join(prev, Seq("day", "event_type"))
      .groupBy(col("day"))
      .agg(rnd(sum(abs(col("share") - col("prev_share"))), 6).as("l1_shift"))
      .orderBy(col("l1_shift").desc, col("day"))
      .limit(5)
  }

  // q195 — deadstock audit: parts never appearing on any lineitem, per
  // brand (LEFT ANTI against the distinct ordered-part keys) — the
  // catalog-coverage metric behind inventory write-offs.
  private def deadstock(s: SparkSession, dir: String): DataFrame = {
    val ordered = t(s, dir, "lineitem").select(col("l_partkey")).distinct()
    val parts = t(s, dir, "part")
    val never = parts
      .join(ordered, col("p_partkey") === col("l_partkey"), "left_anti")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_never_ordered"))
    parts
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"))
      .join(never, Seq("p_brand"), "left")
      .select(
        col("p_brand"),
        col("n_parts"),
        coalesce(col("n_never_ordered"), lit(0L)).as("n_never_ordered"),
        rnd(
          coalesce(col("n_never_ordered"), lit(0L)) / col("n_parts").cast("double"),
          6).as("deadstock_share"))
      .orderBy(col("p_brand"))
  }

  // q196 — customer value bands: lifetime order value cut at fixed 2M/3M
  // thresholds (low/mid/high), per band population and revenue share —
  // the tiering every account team quotes. Exact-decimal totals; the
  // 1-row grand total binds via broadcast.
  private def valueBands(s: SparkSession, dir: String): DataFrame = {
    // totals stay DECIMAL until the final rounding (2-dp doubles would
    // accumulate float noise above the 1e-9 nudge at 1e9 magnitudes)
    val perCust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice").cast("decimal(14,2)")), 2).as("cvd"))
      .withColumn("cv", col("cvd").cast("double"))
    val banded = perCust.withColumn(
      "band",
      when(col("cv") < 2000000.0, "1_low")
        .when(col("cv") < 3000000.0, "2_mid")
        .otherwise("3_high"))
    val tot = perCust.agg(moneyRound(sum(col("cvd"))).as("tot"))
    banded
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_customers"), moneyRound(sum(col("cvd"))).as("band_rev"))
      .crossJoin(broadcast(tot))
      .select(
        col("band"),
        col("n_customers"),
        col("band_rev").as("band_revenue"),
        rnd(col("band_rev") / col("tot"), 6).as("revenue_share"))
      .orderBy(col("band"))
  }

  // q197 — hour-of-day × day-of-week traffic heat grid: average hourly
  // volume per (ISO weekday, hour) cell. The weekday index is computed
  // ARITHMETICALLY (days since Monday 2024-01-01, mod 7) because it is an
  // OUTPUT column — engine dayofweek/isodow numbering conventions differ,
  // arithmetic does not.
  private def hourDowHeatmap(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(
        to_date(col("ts")).as("day"),
        hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", pmod(datediff(col("day"), lit("2024-01-01")), lit(7)))
    hourly
      .groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_cells"), rnd(avg(col("n")), 4).as("avg_events"))
      .orderBy(col("dow"), col("hr"))
  }

  // q198 — emerging terms between the two interleaved doc halves (doc_id
  // parity as the crawl split): add-one-smoothed frequency growth ratio
  // (c₂+1)/(c₁+1), top 10 by the rounded ratio with term tiebreak — the
  // trending-vocabulary detector a crawl-over-crawl diff publishes.
  private def emergingTerms(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select((col("doc_id") % 2).as("half"), explode(TF.tokens(lower(col("text")))).as("term"))
      .filter(col("term").rlike("^[a-z]{3,}$"))
    val counts = toks
      .groupBy(col("term"))
      .agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c2"))
    counts
      .filter(col("c1") + col("c2") >= 20)
      .select(
        col("term"),
        col("c1"),
        col("c2"),
        rnd((col("c2") + 1).cast("double") / (col("c1") + 1), 6).as("growth_ratio"))
      .orderBy(col("growth_ratio").desc, col("term"))
      .limit(10)
  }

  // q199 — revenue mix by price band and ship year: fixed lineitem price
  // bands (<1k, <5k, ≥5k), exact-decimal revenue, share within each year
  // via a year-partitioned window over the band×year aggregate.
  private def priceBandMix(s: SparkSession, dir: String): DataFrame = {
    val band = when(col("l_extendedprice") < 1000.0, "1_under_1k")
      .when(col("l_extendedprice") < 5000.0, "2_1k_to_5k")
      .otherwise("3_over_5k")
    val agged = t(s, dir, "lineitem")
      .groupBy(year(col("l_shipdate")).as("yr"), band.as("band"))
      .agg(count(lit(1)).as("n_lines"), moneyRound(sum(discPrice)).as("revenue"))
    agged
      .withColumn(
        "share_of_year",
        rnd(col("revenue") / sum(col("revenue")).over(Window.partitionBy(col("yr"))), 6))
      .orderBy(col("yr"), col("band"))
  }

  // q200 — orders-per-customer distribution: the frequency histogram plus
  // its own tail summary (max and the share of customers above 2× the
  // mean) folded into each row — two aggregate levels and one global
  // window over the histogram frame.
  private def ordersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("k"))
    val hist = perCust.groupBy(col("k").as("n_orders")).agg(count(lit(1)).as("n_customers"))
    val wAll = Window.partitionBy()
    hist
      .withColumn("total", sum(col("n_customers")).over(wAll))
      .select(
        col("n_orders"),
        col("n_customers"),
        rnd(col("n_customers") / col("total").cast("double"), 6).as("frac_customers"))
      .orderBy(col("n_orders"))
  }

  // q201 — Gopher-style repetition rules: per-doc distinct-unigram ratio,
  // top-bigram fraction, duplicated-bigram fraction, with the quality
  // verdict computed on the RAW ratios (both engines compare identical
  // integer-division doubles) and only the reported columns rounded.
  private def repetitionRules(s: SparkSession, dir: String): DataFrame = {
    val m = graft.text.Repetition.metrics(t(s, dir, "documents"), "doc_id", "text")
    m.select(
      col("doc_id"),
      col("n_tokens"),
      rnd(col("distinct_ratio"), 6).as("distinct_ratio"),
      rnd(col("top_bigram_frac"), 6).as("top_bigram_frac"),
      rnd(col("dup_bigram_frac"), 6).as("dup_bigram_frac"),
      when(
        col("distinct_ratio") < 0.33 || col("top_bigram_frac") > 0.09 ||
          col("dup_bigram_frac") > 0.15,
        "repetitive").otherwise("ok").as("verdict"))
      .orderBy(col("doc_id"))
  }

  // q202 — inverted-index posting lists: term → document frequency over the
  // full corpus + the first 30 doc ids of the sorted posting list (the
  // deterministic truncation the operator exposes for skew-safe output).
  private def postingLists(s: SparkSession, dir: String): DataFrame =
    graft.text.InvertedIndex.postings(t(s, dir, "documents"), "doc_id", "text", maxPostings = 30)
      .select(
        col("term"),
        col("doc_freq"),
        array_join(col("postings"), ",").as("postings_head"))
      .orderBy(col("term"))

  // q203 — temperature-scaled source mixture: w ∝ tokens^0.5 per source,
  // plus the integer docs-per-100k draw budget (floor, so budgets never
  // over-allocate). Total rides a broadcast 1-row frame, not a window.
  private def mixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    graft.operators.Mixture
      .temperatureWeights(docs, "source", TF.tokenCount(col("text")), alpha = 0.5)
      .select(
        col("source"),
        col("n_docs"),
        col("size").cast("long").as("n_tokens"),
        rnd(col("weight"), 6).as("weight"),
        floor(col("weight") * 100000).cast("long").as("docs_per_100k"))
      .orderBy(col("source"))
  }

  // q204 — corpus-side decontamination (q63's dual): corpus docs sharing
  // distinct 4-grams with the benchmark split (doc_id % 50 = 0), counted
  // through the bloom-prefilter + exact-verify path — the result is exact,
  // so the plain-SQL oracle applies even though the plan carries a bloom.
  private def decontaminateCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val shared = graft.operators.Decontaminate.sharedGramCounts(
      corpus = docs.filter(col("doc_id") % 50 =!= 0),
      bench = docs.filter(col("doc_id") % 50 === 0),
      idCol = "doc_id", textCol = "text", n = 4)
    shared
      .select(
        col("doc_id"),
        col("shared_grams"),
        when(col("shared_grams") >= 5, "remove")
          .when(col("shared_grams") >= 2, "review")
          .otherwise("monitor").as("verdict"))
      .orderBy(col("doc_id"))
  }

  // q205 — Theil–Sen robust slope of daily order revenue vs days-since-
  // epoch: the pair frame is calendar-bounded (≤ ~2.4k days ⇒ ≤ ~3M pairs
  // at ANY scale factor), so the O(n²) join and the exact median reduce are
  // constant-sized however large the orders table grows.
  private def theilsenTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("rev"))
      .select(datediff(col("day"), lit("1992-01-01")).cast("double").as("x"), col("rev").as("y"))
    Stats.theilSen(daily, "x", "y")
      .select(col("n_pairs"), rnd(col("theil_sen_slope"), 6).as("theil_sen_slope"))
  }

  // q206 — Mann–Kendall monotone-trend test over monthly revenue (~80
  // months — bounded frame), continuity-corrected normal approximation;
  // verdict compared on the raw z, rounded z reported.
  private def mannKendallTrend(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(sum(col("o_totalprice")).as("rev"))
    Stats.mannKendall(monthly, "mon", "rev")
      .select(
        col("n"), col("n_pairs"), col("s"),
        rnd(col("var_s"), 6).as("var_s"),
        rnd(col("z"), 6).as("z"),
        col("verdict"))
  }

  // q207 — log-log price elasticity per brand: OLS slope of ln(qty) on
  // ln(unit price) from covariance sufficient statistics — one aggregation
  // pass keyed by brand, no per-row UDF, elasticity < 0 expected.
  private def priceElasticity(s: SparkSession, dir: String): DataFrame = {
    val joined = t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .select(
        col("p_brand"),
        log(col("l_extendedprice").cast("double") / col("l_quantity").cast("double")).as("lp"),
        log(col("l_quantity").cast("double")).as("lq"))
    joined
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n"),
        rnd(covar_pop(col("lp"), col("lq")) / var_pop(col("lp")), 6).as("elasticity"),
        rnd(corr(col("lp"), col("lq")), 6).as("r"))
      .filter(col("n") >= 30)
      .orderBy(col("p_brand"))
  }

  // Shared by q208/q210 (and mirrored by q211's streaming operator): per-
  // user (ts, event_id)-ordered event-type transition pair counts — the
  // lead() window is PARTITIONED by user, the output frame is the bounded
  // type × type domain.
  private def transitionPairs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_type").as("src"), lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("c"))
  }

  // q208 — event-type transition matrix with add-one smoothing: the
  // smoothed probability denominators ride the bounded (type × type)
  // aggregate frame.
  private def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val pairs = transitionPairs(s, dir)
    val k = t(s, dir, "events").agg(countDistinct(col("event_type")).as("k"))
    val wSrc = Window.partitionBy(col("src"))
    pairs
      .withColumn("rowtot", sum(col("c")).over(wSrc))
      .crossJoin(broadcast(k))
      .select(
        col("src"), col("dst"), col("c"),
        rnd((col("c") + 1.0) / (col("rowtot") + col("k")), 6).as("p_smoothed"))
      .orderBy(col("src"), col("dst"))
  }

  // q209 — triangle count + clustering coefficient of the exact 3-NN
  // cosine graph: the ANN-graph build (NN-descent's init) followed by the
  // degree-ordered triangle enumeration (each triangle counted once from
  // its minimum-(degree, id) corner — the standard MPC algorithm, so the
  // wedge join fans out from LOW-degree vertices and no hub explodes).
  // Edge set is n·k by construction (sparse at any n); at 100-TB embedding
  // counts the kNN stage swaps to ivfTopK, the counting stays as-is.
  private def knnTriangles(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val knn = VF.bruteForceTopK(
      emb.select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
      "q_id", "c_id", "q_vec", "c_vec", k = 3)
    val edges = knn
      .select(least(col("q_id"), col("c_id")).as("u"), greatest(col("q_id"), col("c_id")).as("v"))
      .distinct()
    val deg = edges.select(col("u").as("node")).union(edges.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
    val wedges = oriented.select(col("src"), col("dst").as("b"), col("ddst").as("db"))
      .join(oriented.select(col("src"), col("dst").as("c2"), col("ddst").as("dc")), Seq("src"))
      .filter(col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c2")))
    val tri = wedges
      .join(oriented.select(col("src").as("b"), col("dst").as("c2")), Seq("b", "c2"))
      .agg(count(lit(1)).as("n_triangles"))
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("d") * (col("d") - 1)) / 2).cast("long").as("n_wedges"))
    val edgeCount = edges.agg(count(lit(1)).as("n_edges"))
    degStats
      .crossJoin(broadcast(edgeCount))
      .crossJoin(broadcast(tri))
      .select(
        col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        rnd(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("clustering_coeff"))
  }

  // q210 — Markov entropy per source state + the traffic-weighted entropy
  // rate ('ALL' row): how predictable the event stream is, from the same
  // user-partitioned lead() transitions as q208 (unsmoothed MLE here).
  private def transitionEntropy(s: SparkSession, dir: String): DataFrame = {
    val pc = transitionPairs(s, dir)
    val tot = pc.groupBy(col("src")).agg(sum(col("c")).as("n_out"))
    val p = col("c").cast("double") / col("n_out")
    val h = pc.join(tot, Seq("src"))
      .groupBy(col("src"), col("n_out"))
      .agg((-sum(p * log2(p))).as("h_bits"))
    val rate = h.agg(
      sum(col("n_out")).as("n_out"),
      (sum(col("h_bits") * col("n_out")) / sum(col("n_out"))).as("h_bits"))
      .select(lit("ALL").as("src"), col("n_out"), col("h_bits"))
    h.select(col("src"), col("n_out"), col("h_bits"))
      .union(rate)
      .select(col("src"), col("n_out"), rnd(col("h_bits"), 6).as("h_bits"))
      .orderBy(col("src"))
  }

  // q211 — the q208 transition counts as a STATEFUL STREAMING query:
  // flatMapGroupsWithState carries each user's last event across
  // micro-batches (O(1) state per user, sharded by key), emitted pairs
  // aggregated after the drain; oracle = the batch lead() counts exactly.
  private def streamTransitions(s: SparkSession, dir: String): DataFrame = {
    val sink = replayStream(s, dir, "append") { raw =>
      val ss = raw.sparkSession
      import ss.implicits._
      graft.streaming.StreamOps
        .transitions(ss, raw
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .as[graft.streaming.StreamOps.TypedEvent])
        .toDF()
    }
    sink.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      .orderBy(col("src"), col("dst"))
  }

  // q212 — skip-gram pair weights (word2vec-style training-pair prep):
  // (center, context) co-occurrence within a ±2 token window, weight 1/d.
  // Pair generation is a pure per-row transform over the token array —
  // zero shuffle until the final (w1, w2) aggregation; weights are exact
  // binary halves so the top-15 ordering is deterministic.
  private def skipgramPairs(s: SparkSession, dir: String): DataFrame = {
    def pairsAt(d: Int, wt: Double): Column =
      TF.bindOnce(TF.tokens(col("text"))) { toks =>
        when(size(toks) <= d, array().cast("array<struct<w1:string,w2:string,wt:double>>"))
          .otherwise(
            transform(
              sequence(lit(1), size(toks) - d),
              i => struct(
                element_at(toks, i).as("w1"),
                element_at(toks, i + d).as("w2"),
                lit(wt).as("wt"))))
      }
    t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(explode(concat(pairsAt(1, 1.0), pairsAt(2, 0.5))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.wt").as("wt"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pairs"), rnd(sum(col("wt")), 2).as("weight"))
      .orderBy(col("weight").desc, col("w1"), col("w2"))
      .limit(15)
  }

  // q213 — curriculum sampling plan: the end-to-end curation composition a
  // pretraining run executes — quality-band each doc (shared q13 scorer),
  // weight each source by temperature (shared q203 operator), then allocate
  // each source's per-100k draw budget across its bands with quality
  // multipliers (high 3×, mid 1×, low 0.25×). Windows ride the bounded
  // source×band frame; the global normalizer is Mixture's broadcast 1-row.
  private def curriculumPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(
        col("source"),
        TF.qualityScore(col("text"), Stopwords).as("q"),
        TF.tokenCount(col("text")).as("toks"))
    val band = when(col("q") >= 0.78, "1_high")
      .when(col("q") >= 0.62, "2_mid")
      .otherwise("3_low")
    val bands = docs
      .groupBy(col("source"), band.as("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val budgets = graft.operators.Mixture
      .temperatureWeights(docs, "source", col("toks"), alpha = 0.5)
      .select(col("source"), floor(col("weight") * 100000).as("src_budget"))
    val mult = when(col("band") === "1_high", 3.0)
      .when(col("band") === "2_mid", 1.0)
      .otherwise(0.25)
    val wSrc = Window.partitionBy(col("source"))
    bands
      .join(budgets, Seq("source"))
      .withColumn("_mass", mult * col("n_docs"))
      .select(
        col("source"), col("band"), col("n_docs"), col("n_tokens"),
        col("src_budget").cast("long").as("src_budget"),
        floor(col("src_budget") * col("_mass") / sum(col("_mass")).over(wSrc))
          .cast("long").as("draws"))
      .orderBy(col("source"), col("band"))
  }

  // q214 — the distributed BPE pair-count stage (Bpe.learnMerges iteration
  // 1) through the oracle gate: adjacent character pairs weighted by word
  // frequency, top 20 by (cnt desc, pair asc) — the argmax row is the
  // first merge the tokenizer trainer would learn.
  private def bpePairCounts(s: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.pairCounts(t(s, dir, "documents"), "text")
      .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
      .limit(20)

  // q215 — the decontamination APPLY step (q204's report turned into the
  // clean corpus): remove corpus docs sharing ≥5 distinct 4-grams with the
  // benchmark split and account for every doc and token on both sides of
  // the cut. One flag-join + one aggregate — the removal list is tiny, so
  // the join broadcasts; nothing corpus-sized shuffles beyond the bloom
  // pipeline that produced the list.
  private def cleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val removal = graft.operators.Decontaminate
      .sharedGramCounts(
        corpus, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 4)
      .filter(col("shared_grams") >= 5)
      .select(col("doc_id"), lit(1).as("_rm"))
    corpus
      .join(broadcast(removal), Seq("doc_id"), "left")
      .agg(
        sum(when(col("_rm").isNull, 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("_rm").isNotNull, 1L).otherwise(0L)).as("n_docs_removed"),
        // greatest(…, 0): tokenCount(NULL) = size(NULL) = -1 with ansi off —
        // a null-text doc must count 0 tokens (as the oracle's NULL-ignoring
        // sum does), not subtract 1
        sum(when(col("_rm").isNull, greatest(TF.tokenCount(col("text")), lit(0)).cast("long"))
          .otherwise(0L)).as("tokens_kept"),
        sum(when(col("_rm").isNotNull, greatest(TF.tokenCount(col("text")), lit(0)).cast("long"))
          .otherwise(0L)).as("tokens_removed"))
  }

  // q216 — sequence packing (X14/X15 driver gate): greedyPack over the
  // documents in doc_id order into 512-token bins. partitions=1 pins the
  // single global fold the DuckDB recursive-CTE oracle recomputes; the
  // distributed form (range-partitioned, one fold per partition) is
  // property-tested equal in PackingSpec. Reference semantics: the batch
  // assembly step of a pretraining pipeline (SURVEY §2.12 X15).
  private def sequencePacking(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), greatest(TF.tokenCount(col("text")), lit(0)).as("n_tok"))
    graft.operators.Packing
      .greedyPack(docs, "doc_id", "n_tok", maxLen = 512, partitions = 1)
      .select(col("doc_id"), col("n_tokens"), col("bin_id"))
      .orderBy(col("doc_id"))
  }

  // q217 — the FULL BPE merge loop (X14 driver gate): learnMerges k=5 over
  // the document corpus; the oracle re-derives all five merges with five
  // unrolled pair-count → argmax → fuse iterations in SQL (the q112
  // unrolled-pagerank precedent). Sennrich alg. 1 semantics as documented
  // in text/Bpe.scala.
  private def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    val merges = graft.text.Bpe.learnMerges(t(s, dir, "documents"), "text", k = 5)
    // the oracle unrolls EXACTLY 5 iterations — a corpus that exhausts its
    // pair table earlier must fail loud, not emit a short result the
    // oracle's empty m4/m5 CTEs silently zero out
    require(merges.size == 5,
      s"q217 oracle unrolls 5 merge iterations; corpus supported ${merges.size}")
    import s.implicits._
    merges.zipWithIndex
      .map { case (m, i) => ((i + 1).toLong, m.left, m.right, m.count) }
      .toDF("step", "lhs", "rhs", "cnt")
  }

  // q221 — BPE ENCODE (X14's segment step through the oracle gate): learn
  // 5 merges, apply them in order to every word (Bpe.segment — narrow
  // per-row pass, merge table rides the closure), report per-source token
  // compression. The oracle re-derives the 5 merges (q217's unrolled
  // iterations, words carried through) and re-applies them per word.
  private def bpeSegment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.text.Bpe.learnMerges(docs, "text", k = 5)
    require(merges.size == 5,
      s"q221 oracle unrolls 5 merge iterations; corpus supported ${merges.size}")
    val seg = graft.text.Bpe
      .segment(docs.filter(trim(col("text")) =!= ""), "doc_id", "text", merges)
    seg
      .join(docs.select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast("long").as("n_words")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(size(col("pieces")).cast("long")).as("n_pieces"),
        rnd(sum(size(col("pieces")).cast("long")) / sum(col("n_words")), 4)
          .as("pieces_per_word"))
      .orderBy(col("source"))
  }

  // q218 — span-level dedup (X16): tumbling 8-token spans, global
  // first-occurrence wins (doc_id, position order), documents reassembled
  // from surviving spans. The C4-style cross-document passage removal; one
  // digest-keyed shuffle + equi-join back, no all-pairs stage. clean_md5
  // pins the RECONSTRUCTION byte-exactly, not just the counts.
  private def spanDedup(s: SparkSession, dir: String): DataFrame =
    graft.text.SpanDedup.dedupSpans(t(s, dir, "documents"), "doc_id", "text", w = 8)
      .select(
        col("doc_id"), col("n_spans"), col("n_kept"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))
      .orderBy(col("doc_id"))

  // q219 — soft quality sampling (X17): keep each doc independently with
  // probability quality², membership decided by an overflow-safe Knuth hash
  // of doc_id (Features.softSample) — deterministic, seedless, re-derivable
  // in plain SQL. Per-source yield report of the kept set. Pure
  // projection+filter+agg: no shuffle before the final groupBy.
  private def softQualitySample(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(
      col("doc_id"), col("source"),
      TF.qualityScore(col("text"), Stopwords).as("q"),
      greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"))
    graft.ml.Features.softSample(scored, "doc_id", pow(col("q"), 2.0))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("toks")).as("tokens_kept"),
        rnd(avg(col("q")), 4).as("avg_quality"))
      .orderBy(col("source"))
  }

  // q220 — training-shard plan (X18): deterministic global shuffle (Knuth
  // hash order) + contiguous ~4096-token shards via GlobalRank's
  // distributed cumsum (range exchange + driver offset array — never a
  // single-partition window). Per-shard size report.
  private def shardPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(
      col("doc_id"),
      greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("n_tok"))
    graft.operators.Packing
      .shardByTokenBudget(docs, "doc_id", "n_tok", budget = 4096L)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("shard_id"))
  }

  // q222 — CCNet perplexity filter (X19): add-α bigram LM trained on the
  // English slice, every doc scored in bits-per-bigram, head/middle/tail
  // terciles over the ROUNDED cross-entropy (GlobalRank ntile — one range
  // exchange, no single-partition window). LM counts are exact integers,
  // so the smoothed probabilities reproduce bit-for-bit in the oracle.
  private def lmPerplexityFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = graft.text.LanguageModel
      .bigramCrossEntropy(docs.filter(col("lang") === "en"), docs, "doc_id", "text", alpha = 0.1)
      .withColumn("ce", rnd(col("cross_entropy"), 4))
      .drop("cross_entropy")
    graft.text.LanguageModel
      .ccnetBuckets(scored, "doc_id", "ce")
      .select(col("doc_id"), col("n_bigrams"), col("ce"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  // q223 — DSIR importance weights (X20): bag-of-unigrams log-likelihood
  // ratio of the English-target distribution vs the whole raw corpus,
  // add-α smoothed over the union vocabulary. `selected` is the
  // target-leaning sign on the ROUNDED weight (cross-engine stable). The
  // hashed-feature scale path (buckets > 0) is DsirSpec's job.
  private def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.Dsir
      .importanceWeights(docs, docs.filter(col("lang") === "en"), "doc_id", "text",
        alpha = 0.01)
      .withColumn("log_weight", rnd(col("log_weight"), 4))
      .withColumn("selected", col("log_weight") > 0)
      .orderBy(col("doc_id"))
  }

  // q224 — SemDeDup (X21): sign-bucket partition of the embedding space
  // (deterministic axis-aligned LSH, 64 buckets), within-bucket cosine ≥
  // 0.3 pairs, lowest-id kept. The KMeans-clustered form of the paper is
  // SemDedupSpec's job (model-dependent ⇒ no SQL oracle).
  private def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.operators.SemDedup
      .markDuplicates(emb, "vec_id", "embedding",
        graft.operators.SemDedup.signBucket(col("embedding"), 6), tau = 0.3)
      .withColumn("is_dup", col("dup_of").isNotNull)
      .orderBy(col("vec_id"))
  }

  // q225 — Count-Min heavy hitters (X22): bounded-memory frequency
  // estimation — the depth·width sketch table is the whole summary at any
  // corpus size. Heavy tokens (exact ≥ 50) estimated from the sketch;
  // `overcount ≥ 0` is the CMS one-sided guarantee, checked value-exactly
  // by the oracle recomputing the identical md5-slice buckets.
  private def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(explode(TF.tokens(lower(col("text")))).as("w"))
    val sk = graft.functions.CountMin.sketch(toks, col("w"), depth = 4, width = 512)
    val heavy = toks.groupBy(col("w")).agg(count(lit(1)).as("exact_cnt"))
      .filter(col("exact_cnt") >= 50)
    graft.functions.CountMin.estimate(sk, heavy, "w", depth = 4, width = 512)
      .select(col("w"), col("exact_cnt"), col("est").as("est_cnt"),
        (col("est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("w"))
  }

  // q226 — streaming Count-Min (X22 × phase E): the CMS cell table
  // maintained as a running streaming aggregation over the replayed events
  // (items = user ids as decimal strings — 10k+ distinct keys squeezed
  // into 4×64 bounded cells). The drained table must equal the batch CMS
  // the oracle recomputes from the same md5-slice buckets.
  private def streamCms(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps
        .cmsCells(ev, col("user_id").cast("string"), depth = 4, width = 64)
    }
      .select(col("d").cast("long").as("d"), col("bucket"), col("cnt"))
      .orderBy(col("d"), col("bucket"))

  // q227 — contrastive triplet mining (X23): positives = q224's bucketed
  // near-dup pairs (cos ≥ 0.3), hard negative = the anchor's most-similar
  // corpus vector strictly below 0.3 (broadcast-anchors brute-force
  // baseline, bounded-heap top-1; ivfTopK is the cluster-scale swap).
  private def contrastiveTriplets(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.ml.Contrastive
      .mineTriplets(emb, "vec_id", "embedding",
        graft.operators.SemDedup.signBucket(col("embedding"), 6), tauPos = 0.3)
      .select(col("anchor"), col("positive"), col("negative"),
        rnd(col("pos_sim"), 6).as("pos_sim"), rnd(col("neg_sim"), 6).as("neg_sim"))
      .orderBy(col("anchor"), col("positive"))
  }

  // q228/q233 — incremental ingest dedup via the prefix-filtered EXACT
  // similarity join (X24, AllPairs/PPJoin family): every 10th doc plays
  // the incoming batch, matched against the standing corpus at exact
  // 5-gram Jaccard ≥ τ with NO all-pairs stage and NO banding recall
  // loss — the lossless counterpart of q16's MinHash screen. Two declared
  // operating points: τ=0.25 (q228, the weak-pruning stress demo — prefixes
  // span ~75% of each set; strategy-PINNED to the prefix engine, which this
  // query oracle-gates) and τ=0.5 (q233, the PRODUCTION dedup regime on the
  // cost-based Auto strategy — prefix postings where they prune, salted
  // cross when replica density makes them degenerate).
  private def incrementalNearDups(
      threshold: Double,
      strategy: graft.operators.SimilarityStrategy)(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents").select(
      col("doc_id"),
      graft.expressions.ShingleHashes.hashedCharShingles(col("text"), 5).as("h"))
    val incoming = sh.filter(col("doc_id") % 10 === 0)
      .withColumnRenamed("doc_id", "inc_id")
    val corpus = sh.filter(col("doc_id") % 10 =!= 0)
      .withColumnRenamed("doc_id", "corp_id")
    graft.operators.SimilarityJoin
      .jaccardJoin(incoming, "inc_id", corpus, "corp_id", "h",
        threshold = threshold, strategy = strategy)
      .select(col("inc_id"), col("corp_id"), rnd(col("jac"), 4).as("jac"))
      .orderBy(col("inc_id"), col("corp_id"))
  }

  // q229 — Z-order layout stats (X25): Morton-interleave (user bucket,
  // day-of-year bucket) and report each z-slice's bounding box — the
  // min/max-stat pruning evidence a multi-dimensionally clustered write
  // gives. Pure bit arithmetic (no partitioner state), so the oracle
  // recomputes the identical slices.
  private def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      pmod(col("user_id"), lit(64)).cast("long").as("x"),
      pmod(dayofyear(col("ts")), lit(64)).cast("long").as("y"))
    graft.operators.ZOrder
      .layoutStats(ev, Seq("x" -> col("x"), "y" -> col("y")), bits = 6, buckets = 32)
      .orderBy(col("z_slice"))
  }

  // q230 — the end-to-end curation funnel (capstone composition): the
  // per-stage doc/token attrition report every pretraining corpus build
  // publishes. Stages apply cumulatively — quality screen (q13's scorer),
  // benchmark decontamination (q204's 4-gram rule), exact dedup (keep-min
  // per identical text), near-dup removal (q46's exact 5-gram Jaccard,
  // drop the higher id of each ≥0.5 pair). Every stage reuses the
  // already-oracle-gated operator; the funnel proves they COMPOSE.
  private def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"),
        rnd(TF.qualityScore(col("text"), Stopwords), 6).as("q"))
      // every stage re-reads the scored base — pin it once
      .localCheckpoint(false)
    val s1 = docs.filter(col("q") >= 0.5)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val corpus1 = s1.filter(col("doc_id") % 50 =!= 0)
    val contaminated = graft.operators.Decontaminate
      .sharedGramCounts(corpus1, bench, "doc_id", "text", n = 4)
      .filter(col("shared_grams") >= 5)
      .select(col("doc_id"))
    val s2 = corpus1.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    // exact dedup keep-min: the keep-key join is NULL-SAFE (<=>) so a null
    // text behaves like the oracle's min() OVER (PARTITION BY text) — today
    // the stage-1 quality screen removes null/empty text, but the stage must
    // not silently change semantics if the threshold or scorer ever does not
    val keepMin = s2.groupBy(col("text").as("_ktext")).agg(min(col("doc_id")).as("_keep"))
    val s3 = s2
      .join(keepMin, col("text") <=> col("_ktext"))
      .filter(col("doc_id") === col("_keep")).drop("_ktext", "_keep")
      .localCheckpoint(false) // feeds both the shingle pass and the stage agg
    val sh = s3.select(
      col("doc_id"), col("lang"),
      graft.expressions.ShingleHashes.hashedCharShingles(col("text"), 5).as("h"))
    // near-dup pairs via the exact similarity SELF-join under its
    // COST-BASED strategy (q231 gates the prefix engine; the spec proves
    // both engines emit identical pairs): Auto measures the prefix-postings
    // candidate volume against the blocked all-pairs volume on THIS
    // corpus and runs the cheaper exact plan — prefix postings on the
    // realistic big-block/low-density corpus, salted all-pairs when
    // replica-dense clusters make prefixes degenerate (the sf1 stress
    // corpus: 2.28 G candidate occurrences vs 0.25 G block pairs). Past
    // Auto's size check (this corpus at sf0.1) the join returns its
    // verified pairs pinned, so the stage-4 count below and any later read
    // of s4 scan the pairs instead of re-running the all-pairs verify
    val dominated = graft.operators.SimilarityJoin
      .jaccardSelfJoin(sh, "doc_id", "h", threshold = 0.5, blockCols = Seq("lang"))
      .select(col("id_b").as("doc_id")).distinct()
    val s4 = s3.join(broadcast(dominated), Seq("doc_id"), "left_anti")
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("toks")), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    stage("0_raw", docs)
      .unionByName(stage("1_quality", s1))
      .unionByName(stage("2_decontaminated", s2))
      .unionByName(stage("3_exact_dedup", s3))
      .unionByName(stage("4_near_dedup", s4))
      .orderBy(col("stage"))
  }

  // q231 — within-corpus near-dup pairs via the LOSSLESS prefix-filtered
  // SELF-join (X24's within-corpus shape, the single most common dedup
  // call): identical predicate and output to q46 (within-lang exact
  // char-5-gram Jaccard ≥ 0.5) but generated by
  // SimilarityJoin.jaccardSelfJoin instead of Pairs.allPairs — candidates
  // come from shared rare-prefix postings, never from per-language
  // all-pairs, so the same brute-force DuckDB oracle that gates q46 here
  // proves the sub-quadratic engine agrees pair-for-pair.
  private def selfJoinNearDups(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      graft.expressions.ShingleHashes.hashedCharShingles(col("text"), 5).as("h"))
    graft.operators.SimilarityJoin
      .jaccardSelfJoin(sh, "doc_id", "h", threshold = 0.5, blockCols = Seq("lang"),
        // pinned to the prefix engine: THIS query is the oracle gate for the
        // prefix-filter candidate generator (Auto would pick allPairs on the
        // small, near-dup-dense test corpus and leave the engine ungated)
        strategy = graft.operators.SimilarityStrategy.PrefixFilter)
      .select(col("id_a"), col("id_b"), rnd(col("jac"), 4).as("jac"))
      .orderBy(col("jac").desc, col("id_a"), col("id_b"))
  }

  // q232 — q211's stateful transition stream under a PRODUCTION state
  // budget: event-time TTL (4 h) evicts quiet users' state once the
  // watermark passes, and the same gap rule filters emissions, so the
  // output is a pure function of the events — the batch lead()-window
  // oracle with a gap predicate checks it value-exactly. Median per-user
  // gap in `events` is ~7 h, so the TTL genuinely drops about half the
  // q211 transitions (the query would be vacuous at a gap-free TTL).
  private def streamTtlTransitions(s: SparkSession, dir: String): DataFrame = {
    import scala.concurrent.duration._
    val sink = replayStream(s, dir, "append") { raw =>
      val ss = raw.sparkSession
      import ss.implicits._
      graft.streaming.StreamOps
        .transitionsEventTtl(ss, raw
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .as[graft.streaming.StreamOps.TypedEvent],
          ttl = 4.hours, watermarkDelay = "1 day")
        .toDF()
    }
    sink.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      .orderBy(col("src"), col("dst"))
  }

  // q234 — HyperLogLog distinct-token profile per language (the corpus
  // cardinality report a 100-TB build runs where count(distinct) can't):
  // ≤ 2^11 cells per lang vs a full-vocabulary shuffle; the exact count
  // rides along as the accuracy pairing (the q225 CMS pattern). Portable
  // md5-slice hashing + integer leading-zero rank ⇒ the oracle re-derives
  // the identical cells AND the closed-form bias-corrected estimate.
  private def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("lang"), explode(TF.tokens(lower(col("text")))).as("w"))
    val p = 11
    val cells = graft.functions.HyperLogLog.cells(toks, col("w"), p, Seq("lang"))
    val est = graft.functions.HyperLogLog.estimate(cells, p, Seq("lang"))
    toks.groupBy(col("lang")).agg(countDistinct(col("w")).as("exact_distinct"))
      .join(est, Seq("lang"))
      .select(col("lang"), col("exact_distinct"), rnd(col("est"), 2).as("hll_est"))
      .orderBy(col("lang"))
  }

  // q235 — the q234 sketch maintained over the replayed event stream
  // (X22's distinct-count dual × phase E): a running groupBy-max whose
  // state is 2^9 cells no matter how long the stream runs — the drained
  // cell table must equal the batch re-derivation from the same md5
  // slices.
  private def streamHll(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.hllCells(ev, col("user_id").cast("string"), p = 9)
    }
      .select(col("bucket"), col("r").cast("long").as("r"))
      .orderBy(col("bucket"))

  // q236 — q24's sessionization under a PRODUCTION state budget (the q28
  // family's 100-TB form): TTL'd stateful sessionize emits one row per
  // CLOSED session and evicts per-user state one gap after the last event
  // — for sessionization that eviction is lossless (sessionizeEventTtl's
  // contract), so the replay value-checks against the batch lag()-window
  // oracle restricted to sessions that have closed: followed by a later
  // session, or past the final watermark's ms-floor timeout rule.
  private def streamTtlSessions(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "append") { raw =>
      val ss = raw.sparkSession
      import ss.implicits._
      graft.streaming.StreamOps
        .sessionizeEventTtl(ss, raw
          .select(col("user_id"), col("ts"), col("event_id"))
          .as[graft.streaming.StreamOps.Event],
          gapSeconds = 1800, watermarkDelay = "1 day")
        .toDF()
    }.orderBy(col("user_id"), col("session_start"))

  // q237 — ONE incremental curation tick (the production shape of q230's
  // batch funnel): the newest 20% of docs arrive as the ingest batch
  // against the standing corpus (older docs minus the %50 benchmark
  // holdout). Quality screen → 4-gram decontamination → digest exact-dedup
  // (within batch + vs corpus) → cost-based near-dup vs corpus + GREEDY
  // within-batch resolution (Curation.tick's composable rule; CurationSpec
  // proves two ticks ≡ one). The oracle recomputes the tick declaratively,
  // unrolling the greedy rounds as CTEs (8 rounds ≫ the pair graph's
  // dependency depth at the gate scales; a residual round would surface as
  // a row diff, never silently).
  private def curationTick(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // one bounded driver action sizes the split (the GlobalRank-offset
    // precedent): ingest boundary at 80% of the id range
    val x = docs.agg(max(col("doc_id"))).head().getLong(0) * 4 / 5
    val batch = docs.filter(col("doc_id") >= x)
    val bench = docs.filter(col("doc_id") < x && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x && col("doc_id") % 50 =!= 0)
    graft.operators.Curation
      .tick(corpus, batch, bench, "doc_id", "text", "lang",
        quality = TF.qualityScore(col("text"), Stopwords))
      .select(col("doc_id"), col("lang"),
        greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"))
      .orderBy(col("doc_id"))
  }

  // q238 — mergeable quantile sketch (the sketch tier's order-statistics
  // member: CMS q225 = frequency, HLL q234 = distinct, THIS = percentiles):
  // lineitem prices per return flag summarized into a 2048-bin fixed-range
  // histogram over [0, 110000) — bin width 6875/128, DYADIC, so the bin
  // ids, cumulative ranks and interpolation are the same IEEE arithmetic in
  // any engine and the oracle re-derives cells AND estimates verbatim. The
  // exact percentile rides along as the accuracy pairing (the q225/q234
  // convention): at 2048 bins the sketch lands within ~0.06% of exact while
  // holding ≤ 2048 rows of state per flag vs a full per-group value buffer.
  private def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val (lo, hi, bins) = (0.0, 110000.0, 2048)
    val qs = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
    val cells = graft.functions.QuantileSketch
      .cells(li, col("l_extendedprice"), lo, hi, bins, Seq("l_returnflag"))
    val est = graft.functions.QuantileSketch
      .quantiles(cells, qs, lo, hi, bins, Seq("l_returnflag"))
    val qArr = array(qs.map(lit): _*)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(percentile(col("l_extendedprice"), qArr).as("evs"))
      .select(col("l_returnflag"), posexplode(col("evs")).as(Seq("i", "ev")))
      .select(col("l_returnflag"), element_at(qArr, col("i") + 1).as("q"), col("ev"))
    est.join(exact, Seq("l_returnflag", "q"))
      .select(col("l_returnflag"), col("q"),
        rnd(col("est"), 4).as("sketch_est"),
        rnd(col("ev"), 4).as("exact_v"),
        col("n"))
      .orderBy(col("l_returnflag"), col("q"))
  }

  // q239 — the q238 histogram maintained over the replayed event stream
  // (phase E of the sketch tier, the q226/q235 pattern): a running
  // groupBy-count whose state is 256 cells no matter how long the stream
  // runs — the drained cell table must equal the batch re-derivation, and
  // QuantileSketch.quantiles over it answers "p99 of value right now".
  private def streamHist(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.histCells(ev, col("value"), lo = 0.0, hi = 512.0, bins = 256)
    }
      .select(col("bin"), col("cnt").cast("long").as("cnt"))
      .orderBy(col("bin"))

  // q240 — temperature-based multilingual mixing (the mT5/XLM-R sampling
  // scheme, the missing member of the sampling tier next to q219's quality
  // Bernoulli and q223's DSIR top-k): α = 0.3 rates r_l ∝ T_l^0.3 rebalance
  // the en-heavy corpus toward the tail languages, budget = half the corpus
  // tokens, per-doc repetition counts from the shared seedless Knuth-hash
  // uniform. Everything is a closed form over two aggregates + a hash ⇒
  // the oracle re-derives plan AND realization; the 6-dp epochs rounding
  // absorbs cross-engine pow() ulp noise before any sampling decision.
  private def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"))
    // one bounded driver aggregate sizes the budget (the GlobalRank-offset
    // precedent): half the corpus token mass
    val total = docs.agg(sum(col("toks"))).head().getLong(0)
    val plan = graft.operators.Mixing
      .temperaturePlan(docs, "lang", col("toks"), alpha = 0.3, budgetTokens = 0.5 * total)
    val samp = graft.operators.Mixing.temperatureSample(docs, "doc_id", "lang", plan)
    plan.join(
        samp.groupBy(col("lang")).agg(
          sum(col("n_copies")).as("sampled_docs"),
          sum(col("n_copies") * col("toks")).as("sampled_toks")),
        Seq("lang"), "left")
      .select(col("lang"), col("tokens"), rnd(col("rate"), 6).as("rate"),
        col("epochs"),
        coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
        coalesce(col("sampled_toks"), lit(0L)).as("sampled_toks"))
      .orderBy(col("lang"))
  }

  // q241 — windowed streaming HyperLogLog (sketch × event-time window, the
  // "distinct users per day" ask at unbounded-feed scale): per tumbling day
  // a ≤ 2^9-cell sketch, watermark-closed in append mode so state is
  // (open windows)·2^9 and old windows EVICT — unlike q235's running
  // sketch, which lives forever by design. The estimate is read off the
  // drained cells with the same closed-form as q234; the oracle re-derives
  // cells + estimate per day and applies q81's window-closure predicate
  // (day end ≤ final watermark = max ts − 1 h).
  private def streamWindowedHll(s: SparkSession, dir: String): DataFrame = {
    val cells = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps
        .windowedHllCells(ev, col("user_id").cast("string"), p = 9)
    }
    graft.functions.HyperLogLog.estimate(
        cells.select(to_date(col("ws")).as("day"), col("bucket"), col("r")),
        p = 9, Seq("day"))
      .select(col("day"), rnd(col("est"), 2).as("hll_users"))
      .orderBy(col("day"))
  }

  // q242 — KMV distinct sketch (k-minimum-values): the one ask HLL can't
  // answer — a mergeable uniform SAMPLE of the distinct items alongside the
  // count estimate. Per day: the 16 min-hash users (bounded ObjectHashAgg
  // buffer, O(k) state per group per partition — never a vocabulary
  // shuffle), the (k−1)/U_(k) estimate, exact count riding along (q234's
  // accuracy-pairing convention). 52-bit md5-slice hash ⇒ the oracle
  // re-derives members, ranks, and estimate verbatim.
  private def kmvUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("d"), col("user_id").cast("string").as("u"))
    val k = 16
    val cells = graft.functions.Kmv.cells(ev, col("u"), k, Seq("d"))
    val est = graft.functions.Kmv.estimate(cells, k, Seq("d"))
    val exact = ev.groupBy(col("d")).agg(countDistinct(col("u")).as("exact_distinct"))
    cells.join(est, Seq("d")).join(exact, Seq("d"))
      .select(col("d"), col("rk"), col("h").as("item_h"), col("item"),
        rnd(col("est"), 2).as("kmv_est"), col("exact_distinct"))
      .orderBy(col("d"), col("rk"))
  }

  // q243 — training-mix materialization (capstone of the sampling tier,
  // the q230/q237 composition discipline): quality screen (q13's scorer) →
  // temperature mixing at α = 0.3 with budget = the full screened token
  // mass (tail languages go PAST 1 epoch — real up-sampling by repetition)
  // → copy expansion under an id-headroom guard → deterministic-shuffle
  // ~4096-token shards (q220's Knuth-order GlobalRank cumsum over the
  // EXPANDED stream, copies get distinct ids so they scatter). Output: the
  // per-shard language composition — the table a trainer consumes to know
  // what each shard feeds it. Every stage is the already-gated closed form,
  // so the oracle recomputes the whole pipeline end-to-end.
  private def trainingMix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"),
        TF.qualityScore(col("text"), Stopwords).as("_q"))
      .filter(col("_q") >= 0.5 && col("toks") > 0)
      .drop("_q")
    // one bounded driver aggregate sizes the budget (the q240 precedent)
    val total = docs.agg(sum(col("toks"))).head().getLong(0)
    val plan = graft.operators.Mixing
      .temperaturePlan(docs, "lang", col("toks"), alpha = 0.3, budgetTokens = 1.0 * total)
    val samp = graft.operators.Mixing.temperatureSample(docs, "doc_id", "lang", plan)
    // copy id = doc_id·8 + copy index: loud failure (not silent collision)
    // if a parameter change ever pushes epochs past the headroom
    val guarded = when(col("n_copies") >= 8,
      raise_error(concat(lit("n_copies exceeds the cid headroom of 8: "),
        col("n_copies")))).otherwise(col("n_copies"))
    val expanded = samp
      .select(col("doc_id"), col("lang"), col("toks"),
        explode(sequence(lit(0L), guarded - 1)).as("_c"))
      .select((col("doc_id") * 8 + col("_c")).as("cid"), col("lang"), col("toks"))
    val sharded = graft.operators.Packing
      .shardByTokenBudget(expanded, "cid", "toks", budget = 4096L)
    sharded.join(expanded.select(col("cid"), col("lang")), Seq("cid"))
      .groupBy(col("shard_id"), col("lang"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_tok")).as("n_toks"))
      .orderBy(col("shard_id"), col("lang"))
  }

  // q244 — KMV set algebra (Beyer et al. SIGMOD'07 §5): pairwise
  // audience-activity overlap between event types. Items are active
  // user-days; per-type KMV sketches (k=128) merge pairwise (union +
  // re-bottom-k) and yield union / intersection / Jaccard ESTIMATES from
  // S²·k sketch cells — the raw stream is read once, by the sketch pass.
  // Exact columns sit beside the estimates (the q242 convention: the
  // sf-test luxury the sketch replaces at 100 TB).
  private def kmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val k = 128
    val raw = t(s, dir, "events").filter(col("user_id").isNotNull)
      .select(
        col("event_type").as("seg"),
        concat(col("user_id").cast("string"), lit("|"),
          to_date(col("ts")).cast("string")).as("item"))
      .distinct()
    val cells = graft.functions.Kmv.cells(raw, col("item"), k, Seq("seg"))
    val alg = graft.functions.Kmv.setAlgebra(cells, k, "seg")
    // exact pair truth: co-occurrence equi-join on item (q124's idiom) +
    // inclusion–exclusion from broadcast per-segment sizes
    val sizes = raw.groupBy(col("seg")).agg(count(lit(1)).as("sz"))
    val exactInter = raw.select(col("seg").as("seg_a"), col("item"))
      .join(raw.select(col("seg").as("seg_b"), col("item")), "item")
      .where(col("seg_a") < col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("_ei"))
    alg
      .join(exactInter, Seq("seg_a", "seg_b"), "left")
      .join(broadcast(sizes.select(col("seg").as("seg_a"), col("sz").as("_na"))), "seg_a")
      .join(broadcast(sizes.select(col("seg").as("seg_b"), col("sz").as("_nb"))), "seg_b")
      .select(
        col("seg_a"), col("seg_b"), col("n_union_cells"),
        rnd(col("est_union"), 2).as("est_union"),
        rnd(col("est_inter"), 2).as("est_inter"),
        rnd(col("jaccard_est"), 6).as("jaccard_est"),
        (col("_na") + col("_nb") - coalesce(col("_ei"), lit(0L))).as("exact_union"),
        coalesce(col("_ei"), lit(0L)).as("exact_inter"))
      .orderBy(col("seg_a"), col("seg_b"))
  }

  // q245 — Efraimidis–Spirakis weighted sampling (IPL 2006): a
  // token-weighted 16-doc sample per language via the mergeable
  // top-k-by-key form (ln(u)/w over an exact dyadic u — see
  // operators/WeightedSample). The corpus is never sorted: bounded heaps
  // reduce each map task to ≤2k candidates per language.
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TF.tokenCount(col("text")).cast("long").as("toks"))
    graft.operators.WeightedSample
      .sample(docs, "lang", "doc_id", col("toks"), k = 16)
      .select(col("lang"), col("rank"), col("id").as("doc_id"),
        col("weight"), rnd(col("es_key"), 6).as("es_key"))
      .orderBy(col("lang"), col("rank"))
  }

  // q246 — streaming KMV (X34 × phase E): the distinct-sample sketch
  // maintained as a running streaming aggregation over the replayed events.
  // State = one ≤2k-entry (hash, item) buffer per event type (bounded
  // domain); the drained buffers explode to cells and q242's closed-form
  // estimator reads the distinct-user count straight off them — completing
  // the running sketch tier's fourth member (CMS q226 / HLL q235 /
  // histogram q239 / KMV here).
  private def streamKmv(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val bufs = replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.kmvBufs(
        ev.filter(col("user_id").isNotNull),
        col("user_id").cast("string"), k, Seq("event_type"))
    }
    val cells = graft.functions.Kmv.explodeBufs(bufs, Seq("event_type"))
    val est = graft.functions.Kmv.estimate(cells, k, Seq("event_type"))
    val exact = t(s, dir, "events").filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id").cast("string")).as("exact_distinct"))
    cells.join(est, Seq("event_type")).join(exact, Seq("event_type"))
      .select(col("event_type"), col("rk"), col("h").as("item_h"), col("item"),
        rnd(col("est"), 2).as("kmv_est"), col("exact_distinct"))
      .orderBy(col("event_type"), col("rk"))
  }

  // q247 — per-domain quality caps: keep the top-20 documents per source by
  // (quality desc, doc_id asc) and report each domain's kept/dropped doc
  // and token mass plus the quality cutoff — the standard "no domain may
  // dominate the corpus" curation step. Rides TopK's bounded-heap
  // aggregator (≤2k candidates per domain per map task — the corpus is
  // never window-sorted), so the cap costs one partial-agg pass at any
  // corpus size; the per-domain totals are a plain aggregate over the same
  // scan.
  private def domainCaps(s: SparkSession, dir: String): DataFrame = {
    val cap = 20
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"),
        TF.qualityScore(col("text"), Stopwords).as("q"))
    val kept = graft.functions.TopK
      .topKPerKey(docs, "source", col("q"), col("doc_id"), col("toks"), cap)
    val keptAgg = kept.groupBy(col("source")).agg(
      count(lit(1)).as("n_kept"),
      sum(col("tag")).as("kept_toks"),
      min(col("sim")).as("_cq"))
    val totals = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"), sum(col("toks")).as("_tt"))
    totals.join(keptAgg, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("kept_toks"),
        (col("_tt") - col("kept_toks")).as("dropped_toks"),
        rnd(col("_cq"), 6).as("cutoff_q"))
      .orderBy(col("source"))
  }

  // q248 — the INDEXED curation tick loop (Curation.tickIndexed, the
  // production form of q237): the corpus signature index (id, lang, sha256
  // digest, shingle hashes — Curation.signatures) AND the postings index
  // (frozen rarest-first df order + corpus prefix postings —
  // Curation.postingsIndex) are built ONCE, then TWO sequential ingest
  // ticks ([80%,90%) then [90%,max] of the id range) probe them, with the
  // accepted docs' signatures and postings (under the FROZEN order)
  // appended between ticks — corpus text is read once ever, and corpus
  // shingle arrays are exploded once ever: each tick's similarity stage is
  // O(batch prep + postings probe), nothing corpus-proportional rebuilds.
  // Greedy composability makes the two ticks' union EQUAL one combined
  // tick over the same batch, so the oracle is q237's declarative
  // recomputation verbatim: one SQL gate covers index build ≡ corpus prep,
  // postings-indexed tickIndexed ≡ tick (frozen-order losslessness), and
  // the append-compose loop, through a genuinely different physical path.
  private def indexedTicks(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, Pin}
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val b1 = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)
    val b2 = docs.filter(col("doc_id") >= x90)
    def q = TF.qualityScore(col("text"), Stopwords)
    // every index frame is pinned where production would have parquet:
    // read by the ticks' digest and similarity branches without recompute
    val idx0 = Pin.LocalCheckpoint(
      Curation.signatures(corpus, "doc_id", "text", "lang"))
    val (freq0, posts0raw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq = Pin.LocalCheckpoint(freq0)
    val posts0 = Pin.LocalCheckpoint(posts0raw)
    val acc1 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx0, b1, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq, posts0))))
    // the appended slices are pinned too, so idx1/posts1 are materialized
    // end-to-end and tick 2 can declare indexPinned (the parquet-index
    // production shape); accepted docs' postings build under the FROZEN
    // freq — the index's staleness contract. (Hand-rolled rather than
    // Curation.appendState: this loop predates the mergeable df feed and
    // deliberately carries none — appendState is the named form when the
    // full index/posts/feed triple is maintained, q261/q264.)
    val app1 = Pin.LocalCheckpoint(
      Curation.signatures(acc1, "doc_id", "text", "lang"))
    val idx1 = idx0.unionByName(app1)
    val posts1 = posts0.unionByName(Pin.LocalCheckpoint(
      Curation.postingsIndex(app1, "doc_id", "lang", frozenFreq = Some(freq))._2))
    val acc2 = Curation.tickIndexed(idx1, b2, bench, "doc_id", "text", "lang", quality = q,
      indexPinned = true, corpusPostings = Some((freq, posts1)))
    acc1.unionByName(acc2)
      .select(col("doc_id"), col("lang"),
        greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"))
      .orderBy(col("doc_id"))
  }

  // q249 — ADAPTIVE-RANGE quantile sketch (q238 without hand-picking the
  // range, the describe()-on-unseen-data ask): one min/max probe fixes
  // (lo, hi) = (floor(min), floor(max)+1), so the 2048-bin width
  // (hi−lo)/2048 is a dyadic rational with exact-integer endpoints — the
  // q238 cross-engine portability discipline DERIVED from the data — and
  // binning is CLAMP-FREE by construction (every value inside [lo, hi);
  // spec-proved), removing the fixed-range form's one accuracy caveat.
  // Order-price quartiles/tails per priority, exact percentile alongside
  // (the sketch-tier accuracy-pairing convention).
  private def adaptiveQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    val bins = 2048
    val qs = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
    // the probe is one bounded driver aggregate (the GlobalRank-offset
    // precedent) — the price of not knowing the range up front
    val (lo, hi) = graft.functions.QuantileSketch.probeRange(ord, col("o_totalprice"))
    val cells = graft.functions.QuantileSketch
      .cells(ord, col("o_totalprice"), lo, hi, bins, Seq("o_orderpriority"))
    val est = graft.functions.QuantileSketch
      .quantiles(cells, qs, lo, hi, bins, Seq("o_orderpriority"))
    val qArr = array(qs.map(lit): _*)
    val exact = ord.groupBy(col("o_orderpriority"))
      .agg(percentile(col("o_totalprice"), qArr).as("evs"))
      .select(col("o_orderpriority"), posexplode(col("evs")).as(Seq("i", "ev")))
      .select(col("o_orderpriority"), element_at(qArr, col("i") + 1).as("q"), col("ev"))
    est.join(exact, Seq("o_orderpriority", "q"))
      .select(col("o_orderpriority"), col("q"),
        rnd(col("est"), 4).as("sketch_est"),
        rnd(col("ev"), 4).as("exact_v"),
        col("n"))
      .orderBy(col("o_orderpriority"), col("q"))
  }

  // q250 — STREAMING Efraimidis–Spirakis weighted sample (X35 × phase E,
  // the sampling leg the running sketch tier was missing next to CMS q226 /
  // HLL q235 / histogram q239 / KMV q246): per event type, a value-weighted
  // 16-event sample maintained as bounded ES top-k buffers over the
  // replayed stream — state is one ≤2k-entry buffer per type, merge is the
  // aggregator's re-top-k, so multi-micro-batch ≡ batch (parity spec, the
  // q246 discipline). Weights are floor(value) (integral by the operator's
  // fail-loud contract); the dyadic md5 u and single-ln key let the oracle
  // re-derive membership, ranks, and keys verbatim (q245's convention).
  private def streamWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val bufs = replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.esBufs(
        ev, "event_type", "event_id", floor(col("value")).cast("long"), k)
    }
    graft.operators.WeightedSample.explodeBufs(bufs, "event_type")
      .select(col("event_type"), col("rank"), col("id").as("event_id"),
        col("weight"), rnd(col("es_key"), 6).as("es_key"))
      .orderBy(col("event_type"), col("rank"))
  }

  // q251 — STREAMING ADAPTIVE dyadic histogram (the unknown-range leg of
  // the order-statistics pair: q239 maintains a DECLARED-range histogram,
  // q249 probes the range in a second pass a stream doesn't have): per
  // event type, bounded (bin, cnt) buffers whose dyadic width 2^scale
  // escalates as the observed span grows (functions/AdaptiveHist —
  // q-digest-style deterministic escalation, NOT KLL's coin flips, so the
  // oracle re-derives scale + cells + the p50 read-off exactly: scale =
  // smallest s with floor(max/2^s)−floor(min/2^s)+1 ≤ 64, a pure function
  // of each type's value range). State = one ≤2·64-entry buffer per type.
  private def streamAdaptiveHist(s: SparkSession, dir: String): DataFrame = {
    val bufs = replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.adaptiveHistBufs(
        ev.filter(col("value").isNotNull), col("value"),
        maxBins = 64, Seq("event_type"))
    }
    val cells = graft.functions.AdaptiveHist.explodeBufs(bufs, Seq("event_type"))
    // p50 read-off over ≤64 cells per type (the q238 interpolation with
    // w = 2^scale a COLUMN, since each type sits at its own resolution)
    val part = Window.partitionBy(col("event_type"))
    val cum = part.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumed = cells
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(part))
    val t = lit(0.5) * col("n")
    val w = pow(lit(2.0), col("scale"))
    val med = cumed
      .where(col("cum") >= t && (col("cum") - col("cnt")) < t)
      .select(col("event_type"),
        rnd(w * col("bin") + w * ((t - (col("cum") - col("cnt"))) / col("cnt")), 4)
          .as("p50_est"))
    cells.join(med, Seq("event_type"))
      .select(col("event_type"), col("scale"), col("bin"),
        col("cnt").cast("long").as("cnt"), col("p50_est"))
      .orderBy(col("event_type"), col("bin"))
  }

  // q252 — postings-index DRIFT MONITOR (SimilarityJoin.indexDriftReport):
  // the rebuild trigger for the frozen-order prefix index the tick loop
  // carries (q248). An index "built" over the even-doc_id half of the
  // corpus is measured against the full corpus: stored-order vs
  // fresh-order prefix candidate volume (Σ_h nIdx·n/2, the exact quantity
  // the Auto cost model routes on), with the documented rebuild threshold
  // ratio ≥ 2. Elements are 52-bit md5-slice shingle hashes (NOT xxhash64)
  // so the oracle re-derives the exact same rarest-first order — df ties
  // break on h — and, at τ = 0.5, both prefix lengths reduce to exact
  // integer forms (probe: sz÷2+1; index: sz−⌈2sz/3⌉+1), making every
  // volume an exact dyadic sum both engines reproduce bit-identically.
  private def indexDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SimilarityJoin
    val sigs = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.expressions.ShingleHashes.hashedCharShingles(
          col("text"), 5, md5Slice = true).as("_h"))
      .filter(size(col("_h")) > 0)
      // read 4× (stored freq + fresh freq + two postings builds)
      .localCheckpoint()
    val storedFreq =
      SimilarityJoin.dfCounts(sigs.where(col("doc_id") % 2 === 0), "_h")
    SimilarityJoin.indexDriftReport(sigs, "doc_id", "_h", 0.5, storedFreq)
      .select(
        rnd(col("stored_volume"), 4).as("stored_volume"),
        rnd(col("fresh_volume"), 4).as("fresh_volume"),
        rnd(col("drift_ratio"), 4).as("drift_ratio"),
        col("recommend_rebuild").cast("int").as("recommend_rebuild"))
  }

  // q253 — decontamination via the PERSISTABLE mergeable Bloom index
  // (q204's production form): the benchmark split's word 4-grams build a
  // Bloom CELL TABLE (functions/Bloom — portable 52-bit md5 double
  // hashing, Kirsch–Mitzenmacher (h1 + i·h2) mod m, m = 2^17, k = 4) that
  // a standing service stores as parquet and OR-merges as benchmarks
  // grow; the corpus gram stream probes the broadcast cells (≤ m/32 rows)
  // and the stored gram table removes false positives exactly. Output =
  // per corpus doc: bloom-positive distinct grams (cand_grams) vs the
  // exact shared count (shared_grams) — cand ≥ shared ALWAYS (the
  // one-sidedness contract), and the oracle re-derives cells, membership,
  // and both counts bit-identically (pure integer arithmetic). m is
  // PINNED for the gate SFs (the oracle must replay the cells);
  // production callers size via Bloom.sizeFor(n, targetFpp).
  private def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Bloom
    import graft.operators.Decontaminate
    val m = 1 << 17
    val k = 4
    val docs = t(s, dir, "documents")
    val bi = Decontaminate.benchIndex(
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 4, m = m, k = k)
    val cells = bi.bloomCells
    val benchGrams = bi.grams.select(col("g")).distinct()
    val corpusGrams = docs.filter(col("doc_id") % 50 =!= 0)
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        explode(graft.expressions.WordShingles
          .wordShingles(lower(col("text")), 4, distinct = true)).as("g"))
    val cands = corpusGrams.join(
      broadcast(Bloom.positiveItems(cells, corpusGrams, "g", m, k)),
      Seq("g"), "left_semi")
    val candCounts = cands.groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("cand_grams"))
    val exact = cands.join(benchGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(count_distinct(col("g")).as("shared_grams"))
    candCounts.join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cand_grams"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
      .orderBy(col("doc_id"))
  }

  // q254 — STREAMING distribution-drift monitor: per-day value histograms
  // maintained as WINDOWED streaming cells (StreamOps.windowedHistCells —
  // the histogram × event-time-window composition, watermark-closed in
  // append mode, state = open windows × 16 bins), then the PSI of each
  // post-cutoff day against the first week's reference distribution
  // (Drift.psiByPeriod over the drained cells — the score grid is
  // days × bins, never event-sized). Bin width 512/16 = 32 is dyadic and
  // p, q are integer ratios with the 1e-6 floor, so the oracle re-derives
  // every psi exactly (one ln per term, the q245 single-transcendental
  // discipline); drifted = psi > 0.2, the standard alarm level.
  private def streamPsi(s: SparkSession, dir: String): DataFrame = {
    val cells = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedHistCells(
        ev, col("value"), lo = 0.0, hi = 512.0, bins = 16)
    }
    val byDay = cells.select(to_date(col("ws")).as("day"), col("bin"), col("cnt"))
    val cutoff = lit("2024-01-07").cast("date")
    val ref = byDay.filter(col("day") <= cutoff)
      .groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))
    val post = byDay.filter(col("day") > cutoff)
    graft.operators.Drift.psiByPeriod(post, "day", ref)
      .select(col("day"), rnd(col("psi"), 6).as("psi"),
        when(rnd(col("psi"), 6) > 0.2, 1).otherwise(0).cast("int").as("drifted"))
      .orderBy(col("day"))
  }

  // q255 — WINDOWED streaming Count-Min (completing the sketch ×
  // event-time-window matrix: q241 = distinct, q254 = order statistics,
  // THIS = frequency): per closed day the same depth-4 × width-64 cell
  // table as q226's running sketch, watermark-evicted in append mode
  // (state = open windows × 256 cells). The oracle re-derives each closed
  // day's cells from the same md5 slices and the q241 closure predicate.
  private def streamWindowedCms(s: SparkSession, dir: String): DataFrame = {
    val cells = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedCmsCells(
        ev, col("user_id").cast("string"), depth = 4, width = 64)
    }
    cells
      .select(to_date(col("ws")).as("day"), col("d").cast("long").as("d"),
        col("bucket"), col("cnt"))
      .orderBy(col("day"), col("d"), col("bucket"))
  }

  // q256 — WINDOWED streaming KMV ("k representative distinct users per
  // day, plus the estimate", the distinct-SAMPLE member of the sketch ×
  // window matrix): per closed day one bounded bottom-16 buffer,
  // watermark-evicted in append mode; the drained buffers explode to
  // q242's cell shape and take q242's (k−1)/U_(k) estimate unchanged.
  private def streamWindowedKmv(s: SparkSession, dir: String): DataFrame = {
    val bufs = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedKmvBufs(
        ev.filter(col("user_id").isNotNull),
        col("user_id").cast("string"), k = 16)
    }
    val cells = graft.functions.Kmv.explodeBufs(
      bufs.select(to_date(col("ws")).as("day"), col("_buf")), Seq("day"))
    val est = graft.functions.Kmv.estimate(cells, 16, Seq("day"))
    cells.join(est, Seq("day"))
      .select(col("day"), col("rk"), col("h").as("item_h"), col("item"),
        rnd(col("est"), 2).as("kmv_est"))
      .orderBy(col("day"), col("rk"))
  }

  // q257 — WINDOWED streaming ES weighted sample ("this day's
  // weight-proportional top-8 events per type", the weighted-SAMPLE member
  // of the sketch × window matrix): per closed (day, event_type) one
  // bounded top-8 buffer over the exact-dyadic ES keys, watermark-evicted
  // in append mode; q250's ranking read-off applies per day.
  private def streamWindowedEs(s: SparkSession, dir: String): DataFrame = {
    val bufs = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedEsBufs(
        ev, "event_type", "event_id", floor(col("value")).cast("long"), k = 8)
    }
    graft.functions.TopK.explodeBufs(
        bufs.select(to_date(col("ws")).as("day"), col("event_type"), col("_tk")),
        Seq("day", "event_type"))
      .select(col("day"), col("event_type"), col("rank"),
        col("id").as("event_id"), col("tag").as("weight"),
        rnd(col("sim"), 6).as("es_key"))
      .orderBy(col("day"), col("event_type"), col("rank"))
  }

  // q258 — Bloom-index SATURATION MONITOR (Bloom.saturationReport — the
  // lifecycle read-off q252 gives the postings order, now for the
  // membership tier): OR-merged bits can never unset, so a stored
  // decontamination filter's set-bit fill ratio — and with it the
  // effective fpp ≈ fill^k, i.e. the false-positive candidate mass every
  // probe pays at the exact-verify join — only ever grows. The same
  // benchmark gram set is scored in two stored configurations: a filter
  // 1024 bits wide ("saturated" — thousands of grams in 1 Kb trip the
  // 0.02 documented threshold) and a 2^20-bit one ("sized" — the
  // Bloom.sizeFor regime, far under threshold at the gate SFs). The
  // oracle re-derives cells, set-bit counts (pure integer bit ops), and
  // the fill^k product (explicit left-assoc multiplication, not pow)
  // bit-identically; correctness is never at stake (one-sidedness), cost
  // is — which is why the report, not the probe, carries the trigger.
  private def bloomSaturation(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Decontaminate
    val k = 4
    val bench = t(s, dir, "documents").filter(col("doc_id") % 50 === 0)
    def report(label: String, m: Int) = {
      val bi = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = m, k = k)
      Decontaminate.saturationReport(bi) // handle-carried (m, k)
        .select(lit(label).as("config"), lit(m.toLong).as("m"),
          col("set_bits").cast("long").as("set_bits"),
          rnd(col("fill_ratio"), 8).as("fill_ratio"),
          rnd(col("effective_fpp"), 8).as("effective_fpp"),
          col("recommend_rebuild").cast("int").as("recommend_rebuild"))
    }
    report("saturated", 1 << 10).unionByName(report("sized", 1 << 20))
      .orderBy(col("config"))
  }

  // q259 — WINDOWED streaming ADAPTIVE histogram (the sixth and last cell
  // of the sketch × event-time-window matrix — q241 distinct, q254 fixed
  // histogram, q255 frequency, q256/q257 samples, THIS the unknown-range
  // order statistics): per (closed day, event_type) one bounded buffer
  // whose dyadic scale escalates on that window's OWN span (a wide day
  // coarsens, a narrow day stays fine — the running q251 form would hold
  // every day at the lifetime scale), watermark-evicted in append mode.
  // The oracle re-derives each closed (day, type)'s scale — smallest s
  // with floor(max/2^s) − floor(min/2^s) + 1 ≤ 16 — and its
  // floor(value/2^scale) cells under the q241 closure predicate.
  private def streamWindowedAhist(s: SparkSession, dir: String): DataFrame = {
    val bufs = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedAdaptiveHistBufs(
        ev, col("value"), maxBins = 16, Seq("event_type"))
    }
    graft.functions.AdaptiveHist.explodeBufs(
        bufs.select(to_date(col("ws")).as("day"), col("event_type"), col("_ah")),
        Seq("day", "event_type"))
      .select(col("day"), col("event_type"), col("scale"), col("bin"),
        col("cnt").cast("long").as("cnt"))
      .orderBy(col("day"), col("event_type"), col("bin"))
  }

  // q260 — the standing drift monitor on the UNKNOWN-RANGE sketch: q254's
  // PSI-per-day read-off, but over the windowed ADAPTIVE histogram (q259)
  // instead of a declared (lo, hi, bins) grid — no range ever has to be
  // known up front. Different days legitimately drain at different dyadic
  // scales, so Drift.psiByPeriodAdaptive first rebins every cell to the
  // coarsest closed-day scale (floorDiv — the AdaptiveHistAgg.merge
  // discipline, exact by bin-nesting) and then scores q254's exact
  // integer-ratio PSI on the shared grid. The oracle re-derives per-day
  // scales, the global target scale, the >> alignment, and every
  // (p − q)·ln(p/q) term.
  private def streamAdaptivePsi(s: SparkSession, dir: String): DataFrame = {
    val bufs = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedAdaptiveHistBufs(
        ev, col("value"), maxBins = 16)
    }
    val cells = graft.functions.AdaptiveHist.explodeBufs(
      bufs.select(to_date(col("ws")).as("day"), col("_ah")), Seq("day"))
    val cutoff = lit("2024-01-07").cast("date")
    val ref = cells.filter(col("day") <= cutoff).select("scale", "bin", "cnt")
    val post = cells.filter(col("day") > cutoff)
    graft.operators.Drift.psiByPeriodAdaptive(post, "day", ref)
      .select(col("day"), rnd(col("psi"), 6).as("psi"),
        when(rnd(col("psi"), 6) > 0.2, 1).otherwise(0).cast("int").as("drifted"))
      .orderBy(col("day"))
  }

  // q261 — the STANDING-SERVICE CAPSTONE: everything the index tier
  // provides, composed the way a production 100-TB curation service would
  // run it. Built once at service start: the corpus signature index, the
  // frozen-order postings index, and the benchmark BloomIndex (grams +
  // cells). Then two ticks, each O(batch prep + index probe) — nothing
  // corpus- or bench-proportional is rebuilt: stage 2 probes the stored
  // bloom, stage 4 probes the stored postings; after each tick the
  // signature/postings indexes append row-wise and the TRUE df counts are
  // maintained MERGEABLY (mergeDfCounts — old slices never re-read).
  // Finally, BOTH lifecycle monitors read the stored state: the
  // postings-order drift report (q252's machinery, fed the mergeable df
  // so its only corpus-proportional term is the volume measurement) and
  // the bloom saturation report (q258's). Signatures use the portable
  // md5-slice shingle hash (the signatures hash-convention contract) so
  // the oracle re-derives the drift volumes exactly; the accepted set is
  // hash-invariant (distinct-set Jaccard) and equals ONE combined tick by
  // greedy composability — the oracle recomputes it via q237's
  // derivation. Output: 11 (metric, value) rows.
  private def curationService(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, Decontaminate, SimilarityJoin, Pin}
    import graft.functions.Bloom
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val b1 = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)
    val b2 = docs.filter(col("doc_id") >= x90)
    def q = TF.qualityScore(col("text"), Stopwords)
    // the canonical portable 52-bit md5-slice convention — ONE definition
    // (Kmv.hash) shared with every sketch oracle, not re-rolled here
    val mdHash = (sh: Column) => graft.functions.Kmv.hash(sh)
    val (m, k) = (1 << 17, 4) // fixed for oracle replay; production sizes via Bloom.sizeFor
    // ---- the stored index tier, built once at service start ----
    val idx0 = Pin.LocalCheckpoint(
      Curation.signatures(corpus, "doc_id", "text", "lang", shingleHash = mdHash))
    val (freq0raw, posts0raw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq0 = Pin.LocalCheckpoint(freq0raw)
    val posts0 = Pin.LocalCheckpoint(posts0raw)
    val bi0 = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = m, k = k)
    val bi = bi0.copy(
      grams = Pin.LocalCheckpoint(bi0.grams),
      bloomCells = Pin.LocalCheckpoint(bi0.bloomCells))
    // ---- tick 1 ----
    val acc1 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx0, b1, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq0, posts0)),
        benchIdx = Some(bi), shingleHash = mdHash))
    // the named append verb (signatures row-append + frozen-order postings
    // append + mergeable df merge); the merged feed is additionally pinned
    // here because tick 2's merge and the drift monitor both read it
    val (idx1, posts1, freq1raw) = Curation.appendState(
      idx0, posts0, freq0, acc1, "doc_id", "text", "lang",
      frozenFreq = freq0, shingleHash = mdHash)
    val freq1 = Pin.LocalCheckpoint(freq1raw)
    // ---- tick 2 ----
    val acc2 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx1, b2, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq0, posts1)),
        benchIdx = Some(bi), shingleHash = mdHash))
    val app2 = Pin.LocalCheckpoint(
      Curation.signatures(acc2, "doc_id", "text", "lang", shingleHash = mdHash))
    val idx2 = Pin.LocalCheckpoint(idx1.unionByName(app2))
    val freq2 = SimilarityJoin.mergeDfCounts(freq1, SimilarityJoin.dfCounts(app2, "_h"))
    // ---- the two lifecycle monitors over the stored state ----
    val drift = Curation.indexDriftReport(
      idx2, "doc_id", "lang", 0.5, freq0, currentFreq = Some(freq2))
    val sat = Decontaminate.saturationReport(bi) // handle-carried (m, k)
    // ---- 11-row metric report ----
    val accepted = acc1.unionByName(acc2).agg(
      count(lit(1)).cast("double").as("accepted_docs"),
      coalesce(sum(col("doc_id")), lit(0L)).cast("double").as("accepted_id_sum"),
      coalesce(sum(greatest(TF.tokenCount(col("text")), lit(0))), lit(0L))
        .cast("double").as("accepted_toks"))
    accepted.select(expr(
        """stack(3,
          |  'accepted_docs', accepted_docs,
          |  'accepted_id_sum', accepted_id_sum,
          |  'accepted_toks', accepted_toks) AS (metric, value)""".stripMargin))
      .unionByName(drift.select(expr(
        """stack(4,
          |  'drift_stored_volume', stored_volume,
          |  'drift_fresh_volume', fresh_volume,
          |  'drift_ratio', drift_ratio,
          |  'drift_recommend_rebuild', CAST(recommend_rebuild AS DOUBLE))
          |  AS (metric, value)""".stripMargin)))
      .unionByName(sat.select(expr(
        """stack(4,
          |  'bloom_set_bits', CAST(set_bits AS DOUBLE),
          |  'bloom_fill_ratio', fill_ratio,
          |  'bloom_effective_fpp', effective_fpp,
          |  'bloom_recommend_rebuild', CAST(recommend_rebuild AS DOUBLE))
          |  AS (metric, value)""".stripMargin)))
      .select(col("metric"), rnd(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }

  // q262 — WINDOWED streaming Bloom cells (the membership sketch joins
  // the event-time-window matrix as its seventh member): per closed day
  // one ≤ ⌈m/32⌉-row (word, bits) filter over that day's user set,
  // watermark-evicted in append mode — "each day's membership filter as
  // a stored artifact": per-day filters probe independently, OR-merge
  // into weeks/months losslessly (merge ≡ whole-data build), and keep
  // the one-sidedness contract per window. The oracle re-derives every
  // day's cells with q253's pure-integer double-hash arithmetic under
  // the q241 closure predicate.
  private def streamWindowedBloom(s: SparkSession, dir: String): DataFrame = {
    val cells = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedBloomCells(
        ev.filter(col("user_id").isNotNull),
        col("user_id").cast("string"), m = 1 << 12, k = 4)
    }
    cells.select(to_date(col("ws")).as("day"), col("word"), col("bits"))
      .orderBy(col("day"), col("word"))
  }

  // q263 — the EXECUTABLE half of the bloom lifecycle (VERDICT r10 item 1:
  // the monitor recommended rebuilds no operator performed): a stored
  // benchmark filter deliberately saturated (q258's 1024-bit config) reads
  // recommend_rebuild = 1, then Decontaminate.benchIndexResize re-sizes it
  // FROM THE STORED GRAM TABLE — Bloom.sizeFor over the distinct gram
  // count picks (m, k) for the grown set at fpp 0.01 and Bloom.cells
  // re-hashes the stored grams; no benchmark text is re-read — and the
  // monitor reads green. The oracle re-derives the gram count, the sizeFor
  // arithmetic (6-dp pre-rounded before ceil/round — the cross-engine
  // discrete-decision convention), both cell tables' pure-integer bit
  // ops, and the fpp products (a left-assoc recursive product, matching
  // the engine's reduce order even at the resized variable k).
  private def bloomRebuild(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Decontaminate, Pin}
    val bench = t(s, dir, "documents").filter(col("doc_id") % 50 === 0)
    val bi0 = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = 1 << 10, k = 4)
    // pin the stored gram table: the resize COUNTS it and rebuilds cells
    // from it — unpinned, each read would re-gram the benchmark text
    val bi = bi0.copy(grams = Pin.LocalCheckpoint(bi0.grams))
    val resized = Decontaminate.benchIndexResize(bi, targetFpp = 0.01)
    def report(phase: String, b: Decontaminate.BenchIndex) =
      Decontaminate.saturationReport(b).select(
        lit(phase).as("phase"), lit(b.m.toLong).as("m"), lit(b.k).as("k"),
        col("set_bits").cast("long").as("set_bits"),
        rnd(col("fill_ratio"), 8).as("fill_ratio"),
        rnd(col("effective_fpp"), 8).as("effective_fpp"),
        col("recommend_rebuild").cast("int").as("recommend_rebuild"))
    report("before", bi).unionByName(report("after", resized)).orderBy(col("phase"))
  }

  // q264 — the TAKEDOWN TICK (VERDICT r10 item 2): the standing service's
  // single-call delete composed mid-loop. Tick 1 runs the indexed funnel
  // over [x80, x90); then Curation.takedown removes every standing
  // doc_id % 9 == 3 in ONE call — signature index and stored postings
  // anti-joined, the mergeable true-df feed corrected EXACTLY by
  // subtractDfCounts (no permanent overcount), the benchmark BloomIndex
  // rebuilt over its surviving grams — and tick 2 runs over [x90, ∞)
  // against the taken-down state. CurationSpec proves the state equals a
  // fresh build over the survivors; here the ORACLE recomputes both ticks
  // declaratively (the parameterized q237 chain, the takedown folded into
  // tick 2's corpus/bench definitions) plus the state-mass read-offs: the
  // final df-feed mass must equal the recomputed shingle-set mass of the
  // surviving index — the exact-subtraction contract, value-checked.
  private def takedownTick(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, Decontaminate, SimilarityJoin, Pin}
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val b1 = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)
    val b2 = docs.filter(col("doc_id") >= x90)
    def q = TF.qualityScore(col("text"), Stopwords)
    // ---- standing state, built once (the q261 service-start shape) ----
    val idx0 = Pin.LocalCheckpoint(Curation.signatures(corpus, "doc_id", "text", "lang"))
    val (freq0raw, posts0raw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq0 = Pin.LocalCheckpoint(freq0raw)
    val posts0 = Pin.LocalCheckpoint(posts0raw)
    val bi0 = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = 1 << 17, k = 4)
    val bi = bi0.copy(
      grams = Pin.LocalCheckpoint(bi0.grams),
      bloomCells = Pin.LocalCheckpoint(bi0.bloomCells))
    // ---- tick 1 + state maintenance ----
    val acc1 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx0, b1, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq0, posts0)), benchIdx = Some(bi)))
    // the named append verb (takedown's inverse): signatures row-append,
    // frozen-order postings append, mergeable df merge — one call
    val (idx1, posts1, cur1) = Curation.appendState(
      idx0, posts0, freq0, acc1, "doc_id", "text", "lang", frozenFreq = freq0)
    // ---- the takedown ----
    val removed = docs.filter(col("doc_id") % 9 === 3).select(col("doc_id"))
    val (idx2raw, posts2raw, cur2raw, bi2opt) =
      Curation.takedown(idx1, posts1, cur1, Some(bi), removed, "doc_id")
    val idx2 = Pin.LocalCheckpoint(idx2raw)
    val posts2 = Pin.LocalCheckpoint(posts2raw)
    val cur2 = Pin.LocalCheckpoint(cur2raw)
    val bi2raw = bi2opt.get
    val bi2 = bi2raw.copy(
      grams = Pin.LocalCheckpoint(bi2raw.grams),
      bloomCells = Pin.LocalCheckpoint(bi2raw.bloomCells))
    // ---- tick 2 against the taken-down state ----
    val acc2 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx2, b2, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq0, posts2)), benchIdx = Some(bi2)))
    val app2 = Curation.signatures(acc2, "doc_id", "text", "lang")
    val curF = SimilarityJoin.mergeDfCounts(cur2, SimilarityJoin.dfCounts(app2, "_h"))
    // ---- the postings-rebuild leg, oracle-gated end to end: rebuild the
    // order from the FINAL index, then read the drift monitor against it
    // with the fresh side independently recomputed — the rebuild contract
    // pins drift_ratio at EXACTLY 1.0 (same df multiset → same rarest-first
    // order → identical postings → identical HALF-integer-valued volumes
    // (prefixVolumeCells' _cp1 = n_i·n_p/2 terms are multiples of 0.5 —
    // exactly representable, order-independent summation below 2^52)), so
    // the oracle value-checks the whole two-postings-build machinery
    // against a contract constant; any defect in the rebuilt order reads
    // as ratio ≠ 1 here
    val idxF = Pin.LocalCheckpoint(idx2.unionByName(app2))
    val (rbFreq, _) = Curation.rebuildPostings(idxF, "doc_id", "lang")
    val drift = Curation.indexDriftReport(
      idxF, "doc_id", "lang", 0.5, Pin.LocalCheckpoint(rbFreq))
    // ---- metric report (every read-off oracle-recomputable) ----
    def accMetrics(pfx: String, acc: DataFrame) = acc.agg(
        count(lit(1)).cast("double").as("d"),
        coalesce(sum(col("doc_id")), lit(0L)).cast("double").as("i"))
      .select(expr(s"stack(2, '${pfx}_docs', d, '${pfx}_id_sum', i) AS (metric, value)"))
    accMetrics("acc1", acc1)
      .unionByName(accMetrics("acc2", acc2))
      .unionByName(idx1.join(removed, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).cast("double").as("v"))
        .select(lit("removed_state_docs").as("metric"), col("v").as("value")))
      .unionByName(bi.grams.agg(count(lit(1)).cast("double").as("v"))
        .select(lit("bench_gram_rows_before").as("metric"), col("v").as("value")))
      .unionByName(bi2.grams.agg(count(lit(1)).cast("double").as("v"))
        .select(lit("bench_gram_rows_after").as("metric"), col("v").as("value")))
      .unionByName(idxF.agg(count(lit(1)).cast("double").as("v"))
        .select(lit("final_index_docs").as("metric"), col("v").as("value")))
      .unionByName(curF.agg(coalesce(sum(col("_df")), lit(0L)).cast("double").as("v"))
        .select(lit("final_df_mass").as("metric"), col("v").as("value")))
      .unionByName(drift.select(expr(
        """stack(2,
          |  'post_rebuild_drift_ratio', drift_ratio,
          |  'post_rebuild_recommend', CAST(recommend_rebuild AS DOUBLE))
          |  AS (metric, value)""".stripMargin)))
      .select(col("metric"), rnd(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }

  // q265 — EMBEDDING-DISTRIBUTION drift monitor (Drift.embeddingPsiByPeriod):
  // the drift tier extended to the embedding column type — per-DIMENSION
  // marginal PSI of each label cohort against the label-0 reference cohort
  // (an encoder swap / corpus-mix shift / normalization bug moves mass in
  // component marginals long before a downstream metric does). Marginals
  // are deliberately centroid-free: every bin decision is a pure function
  // of raw component values and literals (the q240/q243 discipline — no
  // engine-summed float feeds a discrete choice), so the oracle re-derives
  // cells and every (p − q)·ln(p/q) term exactly. Range (−0.75, 0.75) at
  // 12 bins makes the bin width an exact dyadic 0.125 — the floor() both
  // engines compute bit-identically. Scale shape: one posexplode pass
  // (map-side-combinable count at rows × dims), then all scoring on the
  // bounded labels × dims × bins grid; the reference aggregates once and
  // broadcasts.
  private def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.operators.Drift.embeddingPsiByPeriod(
        emb.filter(col("label") =!= 0), "embedding", "label",
        emb.filter(col("label") === 0), lo = -0.75, hi = 0.75, bins = 12)
      .select(col("label"), col("dim"), rnd(col("psi"), 6).as("psi"))
      .orderBy(col("label"), col("dim"))
  }

  // q266 — STATE INTEGRITY AUDIT (Curation.auditState): the fsck of the
  // index tier. The lifecycle verbs maintain the invariants by
  // construction and the monitors price cost drift — this audits a state
  // that arrived over an operational seam the verbs don't cover (restore,
  // partial write, migration, concurrent writers): every invariant is
  // recomputed EXACTLY and reported as (check, observed violations, ok).
  // The query runs the audit five times: once on a clean standing state
  // (all six checks read 0) and once per seeded corruption — a df count
  // bumped by 1, one doc's postings rows dropped, one signature row
  // duplicated, an out-of-range bloom cell injected — asserting each
  // corruption trips EXACTLY the checks it should, with violation counts
  // the oracle re-derives in closed form: signatures use the portable
  // md5-slice hash and τ = 0.5, so doc X's stored prefix length is
  // SZ//2 + 1 rows (probe form) and its duplicated-signature fresh build
  // emits SZ + 1 (plen over the doubled multiset: 2·SZ − ⌈SZ⌉ + 1) — the
  // dup-state postings diff is their sum, and its df diff is 2·SZ (one
  // row per direction per distinct shingle). Cost shape: each audit pays
  // one postings build + one df recompute over the signature index and
  // one cell build over the gram table (the q252 monitor class) — the
  // operational-cadence layer, never per tick.
  private def stateAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, Decontaminate, Pin}
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 3 === 0)
    val idx = Pin.LocalCheckpoint(Curation.signatures(
      corpus, "doc_id", "text", "lang",
      shingleHash = sh => graft.functions.Kmv.hash(sh)))
    val (freqRaw, postsRaw) = Curation.postingsIndex(idx, "doc_id", "lang")
    val freq = Pin.LocalCheckpoint(freqRaw)
    val posts = Pin.LocalCheckpoint(postsRaw)
    val bi0 = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = 1 << 16, k = 4)
    val bi = bi0.copy(grams = Pin.LocalCheckpoint(bi0.grams),
      bloomCells = Pin.LocalCheckpoint(bi0.bloomCells))
    def audit(tag: String, ix: DataFrame, ps: DataFrame, cf: DataFrame,
        b: Decontaminate.BenchIndex): DataFrame =
      Curation.auditState(ix, ps, freq, cf, Some(b), "doc_id", "lang")
        .select(lit(tag).as("state"), col("check"), col("observed"),
          col("ok").cast("int").as("ok"))
    // doc X for the seeded corruptions: the max-id corpus doc with a
    // non-empty shingle set (bounded driver aggregates — the q264 pattern)
    val x = idx.filter(size(col("_h")) > 0).agg(max(col("doc_id"))).head().getLong(0)
    val hMin = freq.agg(min(col("h"))).head().getLong(0)
    val dfBumped = freq.withColumn("_df",
      when(col("h") === hMin, col("_df") + 1).otherwise(col("_df")))
    val postsDropped = posts.filter(col("doc_id") =!= x)
    val idxDup = idx.unionByName(idx.filter(col("doc_id") === x))
    val wordsB = (bi.m + 31) / 32
    val biInject = bi.copy(bloomCells = bi.bloomCells.unionByName(
      s.range(1).select(lit(wordsB + 5).cast("int").as("word"), lit(1L).as("bits"))))
    audit("a_clean", idx, posts, freq, bi)
      .unionByName(audit("b_df_bump", idx, posts, dfBumped, bi))
      .unionByName(audit("c_postings_drop", idx, postsDropped, freq, bi))
      .unionByName(audit("d_dup_sig", idxDup, posts, freq, bi))
      .unionByName(audit("e_bloom_inject", idx, posts, freq, biInject))
      .orderBy(col("state"), col("check"))
  }

  // q267 — the STREAMING curation service (Curation.ServiceState /
  // serviceTick): q261's standing-service capstone as a literal
  // Structured Streaming program. The two q248 batches arrive as a real
  // file-source STREAM driven through writeStream.foreachBatch — each
  // micro-batch runs tickIndexed against the driver-held state handle
  // (stored bloom at stage 2, stored postings at stage 4) and appendState
  // maintains all three corpus halves plus the high-water ingest rank
  // (the monotone-rank guard, the tick contract made executable). The
  // oracle recomputes BOTH per-arrival accepted sets via the chained
  // q237 tick CTEs (micro-batch boundaries ≡ tick boundaries by greedy
  // composability), pins the audit read-offs at the invariant constants
  // (the maintained state must fsck clean — six checks, zero violations),
  // and the high-water rank at max(doc_id).
  private def streamService(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import s.implicits._
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val state = Curation.serviceState(corpus, bench, "doc_id", "text", "lang")
    // file-source replay, one bounded run per arrival batch sharing a
    // checkpoint (the StreamOpsSpec replay discipline: a free-running
    // trigger could split one arrival's part files across micro-batches —
    // legal for the service, but the oracle pins the two-arrival split)
    val root = java.nio.file.Files.createTempDirectory("graft-q267").toString
    val streamDir = root + "/stream"
    new java.io.File(streamDir).mkdirs()
    // each arrival is staged as EXACTLY ONE part file and published with a
    // single atomic move — required now that ONE standing query spans both
    // arrivals (the r15 lifecycle reuse): a free-running trigger listing
    // the dir mid-publication of a multi-file arrival could split it
    // across micro-batches, and the oracle pins the two-arrival split.
    // One file appears atomically, so a trigger sees an arrival whole or
    // not at all.
    def addBatch(df: DataFrame, n: Int): Unit = {
      val sub = root + s"/b$n"
      // repartition(1), not coalesce(1): coalesce would collapse the whole
      // upstream filter+scan into one task; the explicit exchange keeps the
      // staging scan parallel and only the write single-file
      df.repartition(1).write.mode("overwrite").parquet(sub)
      new java.io.File(sub).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          val tmp = java.nio.file.Paths.get(streamDir, s".b${n}_$i.parquet.tmp")
          java.nio.file.Files.copy(f.toPath, tmp)
          java.nio.file.Files.move(tmp,
            java.nio.file.Paths.get(streamDir, s"b${n}_$i.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    }
    val accs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // ONE streaming query spans both arrivals (r15: a standing service does
    // not restart per arrival, and each extra MicroBatchExecution lifecycle
    // paid query planning + checkpoint resume + state reload). Micro-batch
    // boundaries and batchIds are unchanged: the query starts only after
    // arrival 1 is published (no idle batch 0), and arrival 2's single
    // file is only published after the first processAllAvailable()
    // drained, so batch 0 = arrival 1, batch 1 = arrival 2 exactly as the
    // two-run form.
    try {
      addBatch(docs.filter(col("doc_id") >= x80 && col("doc_id") < x90), 1)
      val q = s.readStream.schema(docs.schema).parquet(streamDir)
        .writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, bid: Long) =>
          // batchId threads through for the at-least-once skip (the
          // serviceTick idempotence contract); the per-arrival aggregate
          // also FORCES the accepted frame's lazy pin, so nothing read
          // after the temp-tree cleanup below still depends on the files.
          // The single-file arrival scans as one partition (single-row-
          // group parquet), so restore scan parallelism before the tick —
          // a round-robin exchange of just the batch, the Engine.table
          // rebalance discipline applied to the micro-batch
          val batch = df.repartition(s.sparkContext.defaultParallelism)
          val acc = Curation.serviceTick(state, batch, "doc_id", "text", "lang",
            quality = TF.qualityScore(col("text"), Stopwords), batchId = Some(bid))
          val r = acc.agg(
            count(lit(1)).as("d"), coalesce(sum(col("doc_id")), lit(0L)).as("i")).head()
          accs += ((r.getLong(0), r.getLong(1))); ()
        }
        .option("checkpointLocation", root + "/ckpt").start()
      try {
        q.processAllAvailable()
        addBatch(docs.filter(col("doc_id") >= x90), 2)
        q.processAllAvailable()
      } finally q.stop()
    } finally {
      // reclaim the whole temp tree (staged parquet, the stream copies,
      // checkpoint state) — the replayStream discipline; q267 can't use
      // its symlink trick because the stream dir outlives two query runs,
      // so the copies are real files and a sweep's min-of-2 would leak
      // 2× the batch bytes per measurement otherwise
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    }
    val audit = Curation.auditState(state.index, state.posts, state.frozenFreq,
      state.currentFreq, Some(state.benchIdx), "doc_id", "lang")
    // ONE evaluation of the audit subtree (r15): the former two separate
    // aggregates each re-ran the full audit — a postings rebuild, a df
    // recompute and a bloom cell rebuild per read — where one two-column
    // aggregate stacked to rows computes it once (the q261 stack pattern).
    val auditRows = audit.agg(
        count(lit(1)).cast("double").as("audit_checks"),
        coalesce(sum(col("observed")), lit(0L)).cast("double").as("audit_violations"))
      .select(expr(
        """stack(2,
          |  'audit_checks', audit_checks,
          |  'audit_violations', audit_violations) AS (metric, value)""".stripMargin))
    Seq(
        ("acc1_docs", accs(0)._1.toDouble), ("acc1_id_sum", accs(0)._2.toDouble),
        ("acc2_docs", accs(1)._1.toDouble), ("acc2_id_sum", accs(1)._2.toDouble),
        ("svc_high_water", state.maxRank.toDouble))
      .toDF("metric", "value")
      .unionByName(auditRows)
      .select(col("metric"), rnd(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }

  // q268 — the standing KS drift monitor (Drift.ksByPeriod): q254's
  // PSI-per-day read-off with the drift tier's SECOND statistic — the
  // largest CDF gap per day vs the first-week reference, over the SAME
  // drained windowed cells (one sketch feeds both monitors; a deployment
  // schedules whichever alarm semantics it wants). KS needs no eps floor
  // and no transcendental: every distance is max |cum_p/n − cum_r/m| over
  // exact integer running sums, bit-identical in a second engine. The
  // alarm is the classical two-sample critical value at α = 0.05,
  // 1.358·sqrt((n+m)/(n·m)) — it SCALES with sample size where PSI's
  // 0.1/0.2 conventions are fixed, so the oracle value-checks the
  // threshold arithmetic too, not just the statistic.
  private def streamKs(s: SparkSession, dir: String): DataFrame = {
    val cells = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedHistCells(
        ev, col("value"), lo = 0.0, hi = 512.0, bins = 16)
    }
    val byDay = cells.select(to_date(col("ws")).as("day"), col("bin"), col("cnt"))
    val cutoff = lit("2024-01-07").cast("date")
    val ref = byDay.filter(col("day") <= cutoff)
      .groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))
    val post = byDay.filter(col("day") > cutoff)
    // each total cast to double BEFORE the multiply: a long product of two
    // very large feed totals can overflow to negative (sqrt -> NaN,
    // ks_drifted silently 0) where the double product just loses ulps
    val crit = lit(1.358) * sqrt((col("n_period") + col("n_ref")).cast("double")
      / (col("n_period").cast("double") * col("n_ref").cast("double")))
    graft.operators.Drift.ksByPeriod(post, "day", ref)
      .select(col("day"), rnd(col("ks"), 6).as("ks"), rnd(crit, 6).as("crit"),
        when(rnd(col("ks"), 6) > rnd(crit, 6), 1).otherwise(0).cast("int")
          .as("drifted"))
      .orderBy(col("day"))
  }

  // q269 — the STANDING embedding-drift deployment (StreamOps
  // .windowedEmbeddingCells → Drift.psiByPeriod + Drift.ksByPeriod, both
  // keyed by dim): q265's per-dimension marginal monitor as it actually
  // runs in production — component marginals drained per CLOSED day from
  // a watermarked stream (state bounded at open-windows × dims × bins),
  // then BOTH drift statistics scored per (day, dim) against the
  // first-week reference from the SAME cells (one sketch, two alarm
  // semantics — the q254/q268 pattern on the embedding tier). Embeddings
  // carry no event time, so the replay stamps a deterministic hourly
  // ts = base + (vec_id % 336) hours — 14 days, the last one never
  // closing (the q241 closure predicate the oracle re-derives). Range
  // (−0.75, 0.75) × 12 bins = exact dyadic 0.125 widths; PSI terms are
  // eps-floored exact ratios, KS is transcendental-free integer running
  // sums, and the classical α=0.05 critical value scales with the
  // per-(day, dim) totals.
  private def streamEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("ts", expr(
      "timestampadd(HOUR, CAST(vec_id % 336 AS INT), TIMESTAMP '2024-01-01 00:00:00')"))
    val cells = replayFrame(s, emb, "append") { (_, stream) =>
      graft.streaming.StreamOps.windowedEmbeddingCells(
        stream, "embedding", lo = -0.75, hi = 0.75, bins = 12)
    }
    val byDay = cells.select(
      to_date(col("ws")).as("day"), col("dim"), col("bin"), col("cnt"))
    val cutoff = lit("2024-01-07").cast("date")
    val ref = byDay.filter(col("day") <= cutoff)
      .groupBy(col("dim"), col("bin")).agg(sum(col("cnt")).as("cnt"))
    val post = byDay.filter(col("day") > cutoff)
    val psi = graft.operators.Drift.psiByPeriod(post, "day", ref, keyCols = Seq("dim"))
    val ks = graft.operators.Drift.ksByPeriod(post, "day", ref, keyCols = Seq("dim"))
    // each total cast to double BEFORE the multiply: a long product of two
    // very large feed totals can overflow to negative (sqrt -> NaN,
    // ks_drifted silently 0) where the double product just loses ulps
    val crit = lit(1.358) * sqrt((col("n_period") + col("n_ref")).cast("double")
      / (col("n_period").cast("double") * col("n_ref").cast("double")))
    psi.join(ks, Seq("day", "dim"))
      .select(col("day"), col("dim"), rnd(col("psi"), 6).as("psi"),
        rnd(col("ks"), 6).as("ks"), rnd(crit, 6).as("crit"),
        when(rnd(col("ks"), 6) > rnd(crit, 6), 1).otherwise(0).cast("int")
          .as("ks_drifted"))
      .orderBy(col("day"), col("dim"))
  }

  // q270 — REFERENCE ROTATION deployed (Drift.rotateReference): the
  // re-baselining verb a year-long monitor needs, run as it actually
  // runs — the standing cell table's trailing 3 CLOSED days are scored
  // against a reference rotated from the 4 closed days immediately
  // before them (the same cells, re-aggregated cell-wise; no second pass
  // over events), with BOTH statistics from the q254/q268 machinery.
  // A fixed first-week reference ages: seasonal mix and legitimate
  // growth read as drift forever — rotation scores each block against
  // the recent past instead. The block boundary is one bounded driver
  // read over the day spine (the q264 1-row pattern); the oracle
  // re-derives the closure predicate, the trailing-3/-4 day split, the
  // rotated reference's cell-wise sums, and every PSI term, KS CDF step,
  // and critical value.
  private def rotatedDrift(s: SparkSession, dir: String): DataFrame = {
    val cells = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedHistCells(
        ev, col("value"), lo = 0.0, hi = 512.0, bins = 16)
    }
    val byDay = cells.select(to_date(col("ws")).as("day"), col("bin"), col("cnt"))
    // scoring block = trailing 3 closed days (bounded day spine read)
    val cut = byDay.select(col("day")).distinct()
      .orderBy(col("day").desc).limit(3)
      .agg(min(col("day"))).head().getDate(0)
    val post = byDay.filter(col("day") >= lit(cut))
    val ref = graft.operators.Drift.rotateReference(
      byDay.filter(col("day") < lit(cut)), "day", 4)
    val psi = graft.operators.Drift.psiByPeriod(post, "day", ref)
    val ks = graft.operators.Drift.ksByPeriod(post, "day", ref)
    // each total cast to double BEFORE the multiply: a long product of two
    // very large feed totals can overflow to negative (sqrt -> NaN,
    // ks_drifted silently 0) where the double product just loses ulps
    val crit = lit(1.358) * sqrt((col("n_period") + col("n_ref")).cast("double")
      / (col("n_period").cast("double") * col("n_ref").cast("double")))
    psi.join(ks, Seq("day"))
      .select(col("day"), rnd(col("psi"), 6).as("psi"),
        rnd(col("ks"), 6).as("ks"), rnd(crit, 6).as("crit"),
        when(rnd(col("ks"), 6) > rnd(crit, 6), 1).otherwise(0).cast("int")
          .as("ks_drifted"))
      .orderBy(col("day"))
  }

  // q271 — the PERSISTED IVF index through the oracle gate: the stored
  // inverted-file artifact (IvfIndex.build: explicit centroid table →
  // deterministic argmax-cosine assignment, ties to the lowest cell →
  // cell-partitioned parquet, meta-committed last) probed on the REAL
  // approximate path — nProbe = 3 of 8 cells, unlike q45's degenerate
  // nProbe == nCells regime, so the oracle replays the whole IVF decision
  // chain: every corpus assignment, each query's probed-cell ranking, and
  // the exact in-cell scores. Centroids are the embeddings of vec_id < 8,
  // so DuckDB re-derives the quantizer from the table itself; recall < 1
  // by construction and the oracle agrees on WHICH neighbors are
  // reachable. The probe reads only the probed cells' parquet (partition-
  // pruned cell IN (…) — IvfIndexSpec asserts the filter reaches the scan).
  private def ivfIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val idxDir = java.nio.file.Files.createTempDirectory("q271-ivf").toString + "/idx"
    val h = graft.functions.IvfIndex.build(emb, "vec_id", "embedding", centroids, idxDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.functions.IvfIndex.probe(h, queries, "q_id", "q_vec", k = 5, nProbe = 3)
      .withColumnRenamed("vec_id", "c_id")
      .orderBy(col("q_id"), col("rank"))
  }

  // q272 — the M24 inference DATA PLANE through the oracle gate: real
  // driver rows (embeddings.parquet) streamed through
  // Inference.scoreWithModel — broadcast model bytes, ONE session
  // deserialization per partition (InferenceSpec counts it), per-row
  // relu/softmax scoring — under a CONSTANT-WEIGHT MlpModel whose weights
  // are signed powers of two: every layer-1 float product and layer-2
  // double product is EXACT in both float and double, so the logits DuckDB
  // recomputes are bit-identical to the scorer's and the only cross-engine
  // noise left is exp()'s final ulp, absorbed by the 6-dp round. Label =
  // argmax (ties to the lowest class index on both sides).
  private def mlpInference(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w1 = Array.tabulate(4, 64)((i, j) =>
      (((i * 7 + j * 5) % 3) - 1).toFloat / (1 << ((i + j) % 3)))
    val b1 = Array.tabulate(4)(i => (i - 1).toFloat / 4f)
    val w2 = Array.tabulate(3, 4)((k, i) =>
      (((k * 3 + i * 2) % 3) - 1).toFloat / (1 << ((k + i) % 2)))
    val b2 = Array.tabulate(3)(k => (k - 1).toFloat / 8f)
    val model = graft.multimodal.Inference.MlpModel(
      Array("c0", "c1", "c2"), w1, b1, w2, b2)
    val media = t(s, dir, "embeddings")
      .select(col("vec_id").cast("string").as("path"), col("embedding"))
      .as[(String, Array[Float])]
      .map { case (p, f) =>
        graft.multimodal.Multimodal.DecodedMedia(
          p, graft.multimodal.Multimodal.MediaMeta(0, 0, 0, "embedding"), f)
      }
    graft.multimodal.Inference.scoreWithModel(s, media, model.toBytes)
      .toDF()
      .select(col("path").cast("long").as("vec_id"), col("label"),
        rnd(col("score"), 6).as("score"))
      .orderBy(col("vec_id"))
  }

  // q273 — the IVF APPEND verb through the oracle gate: build the stored
  // index over the EVEN vec_ids only, append the odd half as a second
  // batch (assign-to-nearest under the build's cosine metric, rows added
  // to the cell-partitioned parquet), then probe across BOTH generations'
  // files. Explicit centroids never move, so the oracle's assignment
  // chain is membership-timing-independent — DuckDB re-derives the final
  // state directly, and any append defect (wrong cell, dropped rows, a
  // probe that misses appended files) breaks the match. Different probe
  // point than q271 (queries 10–19, nProbe 4, k 4) so the two gates don't
  // share a literal answer.
  private def ivfAppendProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val idxDir = java.nio.file.Files.createTempDirectory("q273-ivf").toString + "/idx"
    val h0 = graft.functions.IvfIndex.build(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", centroids, idxDir)
    val h = graft.functions.IvfIndex.append(h0, emb.filter(col("vec_id") % 2 === 1))
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.functions.IvfIndex.probe(h, queries, "q_id", "q_vec", k = 4, nProbe = 4)
      .withColumnRenamed("vec_id", "c_id")
      .orderBy(col("q_id"), col("rank"))
  }

  // q274 — the IVF HEALTH REPORT through the oracle gate (the X41/X46
  // monitor analog for the embedding tier, q271's drift verb): a fresh
  // explicit-centroid build's 1-row driftReport, every field re-derived —
  // per-cell counts from the deterministic assignment chain, growth 1.0
  // by construction on a fresh build, balance ratios as exact integer
  // divisions, mean assignment cosine 6-dp rounded, and the
  // recommend_rebuild decision replayed from the same comparisons.
  private def ivfHealth(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val idxDir = java.nio.file.Files.createTempDirectory("q274-ivf").toString + "/idx"
    val h = graft.functions.IvfIndex.build(emb, "vec_id", "embedding", centroids, idxDir)
    graft.functions.IvfIndex.driftReport(h)
      .select(
        col("n_vectors"), col("built_n"),
        rnd(col("growth_ratio"), 6).as("growth_ratio"),
        rnd(col("max_cell_frac"), 6).as("max_cell_frac"),
        rnd(col("imbalance"), 6).as("imbalance"),
        col("empty_cells"),
        rnd(col("mean_assign_sim"), 6).as("mean_assign_sim"),
        col("recommend_rebuild").cast("int").as("recommend_rebuild"))
  }

  // q275 — the QUANTIZED stored index through the oracle gate (q59's int8
  // memory trade carried into the inverted file): assignment on the raw
  // vectors (same deterministic chain as q271, so the cell layout is
  // identical and the oracle reuses it), cells stored as per-vector affine
  // int8 codes, probe scored on the RECONSTRUCTIONS — DuckDB replays the
  // quantize→dequantize round trip per stored vector (the q59 recipe:
  // round-half codes with the +1e-9 nudge) and every reconstructed cosine.
  // Queries stay raw (they arrive from the caller, not the store).
  private def ivfQuantizedProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val idxDir = java.nio.file.Files.createTempDirectory("q275-ivf").toString + "/idx"
    val h = graft.functions.IvfIndex.buildQuantized(
      emb, "vec_id", "embedding", centroids, idxDir)
    val queries = emb.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.functions.IvfIndex.probe(h, queries, "q_id", "q_vec", k = 5, nProbe = 3)
      .withColumnRenamed("vec_id", "c_id")
      .orderBy(col("q_id"), col("rank"))
  }

  // q276 — the IVF TAKEDOWN verb through the oracle gate, closing the
  // embedding tier's lifecycle (the q264 takedown / q263 bloom-delete
  // contract on the inverted file): build the stored index over the even
  // vec_ids, append the odd half, then DELETE every vec_id % 5 == 2 — a
  // partition-pruned rewrite of only the affected cells, with built_n
  // re-baselined to the survivor count — and probe the final state across
  // both generations' surviving files. Explicit centroids never move, so
  // the post-delete index ≡ a fresh build over the survivors
  // (IvfIndexSpec pins cells/meta/health equality); the oracle re-derives
  // that final state directly from the survivor predicate — any delete
  // defect (row left behind, survivor dropped, stale emptied-cell file
  // still probed) breaks the match. Different probe point than
  // q271/q273/q275 (queries 30–39, nProbe 3, k 4).
  private def ivfDeleteProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val idxDir = java.nio.file.Files.createTempDirectory("q276-ivf").toString + "/idx"
    val h0 = graft.functions.IvfIndex.build(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", centroids, idxDir)
    val h1 = graft.functions.IvfIndex.append(h0, emb.filter(col("vec_id") % 2 === 1))
    val h = graft.functions.IvfIndex.delete(
      h1, emb.filter(col("vec_id") % 5 === 2).select(col("vec_id")))
    val queries = emb.filter(col("vec_id") >= 30 && col("vec_id") < 40)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.functions.IvfIndex.probe(h, queries, "q_id", "q_vec", k = 4, nProbe = 3)
      .withColumnRenamed("vec_id", "c_id")
      .orderBy(col("q_id"), col("rank"))
  }

  // q277 — the STANDING DRIFT-MONITOR LOOP through the oracle gate (the
  // q261→q267 precedent: verbs gated ⇒ gate the service loop): the q268
  // windowed-cells feed replayed through Drift.monitorState/monitorTick
  // across EIGHT rotation boundaries. Seed = the first 4 closed days (the
  // monitor starts as if it had just rotated); the remaining closed days
  // arrive in two micro-batches (the batching the tick contract is
  // invariant to); every period is scored (PSI + KS, n_period/n_ref) against
  // the reference IN FORCE when it closes, and after every cadence=3 scored
  // periods the reference rotates to the trailing refK=4 periods of
  // everything accumulated so far — including the period that tripped the
  // clock. The oracle re-derives the closure predicate, the day-ordinal →
  // reference-window mapping (scored ordinal r uses ordinals
  // [3·⌊(r−5)/3⌋+1, 3·⌊(r−5)/3⌋+4]), each rotated reference's cell-wise
  // sums, and every eps-floored PSI term and integer-running-sum KS gap.
  private def driftMonitorLoop(s: SparkSession, dir: String): DataFrame = {
    val cells = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedHistCells(
        ev, col("value"), lo = 0.0, hi = 512.0, bins = 16)
    }
    val byDay = cells.select(to_date(col("ws")).as("day"), col("bin"), col("cnt"))
    // bounded closed-day spine read (the q264 1-row-bind class)
    val days = byDay.select(col("day")).distinct().orderBy(col("day"))
      .collect().map(_.getDate(0))
    require(days.length >= 6, s"monitor loop needs >5 closed days, got ${days.length}")
    val seedEnd = days(3)
    val state = graft.operators.Drift.monitorState(
      byDay.filter(col("day") <= lit(seedEnd)), "day", Nil, cadence = 3, refK = 4)
    val mid = days(math.min(13, days.length - 1))
    val t1 = graft.operators.Drift.monitorTick(
      state, byDay.filter(col("day") > lit(seedEnd) && col("day") <= lit(mid)))
    val t2 = graft.operators.Drift.monitorTick(
      state, byDay.filter(col("day") > lit(mid)))
    t1.unionByName(t2)
      .select(col("day"), rnd(col("psi"), 6).as("psi"), rnd(col("ks"), 6).as("ks"),
        col("n_period"), col("n_ref"))
      .orderBy(col("day"))
  }

  // q278 — the monitor loop SURVIVING A RESTART, through the oracle gate
  // (Drift.persistMonitorState / restoreMonitorState — the q237/q248
  // checkpoint contract on the drift tier): q277's loop at a DIFFERENT
  // declaration (seed 5 closed days, cadence 4, refK 3 — no shared
  // literal answer), with the state CHECKPOINTED after the first
  // micro-batch, the in-memory monitor discarded, and the second batch
  // scored by a monitor RESTORED from the generation directory. The
  // persist lands mid-rotation-cycle (10 scored periods at cadence 4 ⇒
  // since_rotation = 2 rides the ledger), so a restore that loses the
  // rotation clock — or the accumulated cells, or the reference in
  // force — shifts every subsequent rotation and breaks the match. The
  // oracle is restart-blind by construction: it unrolls the SAME loop
  // arithmetic (scored ordinal r ≥ 6 vs reference ordinals
  // [4·⌊(r−6)/4⌋+3, 4·⌊(r−6)/4⌋+5]) with no seam — equality IS the
  // restart-transparency proof.
  private def monitorRestart(s: SparkSession, dir: String): DataFrame = {
    val cells = replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.windowedHistCells(
        ev, col("value"), lo = 0.0, hi = 512.0, bins = 16)
    }
    val byDay = cells.select(to_date(col("ws")).as("day"), col("bin"), col("cnt"))
    val days = byDay.select(col("day")).distinct().orderBy(col("day"))
      .collect().map(_.getDate(0))
    require(days.length >= 7, s"monitor restart needs >6 closed days, got ${days.length}")
    val seedEnd = days(4)
    val state = graft.operators.Drift.monitorState(
      byDay.filter(col("day") <= lit(seedEnd)), "day", Nil, cadence = 4, refK = 3)
    val mid = days(math.min(14, days.length - 1))
    val t1 = graft.operators.Drift.monitorTick(
      state, byDay.filter(col("day") > lit(seedEnd) && col("day") <= lit(mid)))
    val ckptDir = java.nio.file.Files.createTempDirectory("q278-monitor").toString +
      "/state"
    graft.operators.Drift.persistMonitorState(state, ckptDir)
    val restored = graft.operators.Drift.restoreMonitorState(s, ckptDir)
    val t2 = graft.operators.Drift.monitorTick(
      restored, byDay.filter(col("day") > lit(mid)))
    t1.unionByName(t2)
      .select(col("day"), rnd(col("psi"), 6).as("psi"), rnd(col("ks"), 6).as("ks"),
        col("n_period"), col("n_ref"))
      .orderBy(col("day"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> pricingSummary,
    "q02_regional_revenue" -> regionalRevenue,
    "q03_top_orders" -> topOrders,
    "q04_event_day_features" -> eventDayFeatures,
    "q05_latest_events" -> latestEvents,
    "q06_daily_type_pivot" -> dailyTypePivot,
    "q07_priority_counts" -> priorityCounts,
    "q08_lineitem_summary" -> lineitemSummary,
    "q09_trend_labels" -> trendLabels,
    "q10_trend_pair_support" -> trendPairSupport,
    "q11_doc_dedup" -> docDedup,
    "q12_token_stats" -> tokenStats,
    "q13_doc_quality" -> docQuality,
    "q14_knn_bruteforce" -> knnBruteForce,
    "q15_doc_signatures" -> docSignatures,
    "q16_neardup_pairs" -> nearDupPairs,
    "q17_trend_rules" -> trendRules,
    "q18_knn_classify" -> knnClassify,
    "q19_scored_classifier" -> scoredClassifier,
    "q20_cluster_summary" -> clusterSummary,
    "q21_rolling_cv" -> rollingCv,
    "q22_customer_order_presence" -> customerOrderPresence,
    "q23_revenue_rollup" -> revenueRollup,
    "q24_sessionize" -> sessionize,
    "q25_props_extract" -> propsExtract,
    "q26_word_frequency" -> wordFrequency,
    "q27_stream_daily_counts" -> streamDailyCounts,
    "q28_stream_sessions" -> streamSessions,
    "q29_embedding_neardups" -> embeddingNearDups,
    "q30_monthly_stats" -> monthlyStats,
    "q31_pricing_cube" -> pricingCube,
    "q32_brand_revenue" -> brandRevenue,
    "q33_supplier_balance" -> supplierBalance,
    "q34_price_quartiles" -> priceQuartiles,
    "q35_clean_audit" -> cleanAudit,
    "q36_feature_contrast" -> featureContrast,
    "q37_item_support" -> itemSupport,
    "q38_asof_clicks" -> asofClicks,
    "q39_salted_hot_key" -> saltedHotKey,
    "q40_corpus_curation" -> corpusCuration,
    "q41_lang_id" -> langIdCounts,
    "q42_chapter_split" -> chapterBook,
    "q43_stream_dedup" -> streamDedup,
    "q44_redaction" -> redactionStats,
    "q45_ann_ivf" -> annIvf,
    "q46_ngram_jaccard" -> ngramJaccardPairs,
    "q47_knn_confusion" -> knnConfusion,
    "q48_stream_enrich" -> streamEnrich,
    "q49_dedup_clusters" -> dedupClusters,
    "q50_range_join" -> rangeJoinWindows,
    "q51_bm25_search" -> bm25Search,
    "q52_top_per_group" -> topOrdersPerNation,
    "q53_rule_metrics" -> ruleMetrics,
    "q54_forecast_metrics" -> forecastMetrics,
    "q55_roc_auc" -> rocAuc,
    "q56_stream_join" -> streamJoin,
    "q57_heavy_shingles" -> heavyShingles,
    "q58_salted_join" -> saltedJoinSegments,
    "q59_quantized_knn" -> quantizedKnn,
    "q60_funnel" -> funnel,
    "q61_retention" -> retention,
    "q62_surprisal" -> surprisal,
    "q63_decontaminate" -> decontaminate,
    "q64_stream_sliding" -> streamSliding,
    "q65_hash_split" -> hashSplitCounts,
    "q66_embedding_centroids" -> embeddingCentroids,
    "q67_stream_trends" -> streamTrends,
    "q68_deterministic_sample" -> deterministicSample,
    "q69_expectations" -> expectationsReport,
    "q70_quality_deciles" -> qualityDeciles,
    "q71_doc_chunks" -> docChunks,
    "q72_ewma" -> ewmaDaily,
    "q73_attribution" -> attribution,
    "q74_rolling_corr" -> rollingCorr,
    "q75_key_skew" -> keySkew,
    "q76_scd2" -> scd2,
    "q77_cumulative_users" -> cumulativeUsers,
    "q78_snapshot_diff" -> snapshotDiff,
    "q79_histogram" -> valueHistogram,
    "q80_melt" -> meltDaily,
    "q81_stream_dedup_counts" -> streamDedupCounts,
    "q82_group_percentiles" -> groupPercentiles,
    "q83_vocab_build" -> vocabBuild,
    "q84_transitions" -> transitionMatrix,
    "q85_outlier_fence" -> outlierFence,
    "q86_canonical_selection" -> canonicalSelection,
    "q87_incremental_rollup" -> incrementalRollup,
    "q88_zipf_fit" -> zipfFit,
    "q89_json_stats" -> jsonStats,
    "q90_corpus_profile" -> corpusProfile,
    "q91_anomaly_days" -> anomalyDays,
    "q92_set_ops" -> setOps,
    "q93_dedup_burden" -> dedupBurden,
    "q94_user_features" -> userFeatures,
    "q95_autocorr" -> autocorr,
    "q96_session_stats" -> sessionStats,
    "q97_weekday_profile" -> weekdayProfile,
    "q98_containment_pairs" -> containmentPairs,
    "q99_repetition_stats" -> repetitionStats,
    "q100_quality_filter" -> qualityFilter,
    "q101_corr_matrix" -> corrMatrixQuery,
    "q102_chi_square" -> chiSquareQuery,
    "q103_ols_trend" -> olsTrendQuery,
    "q104_mad_outliers" -> madOutlierQuery,
    "q105_type_entropy" -> typeEntropy,
    "q106_tfidf_terms" -> tfidfTerms,
    "q107_typo_variants" -> typoVariants,
    "q108_langid_kappa" -> langIdKappa,
    "q109_grouping_sets" -> groupingSetsQuery,
    "q110_event_trigrams" -> eventTrigrams,
    "q111_moment_stats" -> momentStats,
    "q112_pagerank" -> pageRankTypes,
    "q113_seasonal_decomp" -> seasonalDecomp,
    "q114_decile_migration" -> decileMigration,
    "q115_calibration" -> calibrationBins,
    "q116_psi_drift" -> psiDrift,
    "q117_bigram_surprisal" -> bigramSurprisal,
    "q118_pareto_frontier" -> paretoFrontier,
    "q119_ab_test" -> abTest,
    "q120_spend_gini" -> spendGini,
    "q121_benford" -> benfordDigits,
    "q122_rfm_segments" -> rfmSegments,
    "q123_readability" -> readability,
    "q124_overlap_matrix" -> overlapMatrix,
    "q125_ks_drift" -> ksDrift,
    "q126_holt_forecast" -> holtForecast,
    "q127_cohort_ltv" -> cohortLtv,
    "q128_changepoint" -> changepoint,
    "q129_embedding_norms" -> embeddingNorms,
    "q130_davies_bouldin" -> daviesBouldin,
    "q131_gap_percentiles" -> gapPercentiles,
    "q132_mutual_information" -> mutualInformation,
    "q133_hash_uniformity" -> hashUniformity,
    "q134_funnel_windowed" -> funnelWindowed,
    "q135_shingle_novelty" -> shingleNovelty,
    "q136_token_pmi" -> tokenPmi,
    "q137_pit_lookup" -> pitLookup,
    "q138_sliding_distinct" -> slidingDistinct,
    "q139_share_of_parent" -> shareOfParent,
    "q140_asof_nearest" -> asofNearestClicks,
    "q141_local_supplier_volume" -> localSupplierVolume,
    "q142_running_balance" -> runningBalance,
    "q143_winsorized_stats" -> winsorizedStats,
    "q144_lorenz_curve" -> lorenzCurve,
    "q145_dedup_savings" -> dedupSavings,
    "q146_linear_attribution" -> linearAttribution,
    "q147_stickiness" -> stickiness,
    "q148_sql_authored" -> sqlAuthored,
    "q149_order_fill_rate" -> orderFillRate,
    "q150_pythagorean_means" -> pythagoreanMeans,
    "q151_knn_regression" -> knnRegression,
    "q152_densify_ffill" -> densifyFfill,
    "q153_mode_per_group" -> modePerGroup,
    "q154_bounce_rate" -> bounceRate,
    "q155_target_encoding" -> targetEncoding,
    "q156_weighted_median" -> weightedMedian,
    "q157_stream_hourly_peak" -> streamHourlyPeak,
    "q158_stream_new_users" -> streamNewUsers,
    "q159_event_paths" -> eventPaths,
    "q160_user_predictability" -> userPredictability,
    "q161_semi_anti_joins" -> semiAntiJoins,
    "q162_activity_streaks" -> activityStreaks,
    "q163_brand_hhi" -> brandHhi,
    "q164_activation_latency" -> activationLatency,
    "q165_cross_source_dups" -> crossSourceDups,
    "q166_ranked_string_agg" -> rankedStringAgg,
    "q167_conversion_curve" -> conversionCurve,
    "q168_growth_accounting" -> growthAccounting,
    "q169_seasonal_anomaly" -> seasonalAnomaly,
    "q170_peak_concurrency" -> peakConcurrency,
    "q171_revenue_bridge" -> revenueBridge,
    "q172_sample_audit" -> sampleAudit,
    "q173_triple_itemsets" -> tripleItemsets,
    "q174_survival_curve" -> survivalCurve,
    "q175_type_bitmask" -> typeBitmask,
    "q176_odds_ratio" -> weekendOddsRatio,
    "q177_power_analysis" -> powerAnalysis,
    "q178_bytes_per_token" -> bytesPerToken,
    "q179_vocab_coverage" -> vocabCoverage,
    "q180_cluster_sizes" -> clusterSizes,
    "q181_late_orders" -> lateOrders,
    "q182_dormancy_gaps" -> dormancyGaps,
    "q183_basket_size_curve" -> basketSizeCurve,
    "q184_max_drawdown" -> maxDrawdown,
    "q185_acf_table" -> acfTable,
    "q186_lang_confusion" -> langConfusion,
    "q187_price_dispersion" -> priceDispersion,
    "q188_seasonal_strength" -> seasonalStrength,
    "q189_audience_churn" -> audienceChurn,
    "q190_power_user_share" -> powerUserShare,
    "q191_term_burstiness" -> termBurstiness,
    "q192_order_reconciliation" -> orderReconciliation,
    "q193_rank_stability" -> rankStability,
    "q194_mix_shift_days" -> mixShiftDays,
    "q195_deadstock" -> deadstock,
    "q196_value_bands" -> valueBands,
    "q197_hour_dow_heatmap" -> hourDowHeatmap,
    "q198_emerging_terms" -> emergingTerms,
    "q199_price_band_mix" -> priceBandMix,
    "q200_orders_per_customer" -> ordersPerCustomer,
    "q201_repetition_rules" -> repetitionRules,
    "q202_posting_lists" -> postingLists,
    "q203_mixture_weights" -> mixtureWeights,
    "q204_decontaminate_corpus" -> decontaminateCorpus,
    "q205_theilsen_trend" -> theilsenTrend,
    "q206_mann_kendall" -> mannKendallTrend,
    "q207_price_elasticity" -> priceElasticity,
    "q208_event_transitions" -> eventTransitions,
    "q209_knn_triangles" -> knnTriangles,
    "q210_transition_entropy" -> transitionEntropy,
    "q211_stream_transitions" -> streamTransitions,
    "q212_skipgram_pairs" -> skipgramPairs,
    "q213_curriculum_plan" -> curriculumPlan,
    "q214_bpe_pair_counts" -> bpePairCounts,
    "q215_clean_corpus" -> cleanCorpus,
    "q216_sequence_packing" -> sequencePacking,
    "q217_bpe_merges" -> bpeMerges,
    "q218_span_dedup" -> spanDedup,
    "q219_soft_quality_sample" -> softQualitySample,
    "q220_shard_plan" -> shardPlan,
    "q221_bpe_segment" -> bpeSegment,
    "q222_lm_perplexity" -> lmPerplexityFilter,
    "q223_dsir_weights" -> dsirWeights,
    "q224_semantic_dedup" -> semanticDedup,
    "q225_cms_heavy_hitters" -> cmsHeavyHitters,
    "q226_stream_cms" -> streamCms,
    "q227_contrastive_triplets" -> contrastiveTriplets,
    "q228_incremental_neardup" ->
      incrementalNearDups(0.25, graft.operators.SimilarityStrategy.PrefixFilter),
    "q229_zorder_layout" -> zorderLayout,
    "q230_curation_funnel" -> curationFunnel,
    "q231_selfjoin_neardup" -> selfJoinNearDups,
    "q232_stream_ttl_transitions" -> streamTtlTransitions,
    "q233_incremental_neardup_t50" ->
      incrementalNearDups(0.5, graft.operators.SimilarityStrategy.Auto),
    "q234_hll_distinct" -> hllDistinct,
    "q235_stream_hll" -> streamHll,
    "q236_stream_ttl_sessions" -> streamTtlSessions,
    "q237_curation_tick" -> curationTick,
    "q238_quantile_sketch" -> quantileSketch,
    "q239_stream_hist" -> streamHist,
    "q240_temperature_mix" -> temperatureMix,
    "q241_stream_windowed_hll" -> streamWindowedHll,
    "q242_kmv_users" -> kmvUsers,
    "q243_training_mix" -> trainingMix,
    "q244_kmv_overlap" -> kmvOverlap,
    "q245_weighted_sample" -> weightedSample,
    "q246_stream_kmv" -> streamKmv,
    "q247_domain_caps" -> domainCaps,
    "q248_indexed_ticks" -> indexedTicks,
    "q249_adaptive_quantiles" -> adaptiveQuantiles,
    "q250_stream_weighted_sample" -> streamWeightedSample,
    "q251_stream_adaptive_hist" -> streamAdaptiveHist,
    "q252_index_drift" -> indexDrift,
    "q253_bloom_decontaminate" -> bloomDecontaminate,
    "q254_stream_psi" -> streamPsi,
    "q255_stream_windowed_cms" -> streamWindowedCms,
    "q256_stream_windowed_kmv" -> streamWindowedKmv,
    "q257_stream_windowed_es" -> streamWindowedEs,
    "q258_bloom_saturation" -> bloomSaturation,
    "q259_stream_windowed_ahist" -> streamWindowedAhist,
    "q260_adaptive_psi" -> streamAdaptivePsi,
    "q261_curation_service" -> curationService,
    "q262_stream_windowed_bloom" -> streamWindowedBloom,
    "q263_bloom_rebuild" -> bloomRebuild,
    "q264_takedown_tick" -> takedownTick,
    "q265_embedding_drift" -> embeddingDrift,
    "q266_state_audit" -> stateAudit,
    "q267_stream_service" -> streamService,
    "q268_stream_ks" -> streamKs,
    "q269_stream_embedding_drift" -> streamEmbeddingDrift,
    "q270_stream_rotated_ref" -> rotatedDrift,
    "q271_ivf_index_probe" -> ivfIndexProbe,
    "q272_mlp_inference" -> mlpInference,
    "q273_ivf_append_probe" -> ivfAppendProbe,
    "q274_ivf_health" -> ivfHealth,
    "q275_ivf_quantized_probe" -> ivfQuantizedProbe,
    "q276_ivf_delete_probe" -> ivfDeleteProbe,
    "q277_drift_monitor_loop" -> driftMonitorLoop,
    "q278_monitor_restart" -> monitorRestart)

  /** Shared oracle fragment: the document quality score (q13's formula),
    * guarded for empty/whitespace-only docs — DuckDB's bare formula
    * diverges there (split of '' has len 1; length 0 divides by zero and
    * greatest() drops the NULL), while TF.qualityScore returns exactly 0.3
    * (len 0, punct 1.0, stop 0). ONE definition interpolated into every
    * query that scores quality, so the weights/threshold can never drift
    * between copies.
    */
  /** q237's oracle: Curation.tick recomputed in SQL. The greedy rounds are
    * GENERATED (8 unrolled rounds over the within-batch pair frame e0):
    * round k accepts every node with no smaller undecided neighbor (a-side
    * nodes absent from the b side), rejects their larger neighbors, and
    * keeps only edges between still-undecided nodes. This frontier
    * formulation reaches the same greedy minimum-rank result that
    * Curation.greedyDominated computes in one ordered scan, so the oracle
    * stays independent of the engine's algorithm. The pair frame holds
    * only docs that survived the corpus check, while the engine resolves
    * all batch pairs with the corpus-matched docs pre-rejected; both give
    * the same accepted set because rejected docs never block. 8 rounds
    * covers dependency chains of 9+ docs; the gate corpora measure depth
    * ≤ 1, and a deeper graph would fail the compare loudly (extra rows),
    * never pass silently.
    */
  /** Parameterized form of the tick chain — `sfx` suffixes every CTE name
    * so two ticks chain in one statement (q264's takedown oracle runs a
    * [x80, x90) tick, folds the takedown declaratively, then a [x90, ∞)
    * tick against the modified corpus/bench — greedy composability
    * collapses CONSECUTIVE ticks into one chain, but a takedown between
    * them changes the standing state, so each side of it needs its own
    * chain). `batchSrc`/`corpusSrc`/`benchSrc` are full SELECTs yielding
    * (doc_id, lang, text). Emits the CTE list WITHOUT the leading `WITH`.
    */
  private def curationTickCtesP(
      sfx: String, batchSrc: String, corpusSrc: String, benchSrc: String): String = {
    def N(s: String) = s + sfx
    val rounds = (1 to 8).map { k =>
      val p = k - 1
      s""", ${N(s"rej$k")} AS MATERIALIZED (
         |  SELECT DISTINCT b FROM ${N(s"e$p")} WHERE a NOT IN (SELECT b FROM ${N(s"e$p")})
         |), ${N(s"e$k")} AS MATERIALIZED (
         |  SELECT a, b FROM ${N(s"e$p")}
         |  WHERE a IN (SELECT b FROM ${N(s"e$p")})
         |    AND a NOT IN (SELECT b FROM ${N(s"rej$k")})
         |    AND b NOT IN (SELECT b FROM ${N(s"rej$k")})
         |)""".stripMargin
    }.mkString
    val rejUnion = (1 to 8).map(k => s"SELECT b FROM ${N(s"rej$k")}").mkString(" UNION ")
    s"""${N("batch")} AS (
       |  SELECT doc_id, lang, text,
       |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
       |    ${qualitySqlExpr("text")} AS q
       |  FROM ($batchSrc)
       |), ${N("corpus")} AS (
       |  $corpusSrc
       |), ${N("s1")} AS (
       |  SELECT * FROM ${N("batch")} WHERE q >= 0.5
       |), ${N("tokb")} AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |  FROM ${N("s1")} WHERE trim(text) <> ''
       |), ${N("bgrams")} AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
       |  FROM ${N("tokb")}, unnest(range(1, len(tk) - 2)) t(i)
       |), ${N("benchtok")} AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |  FROM ($benchSrc) WHERE trim(text) <> ''
       |), ${N("benchg")} AS (
       |  SELECT DISTINCT array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
       |  FROM ${N("benchtok")}, unnest(range(1, len(tk) - 2)) t(i)
       |), ${N("hits")} AS (
       |  SELECT c.doc_id FROM ${N("bgrams")} c JOIN ${N("benchg")} b USING (g)
       |  GROUP BY c.doc_id HAVING count(DISTINCT c.g) >= 5
       |), ${N("s2")} AS (
       |  SELECT * FROM ${N("s1")} WHERE doc_id NOT IN (SELECT doc_id FROM ${N("hits")})
       |), ${N("s3")} AS (
       |  -- NOT EXISTS, not NOT IN: one NULL-text corpus row would make the
       |  -- NOT IN predicate NULL for every batch row (collapsing s3 to
       |  -- empty), and a NULL-text batch row must be KEPT — the engine's
       |  -- === anti-join on sha2 digests never matches a NULL digest
       |  SELECT * FROM (
       |    SELECT * FROM ${N("s2")} QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
       |  ) k WHERE NOT EXISTS (SELECT 1 FROM ${N("corpus")} c WHERE c.text = k.text)
       |), ${N("shb")} AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
       |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)]) END AS s
       |  FROM (SELECT doc_id, lang,
       |          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM ${N("s3")})
       |), ${N("shc")} AS MATERIALIZED (
       |  SELECT lang,
       |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
       |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)]) END AS s
       |  FROM (SELECT lang,
       |          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM ${N("corpus")})
       |), ${N("r1")} AS MATERIALIZED (
       |  SELECT DISTINCT b.doc_id
       |  FROM ${N("shb")} b JOIN ${N("shc")} c ON b.lang = c.lang
       |  WHERE len(b.s) > 0 AND len(c.s) > 0
       |    AND len(list_intersect(b.s, c.s))::DOUBLE
       |      / len(list_distinct(b.s || c.s)) >= 0.5
       |), ${N("free")} AS MATERIALIZED (
       |  SELECT * FROM ${N("shb")} WHERE doc_id NOT IN (SELECT doc_id FROM ${N("r1")})
       |), ${N("e0")} AS MATERIALIZED (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM ${N("free")} x JOIN ${N("free")} y ON x.lang = y.lang AND x.doc_id < y.doc_id
       |  WHERE len(x.s) > 0 AND len(y.s) > 0
       |    AND len(list_intersect(x.s, y.s))::DOUBLE
       |      / len(list_distinct(x.s || y.s)) >= 0.5
       |)$rounds, ${N("r2")} AS ($rejUnion), ${N("acc")} AS (
       |  SELECT doc_id, lang, toks FROM ${N("s3")}
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ${N("r1")})
       |    AND doc_id NOT IN (SELECT b FROM ${N("r2")})
       |)""".stripMargin
  }

  private def curationTickCtes: String =
    "WITH " + curationTickCtesP(
      sfx = "",
      batchSrc = """SELECT doc_id, lang, text FROM documents
                   |  WHERE doc_id >= (SELECT max(doc_id) * 4 // 5 FROM documents)""".stripMargin,
      corpusSrc = """SELECT doc_id, lang, text FROM documents
                    |  WHERE doc_id < (SELECT max(doc_id) * 4 // 5 FROM documents)
                    |    AND doc_id % 50 <> 0""".stripMargin,
      benchSrc = """SELECT doc_id, lang, text FROM documents
                   |  WHERE doc_id < (SELECT max(doc_id) * 4 // 5 FROM documents)
                   |    AND doc_id % 50 = 0""".stripMargin)

  private def curationTickOracleSql: String =
    s"$curationTickCtes SELECT doc_id, lang, toks FROM acc ORDER BY doc_id"

  private def qualitySqlExpr(textCol: String): String =
    s"""CASE WHEN trim($textCol) = '' THEN 0.3 ELSE round(
       |      least(len(regexp_split_to_array(trim($textCol), '\\s+')) / 50.0, 1.0) * 0.4 +
       |      greatest(0.0, 1.0 -
       |        ((length($textCol) - length(regexp_replace($textCol, '[^\\p{L}\\p{N}\\s]', '', 'g')))
       |          / CAST(length($textCol) AS DOUBLE)) * 4) * 0.3 +
       |      least((len(list_filter(regexp_split_to_array(trim($textCol), '\\s+'),
       |          t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], lower(t))))
       |        / CAST(len(regexp_split_to_array(trim($textCol), '\\s+')) AS DOUBLE)) * 5, 1.0) * 0.3
       |      + 1e-9, 6) END""".stripMargin

  /** Shared oracle fragment: the 5-gram Jaccard near-dup transitive closure
    * (q46's pair predicate + q49's recursive reachability), ending in a
    * `comp(doc_id, component)` CTE. One definition for q49/q86/q93.
    */
  private val ClosureCtes: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, lang, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
      |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)])
      |    END AS s
      |  FROM d
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
      |          / len(list_distinct(a.s || b.s)) >= 0.5
      |), edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION
      |  SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS component
      |  FROM reach GROUP BY a
      |)""".stripMargin

  /** q221's oracle: the q217 merge-derivation CTEs with the word carried
    * through each fuse (same argmax tie-break: cnt DESC, pair lex ASC),
    * ending in per-source compression stats from word-occurrence joins.
    * Loop-generated — the five iterations differ only by index, and a
    * hand-unrolled copy would be a drift hazard against q217.
    */
  private lazy val BpeSegmentOracle: String = {
    val iters = (1 to 5).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS (
         |  SELECT list_extract(sp, CAST(j AS INT)) AS lhs,
         |    list_extract(sp, CAST(j AS INT) + 1) AS rhs,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(s, chr(31)) AS sp, freq FROM $prev),
         |    UNNEST(range(1, len(sp))) t(j)
         |  GROUP BY 1, 2
         |), m$i AS (SELECT lhs, rhs FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |s$i AS (
         |  SELECT p.w, list_reduce(string_split(p.s, chr(31)),
         |    (acc, x) -> CASE WHEN x = m$i.rhs AND
         |        (acc = m$i.lhs OR ends_with(acc, chr(31) || m$i.lhs))
         |      THEN acc || x ELSE acc || chr(31) || x END) AS s, p.freq
         |  FROM $prev p CROSS JOIN m$i
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |  FROM documents WHERE trim(text) <> ''
       |), wf AS (
       |  SELECT w, count(*) AS freq FROM tok GROUP BY w
       |), s0 AS (
       |  SELECT w, array_to_string(
       |    list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INT), 1)),
       |    chr(31)) AS s, freq
       |  FROM wf
       |), $iters, wordlen AS (
       |  SELECT w, len(string_split(s, chr(31))) AS np FROM s5
       |)
       |SELECT t.source,
       |  CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(wl.np) AS BIGINT) AS n_pieces,
       |  round(sum(wl.np) / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS pieces_per_word
       |FROM tok t JOIN wordlen wl USING (w)
       |GROUP BY t.source ORDER BY t.source""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(24,6))), 2) AS DOUBLE) AS sum_charge,
        |  round(avg(l_quantity) + 1e-9, 4) AS avg_qty,
        |  round(avg(l_extendedprice) + 1e-9, 4) AS avg_price,
        |  round(avg(l_discount) + 1e-9, 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_regional_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q03_top_orders" ->
      """SELECT o_orderkey,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS order_date
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q04_event_day_features" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS n_events, avg(value) AS av
        |  FROM events GROUP BY 1
        |)
        |SELECT d, n_events,
        |  round(av + 1e-9, 4) AS avg_value,
        |  lag(n_events, 1) OVER w AS n_events_lag1,
        |  lag(n_events, 3) OVER w AS n_events_lag3,
        |  lag(n_events, 7) OVER w AS n_events_lag7,
        |  round(avg(av) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) + 1e-9, 4) AS ma3,
        |  round(avg(av) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) + 1e-9, 4) AS ma7,
        |  round((lag(n_events, 1) OVER w - lag(n_events, 2) OVER w)
        |        / CAST(lag(n_events, 2) OVER w AS DOUBLE) + 1e-9, 6) AS pct_change,
        |  lag(n_events, 1) OVER w - lag(n_events, 2) OVER w AS n_events_diff1,
        |  lag(n_events, 1) OVER w - lag(n_events, 8) OVER w AS n_events_diff7
        |FROM daily
        |WINDOW w AS (ORDER BY d)
        |ORDER BY d""".stripMargin,
    "q05_latest_events" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "q06_daily_type_pivot" ->
      """SELECT CAST(ts AS DATE) AS d,
        |  round(avg(CASE WHEN event_type = 'click' THEN value END) + 1e-9, 4) AS avg_click,
        |  round(avg(CASE WHEN event_type = 'error' THEN value END) + 1e-9, 4) AS avg_error,
        |  round(avg(CASE WHEN event_type = 'purchase' THEN value END) + 1e-9, 4) AS avg_purchase,
        |  round(avg(CASE WHEN event_type = 'signup' THEN value END) + 1e-9, 4) AS avg_signup,
        |  round(avg(CASE WHEN event_type = 'view' THEN value END) + 1e-9, 4) AS avg_view
        |FROM events
        |GROUP BY 1
        |ORDER BY d""".stripMargin,
    "q07_priority_counts" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY n DESC, o_orderpriority""".stripMargin,
    "q08_lineitem_summary" ->
      """SELECT
        |  count(l_quantity) AS l_quantity_count,
        |  round(avg(l_quantity) + 1e-9, 4) AS l_quantity_mean,
        |  round(stddev_samp(l_quantity) + 1e-9, 4) AS l_quantity_std,
        |  round(min(l_quantity) + 1e-9, 4) AS l_quantity_min,
        |  round(max(l_quantity) + 1e-9, 4) AS l_quantity_max,
        |  count(l_extendedprice) AS l_extendedprice_count,
        |  round(avg(l_extendedprice) + 1e-9, 4) AS l_extendedprice_mean,
        |  round(stddev_samp(l_extendedprice) + 1e-9, 4) AS l_extendedprice_std,
        |  round(min(l_extendedprice) + 1e-9, 4) AS l_extendedprice_min,
        |  round(max(l_extendedprice) + 1e-9, 4) AS l_extendedprice_max,
        |  count(l_discount) AS l_discount_count,
        |  round(avg(l_discount) + 1e-9, 4) AS l_discount_mean,
        |  round(stddev_samp(l_discount) + 1e-9, 4) AS l_discount_std,
        |  round(min(l_discount) + 1e-9, 4) AS l_discount_min,
        |  round(max(l_discount) + 1e-9, 4) AS l_discount_max,
        |  count(l_tax) AS l_tax_count,
        |  round(avg(l_tax) + 1e-9, 4) AS l_tax_mean,
        |  round(stddev_samp(l_tax) + 1e-9, 4) AS l_tax_std,
        |  round(min(l_tax) + 1e-9, 4) AS l_tax_min,
        |  round(max(l_tax) + 1e-9, 4) AS l_tax_max
        |FROM lineitem""".stripMargin,
    "q09_trend_labels" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type, avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), led AS (
        |  SELECT d, event_type, v,
        |    lead(v, 1) OVER (PARTITION BY event_type ORDER BY d) AS nv
        |  FROM daily
        |)
        |SELECT d, event_type,
        |  CASE WHEN nv > v * 1.05 THEN 'up'
        |       WHEN nv < v * 0.95 THEN 'down'
        |       ELSE 'flat' END AS trend
        |FROM led
        |WHERE nv IS NOT NULL
        |ORDER BY d, event_type""".stripMargin,
    "q10_trend_pair_support" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type, avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), led AS (
        |  SELECT d, event_type, v,
        |    lead(v, 1) OVER (PARTITION BY event_type ORDER BY d) AS nv
        |  FROM daily
        |), items AS (
        |  SELECT d, event_type || '_' ||
        |    CASE WHEN nv > v * 1.05 THEN 'up'
        |         WHEN nv < v * 0.95 THEN 'down'
        |         ELSE 'flat' END AS item
        |  FROM led WHERE nv IS NOT NULL
        |)
        |SELECT a.item AS item1, b.item AS item2, count(*) AS support_count
        |FROM items a JOIN items b ON a.d = b.d AND a.item < b.item
        |GROUP BY 1, 2
        |HAVING count(*) >= ceil(0.15 * (SELECT count(DISTINCT d) FROM items))
        |ORDER BY item1, item2""".stripMargin,
    "q11_doc_dedup" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id,
        |  count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY doc_id""".stripMargin,
    "q12_token_stats" ->
      // CASE guard pins the empty-doc convention to 0 tokens on both sides:
      // DuckDB's len(regexp_split_to_array('', '\s+')) is 1, Spark-side
      // TextFunctions.tokens('') is an empty array.
      """SELECT lang, count(*) AS n_docs,
        |  round(avg(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) + 1e-9, 4) AS avg_tokens,
        |  round(avg(n_chars) + 1e-9, 4) AS avg_chars,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q13_doc_quality" ->
      s"""SELECT doc_id,
        |  ${qualitySqlExpr("text")} AS quality
        |FROM documents
        |ORDER BY quality DESC, doc_id
        |LIMIT 20""".stripMargin,
    "q14_knn_bruteforce" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
        |  FROM embeddings WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.q_id, c.vec_id AS c_id,
        |    list_dot_product(q.q_vec, c.embedding::DOUBLE[])
        |      / (sqrt(list_dot_product(q.q_vec, q.q_vec))
        |         * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS sim
        |  FROM q, embeddings c
        |  WHERE q.q_id != c.vec_id
        |), ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT q_id, c_id, round(sim + 1e-9, 6) AS sim, rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "q15_doc_signatures" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(CASE WHEN len(t) < 5 THEN 0
        |    ELSE len(list_distinct(list_transform(range(1, len(t) - 3),
        |      i -> substr(t, CAST(i AS INT), 5)))) END AS INT) AS n_shingles,
        |  CAST(8 AS INT) AS sig_len, CAST(4 AS INT) AS n_bands
        |FROM norm ORDER BY doc_id""".stripMargin,
    // all-pairs exact-Jaccard threshold join: the engine-independent value
    // the LSH pipeline must reproduce (candidates bucket-joined, verify on
    // candidates only — same emitted set, O(n²) only in the oracle)
    "q16_neardup_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t) - 3),
        |      i -> substr(t, CAST(i AS INT), 5))) AS shset
        |  FROM (SELECT doc_id,
        |          lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |        FROM documents)
        |  WHERE len(t) >= 5
        |), pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
        |      (len(a.shset) + len(b.shset)
        |        - len(list_intersect(a.shset, b.shset))) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT id1, id2, round(j + 1e-9, 4) AS jaccard
        |FROM pairs WHERE round(j + 1e-9, 4) >= 0.8
        |ORDER BY id1, id2""".stripMargin,
    "q17_trend_rules" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type, avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), led AS (
        |  SELECT d, event_type, v,
        |    lead(v, 1) OVER (PARTITION BY event_type ORDER BY d) AS nv
        |  FROM daily
        |), items AS (
        |  SELECT d, event_type || '_' ||
        |    CASE WHEN nv > v * 1.05 THEN 'up'
        |         WHEN nv < v * 0.95 THEN 'down'
        |         ELSE 'flat' END AS item
        |  FROM led WHERE nv IS NOT NULL
        |), n AS (SELECT count(DISTINCT d) AS n FROM items
        |), item_counts AS (
        |  SELECT item, count(*) AS cnt FROM items GROUP BY 1
        |), pair_counts AS (
        |  SELECT a.item AS item1, b.item AS item2, count(*) AS support_count
        |  FROM items a JOIN items b ON a.d = b.d AND a.item < b.item
        |  GROUP BY 1, 2
        |  HAVING count(*) >= ceil(CAST(0.15 AS DOUBLE) * (SELECT n FROM n))
        |), directed AS (
        |  SELECT item1 AS antecedent, item2 AS consequent, support_count FROM pair_counts
        |  UNION ALL
        |  SELECT item2, item1, support_count FROM pair_counts
        |)
        |SELECT d.antecedent, d.consequent,
        |  round(d.support_count / CAST(ia.cnt AS DOUBLE) + 1e-9, 4) AS confidence,
        |  round((d.support_count / CAST(ia.cnt AS DOUBLE))
        |    / (ic.cnt / CAST((SELECT n FROM n) AS DOUBLE)) + 1e-9, 4) AS lift,
        |  round(d.support_count / CAST((SELECT n FROM n) AS DOUBLE) + 1e-9, 4) AS support
        |FROM directed d
        |JOIN item_counts ia ON d.antecedent = ia.item
        |JOIN item_counts ic ON d.consequent = ic.item
        |WHERE d.support_count / CAST(ia.cnt AS DOUBLE) >= 0.6
        |ORDER BY antecedent, consequent""".stripMargin,
    "q18_knn_classify" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 50
        |), t AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS tv
        |  FROM embeddings WHERE vec_id >= 50
        |), scored AS (
        |  SELECT q.q_id, t.vec_id, t.label,
        |    list_dot_product(q.qv, t.tv)
        |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(t.tv, t.tv))) AS sim
        |  FROM q, t
        |), ranked AS (
        |  SELECT q_id, label,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
        |  FROM scored
        |), votes AS (
        |  SELECT q_id, label, count(*) AS c FROM ranked WHERE rn <= 5 GROUP BY 1, 2
        |)
        |SELECT q_id, label AS predicted FROM (
        |  SELECT q_id, label,
        |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, label ASC) AS vr
        |  FROM votes
        |) WHERE vr = 1
        |ORDER BY q_id""".stripMargin,
    // q19: nearest-centroid scorer — class centroids are per-dim means over
    // the train split, margin = (d²(x,c0) − d²(x,c1))/2 via the dot-product
    // identity, posterior = sigmoid(margin). Closed-form ⇒ value-exact.
    "q19_scored_classifier" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS b
        |  FROM embeddings
        |), tr AS (
        |  SELECT b, i, avg(x) AS c FROM (
        |    SELECT b, generate_subscripts(v, 1) AS i, unnest(v) AS x
        |    FROM e WHERE vec_id > 99
        |  ) GROUP BY b, i
        |), cent AS (
        |  SELECT b, list(c ORDER BY i) AS carr FROM tr GROUP BY b
        |), scored AS (
        |  SELECT e.vec_id AS sample_id, e.b AS label,
        |    ( (list_dot_product(e.v, e.v)
        |        - 2 * list_dot_product(e.v, (SELECT carr FROM cent WHERE b = 0))
        |        + list_dot_product((SELECT carr FROM cent WHERE b = 0),
        |                           (SELECT carr FROM cent WHERE b = 0)))
        |    - (list_dot_product(e.v, e.v)
        |        - 2 * list_dot_product(e.v, (SELECT carr FROM cent WHERE b = 1))
        |        + list_dot_product((SELECT carr FROM cent WHERE b = 1),
        |                           (SELECT carr FROM cent WHERE b = 1))) ) / 2 AS margin
        |  FROM e WHERE e.vec_id <= 99
        |)
        |SELECT sample_id, label,
        |  CASE WHEN margin > 0 THEN 1 ELSE 0 END AS predicted,
        |  round(1 / (1 + exp(-margin)) + 1e-9, 6) AS p_positive,
        |  round(1 - 1 / (1 + exp(-margin)) + 1e-9, 6) AS p_negative,
        |  (CASE WHEN margin > 0 THEN 1 ELSE 0 END) = label AS correct
        |FROM scored ORDER BY sample_id""".stripMargin,
    // q20: deterministic Lloyd k=2 — seeds at min/max vec_id, 3 unrolled
    // assign(argmin d², tie → lower k)/update(per-dim mean) iterations,
    // then the centroid-form simplified silhouette, best-orientation
    // consistency, and cluster sizes — value-exact vs the Spark loop.
    "q20_cluster_summary" ->
      """WITH pts AS (
        |  SELECT vec_id, CASE WHEN label >= 5 THEN 1 ELSE 0 END AS b,
        |    generate_subscripts(embedding::DOUBLE[], 1) AS i,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM embeddings
        |), c0 AS (
        |  SELECT 0 AS k, i, v AS c FROM pts
        |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
        |  UNION ALL
        |  SELECT 1, i, v FROM pts
        |  WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
        |), d1 AS (
        |  SELECT p.vec_id, c.k, sum((p.v - c.c) * (p.v - c.c)) AS d2
        |  FROM pts p JOIN c0 c ON p.i = c.i GROUP BY 1, 2
        |), a1 AS (
        |  SELECT vec_id, k FROM (
        |    SELECT vec_id, k, row_number() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        |    FROM d1) WHERE rn = 1
        |), c1 AS (
        |  SELECT a.k, p.i, avg(p.v) AS c FROM a1 a JOIN pts p USING (vec_id) GROUP BY 1, 2
        |), d2_ AS (
        |  SELECT p.vec_id, c.k, sum((p.v - c.c) * (p.v - c.c)) AS d2
        |  FROM pts p JOIN c1 c ON p.i = c.i GROUP BY 1, 2
        |), a2 AS (
        |  SELECT vec_id, k FROM (
        |    SELECT vec_id, k, row_number() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        |    FROM d2_) WHERE rn = 1
        |), c2 AS (
        |  SELECT a.k, p.i, avg(p.v) AS c FROM a2 a JOIN pts p USING (vec_id) GROUP BY 1, 2
        |), d3_ AS (
        |  SELECT p.vec_id, c.k, sum((p.v - c.c) * (p.v - c.c)) AS d2
        |  FROM pts p JOIN c2 c ON p.i = c.i GROUP BY 1, 2
        |), a3 AS (
        |  SELECT vec_id, k FROM (
        |    SELECT vec_id, k, row_number() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        |    FROM d3_) WHERE rn = 1
        |), c3 AS (
        |  SELECT a.k, p.i, avg(p.v) AS c FROM a3 a JOIN pts p USING (vec_id) GROUP BY 1, 2
        |), d4_ AS (
        |  SELECT p.vec_id, c.k, sum((p.v - c.c) * (p.v - c.c)) AS d2
        |  FROM pts p JOIN c3 c ON p.i = c.i GROUP BY 1, 2
        |), fin AS (
        |  SELECT vec_id, k, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        |  FROM d4_
        |), asg AS (
        |  SELECT f.vec_id, f.k, sqrt(f.d2) AS own, sqrt(o.d2) AS other
        |  FROM fin f JOIN fin o ON f.vec_id = o.vec_id AND o.rn = 2
        |  WHERE f.rn = 1
        |), joined AS (
        |  SELECT a.vec_id, a.k, a.own, a.other, l.b
        |  FROM asg a JOIN (SELECT DISTINCT vec_id, b FROM pts) l USING (vec_id)
        |), sizes AS (
        |  SELECT k, count(*) AS n FROM joined GROUP BY k
        |)
        |SELECT
        |  round(avg(CASE WHEN greatest(own, other) = 0 THEN 0
        |            ELSE (other - own) / greatest(own, other) END) + 1e-9, 4) AS silhouette,
        |  round(greatest(
        |      sum(CASE WHEN (k = 0 AND b = 1) OR (k = 1 AND b = 0) THEN 1 ELSE 0 END),
        |      sum(CASE WHEN (k = 0 AND b = 0) OR (k = 1 AND b = 1) THEN 1 ELSE 0 END)
        |    ) / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS consistency,
        |  CAST((SELECT min(n) FROM sizes) AS BIGINT) AS smaller_cluster,
        |  CAST((SELECT max(n) FROM sizes) AS BIGINT) AS larger_cluster,
        |  CAST(count(*) AS BIGINT) AS n_points
        |FROM joined""".stripMargin,
    "q21_rolling_cv" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1
        |), feat AS (
        |  SELECT CAST(datediff('day', DATE '2024-01-01', d) AS DOUBLE) AS x, y
        |  FROM daily
        |), bounds AS (SELECT min(x) AS lo, max(x) AS hi FROM feat
        |), folds AS (
        |  SELECT CAST(i AS INT) AS fold,
        |    lo + (hi - lo) * i / 6.0 AS cut,
        |    CASE WHEN i < 5 THEN lo + (hi - lo) * (i + 1) / 6.0 ELSE hi + 1 END AS nxt
        |  FROM bounds, range(1, 6) t(i)
        |), train AS (
        |  SELECT fold, cut, nxt, count(*) AS n_train, avg(x) AS xbar, avg(y) AS ybar,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM folds JOIN feat ON x <= cut
        |  GROUP BY 1, 2, 3
        |), coef AS (
        |  SELECT fold, cut, nxt, n_train,
        |    (sxy - n_train * xbar * ybar) / (sxx - n_train * xbar * xbar + 0.1) AS beta,
        |    ybar - (sxy - n_train * xbar * ybar) / (sxx - n_train * xbar * xbar + 0.1) * xbar AS alpha
        |  FROM train
        |), scored AS (
        |  SELECT c.fold, c.n_train, c.beta, c.alpha,
        |    f.y - (c.alpha + c.beta * f.x) AS r
        |  FROM coef c JOIN feat f ON f.x > c.cut AND f.x <= c.nxt
        |)
        |SELECT fold, n_train, count(*) AS n_test,
        |  round(beta + 1e-9, 4) AS slope,
        |  round(alpha + 1e-9, 4) AS intercept,
        |  round(sqrt(avg(r * r)) + 1e-9, 4) AS rmse,
        |  round(avg(abs(r)) + 1e-9, 4) AS mae
        |FROM scored
        |GROUP BY fold, n_train, beta, alpha
        |ORDER BY fold""".stripMargin,
    "q22_customer_order_presence" ->
      """WITH w AS (SELECT DISTINCT o_custkey FROM orders)
        |SELECT n_name,
        |  CAST(count(*) FILTER (WHERE w.o_custkey IS NOT NULL) AS BIGINT) AS n_with_orders,
        |  CAST(count(*) FILTER (WHERE w.o_custkey IS NULL) AS BIGINT) AS n_without_orders
        |FROM customer c
        |JOIN nation n ON c_nationkey = n_nationkey
        |LEFT JOIN w ON c_custkey = w.o_custkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q23_revenue_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "q24_sessionize" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR epoch(ts - prev) > 1800.0 THEN 1 ELSE 0 END AS brk
        |  FROM lagged
        |), sess AS (
        |  SELECT user_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged
        |)
        |SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM sess
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q25_props_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum,
        |  round(avg(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) + 1e-9, 4) AS k_avg,
        |  CAST(min(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(max(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_max
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q26_word_frequency" ->
      """SELECT lang,
        |  CAST(sum((length(text) - length(replace(text, 'the', ''))) // 3) AS BIGINT) AS w_the,
        |  CAST(sum((length(text) - length(replace(text, 'data', ''))) // 4) AS BIGINT) AS w_data,
        |  CAST(sum((length(text) - length(replace(text, 'spark', ''))) // 5) AS BIGINT) AS w_spark,
        |  CAST(sum((length(text) - length(replace(text, 'query', ''))) // 5) AS BIGINT) AS w_query,
        |  CAST(sum((length(text) - length(replace(text, 'join', ''))) // 4) AS BIGINT) AS w_join
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q27_stream_daily_counts" ->
      """SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n,
        |  round(avg(value) + 1e-9, 4) AS avg_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY d, event_type""".stripMargin,
    "q28_stream_sessions" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), flagged AS (
        |  SELECT user_id,
        |    CASE WHEN prev IS NULL OR epoch(ts - prev) > 1800.0 THEN 1 ELSE 0 END AS brk
        |  FROM lagged
        |)
        |SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM flagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q29_embedding_neardups" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_dot_product(a.e, b.e)
        |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
        |    + 1e-9, 6) AS sim
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e)
        |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4
        |ORDER BY id1, id2""".stripMargin,
    "q30_monthly_stats" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  count(*) AS n_lines,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  round(corr(l_quantity, l_extendedprice) + 1e-9, 6) AS qty_price_corr
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY month""".stripMargin,
    "q31_pricing_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q32_brand_revenue" ->
      """SELECT p_brand,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines,
        |  round(avg(p_retailprice) + 1e-9, 4) AS avg_retail
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size BETWEEN 1 AND 30
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q33_supplier_balance" ->
      """SELECT n_name,
        |  count(s_suppkey) AS n_suppliers,
        |  round(sum(s_acctbal) + 1e-9, 2) AS total_acctbal,
        |  round(min(s_acctbal) + 1e-9, 2) AS min_acctbal,
        |  round(max(s_acctbal) + 1e-9, 2) AS max_acctbal
        |FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q34_price_quartiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25) + 1e-9, 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75) + 1e-9, 4) AS p75,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q35_clean_audit" ->
      """WITH dirty AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 7 = 0 THEN '   ' ELSE event_type END AS wtype,
        |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v,
        |    CASE WHEN event_id % 11 = 0 THEN CAST('inf' AS DOUBLE)
        |         WHEN event_id % 13 = 0 THEN CAST('-inf' AS DOUBLE)
        |         ELSE value END AS iv,
        |    CASE WHEN event_id % 3 = 0 THEN 'x'
        |         ELSE CAST(event_id % 100 AS VARCHAR) END AS nstr
        |  FROM events
        |), cleaned AS (
        |  SELECT
        |    CASE WHEN trim(wtype) = '' THEN NULL ELSE wtype END AS wtype,
        |    v,
        |    CASE WHEN isinf(iv) OR isnan(iv) THEN 0.0 ELSE iv END AS iv,
        |    TRY_CAST(nstr AS DOUBLE) AS num
        |  FROM dirty
        |), final AS (
        |  SELECT *,
        |    CASE WHEN wtype IN ('click', 'view') THEN 'engagement'
        |         WHEN wtype IN ('purchase', 'signup') THEN 'conversion'
        |         WHEN wtype = 'error' THEN 'problem'
        |         ELSE NULL END AS cat,
        |    (wtype IS NOT NULL AND v IS NOT NULL AND num IS NOT NULL) AS complete
        |  FROM cleaned
        |)
        |SELECT cat, count(*) AS n,
        |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_v,
        |  CAST(sum(CASE WHEN num IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_num,
        |  round(avg(coalesce(v, 0.0)) + 1e-9, 4) AS avg_v_filled,
        |  round(avg(iv) + 1e-9, 4) AS avg_iv,
        |  CAST(sum(CASE WHEN complete THEN 1 ELSE 0 END) AS BIGINT) AS n_complete
        |FROM final
        |GROUP BY cat
        |ORDER BY cat NULLS FIRST""".stripMargin,
    "q36_feature_contrast" ->
      """WITH feats AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS n_tokens,
        |    CAST(n_chars AS DOUBLE) AS n_chars,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE (length(text) - length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')))
        |        / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |    row_number() OVER (ORDER BY doc_id) AS seq
        |  FROM documents
        |), flagged AS (
        |  SELECT *,
        |    seq <= ceil(0.8 * (SELECT count(*) FROM documents)) AS is_first
        |  FROM feats
        |), u AS (
        |  SELECT 'n_tokens' AS feature, n_tokens AS x, is_first FROM flagged
        |  UNION ALL
        |  SELECT 'n_chars' AS feature, n_chars AS x, is_first FROM flagged
        |  UNION ALL
        |  SELECT 'punct_ratio' AS feature, punct_ratio AS x, is_first FROM flagged
        |)
        |SELECT feature,
        |  round(avg(CASE WHEN is_first THEN x END) + 1e-9, 4) AS mean_first,
        |  round(avg(CASE WHEN NOT is_first THEN x END) + 1e-9, 4) AS mean_last,
        |  round(abs(avg(CASE WHEN is_first THEN x END)
        |    - avg(CASE WHEN NOT is_first THEN x END)) + 1e-9, 4) AS abs_diff,
        |  round(var_samp(x) + 1e-9, 4) AS variance
        |FROM u
        |GROUP BY feature
        |ORDER BY feature""".stripMargin,
    "q37_item_support" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type, avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), led AS (
        |  SELECT d, event_type, v,
        |    lead(v, 1) OVER (PARTITION BY event_type ORDER BY d) AS nv
        |  FROM daily
        |), items AS (
        |  SELECT d, event_type || '_' ||
        |    CASE WHEN nv > v * 1.05 THEN 'up'
        |         WHEN nv < v * 0.95 THEN 'down'
        |         ELSE 'flat' END AS item
        |  FROM led WHERE nv IS NOT NULL
        |)
        |SELECT item, count(*) AS support_count,
        |  round(count(*) / CAST((SELECT count(DISTINCT d) FROM items) AS DOUBLE) + 1e-9, 4) AS support
        |FROM items
        |GROUP BY item
        |HAVING count(*) >= ceil(0.15 * (SELECT count(DISTINCT d) FROM items))
        |ORDER BY item""".stripMargin,
    "q38_asof_clicks" ->
      """WITH p AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'
        |), c0 AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, event_id AS click_id,
        |    value AS click_value,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
        |      ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'click'
        |), c AS (SELECT user_id, cts, click_id, click_value FROM c0 WHERE rn = 1)
        |SELECT p.event_id, p.user_id, c.click_id,
        |  round(p.value + 1e-9, 4) AS purchase_value,
        |  round(c.click_value + 1e-9, 4) AS click_value,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.cts)) AS BIGINT) AS gap_s
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.cts
        |ORDER BY p.event_id""".stripMargin,
    "q39_salted_hot_key" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(min(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(max(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_max
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q40_corpus_curation" ->
      raw"""WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
        |), scored AS (
        |  SELECT d.lang,
        |    CASE WHEN trim(d.text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(d.text), '\s+')) END AS n_tokens,
        |    ${qualitySqlExpr("d.text")} AS quality
        |  FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(avg(quality) + 1e-9, 4) AS avg_quality
        |FROM scored
        |WHERE quality >= 0.5
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // q41: the profile lists and the tiebreak (argmax score, ties to the
    // lexicographically GREATEST lang — Spark's array_max on struct(score,
    // lang)) are mirrored exactly; zero evidence -> 'und' on both sides.
    "q41_lang_id" ->
      """WITH toks AS (
        |  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
        |), r AS (
        |  SELECT lang,
        |    len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_en,
        |    len(list_filter(tk, t -> list_contains(['der','die','das','und','ein','zu','mit','ist','auf','nicht'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_de,
        |    len(list_filter(tk, t -> list_contains(['el','la','que','y','en','un','por','con','los','una'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_es,
        |    len(list_filter(tk, t -> list_contains(['le','les','et','des','une','du','dans','est','pour','au'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_fr,
        |    len(list_filter(tk, t -> list_contains(['的','了','是','在','我','有','和','就','不','人'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_zh
        |  FROM toks
        |), pred AS (
        |  SELECT lang,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
        |         WHEN s_zh >= greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
        |         WHEN s_fr >= greatest(s_de, s_en, s_es) THEN 'fr'
        |         WHEN s_es >= greatest(s_de, s_en) THEN 'es'
        |         WHEN s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS predicted
        |  FROM r
        |)
        |SELECT lang, predicted, count(*) AS n
        |FROM pred GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    // q42: pinned golden rows — DuckDB cannot run the chapter parser; the
    // compare still independently verifies every parsed number/title/count.
    "q42_chapter_split" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), '甄士隐梦幻识通灵', CAST(4 AS BIGINT)),
        |  (CAST(12 AS BIGINT), '王熙凤毒设相思局', CAST(2 AS BIGINT)),
        |  (CAST(25 AS BIGINT), '魇魔法姊妹逢五鬼', CAST(5 AS BIGINT)),
        |  (CAST(100 AS BIGINT), '破好事香菱结深恨', CAST(4 AS BIGINT))
        |) AS t(chapter, title, n_tokens) ORDER BY chapter""".stripMargin,
    "q43_stream_dedup" ->
      """WITH u AS (SELECT DISTINCT user_id, event_type, props FROM events)
        |SELECT event_type, count(*) AS n_unique,
        |  count(DISTINCT user_id) AS n_users
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q44_redaction" ->
      """WITH planted AS (
        |  SELECT lang,
        |    text
        |      || CASE WHEN doc_id % 7 = 0 THEN ' contact alice@example.com now' ELSE '' END
        |      || CASE WHEN doc_id % 11 = 0 THEN ' see https://example.com/d?id=1 page' ELSE '' END
        |      || CASE WHEN doc_id % 13 = 0 THEN ' call 555-123-4567 today' ELSE '' END AS text2
        |  FROM documents
        |), red AS (
        |  SELECT lang, text2,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text2,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        'https?://[^\s]+', '<URL>', 'g'),
        |      '\b[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}\b', '<PHONE>', 'g') AS clean
        |  FROM planted
        |)
        |SELECT lang,
        |  count(CASE WHEN clean LIKE '%<EMAIL>%' THEN 1 END) AS n_email,
        |  count(CASE WHEN clean LIKE '%<URL>%' THEN 1 END) AS n_url,
        |  count(CASE WHEN clean LIKE '%<PHONE>%' THEN 1 END) AS n_phone,
        |  count(CASE WHEN clean <> text2 THEN 1 END) AS n_redacted
        |FROM red GROUP BY lang ORDER BY lang""".stripMargin,
    // q45 probes ALL cells (nProbe == nCells) so the IVF pipeline is exact
    // and brute-force top-k is its value oracle (same SQL shape as q14).
    "q45_ann_ivf" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
        |  FROM embeddings WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.q_id, c.vec_id AS c_id,
        |    list_dot_product(q.q_vec, c.embedding::DOUBLE[])
        |      / (sqrt(list_dot_product(q.q_vec, q.q_vec))
        |         * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS sim
        |  FROM q, embeddings c
        |  WHERE q.q_id != c.vec_id
        |), ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT q_id, c_id, round(sim + 1e-9, 6) AS sim, rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    // q46 recomputes Jaccard on the raw shingle STRING sets (list_distinct /
    // list_intersect); the Spark side's 64-bit shingle hashing is injective
    // at this cardinality so the ratios agree exactly.
    "q46_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)])
        |    END AS s
        |  FROM d
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(a.s || b.s)) AS j
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, round(j + 1e-9, 4) AS jac
        |FROM pairs WHERE j >= 0.5
        |ORDER BY jac DESC, id_a, id_b""".stripMargin,
    // q47 reuses q18's deterministic vote (sim desc, id asc; count desc,
    // label asc) and contingency-counts it against the true labels.
    "q47_knn_confusion" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 50
        |), t AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS tv
        |  FROM embeddings WHERE vec_id >= 50
        |), scored AS (
        |  SELECT q.q_id, t.vec_id, t.label,
        |    list_dot_product(q.qv, t.tv)
        |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(t.tv, t.tv))) AS sim
        |  FROM q, t
        |), ranked AS (
        |  SELECT q_id, label,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
        |  FROM scored
        |), votes AS (
        |  SELECT q_id, label, count(*) AS c FROM ranked WHERE rn <= 5 GROUP BY 1, 2
        |), pred AS (
        |  SELECT q_id, label AS prediction FROM (
        |    SELECT q_id, label,
        |      row_number() OVER (PARTITION BY q_id ORDER BY c DESC, label ASC) AS vr
        |    FROM votes
        |  ) WHERE vr = 1
        |)
        |SELECT e.label AS label, p.prediction, count(*) AS n
        |FROM pred p JOIN embeddings e ON e.vec_id = p.q_id
        |GROUP BY 1, 2
        |ORDER BY label, prediction""".stripMargin,
    "q48_stream_enrich" ->
      """SELECT n.n_name, count(*) AS n_events,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,
    // q49 reproduces the q46 pair set, then computes each doc's component as
    // the least id reachable through the pair graph (recursive CTE).
    "q49_dedup_clusters" ->
      s"""$ClosureCtes
        |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin,
    // q50's oracle runs the naive range-predicate join over epoch-day
    // points and the same derived 3-day windows.
    "q50_range_join" ->
      """WITH ev AS (
        |  SELECT datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d, value
        |  FROM events
        |), anchor AS (
        |  SELECT min(d) AS day0 FROM ev
        |), w AS (
        |  SELECT k::BIGINT AS w_id, day0 + 3 * k AS w_start, day0 + 3 * k + 3 AS w_end
        |  FROM anchor, range(0, 10) r(k)
        |)
        |SELECT w_id, count(*) AS n_events, round(avg(value) + 1e-9, 4) AS avg_value
        |FROM ev JOIN w ON ev.d >= w.w_start AND ev.d < w.w_end
        |GROUP BY w_id ORDER BY w_id""".stripMargin,
    // q51: identical Okapi BM25 formula with identical decimal literals;
    // DuckDB `ln` (its `log` is base-10). The trim-nonempty guard mirrors
    // tokens()'s empty-doc convention (regexp_split on '' yields ['']).
    "q51_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE trim(text) <> ''
        |), dl AS (
        |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN ('join', 'window', 'stream') GROUP BY doc_id, term
        |), tdf AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), corpus AS (
        |  SELECT (SELECT count(*) FROM documents) AS n_docs,
        |         (SELECT avg(dl) FROM dl) AS avgdl
        |), scored AS (
        |  SELECT tf.doc_id,
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1)
        |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS score_t
        |  FROM tf JOIN tdf USING (term) JOIN dl ON tf.doc_id = dl.doc_id, corpus
        |)
        |SELECT doc_id, round(sum(score_t) + 1e-9, 4) AS score,
        |  count(*) AS n_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    "q52_top_per_group" ->
      """WITH scored AS (
        |  SELECT n.n_name, o.o_orderkey, o.o_totalprice,
        |    row_number() OVER (
        |      PARTITION BY n.n_name
        |      ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rank
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |)
        |SELECT n_name, rank, o_orderkey,
        |  round(o_totalprice + 1e-9, 2) AS o_totalprice
        |FROM scored WHERE rank <= 3
        |ORDER BY n_name, rank""".stripMargin,
    "q53_rule_metrics" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type, avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), led AS (
        |  SELECT d, event_type, v,
        |    lead(v, 1) OVER (PARTITION BY event_type ORDER BY d) AS nv
        |  FROM daily
        |), items AS (
        |  SELECT d, event_type || '_' ||
        |    CASE WHEN nv > v * 1.05 THEN 'up'
        |         WHEN nv < v * 0.95 THEN 'down'
        |         ELSE 'flat' END AS item
        |  FROM led WHERE nv IS NOT NULL
        |), n AS (SELECT count(DISTINCT d) AS n FROM items
        |), item_counts AS (
        |  SELECT item, count(*) AS cnt FROM items GROUP BY 1
        |), pair_counts AS (
        |  SELECT a.item AS item1, b.item AS item2, count(*) AS support_count
        |  FROM items a JOIN items b ON a.d = b.d AND a.item < b.item
        |  GROUP BY 1, 2
        |  HAVING count(*) >= ceil(0.15 * (SELECT n FROM n))
        |), directed AS (
        |  SELECT item1 AS antecedent, item2 AS consequent, support_count FROM pair_counts
        |  UNION ALL
        |  SELECT item2, item1, support_count FROM pair_counts
        |)
        |SELECT d.antecedent, d.consequent, d.support_count,
        |  round(d.support_count / CAST(ia.cnt AS DOUBLE) + 1e-9, 4) AS confidence,
        |  round((d.support_count / CAST(ia.cnt AS DOUBLE))
        |    / (ic.cnt / CAST((SELECT n FROM n) AS DOUBLE)) + 1e-9, 4) AS lift,
        |  round(d.support_count / CAST((SELECT n FROM n) AS DOUBLE) + 1e-9, 4) AS support
        |FROM directed d
        |JOIN item_counts ia ON d.antecedent = ia.item
        |JOIN item_counts ic ON d.consequent = ic.item
        |WHERE d.support_count / CAST(ia.cnt AS DOUBLE) >= 0.6
        |ORDER BY antecedent, consequent""".stripMargin,
    "q54_forecast_metrics" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type,
        |    CAST(count(*) AS DOUBLE) AS label
        |  FROM events GROUP BY 1, 2
        |), preds AS (
        |  SELECT event_type, label,
        |    avg(label) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS pred
        |  FROM daily
        |)
        |SELECT event_type, count(*) AS n,
        |  round(sqrt(avg((label - pred) * (label - pred))) + 1e-9, 4) AS rmse,
        |  round(avg(abs(label - pred)) + 1e-9, 4) AS mae,
        |  round(1.0 - sum((label - pred) * (label - pred))
        |    / (sum(label * label) - sum(label) * sum(label) / count(*)) + 1e-9, 4) AS r2,
        |  round(sum(CASE WHEN label <> 0 THEN abs((label - pred) / label) END)
        |    / count(CASE WHEN label <> 0 THEN 1 END) * 100 + 1e-9, 4) AS mape
        |FROM preds WHERE pred IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q55_roc_auc" ->
      """WITH scored AS (
        |  SELECT round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        |      ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], lower(t))))
        |        / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END + 1e-9, 2) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
        |  FROM documents
        |), by_score AS (
        |  -- CAST: DuckDB sum(INT) is HUGEINT, which pandas converts to
        |  -- float64 — the driver's exact-hash compare then sees 5.0 vs
        |  -- Spark's int64 5 (the r2 q55 hash mismatch). BIGINT keeps int64.
        |  SELECT score AS thr, CAST(sum(is_en) AS BIGINT) AS pos,
        |    CAST(sum(1 - is_en) AS BIGINT) AS neg
        |  FROM scored GROUP BY 1
        |), cum AS (
        |  SELECT thr, pos, neg,
        |    sum(pos) OVER (ORDER BY thr DESC)
        |      / CAST((SELECT sum(pos) FROM by_score) AS DOUBLE) AS tpr,
        |    sum(neg) OVER (ORDER BY thr DESC)
        |      / CAST((SELECT sum(neg) FROM by_score) AS DOUBLE) AS fpr
        |  FROM by_score
        |), curve AS (
        |  SELECT thr, pos, neg, tpr, fpr,
        |    (fpr - coalesce(lag(fpr) OVER (ORDER BY thr DESC), 0))
        |      * (tpr + coalesce(lag(tpr) OVER (ORDER BY thr DESC), 0)) / 2 AS darea
        |  FROM cum
        |)
        |SELECT thr, pos, neg,
        |  round(tpr + 1e-9, 6) AS tpr,
        |  round(fpr + 1e-9, 6) AS fpr,
        |  round(sum(darea) OVER (ORDER BY thr DESC) + 1e-9, 6) AS auc_cum
        |FROM curve ORDER BY thr DESC""".stripMargin,
    "q56_stream_join" ->
      """WITH p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts, event_id
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts, event_id
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.event_id AS p_id, count(*) AS n_clicks,
        |  max(c.event_id) AS last_click_id
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        |  AND c.c_ts <= p.p_ts
        |GROUP BY p.event_id
        |ORDER BY p_id""".stripMargin,
    "q57_heavy_shingles" ->
      """WITH nm AS (
        |  SELECT lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), s AS (
        |  SELECT unnest([substr(t, CAST(i AS INT), 5)
        |    for i in range(1, CAST(length(t) AS BIGINT) - 3)]) AS item
        |  FROM nm WHERE length(t) >= 5
        |), tot AS (SELECT count(*) AS n FROM s)
        |SELECT item, count(*) AS cnt
        |FROM s GROUP BY item
        |HAVING count(*) >= ceil(0.003 * (SELECT n FROM tot))
        |ORDER BY cnt DESC, item""".stripMargin,
    "q58_salted_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_events,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 4) AS DOUBLE) AS value_sum
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin,
    "q59_quantized_knn" ->
      """WITH params AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    list_min(embedding::DOUBLE[]) AS mn,
        |    greatest((list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])) / 255.0,
        |      1e-12) AS sc
        |  FROM embeddings
        |), deq AS (
        |  SELECT vec_id,
        |    list_transform(
        |      list_transform(e, x -> CAST(round((x - mn) / sc + 1e-9, 0) AS INT)),
        |      c -> c * sc + mn) AS v
        |  FROM params
        |), q AS (
        |  SELECT vec_id AS q_id, v AS qv FROM deq WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.q_id, c.vec_id AS c_id,
        |    list_dot_product(q.qv, c.v)
        |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM q, deq c
        |  WHERE q.q_id != c.vec_id
        |), ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT q_id, c_id, round(sim + 1e-9, 6) AS sim, rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,
    "q60_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 AND ts <= t1 + INTERVAL 4 HOUR
        |  GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 AND ts <= t2 + INTERVAL 48 HOUR
        |  GROUP BY 1
        |)
        |SELECT 'S1_view' AS stage, count(*) AS users FROM s1
        |UNION ALL SELECT 'S2_click_4h', count(*) FROM s2
        |UNION ALL SELECT 'S3_purchase_48h', count(*) FROM s3
        |ORDER BY stage""".stripMargin,
    "q61_retention" ->
      """WITH first AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1
        |), act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT cohort_day, (d - cohort_day) // 7 AS offset_w,
        |  count(DISTINCT user_id) AS users
        |FROM act JOIN first USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_day, offset_w""".stripMargin,
    "q62_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> ''
        |), vocab AS (
        |  SELECT w, count(*) AS c FROM tok GROUP BY 1
        |), tot AS (
        |  SELECT sum(c) AS n_total FROM vocab
        |), docsur AS (
        |  SELECT doc_id, lang, avg(-ln(c / n_total)) AS sur
        |  FROM tok JOIN vocab USING (w), tot
        |  GROUP BY 1, 2
        |)
        |SELECT lang, count(*) AS n_docs, round(avg(sur) + 1e-9, 4) AS avg_surprisal
        |FROM docsur GROUP BY 1 ORDER BY lang""".stripMargin,
    "q63_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS g
        |  FROM tok, unnest(range(1, len(toks) - 1)) t(i)
        |), bench AS (
        |  SELECT doc_id AS bench_doc, g FROM grams WHERE doc_id % 50 = 0
        |), corp AS (
        |  SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0
        |)
        |SELECT bench_doc, count(DISTINCT corp.doc_id) AS n_contaminated,
        |  count(DISTINCT g) AS n_shared_grams
        |FROM bench JOIN corp USING (g)
        |GROUP BY 1 ORDER BY bench_doc""".stripMargin,
    "q64_stream_sliding" ->
      """SELECT CAST(ts AS DATE) - CAST(k AS INT) AS window_day, event_type,
        |  count(*) AS n
        |FROM events, range(0, 7) t(k)
        |GROUP BY 1, 2
        |ORDER BY window_day, event_type""".stripMargin,
    "q65_hash_split" ->
      """WITH b AS (
        |  SELECT lang,
        |    (CAST((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT)
        |      * 100) >> 32 AS bucket
        |  FROM documents
        |)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  lang, count(*) AS n
        |FROM b GROUP BY 1, 2
        |ORDER BY split, lang""".stripMargin,
    "q66_embedding_centroids" ->
      """SELECT label, count(*) AS n,
        |  round(avg(CAST(embedding[1] AS DOUBLE)) + 1e-9, 6) AS c0,
        |  round(avg(CAST(embedding[2] AS DOUBLE)) + 1e-9, 6) AS c1,
        |  round(avg(CAST(embedding[3] AS DOUBLE)) + 1e-9, 6) AS c2,
        |  round(avg(CAST(embedding[4] AS DOUBLE)) + 1e-9, 6) AS c3
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin,
    "q67_stream_trends" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), lagged AS (
        |  SELECT event_type, day, v,
        |    lag(v) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM daily
        |)
        |SELECT day, event_type,
        |  CASE WHEN v > prev * 1.05 THEN 'up'
        |       WHEN v < prev * 0.95 THEN 'down'
        |       ELSE 'flat' END AS trend
        |FROM lagged WHERE prev IS NOT NULL
        |ORDER BY day, event_type""".stripMargin,
    "q68_deterministic_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (
        |      PARTITION BY lang
        |      ORDER BY (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296,
        |        doc_id) AS rank
        |  FROM documents
        |)
        |SELECT lang, CAST(rank AS INT) AS rank, doc_id
        |FROM r WHERE rank <= 20
        |ORDER BY lang, rank""".stripMargin,
    "q69_expectations" ->
      """WITH s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
        |    CAST(sum(CASE WHEN value IS NOT NULL
        |      AND (value < 0.0 OR value > 100.0) THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN event_type IS NOT NULL
        |      AND event_type NOT IN ('click','view','purchase') THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |    CAST(sum(CASE WHEN props IS NOT NULL
        |      AND NOT regexp_full_match(props, '\{"k": [0-9]+\}') THEN 1 ELSE 0 END) AS BIGINT) AS c4
        |  FROM events
        |)
        |SELECT * FROM (
        |  SELECT 0 AS ord, 'not_null' AS "constraint", 'user_id' AS "column",
        |    c0 AS violations, n AS n_rows, c0 = 0 AS passed FROM s
        |  UNION ALL
        |  SELECT 1, 'unique', 'event_id',
        |    (n - nn1 - c1) + greatest(nn1 - 1, 0), n,
        |    (n - nn1 - c1) + greatest(nn1 - 1, 0) = 0 FROM s
        |  UNION ALL
        |  SELECT 2, 'in_range', 'value', c2, n, c2 = 0 FROM s
        |  UNION ALL
        |  SELECT 3, 'in_set', 'event_type', c3, n, c3 = 0 FROM s
        |  UNION ALL
        |  SELECT 4, 'matches', 'props', c4, n, c4 = 0 FROM s
        |)
        |ORDER BY ord""".stripMargin,
    "q70_quality_deciles" ->
      s"""WITH scored AS (
        |  SELECT doc_id, n_chars,
        |    ${qualitySqlExpr("text")} AS q
        |  FROM documents
        |), cuts AS (
        |  SELECT quantile_cont(q, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cs FROM scored
        |)
        |SELECT CAST(1 + len(list_filter(cs, c -> c < q)) AS INT) AS decile,
        |  count(*) AS n_docs,
        |  round(avg(q) + 1e-9, 6) AS avg_quality,
        |  round(avg(n_chars) + 1e-9, 2) AS avg_chars
        |FROM scored, cuts
        |GROUP BY 1
        |ORDER BY decile""".stripMargin,
    "q71_doc_chunks" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''
        |), st AS (
        |  SELECT doc_id, toks, CAST(i AS INT) AS start
        |  FROM tok, unnest(range(1, greatest(len(toks) - (32 - 24), 1) + 1, 24)) t(i)
        |)
        |SELECT doc_id, start,
        |  CAST(least(32, len(toks) - start + 1) AS INT) AS n_tok,
        |  md5(array_to_string(toks[start:start + 31], ' ')) AS chunk_md5
        |FROM st
        |ORDER BY doc_id, start""".stripMargin,
    "q72_ewma" ->
      // Mirrors WindowOps.ewma's overflow-safe recursion s_t = x_t + r*s_{t-1},
      // w_t = 1 + r*w_{t-1} step for step (same double ops in the same order).
      // The earlier closed-form pow(0.7, -i) oracle overflows to Inf near row
      // ~2000 per series — the exact failure the Spark side was rewritten to
      // avoid — so the oracle now runs the same stable recursion via a
      // recursive CTE advancing one row number per iteration within each series.
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), idx AS (
        |  SELECT event_type, day, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM daily
        |), rec AS (
        |  -- the seed fixes the CTE's column types: an uncast 1.0 makes w a
        |  -- DECIMAL(2,1) and every iteration's weight silently rounds to 1dp
        |  SELECT event_type, day, i, v AS s, CAST(1.0 AS DOUBLE) AS w
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.day, idx.i,
        |    idx.v + 0.7 * rec.s, 1.0 + 0.7 * rec.w
        |  FROM idx JOIN rec ON idx.event_type = rec.event_type AND idx.i = rec.i + 1
        |)
        |SELECT event_type, day, round(s / w + 1e-9, 4) AS ewma
        |FROM rec ORDER BY event_type, day""".stripMargin,
    "q73_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase'
        |), t0 AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tts, event_type AS channel,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
        |      ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type <> 'purchase'
        |), tch AS (SELECT user_id, tts, channel FROM t0 WHERE rn = 1),
        |lt AS (
        |  SELECT 'last_touch' AS model,
        |    coalesce(tch.channel, 'none') AS channel,
        |    (CAST(floor(epoch(p.ts)) AS BIGINT)
        |      - CAST(floor(epoch(tch.tts)) AS BIGINT)) / 60.0 AS gap_min
        |  FROM p ASOF LEFT JOIN tch ON p.user_id = tch.user_id AND p.ts >= tch.tts
        |), fe AS (
        |  SELECT user_id, tts AS fts, channel AS fchannel,
        |    row_number() OVER (PARTITION BY user_id ORDER BY tts) AS rn
        |  FROM tch
        |), f1 AS (SELECT user_id, fts, fchannel FROM fe WHERE rn = 1),
        |ft AS (
        |  SELECT 'first_touch' AS model,
        |    CASE WHEN f1.fts IS NOT NULL AND f1.fts <= p.ts
        |         THEN f1.fchannel ELSE 'none' END AS channel,
        |    CASE WHEN f1.fts IS NOT NULL AND f1.fts <= p.ts
        |         THEN (CAST(floor(epoch(p.ts)) AS BIGINT)
        |           - CAST(floor(epoch(f1.fts)) AS BIGINT)) / 60.0 END AS gap_min
        |  FROM p LEFT JOIN f1 ON p.user_id = f1.user_id
        |)
        |SELECT model, channel, count(*) AS n,
        |  round(avg(gap_min) + 1e-9, 2) AS avg_gap_min
        |FROM (SELECT * FROM lt UNION ALL SELECT * FROM ft)
        |GROUP BY model, channel
        |ORDER BY model, channel""".stripMargin,
    "q74_rolling_corr" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1
        |)
        |SELECT day, CAST(clicks AS BIGINT) AS clicks,
        |  CAST(purchases AS BIGINT) AS purchases,
        |  round(corr(clicks, purchases) OVER (ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS corr_14d
        |FROM daily
        |ORDER BY day""".stripMargin,
    "q75_key_skew" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  count(*) AS n_keys,
        |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c) + 1e-9, 4) AS entropy,
        |  round(sum(c * c) / (sum(c) * sum(c)) + 1e-9, 6) AS hhi,
        |  round(max(c) / CAST(sum(c) AS DOUBLE) + 1e-9, 6) AS top_share
        |FROM c
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q76_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events
        |), lagged AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) = event_type
        |    THEN 0 ELSE 1 END AS chg
        |  FROM e
        |), seg AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS s
        |  FROM lagged
        |), packed AS (
        |  SELECT user_id, s, min(event_type) AS state, min(ts) AS valid_from,
        |    max(ts) AS last_seen, CAST(count(*) AS BIGINT) AS n_events
        |  FROM seg GROUP BY user_id, s
        |)
        |SELECT user_id, state, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
        |  last_seen, n_events
        |FROM packed
        |ORDER BY user_id, valid_from""".stripMargin,
    "q77_cumulative_users" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
        |), npd AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY 1
        |), d AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        |)
        |SELECT d.day, coalesce(new_users, 0) AS new_users,
        |  CAST(sum(coalesce(new_users, 0)) OVER (ORDER BY d.day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM d LEFT JOIN npd ON d.day = npd.day
        |ORDER BY d.day""".stripMargin,
    "q78_snapshot_diff" ->
      """WITH o AS (
        |  SELECT * FROM documents WHERE doc_id % 17 <> 3
        |), n AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 23 = 7 THEN upper(text) ELSE text END AS text,
        |    lang, source, n_chars
        |  FROM documents WHERE doc_id % 19 <> 5
        |), d AS (
        |  SELECT CASE
        |    WHEN o.doc_id IS NULL THEN 'added'
        |    WHEN n.doc_id IS NULL THEN 'removed'
        |    WHEN o.text IS NOT DISTINCT FROM n.text
        |      AND o.lang IS NOT DISTINCT FROM n.lang
        |      AND o.source IS NOT DISTINCT FROM n.source
        |      AND o.n_chars IS NOT DISTINCT FROM n.n_chars THEN 'unchanged'
        |    ELSE 'changed' END AS change_type
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |)
        |SELECT change_type, count(*) AS n
        |FROM d GROUP BY 1 ORDER BY change_type""".stripMargin,
    "q79_histogram" ->
      """WITH v AS (
        |  SELECT value FROM events WHERE value IS NOT NULL
        |), s AS (
        |  SELECT min(value) AS mn, max(value) AS mx FROM v
        |)
        |SELECT CAST(least(floor((value - mn) / ((mx - mn) / 20)), 19) AS INT) AS bin,
        |  round(mn + CAST(least(floor((value - mn) / ((mx - mn) / 20)), 19) AS INT)
        |    * ((mx - mn) / 20) + 1e-9, 4) AS lo,
        |  round(mn + (CAST(least(floor((value - mn) / ((mx - mn) / 20)), 19) AS INT) + 1)
        |    * ((mx - mn) / 20) + 1e-9, 4) AS hi,
        |  count(*) AS n
        |FROM v, s
        |GROUP BY 1, 2, 3
        |ORDER BY bin""".stripMargin,
    "q80_melt" ->
      """WITH agg AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type,
        |    round(avg(value) + 1e-9, 4) AS avg_value
        |  FROM events GROUP BY 1, 2
        |), days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
        |types AS (
        |  SELECT unnest(['click','error','purchase','signup','view']) AS event_type
        |)
        |SELECT days.d, types.event_type, agg.avg_value
        |FROM days CROSS JOIN types
        |LEFT JOIN agg ON agg.d = days.d AND agg.event_type = types.event_type
        |ORDER BY days.d, types.event_type""".stripMargin,
    "q81_stream_dedup_counts" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT day, event_type, n
        |FROM daily, mx
        |WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |ORDER BY day, event_type""".stripMargin,
    "q82_group_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5) + 1e-9, 4) AS p50,
        |  round(quantile_cont(value, 0.9) + 1e-9, 4) AS p90,
        |  round(quantile_cont(value, 0.99) + 1e-9, 4) AS p99
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q83_vocab_build" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE trim(text) <> ''
        |), counts AS (
        |  SELECT token, count(*) AS n FROM tok GROUP BY 1
        |), ranked AS (
        |  SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
        |  FROM counts
        |)
        |SELECT CAST(token_id AS INT) AS token_id, token, n
        |FROM ranked WHERE token_id < 1000
        |ORDER BY token_id""".stripMargin,
    "q84_transitions" ->
      """WITH ordered AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |  FROM events
        |), pairs AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM ordered WHERE prev_type IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT prev_type, next_type, n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) + 1e-9, 6) AS p
        |FROM pairs
        |ORDER BY prev_type, next_type""".stripMargin,
    "q85_outlier_fence" ->
      """WITH f AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1
        |), fences AS (
        |  SELECT event_type, q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
        |  FROM f
        |)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN e.value < lo OR e.value > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  round(min(lo) + 1e-9, 4) AS fence_lo,
        |  round(min(hi) + 1e-9, 4) AS fence_hi
        |FROM events e JOIN fences USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q86_canonical_selection" ->
      s"""$ClosureCtes, scored AS (
        |  SELECT doc_id,
        |    ${qualitySqlExpr("text")} AS q
        |  FROM documents
        |), ranked AS (
        |  SELECT comp.component, comp.doc_id, scored.q,
        |    row_number() OVER (PARTITION BY comp.component
        |      ORDER BY scored.q DESC, comp.doc_id) AS rn
        |  FROM comp JOIN scored ON comp.doc_id = scored.doc_id
        |)
        |SELECT component,
        |  min(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
        |  count(*) AS n_members,
        |  round(max(q) + 1e-9, 6) AS best_quality
        |FROM ranked
        |GROUP BY component
        |ORDER BY component""".stripMargin,
    "q87_incremental_rollup" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value) / count(*) + 1e-9, 4) AS avg_value,
        |  round(min(value) + 1e-9, 4) AS min_value,
        |  round(max(value) + 1e-9, 4) AS max_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q88_zipf_fit" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE trim(text) <> ''
        |), counts AS (
        |  SELECT token, count(*) AS n FROM tok GROUP BY 1
        |), ranked AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
        |  FROM counts
        |), pts AS (
        |  SELECT ln(token_id + 1) AS lr, ln(CAST(n AS DOUBLE)) AS lf
        |  FROM ranked WHERE token_id < 1000
        |)
        |SELECT count(*) AS n_points,
        |  round(regr_slope(lf, lr) + 1e-9, 6) AS slope,
        |  round(regr_intercept(lf, lr) + 1e-9, 6) AS intercept,
        |  round(regr_r2(lf, lr) + 1e-9, 6) AS r2
        |FROM pts""".stripMargin,
    "q89_json_stats" ->
      """WITH p AS (
        |  SELECT event_type,
        |    -- json_type guard mirrors from_json's STRICT typing: a quoted
        |    -- "12" or a float is null on the Spark side, and DuckDB's bare
        |    -- TRY_CAST would happily parse the quoted form
        |    CASE WHEN json_type(TRY_CAST(props AS JSON), '$.k')
        |           IN ('BIGINT', 'UBIGINT', 'INTEGER')
        |         THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END AS k
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nulls,
        |  CAST(count(DISTINCT k) AS BIGINT) AS k_distinct,
        |  min(k) AS k_min, max(k) AS k_max,
        |  round(avg(k) + 1e-9, 4) AS k_avg
        |FROM p
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q90_corpus_profile" ->
      raw"""WITH d AS (
        |  SELECT source, lang,
        |    ${qualitySqlExpr("text")} AS q,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
        |    CASE WHEN trim(text) = '' THEN 1 ELSE 0 END AS empty
        |  FROM documents
        |), base AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    round(avg(q) + 1e-9, 6) AS avg_quality,
        |    CAST(sum(toks) AS BIGINT) AS total_tokens,
        |    round(quantile_cont(toks, 0.5) + 1e-9, 1) AS median_tokens,
        |    CAST(sum(empty) AS BIGINT) AS n_empty
        |  FROM d GROUP BY source
        |), lc AS (
        |  SELECT source, lang, count(*) AS c FROM d GROUP BY 1, 2
        |), le AS (
        |  SELECT source,
        |    round(ln(sum(c)) - sum(c * ln(c)) / sum(c) + 1e-9, 4) AS lang_entropy
        |  FROM lc GROUP BY source
        |)
        |SELECT base.*, le.lang_entropy
        |FROM base JOIN le USING (source)
        |ORDER BY source""".stripMargin,
    "q91_anomaly_days" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), orded AS (
        |  SELECT *, datediff('day', DATE '1970-01-01', day) AS day_ord FROM daily
        |), scored AS (
        |  SELECT event_type, day, n,
        |    avg(n) OVER w AS m, stddev_samp(n) OVER w AS sd
        |  FROM orded
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day_ord
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, day, n,
        |  round((n - m) / sd + 1e-9, 4) AS z,
        |  abs((n - m) / sd) > 2.0 AS is_anomaly
        |FROM scored
        |WHERE sd IS NOT NULL AND sd > 0
        |ORDER BY event_type, day""".stripMargin,
    "q92_set_ops" ->
      """WITH never AS (
        |  SELECT o_custkey FROM orders
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |), both_rel AS (
        |  SELECT o_custkey FROM orders
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |), tagged AS (
        |  SELECT 'never_urgent' AS relation, o_custkey FROM never
        |  UNION ALL
        |  SELECT 'ordered_urgent', o_custkey FROM both_rel
        |)
        |SELECT relation, count(*) AS n_customers,
        |  CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
        |FROM tagged
        |GROUP BY relation
        |ORDER BY relation""".stripMargin,
    "q93_dedup_burden" ->
      s"""$ClosureCtes
        |SELECT docs.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN comp.component IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clustered,
        |  CAST(count(DISTINCT comp.component) AS BIGINT) AS n_clusters,
        |  CAST(sum(CASE WHEN comp.component IS NOT NULL THEN 1 ELSE 0 END)
        |    - count(DISTINCT comp.component) AS BIGINT) AS n_droppable
        |FROM documents docs LEFT JOIN comp ON docs.doc_id = comp.doc_id
        |GROUP BY docs.source
        |ORDER BY docs.source""".stripMargin,
    "q94_user_features" ->
      """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events),
        |f AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_active,
        |    round(avg(value) + 1e-9, 4) AS avg_value,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_purchases,
        |    max(CAST(ts AS TIMESTAMP)) AS last_ts
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, n_events, n_types, days_active, avg_value, n_purchases,
        |  round((CAST(floor(epoch(max_ts)) AS BIGINT)
        |    - CAST(floor(epoch(last_ts)) AS BIGINT)) / 86400.0 + 1e-9, 4) AS recency_days
        |FROM f, mx
        |WHERE user_id < 200
        |ORDER BY user_id""".stripMargin,
    "q95_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2
        |), lagged AS (
        |  SELECT event_type, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM daily
        |)
        |SELECT event_type, count(*) AS n_pairs,
        |  round(corr(n, prev) + 1e-9, 6) AS acf1
        |FROM lagged WHERE prev IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q96_session_stats" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR epoch(ts - prev) > 1800.0 THEN 1 ELSE 0 END AS brk
        |  FROM lagged
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged
        |), per_session AS (
        |  SELECT user_id, sess_id, count(*) AS n_ev,
        |    CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT)
        |      - CAST(floor(epoch(min(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS dur_s
        |  FROM sess GROUP BY user_id, sess_id
        |)
        |SELECT count(*) AS n_sessions,
        |  round(avg(n_ev) + 1e-9, 4) AS avg_events,
        |  round(quantile_cont(n_ev, 0.5) + 1e-9, 1) AS median_events,
        |  max(n_ev) AS max_events,
        |  round(avg(dur_s) / 60.0 + 1e-9, 4) AS avg_duration_min
        |FROM per_session""".stripMargin,
    "q97_weekday_profile" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, CAST(isodow(day) AS INT) AS dow,
        |  count(*) AS n_days,
        |  round(avg(n) + 1e-9, 4) AS avg_volume
        |FROM daily
        |GROUP BY 1, 2
        |ORDER BY event_type, dow""".stripMargin,
    "q98_containment_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, lang, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)])
        |    END AS s
        |  FROM d
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE AS i,
        |    len(a.s) AS na, len(b.s) AS nb
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b,
        |  round(greatest(i / na, i / nb) + 1e-9, 6) AS containment,
        |  CASE WHEN na <= nb THEN id_a ELSE id_b END AS contained_id
        |FROM p
        |WHERE greatest(i / na, i / nb) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    "q99_repetition_stats" ->
      """WITH d AS (
        |  SELECT lang,
        |    1.0 - len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))::DOUBLE
        |      / len(regexp_split_to_array(trim(lower(text)), '\s+')) AS rep
        |  FROM documents WHERE trim(text) <> ''
        |)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(rep) + 1e-9, 6) AS avg_repetition,
        |  round(avg(CASE WHEN rep > 0.3 THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
        |    AS frac_repetitive
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q100_quality_filter" ->
      """WITH d AS (
        |  SELECT lang,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |    (length(text) - length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')))
        |      / CAST(length(text) AS DOUBLE) AS punct,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], t)))
        |      AS stop_hits
        |  FROM documents WHERE trim(text) <> ''
        |), v AS (
        |  SELECT lang,
        |    CASE
        |      WHEN len(toks) < 15 THEN 'too_short'
        |      WHEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks) > 0.3
        |        THEN 'too_repetitive'
        |      WHEN punct > 0.1 THEN 'too_symbolic'
        |      WHEN stop_hits = 0 THEN 'no_stopwords'
        |      ELSE 'kept' END AS verdict
        |  FROM d
        |)
        |SELECT lang, verdict, count(*) AS n
        |FROM v GROUP BY lang, verdict
        |ORDER BY lang, verdict""".stripMargin,
    "q101_corr_matrix" ->
      """WITH c AS (
        |  SELECT corr(l_quantity, l_extendedprice) AS qe,
        |    corr(l_quantity, l_discount) AS qd, corr(l_quantity, l_tax) AS qt,
        |    corr(l_extendedprice, l_discount) AS ed,
        |    corr(l_extendedprice, l_tax) AS et, corr(l_discount, l_tax) AS dt
        |  FROM lineitem
        |), long AS (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, qe AS v FROM c
        |  UNION ALL SELECT 'l_quantity', 'l_discount', qd FROM c
        |  UNION ALL SELECT 'l_quantity', 'l_tax', qt FROM c
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', ed FROM c
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', et FROM c
        |  UNION ALL SELECT 'l_discount', 'l_tax', dt FROM c
        |)
        |SELECT col_a, col_b, round(v + 1e-9, 6) AS corr
        |FROM long ORDER BY col_a, col_b""".stripMargin,
    "q102_chi_square" ->
      """WITH obs AS (
        |  SELECT o_orderpriority AS r, o_orderstatus AS c, count(*) AS o
        |  FROM orders GROUP BY 1, 2
        |), rt AS (SELECT r, sum(o) AS rtot FROM obs GROUP BY r),
        |ct AS (SELECT c, sum(o) AS ctot FROM obs GROUP BY c),
        |tot AS (SELECT sum(o) AS n FROM obs),
        |grid AS (
        |  SELECT rt.r, ct.c, rt.rtot, ct.ctot, tot.n,
        |    coalesce(obs.o, 0) AS o
        |  FROM rt CROSS JOIN ct CROSS JOIN tot
        |  LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c
        |), s AS (
        |  SELECT max(n) AS n, count(DISTINCT r) AS n_rows,
        |    count(DISTINCT c) AS n_cols,
        |    sum(pow(o - rtot * ctot / CAST(n AS DOUBLE), 2)
        |        / (rtot * ctot / CAST(n AS DOUBLE))) AS chi2
        |  FROM grid
        |)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_cols AS BIGINT) AS n_cols,
        |  CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
        |  round(chi2 + 1e-9, 6) AS chi2,
        |  round(sqrt(chi2 / (n * least(n_rows - 1, n_cols - 1))) + 1e-9, 6)
        |    AS cramers_v
        |FROM s""".stripMargin,
    "q103_ols_trend" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2
        |), xy AS (
        |  SELECT event_type,
        |    CAST(datediff('day', DATE '2024-01-01', day) AS DOUBLE) AS x, y
        |  FROM daily
        |), s AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
        |    sum(y * y) AS syy
        |  FROM xy GROUP BY event_type
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |    + 1e-9, 6) AS intercept,
        |  round(pow(n * sxy - sx * sy, 2)
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)) + 1e-9, 6) AS r2
        |FROM s ORDER BY event_type""".stripMargin,
    "q104_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type
        |), dev AS (
        |  SELECT e.event_type, e.value, m.med
        |  FROM events e JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM dev GROUP BY event_type
        |), z AS (
        |  SELECT d.event_type, d.med, m.mad,
        |    CASE WHEN m.mad <> 0
        |      THEN abs(d.value - d.med) * 0.6745 / m.mad END AS az
        |  FROM dev d JOIN mad m USING (event_type)
        |)
        |SELECT event_type, count(*) AS n, round(max(med) + 1e-9, 6) AS med,
        |  round(max(mad) + 1e-9, 6) AS mad,
        |  CAST(sum(CASE WHEN az > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  round(max(az) + 1e-9, 6) AS max_abs_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q105_type_entropy" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |    CAST(count(*) AS DOUBLE) AS cnt
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT day, CAST(sum(cnt) AS BIGINT) AS n_events,
        |  count(*) AS n_types,
        |  round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt) + 1e-9, 6)
        |    AS entropy,
        |  round(1.0 - sum(cnt * cnt) / (sum(cnt) * sum(cnt)) + 1e-9, 6)
        |    AS gini
        |FROM daily GROUP BY day ORDER BY day""".stripMargin,
    "q106_tfidf_terms" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, text FROM documents WHERE trim(text) <> ''
        |), tok AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM docs
        |), tf AS (
        |  SELECT lang, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |), df AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tok GROUP BY 1
        |), n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM docs),
        |scored AS (
        |  SELECT tf.lang, tf.term, tf.tf, df.df,
        |    tf.tf * ln(n.n_docs / df.df) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT lang, term, tf, df, score,
        |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, term)
        |      AS rank
        |  FROM scored
        |)
        |SELECT lang, CAST(rank AS INT) AS rank, term, tf, df,
        |  round(score + 1e-9, 6) AS score
        |FROM ranked WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,
    "q107_typo_variants" ->
      """WITH planted AS (
        |  SELECT text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' querry' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' filtr' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN ' merje' ELSE '' END AS text
        |  FROM documents WHERE trim(text) <> ''
        |), tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM planted
        |), vocab AS (
        |  SELECT term, count(*) AS n FROM tok
        |  WHERE regexp_matches(term, '^[a-z]{3,}$')
        |  GROUP BY 1 HAVING count(*) >= 5
        |), keyed AS (
        |  SELECT term, n,
        |    unnest(list_distinct(list_append(
        |      [substr(term, 1, i - 1) || substr(term, i + 1, length(term))
        |        FOR i IN range(1, length(term) + 1)],
        |      term))) AS key
        |  FROM vocab
        |), cand AS (
        |  SELECT DISTINCT a.term AS term_a, a.n AS n_a,
        |    b.term AS term_b, b.n AS n_b
        |  FROM keyed a JOIN keyed b
        |    ON a.key = b.key AND a.term < b.term
        |), verified AS (
        |  SELECT term_a, n_a, term_b, n_b,
        |    (n_a > n_b OR (n_a = n_b AND term_a < term_b)) AS a_first
        |  FROM cand WHERE levenshtein(term_a, term_b) = 1
        |)
        |SELECT
        |  CASE WHEN a_first THEN term_a ELSE term_b END AS canonical,
        |  CASE WHEN a_first THEN term_b ELSE term_a END AS variant,
        |  CAST(CASE WHEN a_first THEN n_a ELSE n_b END AS BIGINT) AS canon_n,
        |  CAST(CASE WHEN a_first THEN n_b ELSE n_a END AS BIGINT) AS var_n
        |FROM verified
        |ORDER BY canonical, variant""".stripMargin,
    "q108_langid_kappa" ->
      """WITH toks AS (
        |  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
        |), r AS (
        |  SELECT lang,
        |    len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_en,
        |    len(list_filter(tk, t -> list_contains(['der','die','das','und','ein','zu','mit','ist','auf','nicht'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_de,
        |    len(list_filter(tk, t -> list_contains(['el','la','que','y','en','un','por','con','los','una'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_es,
        |    len(list_filter(tk, t -> list_contains(['le','les','et','des','une','du','dans','est','pour','au'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_fr,
        |    len(list_filter(tk, t -> list_contains(['的','了','是','在','我','有','和','就','不','人'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_zh
        |  FROM toks
        |), conf AS (
        |  SELECT lang,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
        |         WHEN s_zh >= greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
        |         WHEN s_fr >= greatest(s_de, s_en, s_es) THEN 'fr'
        |         WHEN s_es >= greatest(s_de, s_en) THEN 'es'
        |         WHEN s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS predicted
        |  FROM r
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CASE WHEN lang = predicted THEN 1 ELSE 0 END) AS agree
        |  FROM conf
        |), rm AS (SELECT lang AS k, count(*) AS nr FROM conf GROUP BY 1),
        |cm AS (SELECT predicted AS k, count(*) AS nc FROM conf GROUP BY 1),
        |pe AS (SELECT sum(nr * nc) AS s FROM rm JOIN cm USING (k))
        |SELECT n,
        |  round(agree / CAST(n AS DOUBLE) + 1e-9, 6) AS po,
        |  round(s / CAST(n AS DOUBLE) / n + 1e-9, 6) AS pe,
        |  round((agree / CAST(n AS DOUBLE) - s / CAST(n AS DOUBLE) / n)
        |    / (1 - s / CAST(n AS DOUBLE) / n) + 1e-9, 6) AS kappa
        |FROM tot, pe""".stripMargin,
    "q109_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
        |  ship_year NULLS FIRST""".stripMargin,
    "q110_event_trigrams" ->
      """WITH seq AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |), tri AS (
        |  SELECT e1, e2, e3, count(*) AS n FROM seq
        |  WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
        |)
        |SELECT e1, e2, e3, n FROM tri
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,
    "q111_moment_stats" ->
      """WITH s AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(value) AS s1,
        |    sum(value * value) AS s2, sum(value * value * value) AS s3,
        |    sum(value * value * value * value) AS s4
        |  FROM events GROUP BY 1
        |), m AS (
        |  SELECT event_type, n, s1 / n AS mu,
        |    s2 / n - (s1 / n) * (s1 / n) AS m2,
        |    s3 / n - 3 * (s1 / n) * s2 / n
        |      + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |    s4 / n - 4 * (s1 / n) * s3 / n
        |      + 6 * (s1 / n) * (s1 / n) * s2 / n
        |      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        |  FROM s
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(mu + 1e-9, 4) AS mean, round(m2 + 1e-9, 4) AS variance,
        |  round(CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END + 1e-9, 6)
        |    AS skewness,
        |  round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 END + 1e-9, 6)
        |    AS kurtosis
        |FROM m ORDER BY event_type""".stripMargin,
    "q112_pagerank" ->
      """WITH ordered AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |  FROM events
        |), e AS (
        |  SELECT prev_type AS s, event_type AS d,
        |    CAST(count(*) AS DOUBLE) AS w
        |  FROM ordered WHERE prev_type IS NOT NULL GROUP BY 1, 2
        |), norm AS (
        |  SELECT s, d, w / sum(w) OVER (PARTITION BY s) AS w FROM e
        |), nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |p0 AS (SELECT node, 1.0 / nn.n AS p FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT norm.d AS node, sum(p0.p * norm.w) AS c
        |  FROM p0 JOIN norm ON norm.s = p0.node GROUP BY 1),
        |p1 AS (SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * coalesce(c1.c, 0) AS p
        |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node),
        |c2 AS (SELECT norm.d AS node, sum(p1.p * norm.w) AS c
        |  FROM p1 JOIN norm ON norm.s = p1.node GROUP BY 1),
        |p2 AS (SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * coalesce(c2.c, 0) AS p
        |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node),
        |c3 AS (SELECT norm.d AS node, sum(p2.p * norm.w) AS c
        |  FROM p2 JOIN norm ON norm.s = p2.node GROUP BY 1),
        |p3 AS (SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * coalesce(c3.c, 0) AS p
        |  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.node = nodes.node),
        |c4 AS (SELECT norm.d AS node, sum(p3.p * norm.w) AS c
        |  FROM p3 JOIN norm ON norm.s = p3.node GROUP BY 1),
        |p4 AS (SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * coalesce(c4.c, 0) AS p
        |  FROM nodes CROSS JOIN nn LEFT JOIN c4 ON c4.node = nodes.node),
        |c5 AS (SELECT norm.d AS node, sum(p4.p * norm.w) AS c
        |  FROM p4 JOIN norm ON norm.s = p4.node GROUP BY 1),
        |p5 AS (SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * coalesce(c5.c, 0) AS p
        |  FROM nodes CROSS JOIN nn LEFT JOIN c5 ON c5.node = nodes.node)
        |SELECT node, round(p + 1e-9, 6) AS pr FROM p5 ORDER BY node""".stripMargin,
    "q113_seasonal_decomp" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1
        |), detr AS (
        |  SELECT day, n,
        |    avg(n) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
        |    isodow(day) AS dow
        |  FROM daily
        |), det2 AS (SELECT day, n, trend, dow, n - trend AS detrended FROM detr),
        |seas AS (SELECT dow, avg(detrended) AS seasonal FROM det2 GROUP BY dow)
        |SELECT day, CAST(n AS BIGINT) AS n_events,
        |  round(trend + 1e-9, 4) AS trend,
        |  round(seasonal + 1e-9, 4) AS seasonal,
        |  round(n - trend - seasonal + 1e-9, 4) AS resid
        |FROM det2 JOIN seas USING (dow) ORDER BY day""".stripMargin,
    "q114_decile_migration" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN value ELSE 0 END) AS v1,
        |    sum(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
        |      THEN value ELSE 0 END) AS v2
        |  FROM events GROUP BY user_id
        |), ranked AS (
        |  SELECT ntile(10) OVER (ORDER BY v1 DESC, user_id) AS decile_p1,
        |    ntile(10) OVER (ORDER BY v2 DESC, user_id) AS decile_p2
        |  FROM pu
        |)
        |SELECT CAST(decile_p1 AS INT) AS decile_p1,
        |  CAST(decile_p2 AS INT) AS decile_p2, count(*) AS n_users
        |FROM ranked GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q115_calibration" ->
      """WITH scored AS (
        |  SELECT round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        |      ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], lower(t))))
        |        / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END + 1e-9, 2) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
        |  FROM documents
        |)
        |SELECT CAST(least(floor(score * 10 + 1e-9), 9) AS INT) AS bin,
        |  count(*) AS n,
        |  round(avg(score) + 1e-9, 6) AS avg_score,
        |  round(avg(is_en) + 1e-9, 6) AS pos_rate
        |FROM scored GROUP BY 1 ORDER BY bin""".stripMargin,
    "q116_psi_drift" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, value FROM events
        |), cuts AS (
        |  SELECT quantile_cont(value,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
        |  FROM ev WHERE day <= DATE '2024-01-15'
        |), binned AS (
        |  SELECT CAST(1 + len(list_filter(cs, c -> c < value)) AS INT) AS bin,
        |    CAST(sum(CASE WHEN day <= DATE '2024-01-15' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_p1,
        |    CAST(sum(CASE WHEN day > DATE '2024-01-15' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_p2
        |  FROM ev, cuts GROUP BY 1
        |), fr AS (
        |  SELECT bin, n_p1, n_p2,
        |    n_p1 / CAST(sum(n_p1) OVER () AS DOUBLE) AS p,
        |    n_p2 / CAST(sum(n_p2) OVER () AS DOUBLE) AS q
        |  FROM binned
        |)
        |SELECT bin, n_p1, n_p2,
        |  round(p + 1e-9, 6) AS frac_p1,
        |  round(q + 1e-9, 6) AS frac_p2,
        |  round(CASE WHEN p > 0 AND q > 0 THEN (p - q) * ln(p / q) END
        |    + 1e-9, 6) AS psi_term
        |FROM fr ORDER BY bin""".stripMargin,
    "q117_bigram_surprisal" ->
      """WITH toked AS (
        |  SELECT doc_id, lang,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''
        |), t2 AS (SELECT * FROM toked WHERE len(tk) >= 2),
        |uni AS (
        |  SELECT w1, count(*) AS c1
        |  FROM (SELECT unnest(tk) AS w1 FROM t2) GROUP BY 1
        |), v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        |bgf AS (
        |  SELECT doc_id, lang, z[1] AS w1, z[2] AS w2
        |  FROM (
        |    SELECT doc_id, lang,
        |      unnest(list_zip(tk[1:len(tk) - 1], tk[2:len(tk)])) AS z
        |    FROM t2
        |  )
        |), c2 AS (SELECT w1, w2, count(*) AS c2 FROM bgf GROUP BY 1, 2),
        |perdoc AS (
        |  SELECT bgf.doc_id, bgf.lang,
        |    avg(-log2((c2.c2 + 1) / (uni.c1 + v.v))) AS m
        |  FROM bgf JOIN c2 USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        |  GROUP BY 1, 2
        |)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(m) + 1e-9, 6) AS avg_surprisal
        |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin,
    "q118_pareto_frontier" ->
      """WITH by_price AS (
        |  SELECT p_retailprice AS price, CAST(max(p_size) AS INT) AS best_size,
        |    count(*) AS n_parts
        |  FROM part GROUP BY 1
        |), flagged AS (
        |  SELECT price, best_size, n_parts,
        |    max(best_size) OVER (ORDER BY price DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM by_price
        |)
        |SELECT price, best_size, n_parts FROM flagged
        |WHERE prev_max IS NULL OR best_size > prev_max
        |ORDER BY price DESC""".stripMargin,
    "q119_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id
        |), armed AS (
        |  SELECT conv,
        |    CASE WHEN (CAST((CAST(user_id AS HUGEINT) * 2654435761)
        |        % 4294967296 AS BIGINT) * 100) >> 32 < 50
        |      THEN 'a' ELSE 'b' END AS arm
        |  FROM pu
        |), agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'a' THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(sum(CASE WHEN arm = 'b' THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM armed
        |), st AS (
        |  SELECT n_a, n_b,
        |    conv_a / CAST(n_a AS DOUBLE) AS p1,
        |    conv_b / CAST(n_b AS DOUBLE) AS p2,
        |    (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) AS pp
        |  FROM agg
        |)
        |SELECT n_a, n_b,
        |  round(p1 + 1e-9, 6) AS rate_a,
        |  round(p2 + 1e-9, 6) AS rate_b,
        |  round(CASE WHEN pp > 0 AND pp < 1 THEN
        |    (p1 - p2) / sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b)) END
        |    + 1e-9, 4) AS z,
        |  CASE WHEN pp > 0 AND pp < 1 THEN
        |    CAST(abs((p1 - p2)
        |      / sqrt(pp * (1 - pp) * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS INT)
        |  END AS significant
        |FROM st""".stripMargin,
    "q120_spend_gini" ->
      """WITH pu AS (
        |  SELECT user_id, sum(value) AS spend FROM events GROUP BY user_id
        |), ranked AS (
        |  SELECT spend,
        |    row_number() OVER (ORDER BY spend, user_id) AS i
        |  FROM pu
        |)
        |SELECT count(*) AS n_users,
        |  round(sum(spend) + 1e-9, 2) AS total_spend,
        |  round(2.0 * sum(i * spend) / (count(*) * sum(spend))
        |    - (count(*) + 1.0) / count(*) + 1e-9, 6) AS gini
        |FROM ranked""".stripMargin,
    "q121_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |    AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice > 0
        |), c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |f AS (
        |  SELECT digit, n, n / CAST(sum(n) OVER () AS DOUBLE) AS frac FROM c
        |)
        |SELECT digit, n, round(frac + 1e-9, 6) AS frac,
        |  round(log10(1 + 1.0 / digit) + 1e-9, 6) AS expected,
        |  round(frac - log10(1 + 1.0 / digit) + 1e-9, 6) AS deviation
        |FROM f ORDER BY digit""".stripMargin,
    "q122_rfm_segments" ->
      """WITH pu AS (
        |  SELECT user_id, max(CAST(ts AS TIMESTAMP)) AS last_ts,
        |    count(*) AS freq, sum(value) AS monetary
        |  FROM events GROUP BY user_id
        |), mx AS (SELECT max(last_ts) AS max_ts FROM pu),
        |rec AS (
        |  SELECT user_id, freq, monetary,
        |    (CAST(floor(epoch(max_ts)) AS BIGINT)
        |      - CAST(floor(epoch(last_ts)) AS BIGINT)) / 86400.0 AS recency_days
        |  FROM pu, mx
        |), scored AS (
        |  SELECT recency_days, freq, monetary,
        |    ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
        |    ntile(5) OVER (ORDER BY freq, user_id) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary, user_id) AS m_score
        |  FROM rec
        |)
        |SELECT CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS segment,
        |  count(*) AS n_users,
        |  round(avg(recency_days) + 1e-9, 4) AS avg_recency_days,
        |  round(avg(freq) + 1e-9, 4) AS avg_freq,
        |  round(avg(monetary) + 1e-9, 2) AS avg_monetary
        |FROM scored GROUP BY 1 ORDER BY segment""".stripMargin,
    "q123_readability" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
        |      AS words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS DOUBLE) AS sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |      AS syllables
        |  FROM documents WHERE trim(text) <> ''
        |)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(words / sentences) + 1e-9, 4) AS avg_words_per_sentence,
        |  round(avg(syllables / words) + 1e-9, 4) AS avg_syllables_per_word,
        |  round(avg(206.835 - 1.015 * (words / sentences)
        |    - 84.6 * (syllables / words)) + 1e-9, 4) AS avg_flesch
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q124_overlap_matrix" ->
      """WITH presence AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, count(*) AS sz FROM presence GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM presence a JOIN presence b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT type_a, type_b, sa.sz AS n_a, sb.sz AS n_b, n_both,
        |  round(n_both / CAST(least(sa.sz, sb.sz) AS DOUBLE) + 1e-9, 6)
        |    AS overlap,
        |  round(n_both / CAST(sa.sz + sb.sz - n_both AS DOUBLE) + 1e-9, 6)
        |    AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.event_type = pairs.type_a
        |JOIN sizes sb ON sb.event_type = pairs.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "q125_ks_drift" ->
      """WITH binned AS (
        |  SELECT CAST(floor(value * 10) AS BIGINT) AS bin,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM events GROUP BY 1
        |), e AS (
        |  SELECT
        |    sum(n1) OVER () AS t1, sum(n2) OVER () AS t2,
        |    abs(sum(n1) OVER (ORDER BY bin) / CAST(sum(n1) OVER () AS DOUBLE)
        |      - sum(n2) OVER (ORDER BY bin) / CAST(sum(n2) OVER () AS DOUBLE))
        |      AS d
        |  FROM binned
        |)
        |SELECT CAST(max(t1) AS BIGINT) AS n_p1, CAST(max(t2) AS BIGINT) AS n_p2,
        |  round(max(d) + 1e-9, 6) AS d_stat,
        |  round(1.358 * sqrt((max(t1) + max(t2))
        |    / CAST(max(t1) * max(t2) AS DOUBLE)) + 1e-9, 6) AS crit_05,
        |  CAST(max(d) > 1.358 * sqrt((max(t1) + max(t2))
        |    / CAST(max(t1) * max(t2) AS DOUBLE)) AS INT) AS drifted
        |FROM e""".stripMargin,
    "q126_holt_forecast" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2
        |), idx AS (
        |  SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM daily
        |), h AS (
        |  -- seed b must be DOUBLE: a bare 0.0 types as DECIMAL(2,1) and the
        |  -- recursive union then rounds the trend to one decimal per step
        |  SELECT event_type, i, y AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT d.event_type, d.i,
        |    0.3 * d.y + (1 - 0.3) * (h.l + h.b),
        |    0.2 * ((0.3 * d.y + (1 - 0.3) * (h.l + h.b)) - h.l)
        |      + (1 - 0.2) * h.b
        |  FROM h JOIN idx d ON d.event_type = h.event_type AND d.i = h.i + 1
        |), fin AS (SELECT event_type, max(i) AS n FROM h GROUP BY 1)
        |SELECT h.event_type, CAST(fin.n AS BIGINT) AS n_days,
        |  round(h.l + 1e-9, 4) AS level,
        |  round(h.b + 1e-9, 4) AS trend,
        |  round(h.l + 7.0 * h.b + 1e-9, 4) AS forecast_7d
        |FROM h JOIN fin ON h.event_type = fin.event_type AND h.i = fin.n
        |ORDER BY h.event_type""".stripMargin,
    "q127_cohort_ltv" ->
      """WITH fs AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY user_id
        |), cs AS (
        |  SELECT cohort_day, count(*) AS cohort_users FROM fs GROUP BY 1
        |), rev AS (
        |  SELECT f.cohort_day,
        |    CAST(floor(datediff('day', f.cohort_day, CAST(e.ts AS DATE))
        |      / 7.0) AS BIGINT) AS offset_w,
        |    sum(e.value) AS revenue
        |  FROM events e JOIN fs f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2
        |)
        |SELECT r.cohort_day, r.offset_w, cs.cohort_users,
        |  round(r.revenue + 1e-9, 2) AS revenue,
        |  round(sum(r.revenue) OVER (PARTITION BY r.cohort_day
        |      ORDER BY r.offset_w) / cs.cohort_users + 1e-9, 4)
        |    AS cum_ltv_per_user
        |FROM rev r JOIN cs USING (cohort_day)
        |ORDER BY cohort_day, offset_w""".stripMargin,
    "q128_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n,
        |    sum(value) AS sx, sum(value * value) AS sxx
        |  FROM events GROUP BY 1
        |), cum AS (
        |  SELECT day,
        |    sum(n) OVER (ORDER BY day) AS cn,
        |    sum(sx) OVER (ORDER BY day) AS cs,
        |    sum(sxx) OVER (ORDER BY day) AS css,
        |    sum(n) OVER () AS tn, sum(sx) OVER () AS ts,
        |    sum(sxx) OVER () AS tss
        |  FROM daily
        |), st AS (
        |  SELECT day, cn, tn,
        |    cs / cn AS m1, (ts - cs) / (tn - cn) AS m2,
        |    css / cn - (cs / cn) * (cs / cn) AS v1,
        |    (tss - css) / (tn - cn)
        |      - ((ts - cs) / (tn - cn)) * ((ts - cs) / (tn - cn)) AS v2
        |  FROM cum WHERE cn < tn
        |)
        |SELECT day AS change_day,
        |  round(abs(m1 - m2) / sqrt(v1 / cn + v2 / (tn - cn)) + 1e-9, 4)
        |    AS t_stat,
        |  round(m1 + 1e-9, 4) AS mean_before,
        |  round(m2 + 1e-9, 4) AS mean_after
        |FROM st
        |ORDER BY abs(m1 - m2) / sqrt(v1 / cn + v2 / (tn - cn)) DESC, change_day
        |LIMIT 1""".stripMargin,
    "q129_embedding_norms" ->
      """WITH n AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |)
        |SELECT label, count(*) AS n,
        |  round(avg(nrm) + 1e-9, 6) AS avg_norm,
        |  round(min(nrm) + 1e-9, 6) AS min_norm,
        |  round(max(nrm) + 1e-9, 6) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "q130_davies_bouldin" ->
      """WITH dims AS (
        |  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, range(1, 65) t(i)
        |), per_dim AS (
        |  SELECT label, dim, avg(x) AS c, avg(x * x) AS m2
        |  FROM dims GROUP BY 1, 2
        |), per_label AS (
        |  SELECT label,
        |    sqrt(greatest(sum(m2) - sum(c * c), 0)) AS scatter,
        |    sum(c * c) AS cn2
        |  FROM per_dim GROUP BY 1
        |), dots AS (
        |  SELECT a.label AS la, b.label AS lb, sum(a.c * b.c) AS dot
        |  FROM per_dim a JOIN per_dim b
        |    ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT la, lb,
        |    (pa.scatter + pb.scatter)
        |      / sqrt(greatest(pa.cn2 + pb.cn2 - 2 * dot, 0)) AS r
        |  FROM dots
        |  JOIN per_label pa ON pa.label = dots.la
        |  JOIN per_label pb ON pb.label = dots.lb
        |), ri AS (
        |  SELECT label, max(r) AS r_i FROM (
        |    SELECT la AS label, r FROM pairs
        |    UNION ALL SELECT lb, r FROM pairs
        |  ) GROUP BY 1
        |)
        |SELECT pl.label, round(pl.scatter + 1e-9, 6) AS scatter,
        |  round(ri.r_i + 1e-9, 6) AS r_i
        |FROM per_label pl JOIN ri ON ri.label = pl.label
        |ORDER BY pl.label""".stripMargin,
    "q131_gap_percentiles" ->
      """WITH lagged AS (
        |  SELECT event_type,
        |    epoch(CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
        |      OVER (PARTITION BY user_id
        |        ORDER BY CAST(ts AS TIMESTAMP), event_id)) AS gap_s
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(avg(gap_s) + 1e-9, 4) AS avg_gap_s,
        |  round(quantile_cont(gap_s, 0.5) + 1e-9, 4) AS p50_s,
        |  round(quantile_cont(gap_s, 0.9) + 1e-9, 4) AS p90_s,
        |  round(quantile_cont(gap_s, 0.99) + 1e-9, 4) AS p99_s
        |FROM lagged WHERE gap_s IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q132_mutual_information" ->
      """WITH joint AS (
        |  SELECT event_type AS x, isodow(CAST(ts AS DATE)) AS y,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM events GROUP BY 1, 2
        |), tot AS (SELECT sum(c) AS t FROM joint),
        |mx AS (SELECT x, sum(c) AS cx FROM joint GROUP BY 1),
        |my AS (SELECT y, sum(c) AS cy FROM joint GROUP BY 1),
        |mi AS (
        |  SELECT sum((j.c / tot.t)
        |    * ln(j.c * tot.t / (mx.cx * my.cy))) AS mi
        |  FROM joint j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
        |), hx AS (
        |  SELECT sum(-(cx / tot.t) * ln(cx / tot.t)) AS h FROM mx, tot
        |), hy AS (
        |  SELECT sum(-(cy / tot.t) * ln(cy / tot.t)) AS h FROM my, tot
        |)
        |SELECT CAST(tot.t AS BIGINT) AS n,
        |  round(mi.mi + 1e-9, 6) AS mi,
        |  round(hx.h + 1e-9, 6) AS h_x,
        |  round(hy.h + 1e-9, 6) AS h_y,
        |  round(mi.mi / sqrt(hx.h * hy.h) + 1e-9, 6) AS nmi
        |FROM tot, mi, hx, hy""".stripMargin,
    "q133_hash_uniformity" ->
      """WITH b AS (
        |  SELECT (CAST((CAST(event_id AS HUGEINT) * 2654435761)
        |    % 4294967296 AS BIGINT) * 100) >> 32 AS bucket
        |  FROM events
        |), o AS (SELECT bucket, count(*) AS o FROM b GROUP BY 1),
        |e AS (SELECT bucket, o, sum(o) OVER () / 100.0 AS e FROM o)
        |SELECT CAST(sum(o) AS BIGINT) AS n, count(*) AS n_buckets,
        |  min(o) AS min_bucket, max(o) AS max_bucket,
        |  round(sum(pow(o - e, 2) / e) + 1e-9, 4) AS chi2,
        |  CAST(round(sum(pow(o - e, 2) / e) + 1e-9, 4) < 123.225 AS INT)
        |    AS uniform_05
        |FROM e""".stripMargin,
    "q134_funnel_windowed" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |), t1 AS (
        |  SELECT user_id, min(us) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1
        |), t2 AS (
        |  SELECT e.user_id, min(e.us) AS t2
        |  FROM ev e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click'
        |    AND e.us > t1.t1 AND e.us <= t1.t1 + 86400000000
        |  GROUP BY 1
        |), t3 AS (
        |  SELECT e.user_id, min(e.us) AS t3
        |  FROM ev e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND e.us > t2.t2 AND e.us <= t2.t2 + 86400000000
        |  GROUP BY 1
        |), u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ev),
        |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_step1 FROM t1),
        |s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_step2 FROM t2),
        |s3 AS (SELECT CAST(count(*) AS BIGINT) AS n_step3 FROM t3)
        |SELECT n_users, n_step1, n_step2, n_step3,
        |  round(n_step2 / CAST(n_step1 AS DOUBLE) + 1e-9, 6) AS conv_1_2,
        |  round(n_step3 / CAST(n_step2 AS DOUBLE) + 1e-9, 6) AS conv_2_3
        |FROM u, s1, s2, s3""".stripMargin,
    "q135_shingle_novelty" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, lang, sh FROM (
        |    SELECT doc_id, lang, unnest(
        |      CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |           ELSE [substr(t, i, 5) FOR i IN range(1, len(t) - 3)] END)
        |      AS sh
        |    FROM d
        |  )
        |), fs AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1),
        |perdoc AS (
        |  SELECT s.doc_id, s.lang,
        |    avg(CASE WHEN fs.first_doc = s.doc_id THEN 1.0 ELSE 0.0 END)
        |      AS novelty
        |  FROM sh s JOIN fs USING (sh) GROUP BY 1, 2
        |)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(novelty) + 1e-9, 6) AS avg_novelty,
        |  round(avg(CASE WHEN novelty < 0.1 THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
        |    AS frac_mostly_dup
        |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin,
    "q136_token_pmi" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE trim(text) <> ''
        |), nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM docs),
        |presence AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |    FROM docs
        |  ) WHERE regexp_matches(term, '^[a-z]{3,}$')
        |), df AS (
        |  SELECT term, count(*) AS d FROM presence
        |  GROUP BY 1 HAVING count(*) >= 25
        |), kept AS (
        |  SELECT p.doc_id, p.term, df.d FROM presence p JOIN df USING (term)
        |), pairs AS (
        |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_both,
        |    max(a.d) AS d_a, max(b.d) AS d_b
        |  FROM kept a JOIN kept b
        |    ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2 HAVING count(*) >= 10
        |)
        |SELECT term_a, term_b, n_both,
        |  round(ln(n_both * nd.nd / (d_a * d_b)) + 1e-9, 6) AS pmi
        |FROM pairs, nd
        |ORDER BY pmi DESC, term_a, term_b
        |LIMIT 15""".stripMargin,
    "q137_pit_lookup" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events
        |), lagged AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) = event_type
        |    THEN 0 ELSE 1 END AS chg
        |  FROM e
        |), seg AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS s
        |  FROM lagged
        |), packed AS (
        |  SELECT user_id, s, min(event_type) AS state, min(ts) AS valid_from
        |  FROM seg GROUP BY user_id, s
        |), ranges AS (
        |  SELECT user_id, state, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
        |      AS valid_to
        |  FROM packed
        |), p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT r.state, count(*) AS n_purchases,
        |  round(avg(p.value) + 1e-9, 4) AS avg_value
        |FROM p JOIN ranges r ON p.user_id = r.user_id
        |  AND r.valid_from <= p.ts
        |  AND (r.valid_to IS NULL OR p.ts < r.valid_to)
        |GROUP BY r.state ORDER BY r.state""".stripMargin,
    "q138_sliding_distinct" ->
      """WITH presence AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS pday FROM events
        |), days AS (SELECT DISTINCT pday AS day FROM presence),
        |expanded AS (
        |  SELECT user_id, day FROM (
        |    SELECT user_id,
        |      unnest([pday + CAST(i AS INTEGER) FOR i IN range(0, 7)]) AS day
        |    FROM presence
        |  ) JOIN days USING (day)
        |)
        |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_users_7d
        |FROM expanded GROUP BY day ORDER BY day""".stripMargin,
    "q139_share_of_parent" ->
      """WITH rev AS (
        |  SELECT r_name AS region, n_name AS nation,
        |    CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2)
        |      AS DOUBLE) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2
        |)
        |SELECT region, nation, revenue,
        |  round(revenue / sum(revenue) OVER (PARTITION BY region) + 1e-9, 6)
        |    AS share_of_region,
        |  round(sum(revenue) OVER (PARTITION BY region)
        |    / sum(revenue) OVER () + 1e-9, 6) AS region_share_of_total
        |FROM rev ORDER BY region, nation""".stripMargin,
    "q140_asof_nearest" ->
      """WITH p AS (
        |  SELECT user_id, epoch(CAST(ts AS TIMESTAMP)) AS t
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT DISTINCT user_id, epoch(CAST(ts AS TIMESTAMP)) AS ct
        |  FROM events WHERE event_type = 'click'
        |), u AS (
        |  SELECT user_id, ct AS t, 0 AS tag, ct FROM c
        |  UNION ALL
        |  SELECT user_id, t, 1, NULL FROM p
        |), w AS (
        |  SELECT user_id, t, tag,
        |    max(CASE WHEN tag = 0 THEN ct END) OVER
        |      (PARTITION BY user_id ORDER BY t, tag
        |       ROWS UNBOUNDED PRECEDING) AS back,
        |    min(CASE WHEN tag = 0 THEN ct END) OVER
        |      (PARTITION BY user_id ORDER BY t, tag
        |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd
        |  FROM u
        |), sel AS (
        |  SELECT CASE WHEN back IS NULL AND fwd IS NULL THEN NULL
        |    WHEN fwd IS NULL THEN t - back
        |    WHEN back IS NULL THEN t - fwd
        |    WHEN t - back <= fwd - t THEN t - back
        |    ELSE t - fwd END AS g
        |  FROM w WHERE tag = 1
        |)
        |SELECT CASE WHEN g IS NULL THEN 'unmatched'
        |            WHEN g >= 0 THEN 'backward' ELSE 'forward' END AS direction,
        |  count(*) AS n,
        |  round(avg(abs(g)) / 60.0 + 1e-9, 4) AS avg_abs_gap_min,
        |  round(quantile_cont(abs(g), 0.5) / 60.0 + 1e-9, 4) AS p50_abs_gap_min
        |FROM sel GROUP BY 1 ORDER BY direction""".stripMargin,
    "q141_local_supplier_volume" ->
      """SELECT n_name AS nation, count(*) AS n_lineitems,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE s_nationkey = c_nationkey
        |GROUP BY n_name
        |ORDER BY revenue DESC, nation""".stripMargin,
    "q142_running_balance" ->
      """WITH mv AS (
        |  SELECT l_partkey,
        |    CASE WHEN l_returnflag = 'R' THEN -l_quantity
        |         ELSE l_quantity END AS delta,
        |    sum(CASE WHEN l_returnflag = 'R' THEN -l_quantity
        |             ELSE l_quantity END) OVER
        |      (PARTITION BY l_partkey
        |       ORDER BY CAST(l_shipdate AS TIMESTAMP), l_orderkey, l_linenumber
        |       ROWS UNBOUNDED PRECEDING) AS running
        |  FROM lineitem
        |)
        |SELECT l_partkey, count(*) AS n_moves,
        |  round(max(running) + 1e-9, 2) AS peak_balance,
        |  round(sum(delta) + 1e-9, 2) AS final_balance
        |FROM mv GROUP BY l_partkey
        |ORDER BY peak_balance DESC, l_partkey
        |LIMIT 10""".stripMargin,
    "q143_winsorized_stats" ->
      """WITH cuts AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY 1
        |), clamped AS (
        |  SELECT e.event_type, e.value AS v,
        |    least(greatest(e.value, c.p05), c.p95) AS wv
        |  FROM events e JOIN cuts c USING (event_type)
        |), agged AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    sum(v) AS s1, sum(v * v) AS s2,
        |    sum(wv) AS w1, sum(wv * wv) AS w2
        |  FROM clamped GROUP BY 1
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(s1 / n + 1e-9, 4) AS raw_mean,
        |  round(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) + 1e-9, 4)
        |    AS raw_std,
        |  round(w1 / n + 1e-9, 4) AS wins_mean,
        |  round(sqrt(greatest(w2 / n - (w1 / n) * (w1 / n), 0)) + 1e-9, 4)
        |    AS wins_std
        |FROM agged ORDER BY event_type""".stripMargin,
    "q144_lorenz_curve" ->
      """WITH pu AS (
        |  SELECT user_id, sum(value) AS spend FROM events GROUP BY user_id
        |), ranked AS (
        |  SELECT spend,
        |    ntile(10) OVER (ORDER BY spend, user_id) AS decile
        |  FROM pu
        |), byd AS (
        |  SELECT decile, count(*) AS n_users, sum(spend) AS dspend
        |  FROM ranked GROUP BY 1
        |)
        |SELECT CAST(decile AS INT) AS decile, n_users,
        |  round(dspend + 1e-9, 2) AS decile_spend,
        |  round(dspend / sum(dspend) OVER () + 1e-9, 6) AS share,
        |  round(sum(dspend) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        |    / sum(dspend) OVER () + 1e-9, 6) AS cum_share
        |FROM byd ORDER BY decile""".stripMargin,
    "q145_dedup_savings" ->
      s"""$ClosureCtes, toks AS (
        |  SELECT doc_id, text,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok
        |  FROM documents
        |), exact_keep AS (
        |  SELECT min(doc_id) AS doc_id, min(tok) AS tok FROM toks GROUP BY text
        |), near_keep AS (
        |  SELECT ek.doc_id, ek.tok FROM exact_keep ek
        |  LEFT JOIN comp ON ek.doc_id = comp.doc_id
        |  WHERE comp.component IS NULL OR comp.component = ek.doc_id
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(tok) AS BIGINT) AS total_tokens
        |  FROM toks
        |), e AS (
        |  SELECT CAST(sum(tok) AS BIGINT) AS tokens_after_exact FROM exact_keep
        |), nd AS (
        |  SELECT CAST(sum(tok) AS BIGINT) AS tokens_after_neardup FROM near_keep
        |)
        |SELECT n_docs, total_tokens, tokens_after_exact, tokens_after_neardup,
        |  round((total_tokens - tokens_after_neardup) * 100.0 / total_tokens
        |    + 1e-9, 4) AS savings_pct
        |FROM tot, e, nd""".stripMargin,
    "q146_linear_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS pid,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS pt
        |  FROM events WHERE event_type = 'purchase'
        |), tch AS (
        |  SELECT user_id, event_type AS channel,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tt
        |  FROM events WHERE event_type <> 'purchase'
        |), paired AS (
        |  SELECT p.pid, coalesce(t.channel, 'none') AS channel,
        |    count(*) AS k
        |  FROM p LEFT JOIN tch t ON p.user_id = t.user_id
        |    AND t.tt < p.pt AND t.tt >= p.pt - 86400000000
        |  GROUP BY 1, 2
        |), credited AS (
        |  SELECT channel, pid,
        |    k / CAST(sum(k) OVER (PARTITION BY pid) AS DOUBLE) AS credit
        |  FROM paired
        |)
        |SELECT channel, CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
        |  round(sum(credit) + 1e-9, 4) AS total_credit
        |FROM credited GROUP BY channel ORDER BY channel""".stripMargin,
    "q147_stickiness" ->
      """WITH presence AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS pday FROM events
        |), days AS (SELECT DISTINCT pday AS day FROM presence),
        |dau AS (
        |  SELECT pday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM presence GROUP BY 1
        |), wau AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM (
        |    SELECT user_id,
        |      unnest([pday + CAST(i AS INTEGER) FOR i IN range(0, 7)]) AS day
        |    FROM presence
        |  ) JOIN days USING (day) GROUP BY day
        |)
        |SELECT day, dau.dau, wau.wau,
        |  round(dau.dau / CAST(wau.wau AS DOUBLE) + 1e-9, 6) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "q148_sql_authored" ->
      """SELECT priority, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderpriority AS priority, o_orderkey, o_totalprice,
        |    rank() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders
        |)
        |WHERE rk <= 2
        |ORDER BY priority, o_totalprice DESC, o_orderkey""".stripMargin,
    "q149_order_fill_rate" ->
      """WITH per_order AS (
        |  SELECT l_orderkey,
        |    min(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |      THEN 1 ELSE 0 END) AS all_f,
        |    max(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |      THEN 1 ELSE 0 END) AS any_f,
        |    count(*) AS k
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT count(*) AS n_orders,
        |  CAST(sum(all_f) AS BIGINT) AS n_fully_shipped,
        |  CAST(sum(CASE WHEN any_f = 1 AND all_f = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_partial,
        |  CAST(sum(CASE WHEN any_f = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_none,
        |  round(avg(CASE WHEN all_f = 1 THEN k END) + 1e-9, 4)
        |    AS avg_lines_when_full
        |FROM per_order""".stripMargin,
    "q150_pythagorean_means" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonpos,
        |  round(avg(CASE WHEN value > 0 THEN value END) + 1e-9, 4)
        |    AS arith_mean,
        |  round(exp(avg(CASE WHEN value > 0 THEN ln(value) END)) + 1e-9, 4)
        |    AS geo_mean,
        |  round(sum(CASE WHEN value > 0 THEN 1.0 ELSE 0.0 END)
        |    / sum(CASE WHEN value > 0 THEN 1.0 / value END) + 1e-9, 4)
        |    AS harm_mean
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q151_knn_regression" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, label AS actual
        |  FROM embeddings WHERE vec_id < 50
        |), t AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS tv
        |  FROM embeddings WHERE vec_id >= 50
        |), scored AS (
        |  SELECT q.q_id, t.vec_id, t.label,
        |    list_dot_product(q.qv, t.tv)
        |      / (sqrt(list_dot_product(q.qv, q.qv))
        |         * sqrt(list_dot_product(t.tv, t.tv))) AS sim
        |  FROM q, t
        |), ranked AS (
        |  SELECT q_id, label,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)
        |      AS rn
        |  FROM scored
        |), preds AS (
        |  SELECT q_id, avg(label) AS pred FROM ranked WHERE rn <= 5 GROUP BY 1
        |)
        |SELECT p.q_id, q.actual, round(p.pred + 1e-9, 6) AS predicted,
        |  round(abs(p.pred - q.actual) + 1e-9, 6) AS abs_err
        |FROM preds p JOIN q ON q.q_id = p.q_id
        |ORDER BY p.q_id""".stripMargin,
    "q152_densify_ffill" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
        |), spend AS (
        |  SELECT user_id, day, sum(value) AS spend
        |  FROM ev WHERE user_id < 50 GROUP BY 1, 2
        |), days AS (SELECT DISTINCT day FROM ev),
        |users AS (SELECT DISTINCT user_id FROM ev WHERE user_id < 50),
        |spine AS (SELECT user_id, day FROM users CROSS JOIN days),
        |j AS (
        |  SELECT s.user_id, s.day, sp.spend FROM spine s
        |  LEFT JOIN spend sp ON s.user_id = sp.user_id AND s.day = sp.day
        |)
        |SELECT user_id, day, round(spend + 1e-9, 4) AS spend,
        |  CAST(CASE WHEN spend IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap,
        |  round(last_value(spend IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY day ROWS UNBOUNDED PRECEDING) + 1e-9, 4)
        |    AS spend_ffill
        |FROM j ORDER BY user_id, day""".stripMargin,
    "q153_mode_per_group" ->
      """WITH counts AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT user_id, event_type, n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type) AS rk
        |  FROM counts
        |)
        |SELECT event_type AS favorite_type, count(*) AS n_users,
        |  round(avg(n) + 1e-9, 4) AS avg_fav_count
        |FROM ranked WHERE rk = 1
        |GROUP BY 1 ORDER BY favorite_type""".stripMargin,
    "q154_bounce_rate" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |        FROM events)
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL
        |           OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM lagged
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged
        |), per_session AS (
        |  SELECT user_id, sess_id, min(CAST(ts AS DATE)) AS day,
        |    count(*) AS n_ev
        |  FROM sess GROUP BY 1, 2
        |)
        |SELECT day, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces,
        |  round(avg(CASE WHEN n_ev = 1 THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
        |    AS bounce_rate
        |FROM per_session GROUP BY day ORDER BY day""".stripMargin,
    "q155_target_encoding" ->
      """WITH pt AS (
        |  SELECT event_type, count(*) AS n,
        |    avg(CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END) AS rate
        |  FROM events GROUP BY 1
        |), g AS (
        |  SELECT avg(CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END) AS g
        |  FROM events
        |)
        |SELECT event_type, n, round(rate + 1e-9, 6) AS raw_rate,
        |  round((n * rate + 10.0 * g.g) / (n + 10.0) + 1e-9, 6)
        |    AS smoothed_rate
        |FROM pt, g ORDER BY event_type""".stripMargin,
    "q156_weighted_median" ->
      """WITH bp AS (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |    sum(l_quantity) AS wt
        |  FROM lineitem GROUP BY 1, 2
        |), cum AS (
        |  SELECT l_returnflag, price, wt,
        |    sum(wt) OVER (PARTITION BY l_returnflag ORDER BY price
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(wt) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM bp
        |)
        |SELECT l_returnflag,
        |  round(max(tot) + 1e-9, 2) AS total_weight,
        |  round(min(price) + 1e-9, 2) AS weighted_median_price
        |FROM cum WHERE cum >= tot / 2
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q157_stream_hourly_peak" ->
      """WITH hourly AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS peak_hour,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT day, peak_hour, n,
        |    row_number() OVER (PARTITION BY day ORDER BY n DESC, peak_hour)
        |      AS rk
        |  FROM hourly
        |)
        |SELECT day, peak_hour, n AS n_events FROM ranked
        |WHERE rk = 1 ORDER BY day""".stripMargin,
    "q158_stream_new_users" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_ts
        |  FROM events GROUP BY 1
        |)
        |SELECT CAST(first_ts AS DATE) AS day, count(*) AS new_users
        |FROM f GROUP BY 1 ORDER BY day""".stripMargin,
    "q159_event_paths" ->
      """WITH paths AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    array_to_string(
        |      (list(event_type ORDER BY CAST(ts AS TIMESTAMP), event_id))[1:8],
        |      '>') AS path
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT path, count(*) AS n_user_days FROM paths
        |GROUP BY 1 ORDER BY n_user_days DESC, path LIMIT 10""".stripMargin,
    "q160_user_predictability" ->
      """WITH ordered AS (
        |  SELECT user_id, event_type AS next_t,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_t
        |  FROM events
        |), pairs AS (
        |  SELECT user_id, prev_t, next_t, CAST(count(*) AS DOUBLE) AS c
        |  FROM ordered WHERE prev_t IS NOT NULL GROUP BY 1, 2, 3
        |), pu AS (
        |  SELECT user_id, sum(c) AS nt,
        |    ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h
        |  FROM pairs GROUP BY 1 HAVING sum(c) >= 5
        |), ranked AS (
        |  SELECT nt, h, ntile(5) OVER (ORDER BY nt, user_id) AS quintile
        |  FROM pu
        |)
        |SELECT CAST(quintile AS INT) AS quintile, count(*) AS n_users,
        |  round(avg(nt) + 1e-9, 2) AS avg_transitions,
        |  round(avg(h) + 1e-9, 4) AS avg_entropy
        |FROM ranked GROUP BY 1 ORDER BY quintile""".stripMargin,
    "q161_semi_anti_joins" ->
      """WITH li97 AS (
        |  SELECT DISTINCT l_suppkey FROM lineitem
        |  WHERE year(l_shipdate) = 1997
        |)
        |SELECT n_name AS nation, count(*) AS n_suppliers,
        |  CAST(sum(CASE WHEN li97.l_suppkey IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_active_1997,
        |  CAST(sum(CASE WHEN li97.l_suppkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_inactive
        |FROM supplier s
        |LEFT JOIN li97 ON s.s_suppkey = li97.l_suppkey
        |JOIN nation ON s.s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "q162_activity_streaks" ->
      """WITH presence AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), isl AS (
        |  SELECT user_id,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS INTEGER) AS grp
        |  FROM presence
        |), streaks AS (
        |  SELECT user_id, grp, count(*) AS streak FROM isl GROUP BY 1, 2
        |), longest AS (
        |  SELECT user_id, max(streak) AS longest FROM streaks GROUP BY 1
        |)
        |SELECT longest, count(*) AS n_users
        |FROM longest GROUP BY 1 ORDER BY longest""".stripMargin,
    "q163_brand_hhi" ->
      """WITH rev AS (
        |  SELECT p_brand,
        |    CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2)
        |      AS DOUBLE) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1
        |), ranked AS (
        |  SELECT p_brand, rev, rev / sum(rev) OVER () AS share,
        |    row_number() OVER (ORDER BY rev DESC, p_brand) AS rk
        |  FROM rev
        |)
        |SELECT count(*) AS n_brands,
        |  round(sum(share * share) + 1e-9, 6) AS hhi,
        |  round(sum(CASE WHEN rk <= 3 THEN share ELSE 0 END) + 1e-9, 6) AS cr3
        |FROM ranked""".stripMargin,
    "q164_activation_latency" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup'
        |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS s_us
        |  FROM events GROUP BY 1
        |), act AS (
        |  SELECT e.user_id, pu.s_us,
        |    min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS first_p
        |  FROM events e JOIN pu ON e.user_id = pu.user_id
        |  WHERE e.event_type = 'purchase' AND pu.s_us IS NOT NULL
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) > pu.s_us
        |  GROUP BY 1, 2
        |), lat AS (SELECT (first_p - s_us) / 3.6e9 AS lat_h FROM act),
        |su AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_signed_up
        |  FROM pu WHERE s_us IS NOT NULL
        |), ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_activated,
        |    round(avg(lat_h) + 1e-9, 4) AS avg_latency_h,
        |    round(quantile_cont(lat_h, 0.5) + 1e-9, 4) AS p50_latency_h,
        |    round(quantile_cont(lat_h, 0.9) + 1e-9, 4) AS p90_latency_h
        |  FROM lat
        |)
        |SELECT n_signed_up, n_activated,
        |  round(n_activated / CAST(n_signed_up AS DOUBLE) + 1e-9, 6)
        |    AS activation_rate,
        |  avg_latency_h, p50_latency_h, p90_latency_h
        |FROM su, ag""".stripMargin,
    "q165_cross_source_dups" ->
      """WITH presence AS (
        |  SELECT DISTINCT
        |    substr(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 30)
        |      AS pfx,
        |    source
        |  FROM documents
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(DISTINCT a.pfx) AS BIGINT) AS n_shared_texts
        |FROM presence a JOIN presence b
        |  ON a.pfx = b.pfx AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "q166_ranked_string_agg" ->
      """WITH rev AS (
        |  SELECT r_name AS region, n_name AS nation,
        |    CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2)
        |      AS DOUBLE) AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT region, nation, rev,
        |    rev / sum(rev) OVER (PARTITION BY region) AS share,
        |    row_number() OVER (PARTITION BY region ORDER BY rev DESC, nation)
        |      AS rk
        |  FROM rev
        |)
        |SELECT region,
        |  string_agg(nation, '>' ORDER BY rk) AS top3_nations,
        |  round(sum(share) + 1e-9, 6) AS top3_share
        |FROM ranked WHERE rk <= 3
        |GROUP BY region ORDER BY region""".stripMargin,
    "q167_conversion_curve" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch(CAST(ts AS TIMESTAMP)) AS pt
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT DISTINCT user_id, epoch(CAST(ts AS TIMESTAMP)) AS ct
        |  FROM events WHERE event_type = 'click'
        |), g AS (
        |  SELECT p.event_id, (p.pt - max(c.ct)) / 60.0 AS gap_min
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ct <= p.pt
        |  GROUP BY p.event_id, p.pt
        |)
        |SELECT h.horizon_min, count(*) AS n_purchases,
        |  round(avg(CASE WHEN gap_min IS NOT NULL
        |      AND gap_min <= h.horizon_min THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
        |    AS converted_frac
        |FROM g, (SELECT unnest([5, 30, 60, 360, 1440]) AS horizon_min) h
        |GROUP BY 1 ORDER BY horizon_min""".stripMargin,
    "q168_growth_accounting" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      / 7.0) AS BIGINT) AS wk
        |  FROM events
        |), cls AS (
        |  SELECT user_id, wk,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
        |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next
        |  FROM p
        |), weeks AS (SELECT DISTINCT wk FROM p),
        |stat AS (
        |  SELECT wk,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN prev = wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_retained,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev < wk - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM cls GROUP BY wk
        |), churn AS (
        |  SELECT c.wk + 1 AS wk, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM cls c JOIN weeks w ON w.wk = c.wk + 1
        |  WHERE c.next IS NULL OR c.next > c.wk + 1
        |  GROUP BY 1
        |)
        |SELECT s.wk, n_new, n_retained, n_resurrected,
        |  coalesce(ch.n_churned, 0) AS n_churned
        |FROM stat s LEFT JOIN churn ch ON ch.wk = s.wk
        |ORDER BY s.wk""".stripMargin,
    "q169_seasonal_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1
        |), detr AS (
        |  SELECT day, n,
        |    avg(n) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
        |    isodow(day) AS dow
        |  FROM daily
        |), det2 AS (SELECT day, n, trend, dow, n - trend AS detrended FROM detr),
        |seas AS (SELECT dow, avg(detrended) AS seasonal FROM det2 GROUP BY dow),
        |resid AS (
        |  SELECT day, n, n - trend - seasonal AS resid
        |  FROM det2 JOIN seas USING (dow)
        |), sg AS (SELECT stddev_pop(resid) AS sigma FROM resid)
        |SELECT day, CAST(n AS BIGINT) AS n_events,
        |  round(resid + 1e-9, 4) AS resid,
        |  round(resid / sigma + 1e-9, 4) AS z,
        |  CAST(abs(resid) > 2.0 * sigma AS INT) AS is_anomaly
        |FROM resid, sg ORDER BY day""".stripMargin,
    "q170_peak_concurrency" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |        FROM events)
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL
        |           OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM lagged
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged
        |), sessions AS (
        |  SELECT user_id, sess_id, min(epoch_us(ts)) AS start_us,
        |    max(epoch_us(ts)) AS end_us
        |  FROM sess GROUP BY 1, 2
        |), sweep AS (
        |  SELECT start_us AS t, 1 AS delta FROM sessions
        |  UNION ALL SELECT end_us, -1 FROM sessions
        |), cum AS (
        |  SELECT t, sum(delta) OVER (ORDER BY t, delta DESC
        |    ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM sweep
        |)
        |SELECT CAST(make_timestamp(t) AS DATE) AS day,
        |  CAST(max(conc) AS BIGINT) AS peak_concurrent
        |FROM cum GROUP BY 1 ORDER BY day""".stripMargin,
    "q171_revenue_bridge" ->
      """WITH agged AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN value ELSE 0 END) AS r1,
        |    sum(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
        |      THEN value ELSE 0 END) AS r2
        |  FROM events GROUP BY 1
        |)
        |SELECT event_type,
        |  round(r1 + 1e-9, 2) AS rev_p1,
        |  round(r2 + 1e-9, 2) AS rev_p2,
        |  round(r2 - r1 + 1e-9, 2) AS delta,
        |  round((n2 - n1) * (r1 / n1) + 1e-9, 4) AS volume_effect,
        |  round(n1 * (r2 / n2 - r1 / n1) + 1e-9, 4) AS rate_effect,
        |  round((n2 - n1) * (r2 / n2 - r1 / n1) + 1e-9, 4) AS mix_effect
        |FROM agged ORDER BY event_type""".stripMargin,
    "q172_sample_audit" ->
      """WITH pop AS (
        |  SELECT event_type, count(*) AS n_pop, avg(value) AS pop_avg
        |  FROM events GROUP BY 1
        |), h AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY (CAST(event_id AS HUGEINT) * 2654435761) % 4294967296,
        |        event_id) AS rk
        |  FROM events
        |), samp AS (
        |  SELECT event_type, count(*) AS n_sample, avg(value) AS sample_avg
        |  FROM h WHERE rk <= 500 GROUP BY 1
        |)
        |SELECT p.event_type, p.n_pop, s.n_sample,
        |  round(p.pop_avg + 1e-9, 4) AS pop_avg,
        |  round(s.sample_avg + 1e-9, 4) AS sample_avg,
        |  round(abs(s.sample_avg - p.pop_avg) / p.pop_avg + 1e-9, 6)
        |    AS rel_diff
        |FROM pop p JOIN samp s ON s.event_type = p.event_type
        |ORDER BY p.event_type""".stripMargin,
    "q173_triple_itemsets" ->
      """WITH baskets AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        |  FROM events
        |), nb AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS nb
        |  FROM (SELECT DISTINCT user_id, day FROM baskets)
        |), triples AS (
        |  SELECT a.event_type AS t_a, b.event_type AS t_b,
        |    c.event_type AS t_c, count(*) AS n
        |  FROM baskets a
        |  JOIN baskets b ON a.user_id = b.user_id AND a.day = b.day
        |    AND a.event_type < b.event_type
        |  JOIN baskets c ON b.user_id = c.user_id AND b.day = c.day
        |    AND b.event_type < c.event_type
        |  GROUP BY 1, 2, 3
        |)
        |SELECT t_a, t_b, t_c, n, round(n / nb.nb + 1e-9, 6) AS support
        |FROM triples, nb
        |WHERE round(n / nb.nb + 1e-9, 6) >= 0.05
        |ORDER BY t_a, t_b, t_c""".stripMargin,
    "q174_survival_curve" ->
      """WITH pu AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
        |    max(CAST(ts AS DATE)) AS last_day,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ts AS DATE) END) AS p_day
        |  FROM events GROUP BY 1
        |), te AS (
        |  SELECT CASE WHEN p_day IS NOT NULL
        |      THEN datediff('day', first_day, p_day)
        |      ELSE datediff('day', first_day, last_day) END AS t,
        |    CASE WHEN p_day IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM pu
        |), bt AS (
        |  SELECT t, CAST(sum(ev) AS DOUBLE) AS d,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM te GROUP BY 1
        |), cum AS (
        |  SELECT t, d, c,
        |    sum(c) OVER () - coalesce(sum(c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
        |  FROM bt
        |), guarded AS (
        |  SELECT t, d, at_risk,
        |    CASE WHEN d < at_risk THEN ln(1 - d / at_risk) ELSE 0 END AS term
        |  FROM cum WHERE d > 0
        |), sv AS (
        |  SELECT t, d, at_risk,
        |    CASE WHEN d = at_risk THEN 0.0
        |      ELSE exp(sum(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
        |    END AS surv
        |  FROM guarded
        |)
        |SELECT CAST(t AS INT) AS t_days, CAST(at_risk AS BIGINT) AS at_risk,
        |  CAST(d AS BIGINT) AS events, round(surv + 1e-9, 6) AS survival
        |FROM sv ORDER BY t_days""".stripMargin,
    "q175_type_bitmask" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END)
        |      AS BIGINT) AS mask,
        |    array_to_string(list_sort(list(event_type)), '+') AS types_label
        |  FROM (SELECT DISTINCT user_id, event_type FROM events)
        |  GROUP BY 1
        |)
        |SELECT mask, types_label, count(*) AS n_users
        |FROM pu GROUP BY 1, 2 ORDER BY mask""".stripMargin,
    "q176_odds_ratio" ->
      """WITH ag AS (
        |  SELECT
        |    CAST(sum(CASE WHEN isodow(CAST(ts AS DATE)) IN (6, 7)
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN isodow(CAST(ts AS DATE)) IN (6, 7)
        |      AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN isodow(CAST(ts AS DATE)) NOT IN (6, 7)
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN isodow(CAST(ts AS DATE)) NOT IN (6, 7)
        |      AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM events
        |)
        |SELECT a, b, c, d,
        |  round(CAST(a * d AS DOUBLE) / (b * c) + 1e-9, 6) AS odds_ratio,
        |  round(exp(ln(CAST(a * d AS DOUBLE) / (b * c))
        |    - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) + 1e-9, 6) AS ci_low,
        |  round(exp(ln(CAST(a * d AS DOUBLE) / (b * c))
        |    + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) + 1e-9, 6) AS ci_high
        |FROM ag""".stripMargin,
    "q177_power_analysis" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1
        |), armed AS (
        |  SELECT conv,
        |    CASE WHEN (CAST((CAST(user_id AS HUGEINT) * 2654435761)
        |        % 4294967296 AS BIGINT) * 100) >> 32 < 50
        |      THEN 'a' ELSE 'b' END AS arm
        |  FROM pu
        |), ag AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'a' THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(sum(CASE WHEN arm = 'b' THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM armed
        |), st AS (
        |  SELECT n_a, n_b,
        |    (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) AS p,
        |    CAST(n_a + n_b AS DOUBLE) / 2.0 AS nbar,
        |    abs(conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
        |      AS delta
        |  FROM ag
        |)
        |SELECT n_a, n_b, round(p + 1e-9, 6) AS pooled_rate,
        |  round((1.96 + 0.8416) * sqrt(2.0 * p * (1.0 - p) / nbar) + 1e-9, 6)
        |    AS mde_abs,
        |  round((1.96 + 0.8416) * sqrt(2.0 * p * (1.0 - p) / nbar) / p
        |    + 1e-9, 6) AS mde_rel,
        |  round(delta + 1e-9, 6) AS observed_delta,
        |  CAST(delta > (1.96 + 0.8416) * sqrt(2.0 * p * (1.0 - p) / nbar)
        |    AS INT) AS powered
        |FROM st""".stripMargin,
    "q178_bytes_per_token" ->
      """WITH ag AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS BIGINT) AS n_tokens,
        |    CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |    CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
        |  FROM documents WHERE trim(text) <> ''
        |  GROUP BY lang
        |)
        |SELECT lang, n_docs, n_tokens,
        |  round(n_chars / CAST(n_tokens AS DOUBLE) + 1e-9, 4)
        |    AS chars_per_token,
        |  round(n_bytes / CAST(n_tokens AS DOUBLE) + 1e-9, 4)
        |    AS bytes_per_token,
        |  round(n_bytes / CAST(n_chars AS DOUBLE) + 1e-9, 4) AS bytes_per_char
        |FROM ag ORDER BY lang""".stripMargin,
    "q179_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS token
        |    FROM documents WHERE trim(text) <> ''
        |  ) GROUP BY 1
        |), ranked AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk
        |  FROM counts
        |), wide AS (
        |  SELECT CAST(sum(n) AS DOUBLE) AS tot,
        |    sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS c10,
        |    sum(CASE WHEN rk <= 50 THEN n ELSE 0 END) AS c50,
        |    sum(CASE WHEN rk <= 100 THEN n ELSE 0 END) AS c100,
        |    sum(CASE WHEN rk <= 500 THEN n ELSE 0 END) AS c500,
        |    sum(CASE WHEN rk <= 1000 THEN n ELSE 0 END) AS c1000
        |  FROM ranked
        |), melted AS (
        |  SELECT 10 AS k, c10 / tot AS coverage FROM wide
        |  UNION ALL SELECT 50, c50 / tot FROM wide
        |  UNION ALL SELECT 100, c100 / tot FROM wide
        |  UNION ALL SELECT 500, c500 / tot FROM wide
        |  UNION ALL SELECT 1000, c1000 / tot FROM wide
        |)
        |SELECT k, round(coverage + 1e-9, 6) AS coverage
        |FROM melted ORDER BY k""".stripMargin,
    "q180_cluster_sizes" ->
      s"""$ClosureCtes
        |SELECT size, count(*) AS n_clusters FROM (
        |  SELECT component, CAST(count(*) AS BIGINT) AS size
        |  FROM comp GROUP BY 1
        |) GROUP BY 1 ORDER BY size""".stripMargin,
    "q181_late_orders" ->
      """WITH late AS (
        |  SELECT DISTINCT l_orderkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE datediff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) > 90
        |)
        |SELECT o_orderpriority AS priority, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN late.l_orderkey IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  round(avg(CASE WHEN late.l_orderkey IS NOT NULL
        |    THEN 1.0 ELSE 0.0 END) + 1e-9, 6) AS late_share
        |FROM orders LEFT JOIN late ON o_orderkey = late.l_orderkey
        |GROUP BY 1 ORDER BY priority""".stripMargin,
    "q182_dormancy_gaps" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), lagged AS (
        |  SELECT user_id, day,
        |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
        |  FROM p
        |)
        |SELECT CAST(datediff('day', prev, day) - 1 AS INT) AS gap_days,
        |  count(*) AS n_returns
        |FROM lagged
        |WHERE prev IS NOT NULL AND datediff('day', prev, day) > 1
        |GROUP BY 1 ORDER BY gap_days""".stripMargin,
    "q183_basket_size_curve" ->
      """WITH per_order AS (
        |  SELECT l_orderkey, count(*) AS k,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)))
        |      AS rev
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT k AS n_lines, count(*) AS n_orders,
        |  round(sum(CAST(rev AS DOUBLE)) / count(*) + 1e-9, 2)
        |    AS avg_order_revenue
        |FROM per_order GROUP BY 1 ORDER BY n_lines""".stripMargin,
    "q184_max_drawdown" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, sum(value) AS net
        |  FROM events GROUP BY 1
        |), c1 AS (
        |  SELECT day,
        |    sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM daily
        |), cum AS (
        |  SELECT day, cum,
        |    max(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM c1
        |)
        |SELECT day AS trough_day,
        |  round(peak + 1e-9, 4) AS peak_value,
        |  round(cum + 1e-9, 4) AS trough_value,
        |  round(peak - cum + 1e-9, 4) AS max_drawdown
        |FROM cum ORDER BY peak - cum DESC, day LIMIT 1""".stripMargin,
    "q185_acf_table" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1
        |), lagged AS (
        |  SELECT l.lag, d1.n AS n, d2.n AS n_next
        |  FROM daily d1
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag) l
        |  JOIN daily d2 ON d2.day = d1.day + CAST(l.lag AS INTEGER)
        |)
        |SELECT CAST(lag AS INT) AS lag, count(*) AS n_pairs,
        |  round(corr(n, n_next) + 1e-9, 6) AS acf
        |FROM lagged GROUP BY 1 ORDER BY lag""".stripMargin,
    "q186_lang_confusion" ->
      """WITH toks AS (
        |  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
        |), r AS (
        |  SELECT lang,
        |    len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_en,
        |    len(list_filter(tk, t -> list_contains(['der','die','das','und','ein','zu','mit','ist','auf','nicht'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_de,
        |    len(list_filter(tk, t -> list_contains(['el','la','que','y','en','un','por','con','los','una'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_es,
        |    len(list_filter(tk, t -> list_contains(['le','les','et','des','une','du','dans','est','pour','au'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_fr,
        |    len(list_filter(tk, t -> list_contains(['的','了','是','在','我','有','和','就','不','人'], lower(t)))) / CAST(greatest(len(tk), 1) AS DOUBLE) AS s_zh
        |  FROM toks
        |), conf AS (
        |  SELECT lang,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
        |         WHEN s_zh >= greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
        |         WHEN s_fr >= greatest(s_de, s_en, s_es) THEN 'fr'
        |         WHEN s_es >= greatest(s_de, s_en) THEN 'es'
        |         WHEN s_en >= s_de THEN 'en'
        |         ELSE 'de' END AS predicted
        |  FROM r
        |), acc AS (
        |  SELECT lang, count(*) AS n_docs,
        |    round(avg(CASE WHEN lang = predicted THEN 1.0 ELSE 0.0 END)
        |      + 1e-9, 6) AS accuracy
        |  FROM conf GROUP BY 1
        |), wrong AS (
        |  SELECT lang, predicted, count(*) AS n FROM conf
        |  WHERE lang <> predicted GROUP BY 1, 2
        |), top AS (
        |  SELECT lang, predicted AS top_confusion, n AS n_confused,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, predicted)
        |      AS rk
        |  FROM wrong
        |)
        |SELECT a.lang, a.n_docs, a.accuracy, t.top_confusion,
        |  coalesce(t.n_confused, 0) AS n_confused
        |FROM acc a
        |LEFT JOIN (SELECT * FROM top WHERE rk = 1) t ON t.lang = a.lang
        |ORDER BY a.lang""".stripMargin,
    "q187_price_dispersion" ->
      """WITH j AS (
        |  SELECT p_brand, l_extendedprice AS price
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |), b AS (
        |  SELECT p_brand, count(*) AS n, avg(price) AS mu,
        |    stddev_pop(price) AS sd,
        |    quantile_cont(price, [0.25, 0.5, 0.75]) AS q
        |  FROM j GROUP BY 1
        |)
        |SELECT p_brand, n, round(sd / mu + 1e-9, 6) AS cv,
        |  round((q[3] - q[1]) / q[2] + 1e-9, 6) AS iqr_over_median
        |FROM b ORDER BY cv DESC, p_brand LIMIT 10""".stripMargin,
    "q188_seasonal_strength" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1
        |), detr AS (
        |  SELECT day, n,
        |    avg(n) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
        |    isodow(day) AS dow
        |  FROM daily
        |), det2 AS (SELECT day, n, trend, dow, n - trend AS detrended FROM detr),
        |seas AS (SELECT dow, avg(detrended) AS seasonal FROM det2 GROUP BY dow),
        |fullf AS (
        |  SELECT n, n - trend - seasonal AS resid,
        |    n - seasonal AS deseason, detrended
        |  FROM det2 JOIN seas USING (dow)
        |)
        |SELECT count(*) AS n_days,
        |  round(greatest(0, 1 - var_pop(resid) / var_pop(deseason)) + 1e-9, 6)
        |    AS trend_strength,
        |  round(greatest(0, 1 - var_pop(resid) / var_pop(detrended)) + 1e-9, 6)
        |    AS seasonal_strength
        |FROM fullf""".stripMargin,
    "q189_audience_churn" ->
      """WITH presence AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), dau AS (SELECT day, count(*) AS n_active FROM presence GROUP BY 1),
        |ret AS (
        |  SELECT p.day, count(*) AS n_retained_next
        |  FROM presence p JOIN presence n
        |    ON n.user_id = p.user_id AND n.day = p.day + 1
        |  GROUP BY 1
        |)
        |SELECT d.day, d.n_active, b.n_retained_next,
        |  round(b.n_retained_next / CAST(d.n_active AS DOUBLE) + 1e-9, 6)
        |    AS next_day_retention
        |FROM dau d JOIN ret b ON b.day = d.day
        |ORDER BY d.day""".stripMargin,
    "q190_power_user_share" ->
      """WITH pu AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |ranked AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS rk,
        |    count(*) OVER () AS nu
        |  FROM pu
        |), flagged AS (
        |  SELECT c, nu, CAST(ceil(nu / 100.0) AS BIGINT) AS k,
        |    CASE WHEN rk <= ceil(nu / 100.0) THEN 1 ELSE 0 END AS is_top
        |  FROM ranked
        |)
        |SELECT CAST(max(nu) AS BIGINT) AS n_users, max(k) AS k_top,
        |  round(sum(CASE WHEN is_top = 1 THEN c ELSE 0 END)
        |    / CAST(sum(c) AS DOUBLE) + 1e-9, 6) AS top1pct_share,
        |  round(avg(CASE WHEN is_top = 1 THEN c END) + 1e-9, 2)
        |    AS avg_events_top,
        |  round(avg(CASE WHEN is_top = 0 THEN c END) + 1e-9, 2)
        |    AS avg_events_rest
        |FROM flagged""".stripMargin,
    "q191_term_burstiness" ->
      """WITH per_doc AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS c FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |    FROM documents WHERE trim(text) <> ''
        |  ) WHERE regexp_matches(term, '^[a-z]{3,}$')
        |  GROUP BY 1, 2
        |), ag AS (
        |  SELECT term AS token, count(*) AS n_docs, avg(c) AS mu,
        |    var_pop(c) AS v
        |  FROM per_doc GROUP BY 1 HAVING count(*) >= 50
        |)
        |SELECT token, n_docs, round(mu + 1e-9, 4) AS mean_count,
        |  round(v / mu + 1e-9, 6) AS burstiness
        |FROM ag ORDER BY burstiness DESC, token LIMIT 10""".stripMargin,
    "q192_order_reconciliation" ->
      """WITH ls AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))
        |      * (1 + CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(24,6)))
        |      AS DOUBLE) AS line_total
        |  FROM lineitem GROUP BY 1
        |), j AS (
        |  SELECT o_totalprice, line_total,
        |    CASE WHEN line_total IS NOT NULL
        |      THEN abs(line_total - o_totalprice) / o_totalprice END AS rel
        |  FROM orders LEFT JOIN ls ON o_orderkey = ls.l_orderkey
        |)
        |SELECT count(*) AS n_orders,
        |  CAST(sum(CASE WHEN line_total IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_with_lines,
        |  CAST(sum(CASE WHEN rel <= 0.0001 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_reconciled,
        |  round(avg(rel) + 1e-9, 6) AS avg_rel_diff,
        |  round(max(rel) + 1e-9, 6) AS max_rel_diff
        |FROM j""".stripMargin,
    "q193_rank_stability" ->
      """WITH rev AS (
        |  SELECT p_brand, year(l_shipdate) AS yr,
        |    CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2)
        |      AS DOUBLE) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE year(l_shipdate) IN (1997, 1998)
        |  GROUP BY 1, 2
        |), r97 AS (
        |  SELECT p_brand, row_number() OVER (ORDER BY rev DESC, p_brand)
        |    AS r97
        |  FROM rev WHERE yr = 1997
        |), r98 AS (
        |  SELECT p_brand, row_number() OVER (ORDER BY rev DESC, p_brand)
        |    AS r98
        |  FROM rev WHERE yr = 1998
        |), j AS (
        |  SELECT r97.p_brand, r97.r97, r98.r98 FROM r97 JOIN r98 USING (p_brand)
        |), topm AS (
        |  SELECT p_brand AS top_mover,
        |    CAST(abs(r97 - r98) AS INT) AS max_rank_jump
        |  FROM j ORDER BY abs(r97 - r98) DESC, p_brand LIMIT 1
        |)
        |SELECT count(*) AS n_brands,
        |  round(corr(r97, r98) + 1e-9, 6) AS spearman,
        |  topm.top_mover, topm.max_rank_jump
        |FROM j, topm GROUP BY topm.top_mover, topm.max_rank_jump""".stripMargin,
    "q194_mix_shift_days" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), sh AS (
        |  SELECT day, event_type,
        |    n / CAST(sum(n) OVER (PARTITION BY day) AS DOUBLE) AS share
        |  FROM daily
        |), j AS (
        |  SELECT c.day, sum(abs(c.share - p.share)) AS l1
        |  FROM sh c JOIN sh p
        |    ON p.event_type = c.event_type AND p.day = c.day - 1
        |  GROUP BY 1
        |)
        |SELECT day, round(l1 + 1e-9, 6) AS l1_shift
        |FROM j ORDER BY l1_shift DESC, day LIMIT 5""".stripMargin,
    "q195_deadstock" ->
      """WITH ok AS (SELECT DISTINCT l_partkey FROM lineitem),
        |never AS (
        |  SELECT p_brand, count(*) AS n_never_ordered
        |  FROM part LEFT JOIN ok ON p_partkey = l_partkey
        |  WHERE l_partkey IS NULL GROUP BY 1
        |), tot AS (SELECT p_brand, count(*) AS n_parts FROM part GROUP BY 1)
        |SELECT t.p_brand, t.n_parts,
        |  coalesce(n.n_never_ordered, 0) AS n_never_ordered,
        |  round(coalesce(n.n_never_ordered, 0) / CAST(t.n_parts AS DOUBLE)
        |    + 1e-9, 6) AS deadstock_share
        |FROM tot t LEFT JOIN never n ON n.p_brand = t.p_brand
        |ORDER BY t.p_brand""".stripMargin,
    "q196_value_bands" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS cvd
        |  FROM orders GROUP BY 1
        |), banded AS (
        |  SELECT cvd, CASE WHEN CAST(cvd AS DOUBLE) < 2000000.0 THEN '1_low'
        |    WHEN CAST(cvd AS DOUBLE) < 3000000.0 THEN '2_mid'
        |    ELSE '3_high' END AS band
        |  FROM pc
        |), tot AS (
        |  SELECT CAST(round(sum(cvd), 2) AS DOUBLE) AS tot FROM pc
        |)
        |SELECT band, count(*) AS n_customers,
        |  CAST(round(sum(cvd), 2) AS DOUBLE) AS band_revenue,
        |  round(CAST(round(sum(cvd), 2) AS DOUBLE) / tot.tot + 1e-9, 6)
        |    AS revenue_share
        |FROM banded, tot GROUP BY band, tot.tot ORDER BY band""".stripMargin,
    "q197_hour_dow_heatmap" ->
      """WITH hourly AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hr, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), keyed AS (
        |  SELECT CAST(datediff('day', DATE '2024-01-01', day) % 7 AS INT)
        |    AS dow, hr, n
        |  FROM hourly
        |)
        |SELECT dow, hr, count(*) AS n_cells,
        |  round(avg(n) + 1e-9, 4) AS avg_events
        |FROM keyed GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin,
    "q198_emerging_terms" ->
      """WITH toks AS (
        |  SELECT doc_id % 2 AS half,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE trim(text) <> ''
        |), f AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM toks WHERE regexp_matches(term, '^[a-z]{3,}$')
        |  GROUP BY 1
        |)
        |SELECT term, c1, c2,
        |  round(CAST(c2 + 1 AS DOUBLE) / (c1 + 1) + 1e-9, 6) AS growth_ratio
        |FROM f WHERE c1 + c2 >= 20
        |ORDER BY growth_ratio DESC, term LIMIT 10""".stripMargin,
    "q199_price_band_mix" ->
      """WITH agged AS (
        |  SELECT CAST(year(l_shipdate) AS INT) AS yr,
        |    CASE WHEN l_extendedprice < 1000.0 THEN '1_under_1k'
        |         WHEN l_extendedprice < 5000.0 THEN '2_1k_to_5k'
        |         ELSE '3_over_5k' END AS band,
        |    count(*) AS n_lines,
        |    CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2)
        |      AS DOUBLE) AS revenue
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT yr, band, n_lines, revenue,
        |  round(revenue / sum(revenue) OVER (PARTITION BY yr) + 1e-9, 6)
        |    AS share_of_year
        |FROM agged ORDER BY yr, band""".stripMargin,
    "q200_orders_per_customer" ->
      """WITH pc AS (
        |  SELECT o_custkey, count(*) AS k FROM orders GROUP BY 1
        |), hist AS (
        |  SELECT k AS n_orders, count(*) AS n_customers FROM pc GROUP BY 1
        |)
        |SELECT n_orders, n_customers,
        |  round(n_customers / CAST(sum(n_customers) OVER () AS DOUBLE)
        |    + 1e-9, 6) AS frac_customers
        |FROM hist ORDER BY n_orders""".stripMargin,
    "q201_repetition_rules" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
        |  FROM documents WHERE trim(text) <> ''
        |), uni AS (
        |  SELECT doc_id, len(l) AS n_tokens, len(list_distinct(l)) AS n_distinct FROM w
        |), big AS (
        |  SELECT doc_id, l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS bg
        |  FROM w, UNNEST(range(1, len(l))) AS t(i)
        |), bgc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg
        |), bs AS (
        |  SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_bigrams,
        |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ
        |  FROM bgc GROUP BY doc_id
        |), raw AS (
        |  SELECT u.doc_id, u.n_tokens,
        |    CAST(u.n_distinct AS DOUBLE) / u.n_tokens AS dr,
        |    CAST(b.top_cnt AS DOUBLE) / b.n_bigrams AS tbf,
        |    CAST(b.dup_occ AS DOUBLE) / b.n_bigrams AS dbf
        |  FROM uni u JOIN bs b USING (doc_id)
        |)
        |SELECT doc_id, n_tokens,
        |  round(dr + 1e-9, 6) AS distinct_ratio,
        |  round(tbf + 1e-9, 6) AS top_bigram_frac,
        |  round(dbf + 1e-9, 6) AS dup_bigram_frac,
        |  CASE WHEN dr < 0.33 OR tbf > 0.09 OR dbf > 0.15
        |    THEN 'repetitive' ELSE 'ok' END AS verdict
        |FROM raw ORDER BY doc_id""".stripMargin,
    "q202_posting_lists" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE trim(text) <> ''
        |)
        |SELECT term, count(*) AS doc_freq,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:30], ',') AS postings_head
        |FROM tok GROUP BY term ORDER BY term""".stripMargin,
    "q203_mixture_weights" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents WHERE trim(text) <> '' GROUP BY source
        |), w AS (
        |  SELECT source, n_docs, n_tokens,
        |    pow(CAST(n_tokens AS DOUBLE), 0.5) AS raw FROM s
        |)
        |SELECT source, n_docs, n_tokens,
        |  round(raw / sum(raw) OVER () + 1e-9, 6) AS weight,
        |  CAST(floor(raw / sum(raw) OVER () * 100000) AS BIGINT) AS docs_per_100k
        |FROM w ORDER BY source""".stripMargin,
    "q204_decontaminate_corpus" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
        |  FROM tok, unnest(range(1, len(toks) - 2)) t(i)
        |), bench AS (
        |  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        |), corp AS (
        |  SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0
        |), hits AS (
        |  SELECT c.doc_id, count(DISTINCT c.g) AS shared_grams
        |  FROM corp c JOIN bench b USING (g) GROUP BY c.doc_id
        |)
        |SELECT doc_id, shared_grams,
        |  CASE WHEN shared_grams >= 5 THEN 'remove'
        |       WHEN shared_grams >= 2 THEN 'review'
        |       ELSE 'monitor' END AS verdict
        |FROM hits ORDER BY doc_id""".stripMargin,
    "q205_theilsen_trend" ->
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
        |  FROM orders GROUP BY 1
        |), idx AS (
        |  SELECT CAST(datediff('day', DATE '1992-01-01', day) AS DOUBLE) AS x,
        |    rev AS y FROM d
        |), pairs AS (
        |  SELECT (b.y - a.y) / (b.x - a.x) AS slope
        |  FROM idx a JOIN idx b ON b.x > a.x
        |)
        |SELECT count(*) AS n_pairs,
        |  round(median(slope) + 1e-9, 6) AS theil_sen_slope
        |FROM pairs""".stripMargin,
    "q206_mann_kendall" ->
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS mon, sum(o_totalprice) AS rev
        |  FROM orders GROUP BY 1
        |), pairs AS (
        |  SELECT CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
        |  FROM m a JOIN m b ON b.mon > a.mon
        |), agg AS (
        |  SELECT CAST(sum(sgn) AS BIGINT) AS s, count(*) AS n_pairs,
        |    (SELECT count(*) FROM m) AS n FROM pairs
        |), ties AS (
        |  SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
        |  FROM (SELECT count(*) AS t FROM m GROUP BY CAST(rev AS DOUBLE))
        |), stats AS (
        |  SELECT n, n_pairs, s,
        |    (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0 AS var_s
        |  FROM agg CROSS JOIN ties
        |), zc AS (
        |  SELECT n, n_pairs, s, var_s,
        |    CASE WHEN var_s > 0 THEN
        |      (CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1 ELSE 0 END) / sqrt(var_s)
        |    ELSE 0.0 END AS z_raw
        |  FROM stats
        |)
        |SELECT n, n_pairs, s,
        |  round(var_s + 1e-9, 6) AS var_s,
        |  round(z_raw + 1e-9, 6) AS z,
        |  CASE WHEN abs(z_raw) > 1.96 THEN 'trend' ELSE 'no_trend' END AS verdict
        |FROM zc""".stripMargin,
    "q207_price_elasticity" ->
      """WITH px AS (
        |  SELECT p.p_brand,
        |    ln(CAST(l.l_extendedprice AS DOUBLE) / CAST(l.l_quantity AS DOUBLE)) AS lp,
        |    ln(CAST(l.l_quantity AS DOUBLE)) AS lq
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
        |)
        |SELECT p_brand, count(*) AS n,
        |  round(covar_pop(lp, lq) / var_pop(lp) + 1e-9, 6) AS elasticity,
        |  round(corr(lp, lq) + 1e-9, 6) AS r
        |FROM px GROUP BY p_brand HAVING count(*) >= 30 ORDER BY p_brand""".stripMargin,
    "q208_event_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events
        |), pc AS (
        |  SELECT src, dst, count(*) AS c FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
        |), k AS (SELECT count(DISTINCT event_type) AS k FROM events)
        |SELECT src, dst, c,
        |  round((c + 1.0) / (sum(c) OVER (PARTITION BY src) + (SELECT k FROM k)) + 1e-9, 6)
        |    AS p_smoothed
        |FROM pc ORDER BY src, dst""".stripMargin,
    "q209_knn_triangles" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |    list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
        |      / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
        |         * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS sim
        |  FROM embeddings q, embeddings c WHERE q.vec_id != c.vec_id
        |), knn AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rnk
        |    FROM scored) WHERE rnk <= 3
        |), edges AS (
        |  SELECT DISTINCT least(q_id, c_id) AS u, greatest(q_id, c_id) AS v FROM knn
        |), deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node
        |), oe AS (
        |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
        |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
        |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS ddst
        |  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
        |), tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM oe e1 JOIN oe e2 ON e1.src = e2.src
        |    AND ((e1.ddst, e1.dst) < (e2.ddst, e2.dst))
        |  JOIN oe e3 ON e3.src = e1.dst AND e3.dst = e2.dst
        |), stats AS (
        |  SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |    (SELECT count(*) FROM edges) AS n_edges,
        |    (SELECT sum(d * (d - 1) / 2) FROM deg) AS n_wedges,
        |    (SELECT n_triangles FROM tri) AS n_triangles
        |)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
        |  CAST(n_wedges AS BIGINT) AS n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
        |  round(3.0 * n_triangles / n_wedges + 1e-9, 6) AS clustering_coeff
        |FROM stats""".stripMargin,
    "q210_transition_entropy" ->
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events
        |), pc AS (
        |  SELECT src, dst, count(*) AS c FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
        |), tot AS (
        |  SELECT src, sum(c) AS n_out FROM pc GROUP BY src
        |), h AS (
        |  SELECT p.src, CAST(t.n_out AS BIGINT) AS n_out,
        |    -sum((CAST(p.c AS DOUBLE) / t.n_out) * log2(CAST(p.c AS DOUBLE) / t.n_out)) AS h_bits
        |  FROM pc p JOIN tot t USING (src) GROUP BY p.src, t.n_out
        |), rate AS (
        |  SELECT 'ALL' AS src, CAST(sum(n_out) AS BIGINT) AS n_out,
        |    sum(h_bits * n_out) / sum(n_out) AS h_bits FROM h
        |)
        |SELECT src, n_out, round(h_bits + 1e-9, 6) AS h_bits FROM h
        |UNION ALL SELECT src, n_out, round(h_bits + 1e-9, 6) FROM rate
        |ORDER BY src""".stripMargin,
    "q211_stream_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events
        |)
        |SELECT src, dst, count(*) AS c FROM seq WHERE dst IS NOT NULL
        |GROUP BY src, dst ORDER BY src, dst""".stripMargin,
    "q212_skipgram_pairs" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
        |  FROM documents WHERE trim(text) <> ''
        |), p1 AS (
        |  SELECT l[CAST(i AS INT)] AS w1, l[CAST(i AS INT) + 1] AS w2, 1.0 AS wt
        |  FROM w, UNNEST(range(1, len(l))) t(i)
        |  UNION ALL
        |  SELECT l[CAST(i AS INT)], l[CAST(i AS INT) + 2], 0.5
        |  FROM w, UNNEST(range(1, len(l) - 1)) t(i)
        |)
        |SELECT w1, w2, count(*) AS n_pairs, round(sum(wt) + 1e-9, 2) AS weight
        |FROM p1 GROUP BY w1, w2
        |ORDER BY weight DESC, w1, w2 LIMIT 15""".stripMargin,
    "q213_curriculum_plan" ->
      s"""WITH d AS (
        |  SELECT source, ${qualitySqlExpr("text")} AS q,
        |    len(regexp_split_to_array(trim(text), '\\s+')) AS toks
        |  FROM documents WHERE trim(text) <> ''
        |), banded AS (
        |  SELECT source,
        |    CASE WHEN q >= 0.78 THEN '1_high'
        |         WHEN q >= 0.62 THEN '2_mid' ELSE '3_low' END AS band,
        |    count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1, 2
        |), srcw AS (
        |  SELECT source, pow(CAST(sum(toks) AS DOUBLE), 0.5) AS raw
        |  FROM d GROUP BY source
        |), budget AS (
        |  SELECT source,
        |    CAST(floor(raw / sum(raw) OVER () * 100000) AS BIGINT) AS src_budget
        |  FROM srcw
        |), alloc AS (
        |  SELECT b.source, b.band, b.n_docs, b.n_tokens, g.src_budget,
        |    CASE b.band WHEN '1_high' THEN 3.0 WHEN '2_mid' THEN 1.0
        |      ELSE 0.25 END * b.n_docs AS mass
        |  FROM banded b JOIN budget g USING (source)
        |)
        |SELECT source, band, n_docs, n_tokens, src_budget,
        |  CAST(floor(src_budget * mass / sum(mass) OVER (PARTITION BY source))
        |    AS BIGINT) AS draws
        |FROM alloc ORDER BY source, band""".stripMargin,
    "q214_bpe_pair_counts" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> ''
        |), wf AS (
        |  SELECT w, count(*) AS freq FROM tok GROUP BY w
        |), p AS (
        |  SELECT substr(w, CAST(i AS INT), 1) AS lhs,
        |    substr(w, CAST(i AS INT) + 1, 1) AS rhs, freq
        |  FROM wf, UNNEST(range(1, len(w))) t(i)
        |  WHERE len(w) >= 2
        |)
        |SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY lhs, rhs
        |ORDER BY cnt DESC, lhs, rhs LIMIT 20""".stripMargin,
    "q215_clean_corpus" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
        |  FROM tok, unnest(range(1, len(toks) - 2)) t(i)
        |), bench AS (
        |  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        |), corp AS (
        |  SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0
        |), rm AS (
        |  SELECT c.doc_id FROM corp c JOIN bench b USING (g)
        |  GROUP BY c.doc_id HAVING count(DISTINCT c.g) >= 5
        |), c AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
        |  FROM documents WHERE doc_id % 50 <> 0
        |)
        |SELECT
        |  CAST(sum(CASE WHEN rm.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
        |  CAST(sum(CASE WHEN rm.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_removed,
        |  CAST(sum(CASE WHEN rm.doc_id IS NULL THEN toks ELSE 0 END) AS BIGINT) AS tokens_kept,
        |  CAST(sum(CASE WHEN rm.doc_id IS NOT NULL THEN toks ELSE 0 END) AS BIGINT) AS tokens_removed
        |FROM c LEFT JOIN rm USING (doc_id)""".stripMargin,
    // the greedy fold is sequential by definition — the oracle recomputes it
    // exactly with a row-at-a-time recursive CTE over the doc_id order
    "q216_sequence_packing" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents
        |), pack AS (
        |  SELECT rn, doc_id, n, 0 AS bin, n AS fill FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.rn, d.doc_id, d.n,
        |    CASE WHEN p.fill + d.n > 512 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + d.n > 512 THEN d.n ELSE p.fill + d.n END
        |  FROM pack p JOIN d ON d.rn = p.rn + 1
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(bin AS BIGINT) AS bin_id
        |FROM pack ORDER BY doc_id""".stripMargin,
    // five unrolled Sennrich iterations (pair-count → argmax → left-to-right
    // non-overlapping fuse); symbols ride as a unit-separator-joined string,
    // and list_reduce's replace-last fold is equivalent to the scan because
    // a fused token l||r can never re-match as the left symbol l
    "q217_bpe_merges" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> ''
        |), wf AS (
        |  SELECT w, count(*) AS freq FROM tok GROUP BY w
        |), s0 AS (
        |  SELECT array_to_string(
        |    list_transform(range(1, len(w) + 1), i -> substr(w, CAST(i AS INT), 1)),
        |    chr(31)) AS s, freq
        |  FROM wf
        |), p1 AS (
        |  SELECT list_extract(sp, CAST(j AS INT)) AS lhs,
        |    list_extract(sp, CAST(j AS INT) + 1) AS rhs,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, chr(31)) AS sp, freq FROM s0),
        |    UNNEST(range(1, len(sp))) t(j)
        |  GROUP BY 1, 2
        |), m1 AS (SELECT lhs, rhs, cnt FROM p1 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |s1 AS (
        |  SELECT list_reduce(string_split(p.s, chr(31)),
        |    (acc, x) -> CASE WHEN x = m1.rhs AND
        |        (acc = m1.lhs OR ends_with(acc, chr(31) || m1.lhs))
        |      THEN acc || x ELSE acc || chr(31) || x END) AS s, p.freq
        |  FROM s0 p CROSS JOIN m1
        |), p2 AS (
        |  SELECT list_extract(sp, CAST(j AS INT)) AS lhs,
        |    list_extract(sp, CAST(j AS INT) + 1) AS rhs,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, chr(31)) AS sp, freq FROM s1),
        |    UNNEST(range(1, len(sp))) t(j)
        |  GROUP BY 1, 2
        |), m2 AS (SELECT lhs, rhs, cnt FROM p2 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |s2 AS (
        |  SELECT list_reduce(string_split(p.s, chr(31)),
        |    (acc, x) -> CASE WHEN x = m2.rhs AND
        |        (acc = m2.lhs OR ends_with(acc, chr(31) || m2.lhs))
        |      THEN acc || x ELSE acc || chr(31) || x END) AS s, p.freq
        |  FROM s1 p CROSS JOIN m2
        |), p3 AS (
        |  SELECT list_extract(sp, CAST(j AS INT)) AS lhs,
        |    list_extract(sp, CAST(j AS INT) + 1) AS rhs,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, chr(31)) AS sp, freq FROM s2),
        |    UNNEST(range(1, len(sp))) t(j)
        |  GROUP BY 1, 2
        |), m3 AS (SELECT lhs, rhs, cnt FROM p3 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |s3 AS (
        |  SELECT list_reduce(string_split(p.s, chr(31)),
        |    (acc, x) -> CASE WHEN x = m3.rhs AND
        |        (acc = m3.lhs OR ends_with(acc, chr(31) || m3.lhs))
        |      THEN acc || x ELSE acc || chr(31) || x END) AS s, p.freq
        |  FROM s2 p CROSS JOIN m3
        |), p4 AS (
        |  SELECT list_extract(sp, CAST(j AS INT)) AS lhs,
        |    list_extract(sp, CAST(j AS INT) + 1) AS rhs,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, chr(31)) AS sp, freq FROM s3),
        |    UNNEST(range(1, len(sp))) t(j)
        |  GROUP BY 1, 2
        |), m4 AS (SELECT lhs, rhs, cnt FROM p4 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |s4 AS (
        |  SELECT list_reduce(string_split(p.s, chr(31)),
        |    (acc, x) -> CASE WHEN x = m4.rhs AND
        |        (acc = m4.lhs OR ends_with(acc, chr(31) || m4.lhs))
        |      THEN acc || x ELSE acc || chr(31) || x END) AS s, p.freq
        |  FROM s3 p CROSS JOIN m4
        |), p5 AS (
        |  SELECT list_extract(sp, CAST(j AS INT)) AS lhs,
        |    list_extract(sp, CAST(j AS INT) + 1) AS rhs,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, chr(31)) AS sp, freq FROM s4),
        |    UNNEST(range(1, len(sp))) t(j)
        |  GROUP BY 1, 2
        |), m5 AS (SELECT lhs, rhs, cnt FROM p5 ORDER BY cnt DESC, lhs, rhs LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS step, lhs, rhs, cnt FROM m1 UNION ALL
        |SELECT CAST(2 AS BIGINT) AS step, lhs, rhs, cnt FROM m2 UNION ALL
        |SELECT CAST(3 AS BIGINT) AS step, lhs, rhs, cnt FROM m3 UNION ALL
        |SELECT CAST(4 AS BIGINT) AS step, lhs, rhs, cnt FROM m4 UNION ALL
        |SELECT CAST(5 AS BIGINT) AS step, lhs, rhs, cnt FROM m5
        |ORDER BY step""".stripMargin,
    // first-occurrence span dedup: the packed (doc_id, span_idx) order key
    // makes the winner a plain min; md5 of the space-joined surviving spans
    // pins the reconstruction ('' when a doc loses every span — matches
    // concat_ws over an empty array)
    "q218_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''
        |), spans AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
        |    array_to_string(tk[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' ') AS span
        |  FROM toks, UNNEST(range(0, CAST(ceil(len(tk)/8.0) AS BIGINT))) t(i)
        |), keyed AS (
        |  SELECT doc_id, span_idx, span,
        |    doc_id * 1048576 + span_idx AS ord
        |  FROM spans
        |), firsts AS (
        |  SELECT span, min(ord) AS first_ord FROM keyed GROUP BY span
        |)
        |SELECT k.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN k.ord = f.first_ord THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(string_agg(CASE WHEN k.ord = f.first_ord THEN k.span END,
        |    ' ' ORDER BY k.span_idx), '')) AS clean_md5
        |FROM keyed k JOIN firsts f USING (span)
        |GROUP BY k.doc_id
        |ORDER BY k.doc_id""".stripMargin,
    // keep iff u(doc_id) < quality²: u is the overflow-safe Knuth hash
    // fraction — four integer ops, identical in any engine
    "q219_soft_quality_sample" ->
      s"""WITH scored AS (
        |  SELECT doc_id, source,
        |    ${qualitySqlExpr("text")} AS q,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
        |    ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h
        |  FROM documents
        |)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(toks) AS BIGINT) AS tokens_kept,
        |  round(avg(q) + 1e-9, 4) AS avg_quality
        |FROM scored
        |WHERE h / 4294967296.0 < least(greatest(q * q, 0.0), 1.0)
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // q217's five unrolled merge iterations with the WORD carried through,
    // then every word re-segmented and the per-source compression
    // recomputed from word-occurrence joins (generated by BpeSegmentOracle)
    "q221_bpe_segment" -> BpeSegmentOracle,
    // deterministic hash-order cumsum, shard = floor(token offset / 4096)
    "q220_shard_plan" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
        |    ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    sum(n_tok) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d
        |)
        |SELECT CAST((cum - n_tok) // 4096 AS BIGINT) AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // add-α bigram LM trained on the en slice; P(w2|w1) from exact integer
    // counts; CCNet terciles over the rounded cross-entropy
    "q222_lm_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''
        |), bi AS (
        |  SELECT doc_id, lang,
        |    toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
        |  FROM tok, unnest(range(1, len(toks))) t(i)
        |), c2 AS (
        |  SELECT w1, w2, count(*) AS c2 FROM bi WHERE lang = 'en' GROUP BY 1, 2
        |), c1 AS (
        |  SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1
        |), v AS (
        |  SELECT count(DISTINCT w) + 1 AS v_
        |  FROM (SELECT unnest(toks) AS w FROM tok WHERE lang = 'en')
        |), ce AS (
        |  SELECT b.doc_id, count(*) AS n_bigrams,
        |    avg(-log2((coalesce(c2.c2, 0) + 0.1)
        |      / (coalesce(c1.c1, 0) + 0.1 * v.v_))) AS ce_raw
        |  FROM bi b LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1), v
        |  GROUP BY 1
        |), r AS (
        |  SELECT doc_id, n_bigrams, round(ce_raw + 1e-9, 4) AS ce FROM ce
        |), nt AS (
        |  SELECT doc_id, n_bigrams, ce,
        |    ntile(3) OVER (ORDER BY ce, doc_id) AS terc
        |  FROM r
        |)
        |SELECT doc_id, n_bigrams, ce,
        |  CASE terc WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM nt ORDER BY doc_id""".stripMargin,
    // bag-of-unigrams importance weight log p_target/p_raw, add-α smoothed
    // over the union vocabulary (target ⊆ raw here, so union = raw vocab)
    "q223_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> ''
        |), cr AS (
        |  SELECT w, count(*) AS cr FROM tok GROUP BY 1
        |), ct AS (
        |  SELECT w, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1
        |), counts AS (
        |  SELECT cr.w, cr.cr, coalesce(ct.ct, 0) AS ct
        |  FROM cr LEFT JOIN ct USING (w)
        |), tot AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v_,
        |    CAST(sum(cr) AS DOUBLE) AS nr_, CAST(sum(ct) AS DOUBLE) AS nt_
        |  FROM counts
        |), sc AS (
        |  SELECT t.doc_id, count(*) AS n_feat,
        |    sum(ln((c.ct + 0.01) / (tot.nt_ + 0.01 * tot.v_))
        |      - ln((c.cr + 0.01) / (tot.nr_ + 0.01 * tot.v_))) AS lw
        |  FROM tok t JOIN counts c USING (w), tot
        |  GROUP BY 1
        |)
        |SELECT doc_id, n_feat, round(lw + 1e-9, 4) AS log_weight,
        |  round(lw + 1e-9, 4) > 0 AS selected
        |FROM sc ORDER BY doc_id""".stripMargin,
    // sign-bucket LSH (dims 1..6, weights 1,2,4,8,16,32), within-bucket
    // cosine >= 0.3 pairs, dup_of = smallest matching lower id
    "q224_semantic_dedup" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
        |    + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
        |    + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bucket
        |  FROM embeddings
        |), pairs AS (
        |  SELECT b.vec_id AS bid, min(a.vec_id) AS dup_of
        |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.e, b.e)
        |      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
        |      >= 0.3
        |  GROUP BY 1
        |)
        |SELECT v.vec_id, CAST(v.bucket AS BIGINT) AS bucket, p.dup_of,
        |  p.dup_of IS NOT NULL AS is_dup
        |FROM v LEFT JOIN pairs p ON v.vec_id = p.bid
        |ORDER BY v.vec_id""".stripMargin,
    // CMS cells from 4 disjoint 8-hex md5 slices mod 512; estimate = min
    // over the 4 row-counters; overcount >= 0 is the one-sided guarantee
    "q225_cms_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> ''
        |), hh AS (
        |  SELECT w, count(*) AS exact_cnt FROM tok GROUP BY 1
        |  HAVING count(*) >= 50
        |), cells AS (
        |  SELECT d,
        |    CAST(CAST(concat('0x', substr(md5(w), 1 + 8*d, 8)) AS BIGINT)
        |      % 512 AS BIGINT) AS bucket,
        |    count(*) AS cnt
        |  FROM tok, unnest([0, 1, 2, 3]) t(d)
        |  GROUP BY 1, 2
        |), est AS (
        |  SELECT hh.w, hh.exact_cnt, min(coalesce(c.cnt, 0)) AS est_cnt
        |  FROM hh CROSS JOIN unnest([0, 1, 2, 3]) t(d)
        |  LEFT JOIN cells c ON c.d = t.d
        |    AND c.bucket = CAST(CAST(concat('0x',
        |      substr(md5(hh.w), 1 + 8*t.d, 8)) AS BIGINT) % 512 AS BIGINT)
        |  GROUP BY 1, 2
        |)
        |SELECT w, exact_cnt, est_cnt, est_cnt - exact_cnt AS overcount
        |FROM est ORDER BY w""".stripMargin,
    // the streamed CMS cell table must equal the batch recomputation from
    // the same md5-slice buckets over user ids rendered as decimal strings;
    // user_id IS NOT NULL mirrors the sketch's null-item filter
    "q226_stream_cms" ->
      """SELECT CAST(d AS BIGINT) AS d,
        |  CAST(CAST(concat('0x',
        |    substr(md5(CAST(user_id AS VARCHAR)), 1 + 8*d, 8)) AS BIGINT)
        |    % 64 AS BIGINT) AS bucket,
        |  count(*) AS cnt
        |FROM events, unnest([0, 1, 2, 3]) t(d)
        |WHERE user_id IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY d, bucket""".stripMargin,
    // positives = q224's bucketed near-dup pairs; hard negative = rank-1 by
    // (sim desc, id) among corpus vectors strictly below the 0.3 threshold
    "q227_contrastive_triplets" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
        |    + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
        |    + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bucket
        |  FROM embeddings
        |), pos AS (
        |  SELECT min(a.vec_id) AS anchor, b.vec_id AS positive
        |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.e, b.e)
        |      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
        |      >= 0.3
        |  GROUP BY b.vec_id
        |), anchors AS (
        |  SELECT DISTINCT p.anchor, v.e AS ae FROM pos p JOIN v ON v.vec_id = p.anchor
        |), neg AS (
        |  SELECT anchor, cid, sim FROM (
        |    SELECT a.anchor, c.vec_id AS cid,
        |      list_dot_product(a.ae, c.e)
        |        / (sqrt(list_dot_product(a.ae, a.ae)) * sqrt(list_dot_product(c.e, c.e))) AS sim,
        |      row_number() OVER (PARTITION BY a.anchor
        |        ORDER BY list_dot_product(a.ae, c.e)
        |          / (sqrt(list_dot_product(a.ae, a.ae)) * sqrt(list_dot_product(c.e, c.e))) DESC,
        |        c.vec_id) AS rn
        |    FROM anchors a, v c
        |    WHERE c.vec_id != a.anchor
        |      AND list_dot_product(a.ae, c.e)
        |        / (sqrt(list_dot_product(a.ae, a.ae)) * sqrt(list_dot_product(c.e, c.e))) < 0.3
        |  ) WHERE rn = 1
        |)
        |SELECT p.anchor, p.positive, n.cid AS negative,
        |  round(list_dot_product(va.e, vp.e)
        |    / (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vp.e, vp.e)))
        |    + 1e-9, 6) AS pos_sim,
        |  round(n.sim + 1e-9, 6) AS neg_sim
        |FROM pos p
        |JOIN v va ON va.vec_id = p.anchor
        |JOIN v vp ON vp.vec_id = p.positive
        |JOIN neg n ON n.anchor = p.anchor
        |ORDER BY p.anchor, p.positive""".stripMargin,
    // brute-force cross-split exact Jaccard on the raw shingle STRING sets
    // (q46 precedent: 64-bit shingle hashing is injective in practice)
    "q228_incremental_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)])
        |    END AS s
        |  FROM d
        |), pairs AS (
        |  SELECT a.doc_id AS inc_id, b.doc_id AS corp_id,
        |    len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(a.s || b.s)) AS j
        |  FROM sh a JOIN sh b
        |    ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |)
        |SELECT inc_id, corp_id, round(j + 1e-9, 4) AS jac
        |FROM pairs WHERE j >= 0.25
        |ORDER BY inc_id, corp_id""".stripMargin,
    // Morton interleave of 6-bit (x, y): x bit b -> position 2b, y bit b ->
    // 2b+1; 32 slices = z >> 7; per-slice bounding boxes
    "q229_zorder_layout" ->
      """WITH d AS (
        |  SELECT CAST(user_id % 64 AS BIGINT) AS x,
        |    CAST(dayofyear(ts) % 64 AS BIGINT) AS y
        |  FROM events
        |), z AS (
        |  SELECT x, y,
        |      (((x >> 0) & 1) << 0) + (((y >> 0) & 1) << 1)
        |    + (((x >> 1) & 1) << 2) + (((y >> 1) & 1) << 3)
        |    + (((x >> 2) & 1) << 4) + (((y >> 2) & 1) << 5)
        |    + (((x >> 3) & 1) << 6) + (((y >> 3) & 1) << 7)
        |    + (((x >> 4) & 1) << 8) + (((y >> 4) & 1) << 9)
        |    + (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11) AS zv
        |  FROM d
        |)
        |SELECT zv >> 7 AS z_slice, min(x) AS min_x, max(x) AS max_x,
        |  min(y) AS min_y, max(y) AS max_y, count(*) AS n_rows
        |FROM z GROUP BY 1 ORDER BY z_slice""".stripMargin,
    // cumulative funnel: quality (q13's scorer) -> 4-gram decontamination
    // (q204's rule) -> exact text dedup keep-min -> 5-gram Jaccard >= 0.5
    // near-dup removal (q46's predicate, higher id dropped)
    "q230_curation_funnel" ->
      s"""WITH base AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
        |    ${qualitySqlExpr("text")} AS q
        |  FROM documents
        |), s1 AS (
        |  SELECT * FROM base WHERE q >= 0.5
        |), tok4 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
        |  FROM tok4, unnest(range(1, len(tk) - 2)) t(i)
        |), benchg AS (
        |  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        |), hits AS (
        |  SELECT c.doc_id FROM grams c JOIN benchg b USING (g)
        |  WHERE c.doc_id % 50 <> 0
        |  GROUP BY c.doc_id HAVING count(DISTINCT c.g) >= 5
        |), s2 AS (
        |  SELECT s1.* FROM s1
        |  WHERE s1.doc_id % 50 <> 0
        |    AND s1.doc_id NOT IN (SELECT doc_id FROM hits)
        |), s3 AS (
        |  SELECT * FROM s2
        |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
        |), shd AS (
        |  SELECT doc_id, lang,
        |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
        |  FROM s3
        |), sh AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)])
        |    END AS s
        |  FROM shd
        |), nd AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(a.s || b.s)) >= 0.5
        |), s4 AS (
        |  SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM nd)
        |)
        |SELECT * FROM (
        |  SELECT '0_raw' AS stage, count(*) AS n_docs,
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) AS n_tokens FROM base
        |  UNION ALL SELECT '1_quality', count(*),
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) FROM s1
        |  UNION ALL SELECT '2_decontaminated', count(*),
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) FROM s2
        |  UNION ALL SELECT '3_exact_dedup', count(*),
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) FROM s3
        |  UNION ALL SELECT '4_near_dedup', count(*),
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) FROM s4
        |) ORDER BY stage""".stripMargin,
    // q231 is q46's brute-force oracle verbatim — the self-join engine must
    // agree pair-for-pair with the all-pairs plan on the same predicate
    "q231_selfjoin_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)])
        |    END AS s
        |  FROM d
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(a.s || b.s)) AS j
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, round(j + 1e-9, 4) AS jac
        |FROM pairs WHERE j >= 0.5
        |ORDER BY jac DESC, id_a, id_b""".stripMargin,
    // q232: q211's transition counts restricted to gaps <= the 4 h TTL —
    // the TTL'd stream must equal the batch window with the gap predicate
    "q232_stream_ttl_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER w AS dst,
        |    lead(ts) OVER w AS dst_ts, ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT src, dst, count(*) AS c FROM seq
        |WHERE dst IS NOT NULL AND dst_ts <= ts + INTERVAL 4 HOUR
        |GROUP BY src, dst ORDER BY src, dst""".stripMargin,
    // q233 is q228's oracle at the production threshold τ=0.5
    "q233_incremental_neardup_t50" ->
      """WITH d AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)])
        |    END AS s
        |  FROM d
        |), pairs AS (
        |  SELECT a.doc_id AS inc_id, b.doc_id AS corp_id,
        |    len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(a.s || b.s)) AS j
        |  FROM sh a JOIN sh b
        |    ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |)
        |SELECT inc_id, corp_id, round(j + 1e-9, 4) AS jac
        |FROM pairs WHERE j >= 0.5
        |ORDER BY inc_id, corp_id""".stripMargin,
    // q234: the oracle re-derives the HLL cells from the same md5 slices
    // (bucket = first 8 hex mod 2^11; rho = leading zeros of the next 8
    // hex + 1, via exact integer/string logic) and applies the identical
    // closed-form bias-corrected estimate with linear-counting switch.
    "q234_hll_distinct" ->
      """WITH tok AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE trim(text) <> ''
        |), cells AS (
        |  SELECT lang,
        |    CAST(CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 2048 AS BIGINT) AS bucket,
        |    max(CASE WHEN CAST(concat('0x', substr(md5(w), 9, 8)) AS BIGINT) = 0 THEN 33
        |        ELSE instr(lpad(bin(CAST(concat('0x', substr(md5(w), 9, 8)) AS BIGINT)), 32, '0'), '1')
        |        END) AS r
        |  FROM tok GROUP BY 1, 2
        |), agg_ AS (
        |  SELECT lang, sum(power(2.0, -r)) AS sp, CAST(count(*) AS DOUBLE) AS used
        |  FROM cells GROUP BY 1
        |), calc AS (
        |  SELECT lang,
        |    0.7213 / (1 + 1.079 / 2048.0) * 2048 * 2048 / (sp + (2048 - used)) AS raw,
        |    2048 - used AS zeros
        |  FROM agg_
        |), fin AS (
        |  SELECT lang,
        |    CASE WHEN raw <= 2.5 * 2048 AND zeros > 0
        |         THEN 2048 * ln(2048 / zeros) ELSE raw END AS e
        |  FROM calc
        |), ex AS (
        |  SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
        |  FROM tok GROUP BY 1
        |)
        |SELECT ex.lang, ex.exact_distinct, round(fin.e + 1e-9, 2) AS hll_est
        |FROM ex JOIN fin USING (lang) ORDER BY lang""".stripMargin,
    // q235: the drained streaming cell table must equal the batch sketch
    "q235_stream_hll" ->
      """WITH cells AS (
        |  SELECT
        |    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 512 AS BIGINT) AS bucket,
        |    max(CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT) = 0
        |        THEN 33
        |        ELSE instr(lpad(bin(CAST(concat('0x',
        |          substr(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT)), 32, '0'), '1')
        |        END) AS r
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |)
        |SELECT bucket, CAST(r AS BIGINT) AS r FROM cells ORDER BY bucket""".stripMargin,
    // q236: batch sessionization (q24's lag/gap pipeline, integer-μs gap
    // compare matching the fold exactly) restricted to CLOSED sessions —
    // followed by a later same-user session, or flushed by the event-time
    // timeout: the engine's watermark/timeout arithmetic runs at ms
    // granularity (floor), mirrored via epoch_ms
    "q236_stream_ttl_sessions" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL
        |      OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM lagged
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |), grouped AS (
        |  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
        |    count(*) AS n_events
        |  FROM sess GROUP BY user_id, sid
        |), marked AS (
        |  SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid FROM grouped
        |), wm AS (
        |  SELECT epoch_ms(max(ts)) - 86400000 AS w FROM events
        |)
        |SELECT user_id, session_start, session_end, n_events
        |FROM marked, wm
        |WHERE sid < max_sid OR epoch_ms(session_end) + 1800000 < w
        |ORDER BY user_id, session_start""".stripMargin,
    // q237: the tick recomputed declaratively — q230's stage fragments on
    // the batch slice, then greedy-by-rank near-dup resolution unrolled as
    // CTE rounds (MATERIALIZED: each round references the previous twice,
    // and inlining would re-evaluate the pair join exponentially)
    "q237_curation_tick" -> curationTickOracleSql,
    // q238: the oracle re-derives the histogram cells from the identical
    // dyadic-width bin formula (w = 110000/2048 = 53.7109375, exact in
    // binary), the cumulative ranks, and the same interpolation written in
    // the same algebraic order; exact percentiles via quantile_cont (type-7,
    // = Spark `percentile`, the q34 precedent)
    "q238_quantile_sketch" ->
      """WITH cells AS (
        |  SELECT l_returnflag,
        |    CAST(least(greatest(floor((l_extendedprice - 0.0) / 53.7109375), 0), 2047)
        |      AS BIGINT) AS bin,
        |    count(*) AS cnt
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
        |), cum AS (
        |  SELECT l_returnflag, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
        |  FROM cells
        |), qv AS (
        |  SELECT unnest(CAST([0.25, 0.5, 0.75, 0.95, 0.99] AS DOUBLE[])) AS q
        |), hit AS (
        |  SELECT c.l_returnflag, q.q, c.n,
        |    0.0 + 53.7109375 * c.bin
        |        + 53.7109375 * ((q.q * c.n - (c.cum - c.cnt)) / c.cnt) AS est
        |  FROM cum c, qv q
        |  WHERE c.cum >= q.q * c.n AND (c.cum - c.cnt) < q.q * c.n
        |), ex0 AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.95, 0.99]) AS evs
        |  FROM lineitem GROUP BY 1
        |), ex AS (
        |  SELECT l_returnflag,
        |    unnest(CAST([0.25, 0.5, 0.75, 0.95, 0.99] AS DOUBLE[])) AS q,
        |    unnest(evs) AS ev
        |  FROM ex0
        |)
        |SELECT h.l_returnflag, h.q, round(h.est + 1e-9, 4) AS sketch_est,
        |  round(ex.ev + 1e-9, 4) AS exact_v, CAST(h.n AS BIGINT) AS n
        |FROM hit h JOIN ex ON h.l_returnflag = ex.l_returnflag AND h.q = ex.q
        |ORDER BY 1, 2""".stripMargin,
    // q239: the drained streaming cell table must equal the batch histogram
    "q239_stream_hist" ->
      """SELECT
        |  CAST(least(greatest(floor((value - 0.0) / 2.0), 0), 255) AS BIGINT) AS bin,
        |  count(*) AS cnt
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin,
    // q240: the oracle re-derives the α-smoothed plan (rate = T^0.3/ΣT^0.3,
    // epochs = budget·rate/T rounded at 6 dp BEFORE the sampling decision)
    // and the per-doc realization from the same Knuth-hash uniform
    "q240_temperature_mix" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
        |  FROM documents
        |), tot AS (
        |  SELECT lang, CAST(sum(toks) AS BIGINT) AS t FROM d GROUP BY 1
        |  HAVING sum(toks) > 0
        |), z AS (
        |  SELECT sum(power(t, 0.3)) AS z, CAST(sum(t) AS BIGINT) AS gt FROM tot
        |), plan AS (
        |  SELECT lang, t, power(t, 0.3) / z.z AS rate,
        |    round((0.5 * z.gt) * (power(t, 0.3) / z.z) / t + 1e-9, 6) AS e6
        |  FROM tot, z
        |), samp AS (
        |  SELECT d.doc_id, d.lang, d.toks, p.e6,
        |    CAST(floor(p.e6) AS BIGINT) +
        |    CASE WHEN ((d.doc_id % 2147483648) * 2654435761) % 4294967296
        |              / 4294967296.0 < p.e6 - floor(p.e6) THEN 1 ELSE 0 END AS n_copies
        |  FROM d JOIN plan p USING (lang)
        |)
        |SELECT p.lang, p.t AS tokens, round(p.rate + 1e-9, 6) AS rate,
        |  p.e6 AS epochs,
        |  CAST(coalesce(sum(s.n_copies), 0) AS BIGINT) AS sampled_docs,
        |  CAST(coalesce(sum(s.n_copies * s.toks), 0) AS BIGINT) AS sampled_toks
        |FROM plan p LEFT JOIN samp s ON p.lang = s.lang
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,
    // q241: per-day HLL cells + the q234 closed-form estimate, restricted
    // to days the final watermark closed (q81's closure predicate)
    "q241_stream_windowed_hll" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 512 AS BIGINT) AS bucket,
        |    max(CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT) = 0
        |        THEN 33
        |        ELSE instr(lpad(bin(CAST(concat('0x',
        |          substr(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT)), 32, '0'), '1')
        |        END) AS r
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
        |), agg_ AS (
        |  SELECT day, sum(power(2.0, -r)) AS sp, CAST(count(*) AS DOUBLE) AS used
        |  FROM cells GROUP BY 1
        |), calc AS (
        |  SELECT day,
        |    0.7213 / (1 + 1.079 / 512.0) * 512 * 512 / (sp + (512 - used)) AS raw,
        |    512 - used AS zeros
        |  FROM agg_
        |), fin AS (
        |  SELECT day,
        |    CASE WHEN raw <= 2.5 * 512 AND zeros > 0
        |         THEN 512 * ln(512 / zeros) ELSE raw END AS e
        |  FROM calc
        |)
        |SELECT day, round(e + 1e-9, 2) AS hll_users
        |FROM fin, mx
        |WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |ORDER BY day""".stripMargin,
    // q242: the oracle re-derives the per-day KMV membership (k smallest
    // 13-hex md5 hashes over distinct users, ties by item), the
    // (k−1)/U_(k) estimate with the <k exact fallback, and the exact count
    "q242_kmv_users" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, CAST(user_id AS VARCHAR) AS u
        |  FROM events WHERE user_id IS NOT NULL
        |), h AS (
        |  SELECT d, u, CAST(concat('0x', substr(md5(u), 1, 13)) AS BIGINT) AS h FROM du
        |), rk AS (
        |  SELECT d, u, h, row_number() OVER (PARTITION BY d ORDER BY h, u) AS rk
        |  FROM h
        |), keep AS (SELECT * FROM rk WHERE rk <= 16),
        |est AS (
        |  SELECT d,
        |    CASE WHEN max(rk) < 16 THEN CAST(count(*) AS DOUBLE)
        |         ELSE (16 - 1) / (CAST(max(h) AS DOUBLE) / 4503599627370496.0)
        |         END AS est
        |  FROM keep GROUP BY 1
        |), ex AS (
        |  SELECT d, CAST(count(*) AS BIGINT) AS exact_distinct FROM du GROUP BY 1
        |)
        |SELECT k.d, CAST(k.rk AS INT) AS rk, k.h AS item_h, k.u AS item,
        |  round(e.est + 1e-9, 2) AS kmv_est, ex.exact_distinct
        |FROM keep k JOIN est e ON k.d = e.d JOIN ex ON k.d = ex.d
        |ORDER BY 1, 2""".stripMargin,
    // q243: the whole mix pipeline recomputed — q13's quality screen, q240's
    // α-plan + Knuth-uniform realization at budget = the screened total,
    // copy expansion, q220's hash-order cumsum sharding over copy ids
    "q243_training_mix" ->
      s"""WITH d0 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
        |    ${qualitySqlExpr("text")} AS q
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, lang, toks FROM d0 WHERE q >= 0.5 AND toks > 0
        |), tot AS (
        |  SELECT lang, CAST(sum(toks) AS BIGINT) AS t FROM d GROUP BY 1
        |  HAVING sum(toks) > 0
        |), z AS (
        |  SELECT sum(power(t, 0.3)) AS z, CAST(sum(t) AS BIGINT) AS gt FROM tot
        |), plan AS (
        |  SELECT lang, t,
        |    round((1.0 * z.gt) * (power(t, 0.3) / z.z) / t + 1e-9, 6) AS e6
        |  FROM tot, z
        |), samp AS (
        |  SELECT d.doc_id, d.lang, d.toks,
        |    CAST(floor(p.e6) AS BIGINT) +
        |    CASE WHEN ((d.doc_id % 2147483648) * 2654435761) % 4294967296
        |              / 4294967296.0 < p.e6 - floor(p.e6) THEN 1 ELSE 0 END AS n_copies
        |  FROM d JOIN plan p USING (lang)
        |), expd AS (
        |  SELECT doc_id * 8 + g.c AS cid, lang, toks
        |  FROM samp, unnest(range(0, n_copies)) g(c)
        |), h AS (
        |  SELECT cid, lang, toks,
        |    ((cid % 2147483648) * 2654435761) % 4294967296 AS hh
        |  FROM expd
        |), c AS (
        |  SELECT cid, lang, toks,
        |    sum(toks) OVER (ORDER BY hh, cid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h
        |)
        |SELECT CAST((cum - toks) // 4096 AS BIGINT) AS shard_id, lang,
        |  CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(toks) AS BIGINT) AS n_toks
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q244_kmv_overlap" ->
      """WITH raw AS (
        |  SELECT DISTINCT event_type AS seg,
        |    concat(CAST(user_id AS VARCHAR), '|', CAST(CAST(ts AS DATE) AS VARCHAR)) AS item
        |  FROM events WHERE user_id IS NOT NULL
        |), hashed AS (
        |  SELECT seg, item,
        |    CAST(concat('0x', substr(md5(item), 1, 13)) AS BIGINT) AS h
        |  FROM raw
        |), cells AS (
        |  SELECT * FROM (
        |    SELECT seg, h, item,
        |      row_number() OVER (PARTITION BY seg ORDER BY h, item) AS rk
        |    FROM hashed) t WHERE rk <= 128
        |), segs AS (SELECT DISTINCT seg FROM raw),
        |pairs AS (
        |  SELECT a.seg AS sa, b.seg AS sb FROM segs a JOIN segs b ON a.seg < b.seg
        |), uni AS (
        |  SELECT DISTINCT sa, sb, h, item FROM (
        |    SELECT p.sa, p.sb, c.h, c.item FROM pairs p JOIN cells c ON c.seg = p.sa
        |    UNION ALL
        |    SELECT p.sa, p.sb, c.h, c.item FROM pairs p JOIN cells c ON c.seg = p.sb) u
        |), ku AS (
        |  SELECT * FROM (
        |    SELECT sa, sb, h, item,
        |      row_number() OVER (PARTITION BY sa, sb ORDER BY h, item) AS rk
        |    FROM uni) t WHERE rk <= 128
        |), flags AS (
        |  SELECT k.sa, k.sb, k.h,
        |    (ca.item IS NOT NULL AND cb.item IS NOT NULL) AS inboth
        |  FROM ku k
        |  LEFT JOIN cells ca ON ca.seg = k.sa AND ca.item = k.item
        |  LEFT JOIN cells cb ON cb.seg = k.sb AND cb.item = k.item
        |), est AS (
        |  SELECT sa, sb, count(*) AS n_union_cells, max(h) AS hk,
        |    sum(CASE WHEN inboth THEN 1 ELSE 0 END) AS matched
        |  FROM flags GROUP BY 1, 2
        |), sizes AS (SELECT seg, count(*) AS sz FROM raw GROUP BY 1),
        |exi AS (
        |  SELECT a.seg AS sa, b.seg AS sb, count(*) AS ei
        |  FROM raw a JOIN raw b ON a.item = b.item AND a.seg < b.seg
        |  GROUP BY 1, 2
        |)
        |SELECT e.sa AS seg_a, e.sb AS seg_b,
        |  CAST(e.n_union_cells AS BIGINT) AS n_union_cells,
        |  round(CASE WHEN e.n_union_cells < 128 THEN CAST(e.n_union_cells AS DOUBLE)
        |    ELSE 127.0 / (CAST(e.hk AS DOUBLE) / 4503599627370496.0) END + 1e-9, 2) AS est_union,
        |  round((CASE WHEN e.n_union_cells < 128 THEN CAST(e.n_union_cells AS DOUBLE)
        |    ELSE 127.0 / (CAST(e.hk AS DOUBLE) / 4503599627370496.0) END)
        |    * (CAST(e.matched AS DOUBLE) / e.n_union_cells) + 1e-9, 2) AS est_inter,
        |  round(CAST(e.matched AS DOUBLE) / e.n_union_cells + 1e-9, 6) AS jaccard_est,
        |  CAST(na.sz + nb.sz - COALESCE(exi.ei, 0) AS BIGINT) AS exact_union,
        |  CAST(COALESCE(exi.ei, 0) AS BIGINT) AS exact_inter
        |FROM est e
        |JOIN sizes na ON na.seg = e.sa
        |JOIN sizes nb ON nb.seg = e.sb
        |LEFT JOIN exi ON exi.sa = e.sa AND exi.sb = e.sb
        |ORDER BY seg_a, seg_b""".stripMargin,
    "q245_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w
        |  FROM documents
        |), keyed AS (
        |  SELECT doc_id, lang, w,
        |    ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
        |       / 4503599627370496.0) / w AS ek
        |  FROM d WHERE w > 0
        |), r AS (
        |  SELECT lang, doc_id, w, ek,
        |    row_number() OVER (PARTITION BY lang ORDER BY ek DESC, doc_id) AS rk
        |  FROM keyed
        |)
        |SELECT lang, CAST(rk AS INT) AS rank, doc_id, CAST(w AS BIGINT) AS weight,
        |  round(ek + 1e-9, 6) AS es_key
        |FROM r WHERE rk <= 16 ORDER BY lang, rank""".stripMargin,
    "q246_stream_kmv" ->
      """WITH du AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u
        |  FROM events WHERE user_id IS NOT NULL
        |), h AS (
        |  SELECT event_type, u,
        |    CAST(concat('0x', substr(md5(u), 1, 13)) AS BIGINT) AS h
        |  FROM du
        |), rk AS (
        |  SELECT event_type, u, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h, u) AS rk
        |  FROM h
        |), keep AS (SELECT * FROM rk WHERE rk <= 16),
        |est AS (
        |  SELECT event_type,
        |    CASE WHEN max(rk) < 16 THEN CAST(count(*) AS DOUBLE)
        |         ELSE (16 - 1) / (CAST(max(h) AS DOUBLE) / 4503599627370496.0)
        |         END AS est
        |  FROM keep GROUP BY 1
        |), ex AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
        |  FROM du GROUP BY 1
        |)
        |SELECT k.event_type, CAST(k.rk AS INT) AS rk, k.h AS item_h, k.u AS item,
        |  round(e.est + 1e-9, 2) AS kmv_est, ex.exact_distinct
        |FROM keep k
        |JOIN est e ON k.event_type = e.event_type
        |JOIN ex ON k.event_type = ex.event_type
        |ORDER BY 1, 2""".stripMargin,
    "q247_domain_caps" ->
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
        |    ${qualitySqlExpr("text")} AS q
        |  FROM documents
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rk
        |  FROM d
        |)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE rk <= 20) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(sum(toks) FILTER (WHERE rk <= 20), 0) AS BIGINT) AS kept_toks,
        |  CAST(sum(toks) - COALESCE(sum(toks) FILTER (WHERE rk <= 20), 0) AS BIGINT)
        |    AS dropped_toks,
        |  round(min(q) FILTER (WHERE rk <= 20) + 1e-9, 6) AS cutoff_q
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // q248: the indexed two-tick loop ≡ ONE combined tick by greedy
    // composability (CurationSpec proves the split invariance; the corpus,
    // bench, and combined batch here are exactly q237's), so the oracle is
    // q237's declarative recomputation verbatim.
    "q248_indexed_ticks" -> curationTickOracleSql,
    // q249: the oracle re-derives the probed range (floor(min),
    // floor(max)+1), the dyadic-width cells, the interpolated estimates,
    // and the exact percentiles — identical IEEE arithmetic in the same
    // algebraic order as QuantileSketch (the q238 discipline, range now
    // data-derived)
    "q249_adaptive_quantiles" ->
      """WITH rng AS (
        |  SELECT CAST(floor(min(o_totalprice)) AS DOUBLE) AS lo,
        |         CAST(floor(max(o_totalprice)) + 1 AS DOUBLE) AS hi
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |), cells AS (
        |  SELECT o_orderpriority,
        |    CAST(least(greatest(
        |      floor((o_totalprice - rng.lo) / ((rng.hi - rng.lo) / 2048.0)), 0), 2047)
        |      AS BIGINT) AS bin,
        |    count(*) AS cnt
        |  FROM orders, rng WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
        |), cum AS (
        |  SELECT o_orderpriority, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM cells
        |), qv AS (
        |  SELECT unnest(CAST([0.25, 0.5, 0.75, 0.95, 0.99] AS DOUBLE[])) AS q
        |), hit AS (
        |  SELECT c.o_orderpriority, q.q, c.n,
        |    rng.lo + ((rng.hi - rng.lo) / 2048.0) * c.bin
        |        + ((rng.hi - rng.lo) / 2048.0)
        |          * ((q.q * c.n - (c.cum - c.cnt)) / c.cnt) AS est
        |  FROM cum c, qv q, rng
        |  WHERE c.cum >= q.q * c.n AND (c.cum - c.cnt) < q.q * c.n
        |), ex0 AS (
        |  SELECT o_orderpriority,
        |    quantile_cont(o_totalprice, [0.25, 0.5, 0.75, 0.95, 0.99]) AS evs
        |  FROM orders GROUP BY 1
        |), ex AS (
        |  SELECT o_orderpriority,
        |    unnest(CAST([0.25, 0.5, 0.75, 0.95, 0.99] AS DOUBLE[])) AS q,
        |    unnest(evs) AS ev
        |  FROM ex0
        |)
        |SELECT h.o_orderpriority, h.q, round(h.est + 1e-9, 4) AS sketch_est,
        |  round(ex.ev + 1e-9, 4) AS exact_v, CAST(h.n AS BIGINT) AS n
        |FROM hit h JOIN ex ON h.o_orderpriority = ex.o_orderpriority AND h.q = ex.q
        |ORDER BY 1, 2""".stripMargin,
    // q250: q245's derivation verbatim over the event stream — the drained
    // streaming buffers must equal the batch ES ranking
    "q250_stream_weighted_sample" ->
      """WITH d AS (
        |  SELECT event_id, event_type, CAST(floor(value) AS BIGINT) AS w
        |  FROM events
        |  WHERE value IS NOT NULL AND floor(value) > 0 AND event_id IS NOT NULL
        |), keyed AS (
        |  SELECT event_type, event_id, w,
        |    ln((CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
        |       / 4503599627370496.0) / w AS ek
        |  FROM d
        |), r AS (
        |  SELECT event_type, event_id, w, ek,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ek DESC, event_id) AS rk
        |  FROM keyed
        |)
        |SELECT event_type, CAST(rk AS INT) AS rank, event_id,
        |  CAST(w AS BIGINT) AS weight, round(ek + 1e-9, 6) AS es_key
        |FROM r WHERE rk <= 16 ORDER BY event_type, rank""".stripMargin,
    // q251: the oracle re-derives the deterministic escalation — scale =
    // smallest s with span(s) <= 64 bins over each type's [min, max] —
    // then the floor(value / 2^scale) cells and the p50 interpolation in
    // the same IEEE arithmetic order (power-of-two division is exact)
    "q251_stream_adaptive_hist" ->
      """WITH v AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL
        |), mm AS (
        |  SELECT event_type, min(value) AS mn, max(value) AS mx FROM v GROUP BY 1
        |), sc AS (
        |  -- range covers the full double exponent span so no event_type can
        |  -- silently drop out of the inner joins at an extreme value range
        |  SELECT event_type, CAST(min(s) AS INT) AS scale
        |  FROM mm, range(0, 1088) t(s)
        |  WHERE floor(mx / power(2.0, s)) - floor(mn / power(2.0, s)) + 1 <= 64
        |  GROUP BY 1
        |), cells AS (
        |  SELECT v.event_type, sc.scale,
        |    CAST(floor(v.value / power(2.0, sc.scale)) AS BIGINT) AS bin,
        |    count(*) AS cnt
        |  FROM v JOIN sc USING (event_type) GROUP BY 1, 2, 3
        |), cum AS (
        |  SELECT event_type, scale, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM cells
        |), med AS (
        |  SELECT event_type,
        |    round(power(2.0, scale) * bin
        |        + power(2.0, scale) * ((0.5 * n - (cum - cnt)) / cnt) + 1e-9, 4)
        |      AS p50_est
        |  FROM cum WHERE cum >= 0.5 * n AND (cum - cnt) < 0.5 * n
        |)
        |SELECT c.event_type, c.scale, c.bin, CAST(c.cnt AS BIGINT) AS cnt,
        |  m.p50_est
        |FROM cells c JOIN med m USING (event_type)
        |ORDER BY 1, 3""".stripMargin,
    // q252: the oracle re-derives both candidate volumes from scratch —
    // 52-bit md5-slice shingle hashes give the identical rarest-first
    // (df, h) order, and at τ = 0.5 the engine's FP prefix lengths reduce
    // to exact integer forms (probe: sz÷2+1; index: sz−⌈2sz/3⌉+1 via
    // (2sz+2)÷3), so every ni·np/2 term is the same dyadic value in both
    // engines
    "q252_index_drift" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t) - 3),
        |      i -> substr(t, CAST(i AS INT), 5))) AS shset
        |  FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |        FROM documents)
        |  WHERE len(t) >= 5
        |), el AS (
        |  SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 13)) AS BIGINT) AS h
        |  FROM sh, unnest(shset) u(s)
        |  GROUP BY 1, 2
        |), stored AS (
        |  SELECT h, count(*) AS df FROM el WHERE doc_id % 2 = 0 GROUP BY 1
        |), fresh AS (
        |  SELECT h, count(*) AS df FROM el GROUP BY 1
        |), rs AS (
        |  SELECT e.doc_id, e.h,
        |    row_number() OVER (PARTITION BY e.doc_id
        |                       ORDER BY coalesce(s.df, 0), e.h) AS pos,
        |    count(*) OVER (PARTITION BY e.doc_id) AS sz
        |  FROM el e LEFT JOIN stored s USING (h)
        |), rf AS (
        |  SELECT e.doc_id, e.h,
        |    row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.h) AS pos,
        |    count(*) OVER (PARTITION BY e.doc_id) AS sz
        |  FROM el e JOIN fresh f USING (h)
        |), vs AS (
        |  SELECT CAST(coalesce(sum(ni * np), 0) AS DOUBLE) / 2 AS v FROM (
        |    SELECT h, count(*) AS np,
        |      count(*) FILTER (WHERE pos <= sz - ((2 * sz + 2) // 3) + 1) AS ni
        |    FROM rs WHERE pos <= sz // 2 + 1 GROUP BY 1)
        |), vf AS (
        |  SELECT CAST(coalesce(sum(ni * np), 0) AS DOUBLE) / 2 AS v FROM (
        |    SELECT h, count(*) AS np,
        |      count(*) FILTER (WHERE pos <= sz - ((2 * sz + 2) // 3) + 1) AS ni
        |    FROM rf WHERE pos <= sz // 2 + 1 GROUP BY 1)
        |)
        |, fin AS (
        |  SELECT vs.v AS sv, vf.v AS fv,
        |    CASE WHEN vf.v > 0 THEN vs.v / vf.v
        |         WHEN vs.v > 0 THEN CAST('infinity' AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END AS ratio
        |  FROM vs, vf
        |)
        |SELECT round(sv + 1e-9, 4) AS stored_volume,
        |  round(fv + 1e-9, 4) AS fresh_volume,
        |  round(ratio + 1e-9, 4) AS drift_ratio,
        |  CAST(CASE WHEN ratio >= 2.0 THEN 1 ELSE 0 END AS INT)
        |    AS recommend_rebuild
        |FROM fin""".stripMargin,
    // q253: the oracle re-derives the Bloom cell table and every
    // membership probe from scratch — 52-bit md5-slice double hashing is
    // pure integer arithmetic ((h1 + i·h2) mod 2^17, 32-bit words,
    // bit_or), identical in both engines
    "q253_bloom_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
        |  FROM tok, unnest(range(1, len(toks) - 2)) t(i)
        |), bench AS (
        |  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        |), corp AS (
        |  SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0
        |), bpos AS (
        |  SELECT (CAST(concat('0x', substr(md5(g), 1, 13)) AS BIGINT)
        |        + i * CAST(concat('0x', substr(md5(g), 14, 13)) AS BIGINT))
        |        % 131072 AS p
        |  FROM bench, unnest(range(0, 4)) t(i)
        |), cells AS (
        |  SELECT CAST(p // 32 AS INT) AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM bpos GROUP BY 1
        |), cg AS (
        |  SELECT DISTINCT g FROM corp
        |), probe AS (
        |  SELECT g, CAST(p // 32 AS INT) AS word,
        |    CAST(1 AS BIGINT) << CAST(p % 32 AS INT) AS mask
        |  FROM (
        |    SELECT g, (CAST(concat('0x', substr(md5(g), 1, 13)) AS BIGINT)
        |             + i * CAST(concat('0x', substr(md5(g), 14, 13)) AS BIGINT))
        |             % 131072 AS p
        |    FROM cg, unnest(range(0, 4)) t(i))
        |), posg AS (
        |  SELECT g FROM probe JOIN cells USING (word)
        |  WHERE (bits & mask) = mask GROUP BY g HAVING count(*) = 4
        |), cand AS (
        |  SELECT c.doc_id, count(DISTINCT c.g) AS cand_grams
        |  FROM corp c JOIN posg USING (g) GROUP BY 1
        |), ex AS (
        |  SELECT c.doc_id, count(DISTINCT c.g) AS shared_grams
        |  FROM corp c JOIN bench USING (g) GROUP BY 1
        |)
        |SELECT cand.doc_id, CAST(cand_grams AS BIGINT) AS cand_grams,
        |  CAST(coalesce(ex.shared_grams, 0) AS BIGINT) AS shared_grams
        |FROM cand LEFT JOIN ex USING (doc_id) ORDER BY 1""".stripMargin,
    // q254: the oracle re-derives closed windows (the q241 watermark
    // condition), the reference/post split, the days × bins PSI grid, and
    // each (p − q)·ln(p/q) term with the same 1e-6 floor — bin width 32 is
    // dyadic and p, q are integer ratios, so ln is the only transcendental
    "q254_stream_psi" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(least(greatest(floor((value - 0.0) / 32.0), 0), 15) AS BIGINT)
        |      AS bin,
        |    count(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), closed AS (
        |  SELECT c.* FROM cells c, mx
        |  WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |), ref AS (
        |  SELECT bin, sum(cnt) AS cnt FROM closed
        |  WHERE day <= DATE '2024-01-07' GROUP BY 1
        |), post AS (
        |  SELECT day, bin, cnt FROM closed WHERE day > DATE '2024-01-07'
        |), tot AS (
        |  SELECT day, sum(cnt) AS tp FROM post GROUP BY 1
        |), rt AS (
        |  SELECT sum(cnt) AS tr FROM ref
        |), bins AS (
        |  SELECT DISTINCT bin
        |  FROM (SELECT bin FROM post UNION ALL SELECT bin FROM ref)
        |), grid AS (
        |  SELECT t.day, b.bin, t.tp, rt.tr,
        |    coalesce(p.cnt, 0) AS cp, coalesce(r.cnt, 0) AS cr
        |  FROM tot t CROSS JOIN bins b CROSS JOIN rt
        |  LEFT JOIN post p ON p.day = t.day AND p.bin = b.bin
        |  LEFT JOIN ref r ON r.bin = b.bin
        |), terms AS (
        |  SELECT day,
        |    greatest(cp / CAST(tp AS DOUBLE), 1e-6) AS p,
        |    greatest(cr / CAST(tr AS DOUBLE), 1e-6) AS q
        |  FROM grid
        |), psi AS (
        |  SELECT day, sum((p - q) * ln(p / q)) AS psi FROM terms GROUP BY 1
        |)
        |SELECT day, round(psi + 1e-9, 6) AS psi,
        |  CAST(CASE WHEN round(psi + 1e-9, 6) > 0.2 THEN 1 ELSE 0 END AS INT)
        |    AS drifted
        |FROM psi ORDER BY day""".stripMargin,
    // q255: q226's cell derivation per closed day (the q241 watermark
    // closure predicate)
    "q255_stream_windowed_cms" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), cells AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(d AS BIGINT) AS d,
        |    CAST(CAST(concat('0x',
        |      substr(md5(CAST(user_id AS VARCHAR)), 1 + 8*d, 8)) AS BIGINT)
        |      % 64 AS BIGINT) AS bucket,
        |    count(*) AS cnt
        |  FROM events, unnest([0, 1, 2, 3]) t(d)
        |  WHERE user_id IS NOT NULL
        |  GROUP BY 1, 2, 3
        |)
        |SELECT c.day, c.d, c.bucket, c.cnt FROM cells c, mx
        |WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin,
    // q256: q242's per-day KMV derivation (members, ranks, estimate) under
    // the q241 closure predicate
    "q256_stream_windowed_kmv" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS u
        |  FROM events, (SELECT m FROM mx)
        |  WHERE user_id IS NOT NULL
        |    AND CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY
        |        <= m - INTERVAL 1 HOUR
        |), h AS (
        |  SELECT day, u, CAST(concat('0x', substr(md5(u), 1, 13)) AS BIGINT) AS h
        |  FROM du
        |), rk AS (
        |  SELECT day, u, h, row_number() OVER (PARTITION BY day ORDER BY h, u) AS rk
        |  FROM h
        |), keep AS (SELECT * FROM rk WHERE rk <= 16),
        |est AS (
        |  SELECT day,
        |    CASE WHEN max(rk) < 16 THEN CAST(count(*) AS DOUBLE)
        |         ELSE (16 - 1) / (CAST(max(h) AS DOUBLE) / 4503599627370496.0)
        |         END AS est
        |  FROM keep GROUP BY 1
        |)
        |SELECT k.day, CAST(k.rk AS INT) AS rk, k.h AS item_h, k.u AS item,
        |  round(e.est + 1e-9, 2) AS kmv_est
        |FROM keep k JOIN est e ON k.day = e.day
        |ORDER BY 1, 2""".stripMargin,
    // q257: q250's ES ranking per (closed day, event_type), rk <= 8
    "q257_stream_windowed_es" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), d AS (
        |  SELECT CAST(ts AS DATE) AS day, event_id, event_type,
        |    CAST(floor(value) AS BIGINT) AS w
        |  FROM events, (SELECT m FROM mx)
        |  WHERE value IS NOT NULL AND floor(value) > 0 AND event_id IS NOT NULL
        |    AND CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY
        |        <= m - INTERVAL 1 HOUR
        |), keyed AS (
        |  SELECT day, event_type, event_id, w,
        |    ln((CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
        |       / 4503599627370496.0) / w AS ek
        |  FROM d
        |), r AS (
        |  SELECT day, event_type, event_id, w, ek,
        |    row_number() OVER (PARTITION BY day, event_type
        |                       ORDER BY ek DESC, event_id) AS rk
        |  FROM keyed
        |)
        |SELECT day, event_type, CAST(rk AS INT) AS rank, event_id,
        |  CAST(w AS BIGINT) AS weight, round(ek + 1e-9, 6) AS es_key
        |FROM r WHERE rk <= 8 ORDER BY day, event_type, rank""".stripMargin,
    // q258: the oracle re-derives both stored filters — q253's double-hash
    // position arithmetic per configuration m, 32-bit words, bit_or cells,
    // then sum(bit_count) and the left-assoc fill^4 product (f*f*f*f, the
    // same IEEE order as the engine's reduce) — all exact, so even the
    // recommend_rebuild comparison lands on the identical double
    "q258_bloom_saturation" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id % 50 = 0 AND trim(text) <> ''
        |), bench AS (
        |  SELECT DISTINCT array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
        |  FROM tok, unnest(range(1, len(toks) - 2)) t(i)
        |), cfg AS (
        |  SELECT * FROM (VALUES ('saturated', 1024), ('sized', 1048576)) t(config, m)
        |), pos AS (
        |  SELECT c.config, c.m,
        |    (CAST(concat('0x', substr(md5(g), 1, 13)) AS BIGINT)
        |   + i * CAST(concat('0x', substr(md5(g), 14, 13)) AS BIGINT)) % c.m AS p
        |  FROM bench, cfg c, unnest(range(0, 4)) t(i)
        |), cells AS (
        |  SELECT config, m, CAST(p // 32 AS INT) AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1, 2, 3
        |), agg AS (
        |  SELECT config, m, sum(bit_count(bits)) AS set_bits
        |  FROM cells GROUP BY 1, 2
        |), fin AS (
        |  SELECT config, m, set_bits, CAST(set_bits AS DOUBLE) / m AS f FROM agg
        |)
        |SELECT config, CAST(m AS BIGINT) AS m, CAST(set_bits AS BIGINT) AS set_bits,
        |  round(f + 1e-9, 8) AS fill_ratio,
        |  round(f * f * f * f + 1e-9, 8) AS effective_fpp,
        |  CAST(CASE WHEN f * f * f * f >= 0.02 THEN 1 ELSE 0 END AS INT)
        |    AS recommend_rebuild
        |FROM fin ORDER BY config""".stripMargin,
    // q259: q251's per-group scale derivation applied per (closed day,
    // event_type) — the q241 closure predicate picks the days; within each
    // window the scale is the smallest span-fitting s and the cells are
    // floor(value / 2^s) counts, power-of-two division being exact IEEE in
    // both engines
    "q259_stream_windowed_ahist" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), v AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, value
        |  FROM events, mx
        |  WHERE value IS NOT NULL
        |    AND CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY
        |        <= m - INTERVAL 1 HOUR
        |), mm AS (
        |  SELECT day, event_type, min(value) AS mn, max(value) AS mx2
        |  FROM v GROUP BY 1, 2
        |), sc AS (
        |  SELECT day, event_type, CAST(min(s) AS INT) AS scale
        |  FROM mm, range(0, 1088) t(s)
        |  WHERE floor(mx2 / power(2.0, s)) - floor(mn / power(2.0, s)) + 1 <= 16
        |  GROUP BY 1, 2
        |), cells AS (
        |  SELECT v.day, v.event_type, sc.scale,
        |    CAST(floor(v.value / power(2.0, sc.scale)) AS BIGINT) AS bin,
        |    count(*) AS cnt
        |  FROM v JOIN sc USING (day, event_type) GROUP BY 1, 2, 3, 4
        |)
        |SELECT day, event_type, scale, bin, CAST(cnt AS BIGINT) AS cnt
        |FROM cells ORDER BY 1, 2, 4""".stripMargin,
    // q260: q259's per-day scale/cell derivation (global, maxBins 16) →
    // align every closed day's cells to the coarsest scale by arithmetic
    // shift (DuckDB's >> floors like Java's, and both equal floorDiv by
    // 2^d) → q254's PSI grid and eps-floored terms verbatim
    "q260_adaptive_psi" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), v AS (
        |  SELECT CAST(ts AS DATE) AS day, value
        |  FROM events, mx
        |  WHERE value IS NOT NULL
        |    AND CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY
        |        <= m - INTERVAL 1 HOUR
        |), mm AS (
        |  SELECT day, min(value) AS mn, max(value) AS mx2 FROM v GROUP BY 1
        |), sc AS (
        |  SELECT day, CAST(min(s) AS INT) AS scale
        |  FROM mm, range(0, 1088) t(s)
        |  WHERE floor(mx2 / power(2.0, s)) - floor(mn / power(2.0, s)) + 1 <= 16
        |  GROUP BY 1
        |), cells AS (
        |  SELECT v.day, sc.scale,
        |    CAST(floor(v.value / power(2.0, sc.scale)) AS BIGINT) AS bin,
        |    count(*) AS cnt
        |  FROM v JOIN sc USING (day) GROUP BY 1, 2, 3
        |), tgt AS (
        |  SELECT max(scale) AS tsc FROM cells
        |), al AS (
        |  -- mirror the engine's shift guard (psiByPeriodAdaptive): a scale
        |  -- delta >= 63 collapses to the sign bin instead of wrapping the
        |  -- shift (unreachable in gate data — deltas are <= ~10 — but the
        |  -- oracle must model the same function, not a narrower one)
        |  SELECT day,
        |    CASE WHEN tgt.tsc - scale >= 63
        |         THEN CASE WHEN bin < 0 THEN -1 ELSE 0 END
        |         ELSE bin >> (tgt.tsc - scale) END AS bin,
        |    sum(cnt) AS cnt
        |  FROM cells, tgt GROUP BY 1, 2
        |), ref AS (
        |  SELECT bin, sum(cnt) AS cnt FROM al
        |  WHERE day <= DATE '2024-01-07' GROUP BY 1
        |), post AS (
        |  SELECT day, bin, cnt FROM al WHERE day > DATE '2024-01-07'
        |), tot AS (
        |  SELECT day, sum(cnt) AS tp FROM post GROUP BY 1
        |), rt AS (
        |  SELECT sum(cnt) AS tr FROM ref
        |), bins AS (
        |  SELECT DISTINCT bin
        |  FROM (SELECT bin FROM post UNION ALL SELECT bin FROM ref)
        |), grid AS (
        |  SELECT t.day, b.bin, t.tp, rt.tr,
        |    coalesce(p.cnt, 0) AS cp, coalesce(r.cnt, 0) AS cr
        |  FROM tot t CROSS JOIN bins b CROSS JOIN rt
        |  LEFT JOIN post p ON p.day = t.day AND p.bin = b.bin
        |  LEFT JOIN ref r ON r.bin = b.bin
        |), terms AS (
        |  SELECT day,
        |    greatest(cp / CAST(tp AS DOUBLE), 1e-6) AS p,
        |    greatest(cr / CAST(tr AS DOUBLE), 1e-6) AS q
        |  FROM grid
        |), psi AS (
        |  SELECT day, sum((p - q) * ln(p / q)) AS psi FROM terms GROUP BY 1
        |)
        |SELECT day, round(psi + 1e-9, 6) AS psi,
        |  CAST(CASE WHEN round(psi + 1e-9, 6) > 0.2 THEN 1 ELSE 0 END AS INT)
        |    AS drifted
        |FROM psi ORDER BY day""".stripMargin,
    // q261: three oracle machineries composed — the accepted set is q237's
    // combined-tick derivation (greedy composability: two ticks ≡ one; the
    // CTE chain is shared code with q237/q248), the drift volumes are
    // q252's integer prefix forms over the FINAL index's md5-slice shingle
    // hashes (stored order = corpus-built df with absent elements at df 0,
    // fresh = full-index df; lang is the block key), and the bloom report
    // is q258's bit arithmetic over the benchmark grams at m = 2^17, k = 4
    "q261_curation_service" -> (curationTickCtes +
      """, accm AS (
        |  SELECT 'accepted_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM acc
        |  UNION ALL
        |  SELECT 'accepted_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc
        |  UNION ALL
        |  SELECT 'accepted_toks', CAST(coalesce(sum(toks), 0) AS DOUBLE) FROM acc
        |), fidx AS (
        |  SELECT doc_id, lang, text FROM corpus
        |  UNION ALL
        |  SELECT s.doc_id, s.lang, s.text FROM s3 s
        |  WHERE s.doc_id IN (SELECT doc_id FROM acc)
        |), fsh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(t) - 3),
        |      i -> substr(t, CAST(i AS INT), 5))) AS shset
        |  FROM (SELECT doc_id, lang,
        |          lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM fidx)
        |  WHERE len(t) >= 5
        |), el AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(sh), 1, 13)) AS BIGINT) AS h
        |  FROM fsh, unnest(shset) u(sh)
        |  GROUP BY 1, 2, 3
        |), stored AS (
        |  SELECT h, count(*) AS df FROM el
        |  WHERE doc_id < (SELECT max(doc_id) * 4 // 5 FROM documents)
        |  GROUP BY 1
        |), fresh AS (
        |  SELECT h, count(*) AS df FROM el GROUP BY 1
        |), rs AS (
        |  SELECT e.doc_id, e.lang, e.h,
        |    row_number() OVER (PARTITION BY e.doc_id
        |                       ORDER BY coalesce(s.df, 0), e.h) AS pos,
        |    count(*) OVER (PARTITION BY e.doc_id) AS sz
        |  FROM el e LEFT JOIN stored s USING (h)
        |), rf AS (
        |  SELECT e.doc_id, e.lang, e.h,
        |    row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.h) AS pos,
        |    count(*) OVER (PARTITION BY e.doc_id) AS sz
        |  FROM el e JOIN fresh f USING (h)
        |), vs AS (
        |  SELECT CAST(coalesce(sum(ni * np), 0) AS DOUBLE) / 2 AS v FROM (
        |    SELECT h, lang, count(*) AS np,
        |      count(*) FILTER (WHERE pos <= sz - ((2 * sz + 2) // 3) + 1) AS ni
        |    FROM rs WHERE pos <= sz // 2 + 1 GROUP BY 1, 2)
        |), vf AS (
        |  SELECT CAST(coalesce(sum(ni * np), 0) AS DOUBLE) / 2 AS v FROM (
        |    SELECT h, lang, count(*) AS np,
        |      count(*) FILTER (WHERE pos <= sz - ((2 * sz + 2) // 3) + 1) AS ni
        |    FROM rf WHERE pos <= sz // 2 + 1 GROUP BY 1, 2)
        |), dr AS (
        |  SELECT vs.v AS sv, vf.v AS fv,
        |    CASE WHEN vf.v > 0 THEN vs.v / vf.v
        |         WHEN vs.v > 0 THEN CAST('infinity' AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END AS ratio
        |  FROM vs, vf
        |), driftm AS (
        |  SELECT 'drift_stored_volume' AS metric, sv AS value FROM dr
        |  UNION ALL SELECT 'drift_fresh_volume', fv FROM dr
        |  UNION ALL SELECT 'drift_ratio', ratio FROM dr
        |  UNION ALL SELECT 'drift_recommend_rebuild',
        |    CASE WHEN ratio >= 2.0 THEN 1.0 ELSE 0.0 END FROM dr
        |), bpos AS (
        |  SELECT (CAST(concat('0x', substr(md5(g), 1, 13)) AS BIGINT)
        |        + i * CAST(concat('0x', substr(md5(g), 14, 13)) AS BIGINT))
        |        % 131072 AS p
        |  FROM benchg, unnest(range(0, 4)) t(i)
        |), bcells AS (
        |  SELECT CAST(p // 32 AS INT) AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM bpos GROUP BY 1
        |), bfin AS (
        |  SELECT set_bits, CAST(set_bits AS DOUBLE) / 131072 AS f
        |  FROM (SELECT sum(bit_count(bits)) AS set_bits FROM bcells)
        |), bloomm AS (
        |  SELECT 'bloom_set_bits' AS metric, CAST(set_bits AS DOUBLE) AS value FROM bfin
        |  UNION ALL SELECT 'bloom_fill_ratio', f FROM bfin
        |  UNION ALL SELECT 'bloom_effective_fpp', f * f * f * f FROM bfin
        |  UNION ALL SELECT 'bloom_recommend_rebuild',
        |    CASE WHEN f * f * f * f >= 0.02 THEN 1.0 ELSE 0.0 END FROM bfin
        |)
        |SELECT metric, round(value + 1e-9, 6) AS value
        |FROM (SELECT * FROM accm UNION ALL SELECT * FROM driftm
        |      UNION ALL SELECT * FROM bloomm)
        |ORDER BY metric""".stripMargin),
    // q262: q253's double-hash position arithmetic per closed day
    // (OR over a multiset ≡ over the set — bit_or is idempotent, so no
    // distinct is needed on either side) under the q241 closure predicate
    "q262_stream_windowed_bloom" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), pos AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    (CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |   + i * CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 14, 13)) AS BIGINT))
        |   % 4096 AS p
        |  FROM events, unnest(range(0, 4)) t(i)
        |  WHERE user_id IS NOT NULL
        |), cells AS (
        |  SELECT day, CAST(p // 32 AS INT) AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1, 2
        |)
        |SELECT c.day, c.word, c.bits FROM cells c, mx
        |WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |ORDER BY 1, 2""".stripMargin,
    // q263: the full rebuild lifecycle re-derived — gram count → sizeFor's
    // (m2, k2) with the 6-dp pre-round before ceil/round (both engines land
    // on the identical integers; ulp-level ln() differences cannot cross a
    // 6-dp boundary — margins measured >= 3e-8 at every gate SF), then
    // q258's pure-integer cell/bit-count machinery at BOTH sizes and the
    // fpp as a recursive left-assoc product (1.0 * f is exact, so the
    // sequence equals the engine's reduce at any k)
    "q263_bloom_rebuild" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id % 50 = 0 AND trim(text) <> ''
        |), bench AS (
        |  SELECT DISTINCT array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
        |  FROM tok, unnest(range(1, len(toks) - 2)) t(i)
        |), sz AS (
        |  SELECT count(*) AS n,
        |    greatest(32, CAST(ceil(round(-count(*) * ln(0.01) / (ln(2) * ln(2)), 6))
        |      AS BIGINT)) AS m2
        |  FROM bench
        |), sz2 AS (
        |  SELECT m2, greatest(1, least(64,
        |    CAST(round(round(m2 / CAST(n AS DOUBLE) * ln(2), 6), 0) AS BIGINT))) AS k2
        |  FROM sz
        |), cfg AS (
        |  SELECT 'before' AS phase, CAST(1024 AS BIGINT) AS m, CAST(4 AS BIGINT) AS k
        |  UNION ALL
        |  SELECT 'after', m2, k2 FROM sz2
        |), pos AS (
        |  SELECT c.phase, c.m, c.k,
        |    (CAST(concat('0x', substr(md5(g), 1, 13)) AS BIGINT)
        |   + i * CAST(concat('0x', substr(md5(g), 14, 13)) AS BIGINT)) % c.m AS p
        |  FROM bench, cfg c, unnest(range(0, c.k)) t(i)
        |), cells AS (
        |  SELECT phase, m, k, CAST(p // 32 AS INT) AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM pos GROUP BY 1, 2, 3, 4
        |), agg AS (
        |  SELECT phase, m, k, sum(bit_count(bits)) AS set_bits FROM cells GROUP BY 1, 2, 3
        |), fin AS (
        |  SELECT phase, m, k, set_bits, CAST(set_bits AS DOUBLE) / m AS f FROM agg
        |), pw AS (
        |  SELECT phase, 0 AS i, CAST(1.0 AS DOUBLE) AS v FROM fin
        |  UNION ALL
        |  SELECT pw.phase, pw.i + 1, pw.v * fin.f
        |  FROM pw JOIN fin ON fin.phase = pw.phase
        |  WHERE pw.i < fin.k
        |), fpp AS (
        |  SELECT pw.phase, pw.v AS efpp
        |  FROM pw JOIN fin ON fin.phase = pw.phase AND pw.i = fin.k
        |)
        |SELECT f.phase, f.m AS m, CAST(f.k AS INT) AS k,
        |  CAST(f.set_bits AS BIGINT) AS set_bits,
        |  round(f.f + 1e-9, 8) AS fill_ratio,
        |  round(p.efpp + 1e-9, 8) AS effective_fpp,
        |  CAST(CASE WHEN p.efpp >= 0.02 THEN 1 ELSE 0 END AS INT) AS recommend_rebuild
        |FROM fin f JOIN fpp p USING (phase) ORDER BY phase""".stripMargin,
    // q264: two parameterized q237 chains with the takedown folded between
    // them — tick 2's corpus is (corpus0 ∪ acc1) minus the removed ids and
    // its bench is bench0 minus the removed ids (benchIndexDelete ≡ fresh
    // build over survivors; postings anti-join ≡ frozen-order build over
    // survivors — both spec-proven, so the declarative fold IS the engine's
    // state). final_df_mass re-derives the subtracted-then-merged df feed
    // as the shingle-set mass of the surviving index — exact subtraction,
    // value-checked.
    "q264_takedown_tick" -> {
      val x80 = "(SELECT max(doc_id) * 4 // 5 FROM documents)"
      val x90 = "(SELECT max(doc_id) * 9 // 10 FROM documents)"
      "WITH " + curationTickCtesP(
        sfx = "_t1",
        batchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id >= $x80 AND doc_id < $x90",
        corpusSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 <> 0",
        benchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 = 0") +
      ", " + curationTickCtesP(
        sfx = "_t2",
        batchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id >= $x90",
        corpusSrc =
          s"""SELECT doc_id, lang, text FROM documents
             |  WHERE doc_id < $x80 AND doc_id % 50 <> 0 AND doc_id % 9 <> 3
             |  UNION ALL
             |  SELECT s.doc_id, s.lang, s.text FROM s3_t1 s
             |  WHERE s.doc_id IN (SELECT doc_id FROM acc_t1) AND s.doc_id % 9 <> 3""".stripMargin,
        benchSrc =
          s"""SELECT doc_id, lang, text FROM documents
             |  WHERE doc_id < $x80 AND doc_id % 50 = 0 AND doc_id % 9 <> 3""".stripMargin) +
      """, benchg0 AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |        FROM documents
        |        WHERE doc_id < """.stripMargin + x80 +
      """ AND doc_id % 50 = 0 AND trim(text) <> '') z,
        |    unnest(range(1, len(tk) - 2)) t(i)
        |), dfm AS (
        |  SELECT coalesce(sum(len(s)), 0) AS v FROM (
        |    SELECT s FROM shc_t2
        |    UNION ALL
        |    SELECT s FROM shb_t2 WHERE doc_id IN (SELECT doc_id FROM acc_t2)
        |  )
        |), m AS (
        |  SELECT 'acc1_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM acc_t1
        |  UNION ALL
        |  SELECT 'acc1_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc_t1
        |  UNION ALL
        |  SELECT 'acc2_docs', CAST(count(*) AS DOUBLE) FROM acc_t2
        |  UNION ALL
        |  SELECT 'acc2_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc_t2
        |  UNION ALL
        |  SELECT 'removed_state_docs', CAST(
        |    (SELECT count(*) FROM corpus_t1 WHERE doc_id % 9 = 3)
        |  + (SELECT count(*) FROM acc_t1 WHERE doc_id % 9 = 3) AS DOUBLE)
        |  UNION ALL
        |  SELECT 'bench_gram_rows_before', CAST(count(*) AS DOUBLE) FROM benchg0
        |  UNION ALL
        |  SELECT 'bench_gram_rows_after', CAST(count(*) AS DOUBLE) FROM benchg0
        |    WHERE doc_id % 9 <> 3
        |  UNION ALL
        |  SELECT 'final_index_docs', CAST(
        |    (SELECT count(*) FROM corpus_t2) + (SELECT count(*) FROM acc_t2) AS DOUBLE)
        |  UNION ALL
        |  SELECT 'final_df_mass', CAST(v AS DOUBLE) FROM dfm
        |  -- the rebuild contract constants: a just-rebuilt order measures
        |  -- stored_volume == fresh_volume exactly (block volumes are
        |  -- HALF-integer-valued — n_i*n_p/2 terms, multiples of 0.5, exact
        |  -- and order-independent in double below 2^52 — under the
        |  -- identical df multiset), so the engine's full
        |  -- two-postings-build drift read-off must land on exactly 1.0 / 0
        |  UNION ALL
        |  SELECT 'post_rebuild_drift_ratio', CAST(1.0 AS DOUBLE)
        |  UNION ALL
        |  SELECT 'post_rebuild_recommend', CAST(0.0 AS DOUBLE)
        |)
        |SELECT metric, round(value + 1e-9, 6) AS value FROM m ORDER BY metric""".stripMargin
    },

    // q265: per-dimension marginal PSI of each label cohort vs the label-0
    // reference — the oracle re-derives cells (exact dyadic bin width
    // 0.125, same floor/clamp) and every eps-floored (p − q)·ln(p/q) term
    // on the keyed dims × bins grid. generate_subscripts is 1-based where
    // posexplode is 0-based; float components widen to DOUBLE exactly.
    "q265_embedding_drift" ->
      """WITH ex AS (
        |  SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM embeddings
        |), binned AS (
        |  SELECT label, dim,
        |    CAST(least(greatest(floor((v - (-0.75)) / ((0.75 - (-0.75)) / 12)), 0), 11)
        |      AS BIGINT) AS bin
        |  FROM ex WHERE v IS NOT NULL
        |), cells AS (
        |  SELECT label, dim, bin, count(*) AS cnt FROM binned
        |  WHERE label <> 0 GROUP BY 1, 2, 3
        |), refc AS (
        |  SELECT dim, bin, count(*) AS cnt FROM binned WHERE label = 0 GROUP BY 1, 2
        |), tot AS (
        |  SELECT label, dim, sum(cnt) AS tp FROM cells GROUP BY 1, 2
        |), rt AS (
        |  SELECT dim, sum(cnt) AS tr FROM refc GROUP BY 1
        |), bins AS (
        |  SELECT DISTINCT dim, bin
        |  FROM (SELECT dim, bin FROM cells UNION ALL SELECT dim, bin FROM refc)
        |), grid AS (
        |  SELECT t.label, b.dim, b.bin, t.tp, r.tr,
        |    coalesce(c.cnt, 0) AS cp, coalesce(f.cnt, 0) AS cr
        |  FROM tot t
        |  JOIN bins b ON b.dim = t.dim
        |  JOIN rt r ON r.dim = b.dim
        |  LEFT JOIN cells c ON c.label = t.label AND c.dim = b.dim AND c.bin = b.bin
        |  LEFT JOIN refc f ON f.dim = b.dim AND f.bin = b.bin
        |), terms AS (
        |  SELECT label, dim,
        |    greatest(cp / CAST(tp AS DOUBLE), 1e-6) AS p,
        |    greatest(cr / CAST(tr AS DOUBLE), 1e-6) AS q
        |  FROM grid
        |)
        |SELECT label, dim, round(sum((p - q) * ln(p / q)) + 1e-9, 6) AS psi
        |FROM terms GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,

    // q266: the audit's violation counts in closed form. Doc X = the
    // max-id corpus doc with a non-empty shingle set; at τ = 0.5 its
    // stored (probe-form) prefix is SZ//2 + 1 rows and a
    // duplicated-signature fresh build emits SZ + 1 rows over the doubled
    // multiset (2·SZ − ⌈2·SZ·0.5⌉ + 1) with _sz = 2·SZ — every stored/
    // fresh X row differs on _sz, so the dup-state postings diff is their
    // sum and its df diff is one row per direction per distinct shingle
    // (2·SZ). The df bump and the bloom inject each perturb exactly one
    // row (diff 2 with the recompute's counterpart; 1 for the injected
    // cell's two checks). Everything else is the contract constant 0.
    "q266_state_audit" ->
      """WITH corp AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id % 50 <> 0 AND doc_id % 3 = 0
        |), xs AS (
        |  SELECT max(doc_id) AS x FROM corp WHERE len(t) >= 5
        |), szx AS (
        |  SELECT count(DISTINCT
        |    CAST(concat('0x', substr(md5(substr(t, CAST(i AS INT), 5)), 1, 13))
        |      AS BIGINT)) AS sz
        |  FROM corp, xs, unnest(range(1, len(t) - 3)) u(i)
        |  WHERE doc_id = x
        |), vals AS (
        |  SELECT s.state, c.chk,
        |    CASE
        |      WHEN s.state = 'b_df_bump' AND c.chk = 'df_feed_exact' THEN 2
        |      WHEN s.state = 'c_postings_drop' AND c.chk = 'postings_exact'
        |        THEN (SELECT sz // 2 + 1 FROM szx)
        |      WHEN s.state = 'd_dup_sig' AND c.chk = 'ids_unique' THEN 1
        |      WHEN s.state = 'd_dup_sig' AND c.chk = 'postings_exact'
        |        THEN (SELECT (sz // 2 + 1) + (sz + 1) FROM szx)
        |      WHEN s.state = 'd_dup_sig' AND c.chk = 'df_feed_exact'
        |        THEN (SELECT 2 * sz FROM szx)
        |      WHEN s.state = 'e_bloom_inject' AND c.chk = 'bench_words_bounded' THEN 1
        |      WHEN s.state = 'e_bloom_inject' AND c.chk = 'bench_cells_exact' THEN 1
        |      ELSE 0 END AS observed
        |  FROM (VALUES ('a_clean'), ('b_df_bump'), ('c_postings_drop'),
        |        ('d_dup_sig'), ('e_bloom_inject')) s(state)
        |  CROSS JOIN (VALUES ('ids_unique'), ('postings_ids_covered'),
        |        ('postings_exact'), ('df_feed_exact'), ('bench_words_bounded'),
        |        ('bench_cells_exact')) c(chk)
        |)
        |SELECT state, chk AS "check", CAST(observed AS BIGINT) AS observed,
        |  CAST(CASE WHEN observed = 0 THEN 1 ELSE 0 END AS INT) AS ok
        |FROM vals ORDER BY state, chk""".stripMargin,

    // q267: the two streaming arrivals ≡ the two chained greedy ticks
    // (micro-batch boundaries are tick boundaries by composability — the
    // q237/q248 CTE machinery, chained as in q264 without the takedown);
    // the audit read-offs are the invariant constants (six checks, zero
    // violations — the maintained state must equal a fresh build, which
    // is exactly what auditState recomputes), and the high-water rank is
    // the max ingest id.
    "q267_stream_service" -> {
      val x80 = "(SELECT max(doc_id) * 4 // 5 FROM documents)"
      val x90 = "(SELECT max(doc_id) * 9 // 10 FROM documents)"
      "WITH " + curationTickCtesP(
        sfx = "_t1",
        batchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id >= $x80 AND doc_id < $x90",
        corpusSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 <> 0",
        benchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 = 0") +
      ", " + curationTickCtesP(
        sfx = "_t2",
        batchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id >= $x90",
        corpusSrc =
          s"""SELECT doc_id, lang, text FROM documents
             |  WHERE doc_id < $x80 AND doc_id % 50 <> 0
             |  UNION ALL
             |  SELECT s.doc_id, s.lang, s.text FROM s3_t1 s
             |  WHERE s.doc_id IN (SELECT doc_id FROM acc_t1)""".stripMargin,
        benchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 = 0") +
      """, m AS (
        |  SELECT 'acc1_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM acc_t1
        |  UNION ALL
        |  SELECT 'acc1_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc_t1
        |  UNION ALL
        |  SELECT 'acc2_docs', CAST(count(*) AS DOUBLE) FROM acc_t2
        |  UNION ALL
        |  SELECT 'acc2_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc_t2
        |  -- the audit constants: a verb-maintained state recomputes clean
        |  UNION ALL
        |  SELECT 'audit_checks', CAST(6 AS DOUBLE)
        |  UNION ALL
        |  SELECT 'audit_violations', CAST(0 AS DOUBLE)
        |  UNION ALL
        |  SELECT 'svc_high_water', CAST((SELECT max(doc_id) FROM documents) AS DOUBLE)
        |)
        |SELECT metric, round(value + 1e-9, 6) AS value FROM m ORDER BY metric""".stripMargin
    },

    // q268: per-day two-sample KS from the closed-window cells (the q254
    // derivation), CDFs as exact-integer running sums over the union bin
    // spine, the classical α=0.05 critical value from the same totals —
    // every distance and threshold re-derived bit-identically.
    "q268_stream_ks" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(least(greatest(floor((value - 0.0) / 32.0), 0), 15) AS BIGINT)
        |      AS bin,
        |    count(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), closed AS (
        |  SELECT c.* FROM cells c, mx
        |  WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |), ref AS (
        |  SELECT bin, sum(cnt) AS cnt FROM closed
        |  WHERE day <= DATE '2024-01-07' GROUP BY 1
        |), post AS (
        |  SELECT day, bin, cnt FROM closed WHERE day > DATE '2024-01-07'
        |), tot AS (
        |  SELECT day, sum(cnt) AS tp FROM post GROUP BY 1
        |), rt AS (
        |  SELECT sum(cnt) AS tr FROM ref
        |), bins AS (
        |  SELECT DISTINCT bin
        |  FROM (SELECT bin FROM post UNION ALL SELECT bin FROM ref)
        |), grid AS (
        |  SELECT t.day, b.bin, t.tp, rt.tr,
        |    coalesce(p.cnt, 0) AS cp, coalesce(r.cnt, 0) AS cr
        |  FROM tot t CROSS JOIN bins b CROSS JOIN rt
        |  LEFT JOIN post p ON p.day = t.day AND p.bin = b.bin
        |  LEFT JOIN ref r ON r.bin = b.bin
        |), cums AS (
        |  SELECT day, tp, tr,
        |    abs(sum(cp) OVER (PARTITION BY day ORDER BY bin) / CAST(tp AS DOUBLE)
        |      - sum(cr) OVER (PARTITION BY day ORDER BY bin) / CAST(tr AS DOUBLE))
        |      AS d
        |  FROM grid
        |), ks AS (
        |  SELECT day, max(d) AS ks, max(tp) AS n_p, max(tr) AS n_r
        |  FROM cums GROUP BY 1
        |), scored AS (
        |  SELECT day, round(ks + 1e-9, 6) AS ks,
        |    round(1.358 * sqrt(CAST(n_p + n_r AS DOUBLE)
        |      / (CAST(n_p AS DOUBLE) * CAST(n_r AS DOUBLE))) + 1e-9, 6) AS crit
        |  FROM ks
        |)
        |SELECT day, ks, crit,
        |  CAST(CASE WHEN ks > crit THEN 1 ELSE 0 END AS INT) AS drifted
        |FROM scored ORDER BY day""".stripMargin,

    // q269: the standing embedding-drift deployment — per-(closed day,
    // dim) marginal cells under the q241 closure predicate (deterministic
    // hourly ts = base + (vec_id % 336) hours, 1-day windows, 1-hour
    // watermark), then BOTH drift statistics re-derived from the same
    // cells: q265's eps-floored PSI terms and q268's exact-integer
    // running-sum KS + size-scaled critical value, each on the per-dim
    // keyed grid.
    "q269_stream_embedding_drift" ->
      """WITH base AS (
        |  SELECT embedding,
        |    TIMESTAMP '2024-01-01 00:00:00' + (vec_id % 336) * INTERVAL 1 HOUR
        |      AS ts
        |  FROM embeddings
        |), mx AS (
        |  SELECT max(ts) AS m FROM base
        |), ex AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM base
        |), binned AS (
        |  SELECT day, dim,
        |    CAST(least(greatest(floor((v - (-0.75)) / 0.125), 0), 11) AS BIGINT)
        |      AS bin
        |  FROM ex WHERE v IS NOT NULL
        |), cells AS (
        |  SELECT day, dim, bin, count(*) AS cnt FROM binned GROUP BY 1, 2, 3
        |), closed AS (
        |  SELECT c.* FROM cells c, mx
        |  WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |), ref AS (
        |  SELECT dim, bin, sum(cnt) AS cnt FROM closed
        |  WHERE day <= DATE '2024-01-07' GROUP BY 1, 2
        |), post AS (
        |  SELECT day, dim, bin, cnt FROM closed WHERE day > DATE '2024-01-07'
        |), tot AS (
        |  SELECT day, dim, sum(cnt) AS tp FROM post GROUP BY 1, 2
        |), rt AS (
        |  SELECT dim, sum(cnt) AS tr FROM ref GROUP BY 1
        |), bins AS (
        |  SELECT DISTINCT dim, bin
        |  FROM (SELECT dim, bin FROM post UNION ALL SELECT dim, bin FROM ref)
        |), grid AS (
        |  SELECT t.day, b.dim, b.bin, t.tp, r.tr,
        |    coalesce(p.cnt, 0) AS cp, coalesce(f.cnt, 0) AS cr
        |  FROM tot t
        |  JOIN bins b ON b.dim = t.dim
        |  JOIN rt r ON r.dim = b.dim
        |  LEFT JOIN post p ON p.day = t.day AND p.dim = b.dim AND p.bin = b.bin
        |  LEFT JOIN ref f ON f.dim = b.dim AND f.bin = b.bin
        |), psis AS (
        |  SELECT day, dim, sum(
        |    (greatest(cp / CAST(tp AS DOUBLE), 1e-6)
        |       - greatest(cr / CAST(tr AS DOUBLE), 1e-6))
        |    * ln(greatest(cp / CAST(tp AS DOUBLE), 1e-6)
        |         / greatest(cr / CAST(tr AS DOUBLE), 1e-6))) AS psi
        |  FROM grid GROUP BY 1, 2
        |), cums AS (
        |  SELECT day, dim, tp, tr,
        |    abs(sum(cp) OVER (PARTITION BY day, dim ORDER BY bin)
        |          / CAST(tp AS DOUBLE)
        |        - sum(cr) OVER (PARTITION BY day, dim ORDER BY bin)
        |          / CAST(tr AS DOUBLE)) AS d
        |  FROM grid
        |), kss AS (
        |  SELECT day, dim, max(d) AS ks, max(tp) AS n_p, max(tr) AS n_r
        |  FROM cums GROUP BY 1, 2
        |), scored AS (
        |  SELECT k.day, k.dim, round(p.psi + 1e-9, 6) AS psi,
        |    round(k.ks + 1e-9, 6) AS ks,
        |    round(1.358 * sqrt(CAST(n_p + n_r AS DOUBLE)
        |      / (CAST(n_p AS DOUBLE) * CAST(n_r AS DOUBLE))) + 1e-9, 6) AS crit
        |  FROM kss k JOIN psis p ON p.day = k.day AND p.dim = k.dim
        |)
        |SELECT day, dim, psi, ks, crit,
        |  CAST(CASE WHEN ks > crit THEN 1 ELSE 0 END AS INT) AS ks_drifted
        |FROM scored ORDER BY day, dim""".stripMargin,

    // q270: rotation deployed — the trailing 3 closed days scored against
    // a reference rotated from the 4 closed days before them (cell-wise
    // sums over the SAME cell table), both statistics re-derived exactly
    // (q268's closure predicate + CDF machinery, q254's eps-floored PSI
    // terms).
    "q270_stream_rotated_ref" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(least(greatest(floor((value - 0.0) / 32.0), 0), 15) AS BIGINT)
        |      AS bin,
        |    count(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), closed AS (
        |  SELECT c.* FROM cells c, mx
        |  WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |), cut AS (
        |  SELECT min(day) AS c FROM (
        |    SELECT DISTINCT day FROM closed ORDER BY day DESC LIMIT 3)
        |), post AS (
        |  SELECT day, bin, cnt FROM closed, cut WHERE day >= c
        |), refdays AS (
        |  SELECT day FROM (
        |    SELECT DISTINCT cl.day AS day FROM closed cl, cut WHERE cl.day < c
        |    ORDER BY day DESC LIMIT 4)
        |), ref AS (
        |  SELECT bin, sum(cnt) AS cnt FROM closed
        |  WHERE day IN (SELECT day FROM refdays) GROUP BY 1
        |), tot AS (
        |  SELECT day, sum(cnt) AS tp FROM post GROUP BY 1
        |), rt AS (
        |  SELECT sum(cnt) AS tr FROM ref
        |), bins AS (
        |  SELECT DISTINCT bin
        |  FROM (SELECT bin FROM post UNION ALL SELECT bin FROM ref)
        |), grid AS (
        |  SELECT t.day, b.bin, t.tp, rt.tr,
        |    coalesce(p.cnt, 0) AS cp, coalesce(r.cnt, 0) AS cr
        |  FROM tot t CROSS JOIN bins b CROSS JOIN rt
        |  LEFT JOIN post p ON p.day = t.day AND p.bin = b.bin
        |  LEFT JOIN ref r ON r.bin = b.bin
        |), psis AS (
        |  SELECT day, sum(
        |    (greatest(cp / CAST(tp AS DOUBLE), 1e-6)
        |       - greatest(cr / CAST(tr AS DOUBLE), 1e-6))
        |    * ln(greatest(cp / CAST(tp AS DOUBLE), 1e-6)
        |         / greatest(cr / CAST(tr AS DOUBLE), 1e-6))) AS psi
        |  FROM grid GROUP BY 1
        |), cums AS (
        |  SELECT day, tp, tr,
        |    abs(sum(cp) OVER (PARTITION BY day ORDER BY bin) / CAST(tp AS DOUBLE)
        |      - sum(cr) OVER (PARTITION BY day ORDER BY bin) / CAST(tr AS DOUBLE))
        |      AS d
        |  FROM grid
        |), kss AS (
        |  SELECT day, max(d) AS ks, max(tp) AS n_p, max(tr) AS n_r
        |  FROM cums GROUP BY 1
        |), scored AS (
        |  SELECT k.day, round(p.psi + 1e-9, 6) AS psi, round(k.ks + 1e-9, 6) AS ks,
        |    round(1.358 * sqrt(CAST(n_p + n_r AS DOUBLE)
        |      / (CAST(n_p AS DOUBLE) * CAST(n_r AS DOUBLE))) + 1e-9, 6) AS crit
        |  FROM kss k JOIN psis p ON p.day = k.day
        |)
        |SELECT day, psi, ks, crit,
        |  CAST(CASE WHEN ks > crit THEN 1 ELSE 0 END AS INT) AS ks_drifted
        |FROM scored ORDER BY day""".stripMargin,

    // q271 replays the full stored-IVF decision chain: the deterministic
    // argmax-cosine assignment (ties lowest cell), each query's top-3
    // probed cells (same tie-break), and the exact in-cell cosine top-5.
    "q271_ivf_index_probe" ->
      """WITH cen AS (
        |  SELECT vec_id::INT AS cell, embedding::DOUBLE[] AS cen
        |  FROM embeddings WHERE vec_id < 8
        |), assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.embedding::DOUBLE[], c.cen)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(c.cen, c.cen))) DESC, c.cell ASC) AS rn
        |    FROM embeddings e, cen c
        |  ) WHERE rn = 1
        |), q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10
        |), qcells AS (
        |  SELECT q_id, cell FROM (
        |    SELECT q.q_id, c.cell,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        list_dot_product(q.qv, c.cen)
        |          / (sqrt(list_dot_product(q.qv, q.qv))
        |             * sqrt(list_dot_product(c.cen, c.cen))) DESC, c.cell ASC) AS rn
        |    FROM q, cen c
        |  ) WHERE rn <= 3
        |), scored AS (
        |  SELECT q.q_id, a.vec_id AS c_id,
        |    list_dot_product(q.qv, a.embedding::DOUBLE[])
        |      / (sqrt(list_dot_product(q.qv, q.qv))
        |         * sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))) AS sim
        |  FROM qcells qc
        |  JOIN q ON q.q_id = qc.q_id
        |  JOIN assigned a ON a.cell = qc.cell
        |  WHERE q.q_id != a.vec_id
        |), ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT q_id, c_id, round(sim + 1e-9, 6) AS sim, rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // q272 recomputes the constant-weight MLP end to end: power-of-two
    // weights make every product exact in both engines, so the logits
    // match bit for bit and only exp()'s last ulp rides on the 6-dp round.
    "q272_mlp_inference" ->
      """WITH f AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) - 1 AS j
        |  FROM embeddings
        |), h AS (
        |  SELECT vec_id, r.i AS i,
        |    greatest((r.i - 1) / 4.0 + sum(
        |      ((((r.i * 7 + j * 5) % 3) - 1) / power(2.0, (r.i + j) % 3)) * v), 0.0) AS hv
        |  FROM f, range(4) AS r(i)
        |  GROUP BY vec_id, r.i
        |), lg AS (
        |  SELECT vec_id, r.k AS k,
        |    (r.k - 1) / 8.0 + sum(
        |      ((((r.k * 3 + i * 2) % 3) - 1) / power(2.0, (r.k + i) % 2)) * hv) AS logit
        |  FROM h, range(3) AS r(k)
        |  GROUP BY vec_id, r.k
        |), sm AS (
        |  SELECT vec_id, k,
        |    exp(logit - max(logit) OVER (PARTITION BY vec_id)) AS e
        |  FROM lg
        |), p AS (
        |  SELECT vec_id, k, e / sum(e) OVER (PARTITION BY vec_id) AS prob
        |  FROM sm
        |), best AS (
        |  SELECT vec_id, k, prob,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY prob DESC, k ASC) AS rn
        |  FROM p
        |)
        |SELECT vec_id, 'c' || k AS label, round(prob + 1e-9, 6) AS score
        |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // q273: the appended index's final state is membership-timing-
    // independent under fixed explicit centroids, so the oracle derives it
    // directly — same assignment chain as q271, different probe point.
    "q273_ivf_append_probe" ->
      """WITH cen AS (
        |  SELECT vec_id::INT AS cell, embedding::DOUBLE[] AS cen
        |  FROM embeddings WHERE vec_id < 8
        |), assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.embedding::DOUBLE[], c.cen)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(c.cen, c.cen))) DESC, c.cell ASC) AS rn
        |    FROM embeddings e, cen c
        |  ) WHERE rn = 1
        |), q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 20
        |), qcells AS (
        |  SELECT q_id, cell FROM (
        |    SELECT q.q_id, c.cell,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        list_dot_product(q.qv, c.cen)
        |          / (sqrt(list_dot_product(q.qv, q.qv))
        |             * sqrt(list_dot_product(c.cen, c.cen))) DESC, c.cell ASC) AS rn
        |    FROM q, cen c
        |  ) WHERE rn <= 4
        |), scored AS (
        |  SELECT q.q_id, a.vec_id AS c_id,
        |    list_dot_product(q.qv, a.embedding::DOUBLE[])
        |      / (sqrt(list_dot_product(q.qv, q.qv))
        |         * sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))) AS sim
        |  FROM qcells qc
        |  JOIN q ON q.q_id = qc.q_id
        |  JOIN assigned a ON a.cell = qc.cell
        |  WHERE q.q_id != a.vec_id
        |), ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT q_id, c_id, round(sim + 1e-9, 6) AS sim, rank
        |FROM ranked WHERE rank <= 4
        |ORDER BY q_id, rank""".stripMargin,

    // q274: every health field from the same deterministic assignment
    // chain — integer cell counts, exact-division balance ratios, the
    // rebuild decision replayed from identical double comparisons.
    "q274_ivf_health" ->
      """WITH cen AS (
        |  SELECT vec_id::INT AS cell, embedding::DOUBLE[] AS cen
        |  FROM embeddings WHERE vec_id < 8
        |), a AS (
        |  SELECT vec_id, cell, sim FROM (
        |    SELECT e.vec_id, c.cell,
        |      list_dot_product(e.embedding::DOUBLE[], c.cen)
        |        / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |           * sqrt(list_dot_product(c.cen, c.cen))) AS sim,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.embedding::DOUBLE[], c.cen)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(c.cen, c.cen))) DESC, c.cell ASC) AS rn
        |    FROM embeddings e, cen c
        |  ) WHERE rn = 1
        |), per AS (
        |  SELECT cell, count(*) AS n FROM a GROUP BY 1
        |), agg AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nv, max(n) AS mx, count(*) AS used,
        |    (SELECT avg(sim) FROM a) AS msim
        |  FROM per
        |)
        |SELECT nv AS n_vectors, nv AS built_n,
        |  round(1.0 + 1e-9, 6) AS growth_ratio,
        |  round(CAST(mx AS DOUBLE) / CAST(nv AS DOUBLE) + 1e-9, 6) AS max_cell_frac,
        |  round(CAST(mx AS DOUBLE) / CAST(nv AS DOUBLE) * 8 + 1e-9, 6) AS imbalance,
        |  CAST(8 - used AS INT) AS empty_cells,
        |  round(msim + 1e-9, 6) AS mean_assign_sim,
        |  CAST(1.0 >= 2.0 OR CAST(mx AS DOUBLE) / CAST(nv AS DOUBLE) * 8 >= 4.0
        |    AS INT) AS recommend_rebuild
        |FROM agg""".stripMargin,

    // q275: q271's assignment chain on the raw vectors, then the q59
    // quantize→dequantize round trip per stored vector and reconstructed
    // cosines per probed candidate.
    "q275_ivf_quantized_probe" ->
      """WITH cen AS (
        |  SELECT vec_id::INT AS cell, embedding::DOUBLE[] AS cen
        |  FROM embeddings WHERE vec_id < 8
        |), assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.embedding::DOUBLE[], c.cen)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(c.cen, c.cen))) DESC, c.cell ASC) AS rn
        |    FROM embeddings e, cen c
        |  ) WHERE rn = 1
        |), params AS (
        |  SELECT vec_id, cell, embedding::DOUBLE[] AS e,
        |    list_min(embedding::DOUBLE[]) AS mn,
        |    greatest((list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])) / 255.0,
        |      1e-12) AS sc
        |  FROM assigned
        |), deq AS (
        |  SELECT vec_id, cell,
        |    list_transform(
        |      list_transform(e, x -> CAST(round((x - mn) / sc + 1e-9, 0) AS INT)),
        |      c -> c * sc + mn) AS v
        |  FROM params
        |), q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id >= 20 AND vec_id < 30
        |), qcells AS (
        |  SELECT q_id, cell FROM (
        |    SELECT q.q_id, c.cell,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        list_dot_product(q.qv, c.cen)
        |          / (sqrt(list_dot_product(q.qv, q.qv))
        |             * sqrt(list_dot_product(c.cen, c.cen))) DESC, c.cell ASC) AS rn
        |    FROM q, cen c
        |  ) WHERE rn <= 3
        |), scored AS (
        |  SELECT q.q_id, d.vec_id AS c_id,
        |    list_dot_product(q.qv, d.v)
        |      / (sqrt(list_dot_product(q.qv, q.qv))
        |         * sqrt(list_dot_product(d.v, d.v))) AS sim
        |  FROM qcells qc
        |  JOIN q ON q.q_id = qc.q_id
        |  JOIN deq d ON d.cell = qc.cell
        |  WHERE q.q_id != d.vec_id
        |), ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT q_id, c_id, round(sim + 1e-9, 6) AS sim, rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // q276: the post-delete index ≡ a fresh build over the survivors
    // (fixed explicit centroids ⇒ membership-timing-independent), so the
    // oracle derives the final state from the survivor predicate directly —
    // q271's assignment chain restricted to vec_id % 5 != 2.
    "q276_ivf_delete_probe" ->
      """WITH cen AS (
        |  SELECT vec_id::INT AS cell, embedding::DOUBLE[] AS cen
        |  FROM embeddings WHERE vec_id < 8
        |), assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.embedding::DOUBLE[], c.cen)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(c.cen, c.cen))) DESC, c.cell ASC) AS rn
        |    FROM embeddings e, cen c
        |    WHERE e.vec_id % 5 != 2
        |  ) WHERE rn = 1
        |), q AS (
        |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id >= 30 AND vec_id < 40
        |), qcells AS (
        |  SELECT q_id, cell FROM (
        |    SELECT q.q_id, c.cell,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        list_dot_product(q.qv, c.cen)
        |          / (sqrt(list_dot_product(q.qv, q.qv))
        |             * sqrt(list_dot_product(c.cen, c.cen))) DESC, c.cell ASC) AS rn
        |    FROM q, cen c
        |  ) WHERE rn <= 3
        |), scored AS (
        |  SELECT q.q_id, a.vec_id AS c_id,
        |    list_dot_product(q.qv, a.embedding::DOUBLE[])
        |      / (sqrt(list_dot_product(q.qv, q.qv))
        |         * sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))) AS sim
        |  FROM qcells qc
        |  JOIN q ON q.q_id = qc.q_id
        |  JOIN assigned a ON a.cell = qc.cell
        |  WHERE q.q_id != a.vec_id
        |), ranked AS (
        |  SELECT q_id, c_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT q_id, c_id, round(sim + 1e-9, 6) AS sim, rank
        |FROM ranked WHERE rank <= 4
        |ORDER BY q_id, rank""".stripMargin,

    // q277: the monitor loop unrolled — the closed-day spine gets ordinals;
    // scored ordinal r (r >= 5, seed = 1..4, cadence 3, refK 4) is scored
    // against the reference rotated from ordinals
    // [3·((r−5)//3)+1, 3·((r−5)//3)+4] (the trailing 4 of everything
    // accumulated at the last rotation, including the tripping period);
    // then q268's eps-floored PSI terms and exact integer running-sum KS
    // per (scored day, its reference-in-force).
    "q277_drift_monitor_loop" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(least(greatest(floor((value - 0.0) / 32.0), 0), 15) AS BIGINT)
        |      AS bin,
        |    count(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), closed AS (
        |  SELECT c.* FROM cells c, mx
        |  WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |), spine AS (
        |  SELECT day, row_number() OVER (ORDER BY day) AS rn
        |  FROM (SELECT DISTINCT day FROM closed)
        |), refmap AS (
        |  SELECT s.day AS sday, sp.day AS rday
        |  FROM (SELECT day, rn FROM spine WHERE rn >= 5) s
        |  JOIN spine sp
        |    ON sp.rn BETWEEN 3 * ((s.rn - 5) // 3) + 1
        |               AND 3 * ((s.rn - 5) // 3) + 4
        |), ref AS (
        |  SELECT m.sday AS day, c.bin, sum(c.cnt) AS cnt
        |  FROM refmap m JOIN closed c ON c.day = m.rday GROUP BY 1, 2
        |), post AS (
        |  SELECT day, bin, cnt FROM closed
        |  WHERE day IN (SELECT day FROM spine WHERE rn >= 5)
        |), tot AS (
        |  SELECT day, sum(cnt) AS tp FROM post GROUP BY 1
        |), rt AS (
        |  SELECT day, sum(cnt) AS tr FROM ref GROUP BY 1
        |), bins AS (
        |  SELECT DISTINCT day, bin
        |  FROM (SELECT day, bin FROM post UNION ALL SELECT day, bin FROM ref)
        |), grid AS (
        |  SELECT t.day, b.bin, t.tp, r.tr,
        |    coalesce(p.cnt, 0) AS cp, coalesce(f.cnt, 0) AS cr
        |  FROM tot t
        |  JOIN bins b ON b.day = t.day
        |  JOIN rt r ON r.day = t.day
        |  LEFT JOIN post p ON p.day = t.day AND p.bin = b.bin
        |  LEFT JOIN ref f ON f.day = t.day AND f.bin = b.bin
        |), psis AS (
        |  SELECT day, sum(
        |    (greatest(cp / CAST(tp AS DOUBLE), 1e-6)
        |       - greatest(cr / CAST(tr AS DOUBLE), 1e-6))
        |    * ln(greatest(cp / CAST(tp AS DOUBLE), 1e-6)
        |         / greatest(cr / CAST(tr AS DOUBLE), 1e-6))) AS psi
        |  FROM grid GROUP BY 1
        |), cums AS (
        |  SELECT day, tp, tr,
        |    abs(sum(cp) OVER (PARTITION BY day ORDER BY bin) / CAST(tp AS DOUBLE)
        |      - sum(cr) OVER (PARTITION BY day ORDER BY bin) / CAST(tr AS DOUBLE))
        |      AS d
        |  FROM grid
        |), kss AS (
        |  SELECT day, max(d) AS ks, max(tp) AS n_p, max(tr) AS n_r
        |  FROM cums GROUP BY 1
        |)
        |SELECT k.day, round(p.psi + 1e-9, 6) AS psi, round(k.ks + 1e-9, 6) AS ks,
        |  CAST(n_p AS BIGINT) AS n_period, CAST(n_r AS BIGINT) AS n_ref
        |FROM kss k JOIN psis p ON p.day = k.day
        |ORDER BY k.day""".stripMargin,

    // q278: q277's unrolled-loop recipe at the (seed 5, cadence 4, refK 3)
    // declaration — scored ordinal r ≥ 6 scores against reference
    // ordinals [4·((r−6)//4)+3, 4·((r−6)//4)+5]. The Spark side persists
    // and restores the monitor between the two micro-batches; the oracle
    // has no seam — equality is the restart-transparency proof.
    "q278_monitor_restart" ->
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(least(greatest(floor((value - 0.0) / 32.0), 0), 15) AS BIGINT)
        |      AS bin,
        |    count(*) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), closed AS (
        |  SELECT c.* FROM cells c, mx
        |  WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |), spine AS (
        |  SELECT day, row_number() OVER (ORDER BY day) AS rn
        |  FROM (SELECT DISTINCT day FROM closed)
        |), refmap AS (
        |  SELECT s.day AS sday, sp.day AS rday
        |  FROM (SELECT day, rn FROM spine WHERE rn >= 6) s
        |  JOIN spine sp
        |    ON sp.rn BETWEEN 4 * ((s.rn - 6) // 4) + 3
        |               AND 4 * ((s.rn - 6) // 4) + 5
        |), ref AS (
        |  SELECT m.sday AS day, c.bin, sum(c.cnt) AS cnt
        |  FROM refmap m JOIN closed c ON c.day = m.rday GROUP BY 1, 2
        |), post AS (
        |  SELECT day, bin, cnt FROM closed
        |  WHERE day IN (SELECT day FROM spine WHERE rn >= 6)
        |), tot AS (
        |  SELECT day, sum(cnt) AS tp FROM post GROUP BY 1
        |), rt AS (
        |  SELECT day, sum(cnt) AS tr FROM ref GROUP BY 1
        |), bins AS (
        |  SELECT DISTINCT day, bin
        |  FROM (SELECT day, bin FROM post UNION ALL SELECT day, bin FROM ref)
        |), grid AS (
        |  SELECT t.day, b.bin, t.tp, r.tr,
        |    coalesce(p.cnt, 0) AS cp, coalesce(f.cnt, 0) AS cr
        |  FROM tot t
        |  JOIN bins b ON b.day = t.day
        |  JOIN rt r ON r.day = t.day
        |  LEFT JOIN post p ON p.day = t.day AND p.bin = b.bin
        |  LEFT JOIN ref f ON f.day = t.day AND f.bin = b.bin
        |), psis AS (
        |  SELECT day, sum(
        |    (greatest(cp / CAST(tp AS DOUBLE), 1e-6)
        |       - greatest(cr / CAST(tr AS DOUBLE), 1e-6))
        |    * ln(greatest(cp / CAST(tp AS DOUBLE), 1e-6)
        |         / greatest(cr / CAST(tr AS DOUBLE), 1e-6))) AS psi
        |  FROM grid GROUP BY 1
        |), cums AS (
        |  SELECT day, tp, tr,
        |    abs(sum(cp) OVER (PARTITION BY day ORDER BY bin) / CAST(tp AS DOUBLE)
        |      - sum(cr) OVER (PARTITION BY day ORDER BY bin) / CAST(tr AS DOUBLE))
        |      AS d
        |  FROM grid
        |), kss AS (
        |  SELECT day, max(d) AS ks, max(tp) AS n_p, max(tr) AS n_r
        |  FROM cums GROUP BY 1
        |)
        |SELECT k.day, round(p.psi + 1e-9, 6) AS psi, round(k.ks + 1e-9, 6) AS ks,
        |  CAST(n_p AS BIGINT) AS n_period, CAST(n_r AS BIGINT) AS n_ref
        |FROM kss k JOIN psis p ON p.day = k.day
        |ORDER BY k.day""".stripMargin)
}
