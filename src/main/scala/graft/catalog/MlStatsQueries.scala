package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Stats, WindowOps}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.mining.Association
import graft.ml.{Classification, Clustering, Features, Regression}
import graft.catalog.Shared._

/** ML and statistics: association rules, classifiers, clustering,
  * forecasting, regression and statistical tests. */
object MlStatsQueries extends Family {

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
  query("q09_trend_labels", trendLabels,
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
    barSec = 0.980)

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
  query("q10_trend_pair_support", trendPairSupport,
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
    barSec = 1.585)

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
  query("q17_trend_rules", trendRules,
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
    barSec = 9.343)

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
  query("q18_knn_classify", knnClassify,
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
    barSec = 3.026)

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
  query("q19_scored_classifier", scoredClassifier,
    // q19: nearest-centroid scorer — class centroids are per-dim means over
    // the train split, margin = (d²(x,c0) − d²(x,c1))/2 via the dot-product
    // identity, posterior = sigmoid(margin). Closed-form ⇒ value-exact.
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
    // q19/q20 re-baselined in round 7 at the round-6 value-oracle redesign's
    // measured times (closed-form centroid scorer / fixed-iteration Lloyd) —
    // the r1 bars (13.602 / 40.838, fitted LogisticRegression / mllib
    // KMeans+evaluator) are recorded in BASELINE.md §3 as a historical note;
    // keeping them here disabled the 1.4× regression gate up to ~24×/47×
    barSec = 0.560)

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
  query("q20_cluster_summary", clusterSummary,
    // q20: deterministic Lloyd k=2 — seeds at min/max vec_id, 3 unrolled
    // assign(argmin d², tie → lower k)/update(per-dim mean) iterations,
    // then the centroid-form simplified silhouette, best-orientation
    // consistency, and cluster sizes — value-exact vs the Spark loop.
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
    barSec = 0.870)

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
  query("q21_rolling_cv", rollingCv,
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
    barSec = 16.878)

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
  query("q37_item_support", itemSupport,
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
    barSec = 1.345)

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
  query("q47_knn_confusion", knnConfusion,
    // q47 reuses q18's deterministic vote (sim desc, id asc; count desc,
    // label asc) and contingency-counts it against the true labels.
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
    barSec = 2.006)

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
  query("q53_rule_metrics", ruleMetrics,
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
    barSec = 2.961)

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
  query("q54_forecast_metrics", forecastMetrics,
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
    barSec = 0.837)

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
  query("q55_roc_auc", rocAuc,
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
    barSec = 1.041)

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
  query("q66_embedding_centroids", embeddingCentroids,
      """SELECT label, count(*) AS n,
        |  round(avg(CAST(embedding[1] AS DOUBLE)) + 1e-9, 6) AS c0,
        |  round(avg(CAST(embedding[2] AS DOUBLE)) + 1e-9, 6) AS c1,
        |  round(avg(CAST(embedding[3] AS DOUBLE)) + 1e-9, 6) AS c2,
        |  round(avg(CAST(embedding[4] AS DOUBLE)) + 1e-9, 6) AS c3
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin,
    barSec = 0.416)

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
  query("q101_corr_matrix", corrMatrixQuery,
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
    // q101+ first measured in round 3 (clean sf0.1 run, BASELINE.md §3b)
    barSec = 0.840)

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
  query("q102_chi_square", chiSquareQuery,
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
    barSec = 0.690)

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
  query("q103_ols_trend", olsTrendQuery,
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
    barSec = 0.660)

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
  query("q104_mad_outliers", madOutlierQuery,
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
    barSec = 0.890)

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
  query("q111_moment_stats", momentStats,
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
    barSec = 0.390)

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
  query("q113_seasonal_decomp", seasonalDecomp,
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
    barSec = 0.730)

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
  query("q115_calibration", calibrationBins,
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
    barSec = 0.400)

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
  query("q119_ab_test", abTest,
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
    barSec = 0.640)

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
  query("q126_holt_forecast", holtForecast,
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
    barSec = 0.860)

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
  query("q128_changepoint", changepoint,
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
    barSec = 0.600)

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
  query("q129_embedding_norms", embeddingNorms,
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
    barSec = 0.430)

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
  query("q130_davies_bouldin", daviesBouldin,
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
    barSec = 1.450)

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
  query("q132_mutual_information", mutualInformation,
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
    barSec = 0.730)

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
  query("q150_pythagorean_means", pythagoreanMeans,
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
    barSec = 0.630)

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
  query("q151_knn_regression", knnRegression,
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
    barSec = 0.920)

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
  query("q155_target_encoding", targetEncoding,
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
    barSec = 0.570)

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
  query("q169_seasonal_anomaly", seasonalAnomaly,
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
    barSec = 0.790)

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
  query("q173_triple_itemsets", tripleItemsets,
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
    barSec = 1.660)

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
  query("q174_survival_curve", survivalCurve,
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
    barSec = 1.160)

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
  query("q176_odds_ratio", weekendOddsRatio,
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
    barSec = 0.450)

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
  query("q177_power_analysis", powerAnalysis,
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
    barSec = 0.800)

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
  query("q185_acf_table", acfTable,
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
    barSec = 0.800)

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
  query("q188_seasonal_strength", seasonalStrength,
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
    barSec = 0.540)

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
  query("q205_theilsen_trend", theilsenTrend,
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
    barSec = 3.010)

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
  query("q206_mann_kendall", mannKendallTrend,
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
    barSec = 1.010)

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
  query("q207_price_elasticity", priceElasticity,
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
    barSec = 1.370)

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
  query("q272_mlp_inference", mlpInference,
    // q272 recomputes the constant-weight MLP end to end: power-of-two
    // weights make every product exact in both engines, so the logits
    // match bit for bit and only exp()'s last ulp rides on the 6-dp round.
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
    barSec = 0.490)
}
