package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Shared._

/** Distribution drift: PSI and KS monitors, embedding drift, reference
  * rotation and the standing monitor loop. */
object DriftQueries extends Family {

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
  query("q116_psi_drift", psiDrift,
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
    barSec = 0.660)

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
  query("q125_ks_drift", ksDrift,
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
    barSec = 0.860)

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
  query("q254_stream_psi", streamPsi,
    // q254: the oracle re-derives closed windows (the q241 watermark
    // condition), the reference/post split, the days × bins PSI grid, and
    // each (p − q)·ln(p/q) term with the same 1e-6 floor — bin width 32 is
    // dyadic and p, q are integer ratios, so ln is the only transcendental
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
    barSec = 2.268)

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
  query("q260_adaptive_psi", streamAdaptivePsi,
    // q260: q259's per-day scale/cell derivation (global, maxBins 16) →
    // align every closed day's cells to the coarsest scale by arithmetic
    // shift (DuckDB's >> floors like Java's, and both equal floorDiv by
    // 2^d) → q254's PSI grid and eps-floored terms verbatim
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
    barSec = 2.357)

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
  query("q265_embedding_drift", embeddingDrift,
    // q265: per-dimension marginal PSI of each label cohort vs the label-0
    // reference — the oracle re-derives cells (exact dyadic bin width
    // 0.125, same floor/clamp) and every eps-floored (p − q)·ln(p/q) term
    // on the keyed dims × bins grid. generate_subscripts is 1-based where
    // posexplode is 0-based; float components widen to DOUBLE exactly.
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
    // round-11 late additions, first measured on the round-11 quiet box
    barSec = 1.467)

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
  query("q268_stream_ks", streamKs,
    // q268: per-day two-sample KS from the closed-window cells (the q254
    // derivation), CDFs as exact-integer running sums over the union bin
    // spine, the classical α=0.05 critical value from the same totals —
    // every distance and threshold re-derived bit-identically.
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
    barSec = 2.603)

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
  query("q269_stream_embedding_drift", streamEmbeddingDrift,
    // q269: the standing embedding-drift deployment — per-(closed day,
    // dim) marginal cells under the q241 closure predicate (deterministic
    // hourly ts = base + (vec_id % 336) hours, 1-day windows, 1-hour
    // watermark), then BOTH drift statistics re-derived from the same
    // cells: q265's eps-floored PSI terms and q268's exact-integer
    // running-sum KS + size-scaled critical value, each on the per-dim
    // keyed grid.
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
    barSec = 3.048)

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
  query("q270_stream_rotated_ref", rotatedDrift,
    // q270: rotation deployed — the trailing 3 closed days scored against
    // a reference rotated from the 4 closed days before them (cell-wise
    // sums over the SAME cell table), both statistics re-derived exactly
    // (q268's closure predicate + CDF machinery, q254's eps-floored PSI
    // terms).
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
    barSec = 3.707)

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
  query("q277_drift_monitor_loop", driftMonitorLoop,
    // q277: the monitor loop unrolled — the closed-day spine gets ordinals;
    // scored ordinal r (r >= 5, seed = 1..4, cadence 3, refK 4) is scored
    // against the reference rotated from ordinals
    // [3·((r−5)//3)+1, 3·((r−5)//3)+4] (the trailing 4 of everything
    // accumulated at the last rotation, including the tripping period);
    // then q268's eps-floored PSI terms and exact integer running-sum KS
    // per (scored day, its reference-in-force).
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
    // round-14 additions (round-start quiet-box min-of-2, BASELINE §3m):
    // q277 is the drift-tier service capstone — 25 sequential monitor
    // ticks with 8 reference rotations over the replayed stream, the
    // q261/q264/q267 deliberately-heavy loop class
    barSec = 21.867)

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
  query("q278_monitor_restart", monitorRestart,
    // q278: q277's unrolled-loop recipe at the (seed 5, cadence 4, refK 3)
    // declaration — scored ordinal r ≥ 6 scores against reference
    // ordinals [4·((r−6)//4)+3, 4·((r−6)//4)+5]. The Spark side persists
    // and restores the monitor between the two micro-batches; the oracle
    // has no seam — equality is the restart-transparency proof.
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
        |ORDER BY k.day""".stripMargin,
    // q278 = the q277 loop at cadence 4 (24 ticks, 6 rotations) + one
    // persist/restore seam — same service-capstone class
    barSec = 18.815)
}
