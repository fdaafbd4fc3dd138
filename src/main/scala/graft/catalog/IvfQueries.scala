package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.catalog.Shared._

/** IVF approximate nearest-neighbour search: the in-memory path and the
  * persisted index verbs (probe, append, quantize, delete, health). */
object IvfQueries extends Family {

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
  query("q45_ann_ivf", annIvf,
    // q45 probes ALL cells (nProbe == nCells) so the IVF pipeline is exact
    // and brute-force top-k is its value oracle (same SQL shape as q14).
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
    barSec = 3.952)

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
  query("q271_ivf_index_probe", ivfIndexProbe,
    // q271 replays the full stored-IVF decision chain: the deterministic
    // argmax-cosine assignment (ties lowest cell), each query's top-3
    // probed cells (same tie-break), and the exact in-cell cosine top-5.
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
    // round-13 additions (round-start quiet-box min-of-2, BASELINE §3l)
    barSec = 2.890)

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
  query("q273_ivf_append_probe", ivfAppendProbe,
    // q273: the appended index's final state is membership-timing-
    // independent under fixed explicit centroids, so the oracle derives it
    // directly — same assignment chain as q271, different probe point.
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
    barSec = 3.562)

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
  query("q274_ivf_health", ivfHealth,
    // q274: every health field from the same deterministic assignment
    // chain — integer cell counts, exact-division balance ratios, the
    // rebuild decision replayed from identical double comparisons.
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
    barSec = 1.892)

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
  query("q275_ivf_quantized_probe", ivfQuantizedProbe,
    // q275: q271's assignment chain on the raw vectors, then the q59
    // quantize→dequantize round trip per stored vector and reconstructed
    // cosines per probed candidate.
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
    barSec = 4.140)

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
  query("q276_ivf_delete_probe", ivfDeleteProbe,
    // q276: the post-delete index ≡ a fresh build over the survivors
    // (fixed explicit centroids ⇒ membership-timing-independent), so the
    // oracle derives the final state from the survivor predicate directly —
    // q271's assignment chain restricted to vec_id % 5 != 2.
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
    barSec = 4.744)
}
