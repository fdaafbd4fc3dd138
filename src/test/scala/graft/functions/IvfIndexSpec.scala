package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Engine, TestSpark}
import graft.functions.{VectorFunctions => VF}
import graft.catalog.Shared.exitScopedDir

class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emb = Engine.table(spark, TestSpark.Sf, "embeddings")
  private def tmp(tag: String) = exitScopedDir(tag) + "/idx"

  test("buildKMeans + probe equals the inline ivfTopK for the same (seed, k, nProbe)") {
    val dir = tmp("ivf-parity")
    val h = IvfIndex.buildKMeans(emb, "vec_id", "embedding", nCells = 8, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val stored = IvfIndex.probe(h, queries, "q_id", "q_vec", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val inline = VF.ivfTopK(queries, emb, "q_id", "vec_id", "q_vec", "embedding",
        k = 5, nCells = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(stored == inline,
      "stored-index probe diverged from the inline operator it persists")
    assert(h.assignMetric == IvfIndex.MetricKMeans && h.nCells == 8 && h.dim == 64)
  }

  test("explicit-centroid build assigns by argmax cosine (ties lowest cell); degenerate probe is exact") {
    val dir = tmp("ivf-cosine")
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val h = IvfIndex.build(emb, "vec_id", "embedding", centroids, dir)
    // every stored row sits in its argmax-cosine cell
    val wrong = h.cells
      .crossJoin(broadcast(h.centroids.select(col("cell").as("c2"), col("centroid"))))
      .withColumn("_s", VF.cosine(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"), col("cell"))
      .agg(max_by(col("c2"), struct(col("_s"), -col("c2"))).as("best"))
      .filter(col("cell") =!= col("best"))
      .count()
    assert(wrong == 0, s"$wrong rows not in their argmax-cosine cell")
    // nProbe == nCells degenerates to exact search
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = IvfIndex.probe(h, queries, "q_id", "q_vec", k = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exact = VF.bruteForceTopK(queries, emb, "q_id", "vec_id", "q_vec", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == exact, "nProbe == nCells probe must be exact")
  }

  test("probe result is pruneMaxCells-invariant and the pruned scan carries a cell partition filter") {
    val dir = tmp("ivf-prune")
    val h = IvfIndex.buildKMeans(emb, "vec_id", "embedding", nCells = 8, dir)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val pruned = IvfIndex.probe(h, queries, "q_id", "q_vec", k = 5, nProbe = 2)
    val full = IvfIndex.probe(h, queries, "q_id", "q_vec", k = 5, nProbe = 2,
      pruneMaxCells = 0)
    assert(pruned.collect().toSet == full.collect().toSet,
      "partition-pruned probe changed the answer")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probed-cell IN filter did not reach the scan as a partition filter:\n$plan")
  }

  test("load fails loud on a crash-truncated build (no readable meta)") {
    val dir = tmp("ivf-partial")
    emb.limit(5).select(lit(0).as("cell"), col("vec_id"), col("embedding"))
      .write.parquet(s"$dir/cells")
    val e = intercept[IllegalArgumentException] { IvfIndex.load(spark, dir) }
    assert(e.getMessage.contains("no committed index"))
  }

  test("append assigns to the nearest stored centroid, batch-proportional; drift report tracks growth") {
    val dir = tmp("ivf-append")
    val base = emb.filter(col("vec_id") < 250)
    val h = IvfIndex.buildKMeans(base, "vec_id", "embedding", nCells = 8, dir)
    val r0 = IvfIndex.driftReport(h).head()
    assert(r0.getAs[Long]("n_vectors") == r0.getAs[Long]("built_n"))
    assert(r0.getAs[Double]("growth_ratio") == 1.0)
    assert(!r0.getAs[Boolean]("recommend_rebuild"))
    // append the rest, shifted to fresh ids
    val extra = emb.filter(col("vec_id") >= 250)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val h2 = IvfIndex.append(h, extra)
    val r1 = IvfIndex.driftReport(h2).head()
    assert(r1.getAs[Long]("n_vectors") == r0.getAs[Long]("built_n") + extra.count())
    // every appended row landed in its argmin-Euclidean cell
    val negDist = VF.dot(col("embedding"), col("centroid")) * lit(2.0) -
      VF.dot(col("embedding"), col("embedding")) -
      VF.dot(col("centroid"), col("centroid"))
    val wrongE = h2.cells.filter(col("vec_id") >= 100000L)
      .crossJoin(broadcast(h2.centroids.select(col("cell").as("c2"), col("centroid"))))
      .withColumn("_s", negDist)
      .groupBy(col("vec_id"), col("cell"))
      .agg(max_by(col("c2"), struct(col("_s"), -col("c2"))).as("best"))
      .filter(col("cell") =!= col("best"))
      .count()
    assert(wrongE == 0, s"$wrongE appended rows not in their argmin-euclid cell")
    // and an appended vector is findable through the probe (fresh q_id so
    // the self-exclusion filter can't hide it)
    val probeQ = extra.filter(col("vec_id") === 100250L)
      .select(lit(-1L).as("q_id"), col("embedding").as("q_vec"))
    val top = IvfIndex.probe(h2, probeQ, "q_id", "q_vec", k = 1, nProbe = 8).head()
    assert(top.getLong(1) == 100250L && top.getDouble(2) == 1.0,
      s"appended vector not findable: $top")
    // growth past the threshold flips the recommendation
    val r2 = IvfIndex.driftReport(h2, growthRatio = 1.5).head()
    assert(r2.getAs[Boolean]("recommend_rebuild") != (r2.getAs[Double]("growth_ratio") < 1.5))
  }

  test("the stored artifact probes from ONE SQL statement (SketchSqlSpec parity for the IVF tier)") {
    // the persisted cells/centroids are plain parquet — a SQL-only client
    // (notebook, BI tool) can run the whole probe as one statement; the
    // window form here is the SEMANTIC oracle (the Dataset probe's
    // bounded-heap plan is the scale form)
    val dir = tmp("ivf-sql")
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val h = IvfIndex.build(emb, "vec_id", "embedding", centroids, dir)
    h.cells.createOrReplaceTempView("ivf_cells")
    h.centroids.createOrReplaceTempView("ivf_centroids")
    emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .createOrReplaceTempView("ivf_queries")
    def cosSql(a: String, b: String) =
      s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
         |  / (sqrt(aggregate(zip_with($a, $a, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))
         |   * sqrt(aggregate(zip_with($b, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin
    val sql = spark.sql(
      s"""WITH qcells AS (
         |  SELECT q_id, q_vec, cell FROM (
         |    SELECT q.q_id, q.q_vec, c.cell,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${cosSql("q.q_vec", "c.centroid")} DESC, c.cell ASC) AS rn
         |    FROM ivf_queries q CROSS JOIN ivf_centroids c
         |  ) WHERE rn <= 2
         |), ranked AS (
         |  SELECT q.q_id, s.vec_id, ${cosSql("q.q_vec", "s.embedding")} AS sim,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY ${cosSql("q.q_vec", "s.embedding")} DESC, s.vec_id ASC) AS rank
         |  FROM qcells q JOIN ivf_cells s ON s.cell = q.cell
         |  WHERE q.q_id != s.vec_id
         |)
         |SELECT q_id, vec_id, round(sim + 1e-9, 6) AS sim, rank
         |FROM ranked WHERE rank <= 3""".stripMargin)
      .collect().map(_.toSeq).toSet
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val ds = IvfIndex.probe(h, queries, "q_id", "q_vec", k = 3, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(sql == ds, "one-statement SQL probe diverged from the Dataset probe")
  }

  test("service composition: append -> driftReport cadence -> rebuild swap keeps the probe exact") {
    // the deployment recipe the verbs compose into: per-batch appends, the
    // health report on a cadence, and the generation-swap rebuild when it
    // recommends one — after the swap the probe answers over EVERYTHING
    // ingested, exactly (degenerate regime as the oracle)
    val dir = tmp("ivf-service")
    val slices = Seq(
      emb.filter(col("vec_id") % 3 === 0),
      emb.filter(col("vec_id") % 3 === 1),
      emb.filter(col("vec_id") % 3 === 2))
    var h = IvfIndex.buildKMeans(slices.head, "vec_id", "embedding", nCells = 8, dir)
    var gen = 0
    slices.tail.foreach { batch =>
      h = IvfIndex.append(h, batch)
      val r = IvfIndex.driftReport(h, growthRatio = 1.2).head()
      if (r.getAs[Boolean]("recommend_rebuild")) {
        gen += 1
        h = IvfIndex.rebuild(h, s"$dir-gen$gen")
      }
    }
    assert(gen >= 1, "fixture never tripped the rebuild recommendation")
    assert(IvfIndex.driftReport(h, growthRatio = 1.2).head()
      .getAs[Double]("growth_ratio") == 1.0)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = IvfIndex.probe(h, queries, "q_id", "q_vec", k = 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exact = VF.bruteForceTopK(queries, emb, "q_id", "vec_id", "q_vec", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == exact,
      "after append/rebuild cycles the index no longer answers over the full ingested set")
  }

  test("quantized build: same cell layout, ~4x smaller cells, q59-class probe, append quantizes, rebuild refuses") {
    val dirR = tmp("ivf-raw")
    val dirQ = tmp("ivf-q")
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val hr = IvfIndex.build(emb, "vec_id", "embedding", centroids, dirR)
    val hq = IvfIndex.buildQuantized(emb, "vec_id", "embedding", centroids, dirQ)
    assert(hq.quantized && !hr.quantized)
    // identical cell layout (assignment ran on the raw vectors)
    assert(hq.cells.select("cell", "vec_id").collect().map(_.toSeq).toSet ==
      hr.cells.select("cell", "vec_id").collect().map(_.toSeq).toSet)
    // the at-rest trade is real: quantized cells are substantially smaller
    def bytes(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(new java.io.File(s"$dir/cells"))
    }
    assert(bytes(dirQ) < bytes(dirR) * 0.6,
      s"quantized cells not smaller: ${bytes(dirQ)} vs ${bytes(dirR)}")
    // probe scores the reconstructions: equals brute force over dequantized
    // vectors in the degenerate regime (the q59 contract on the stored form)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = IvfIndex.probe(hq, queries, "q_id", "q_vec", k = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val deqCorpus = emb.select(col("vec_id"),
      VF.dequantize(VF.quantizeInt8(col("embedding"))).as("dv"))
    val want = VF.bruteForceTopK(queries, deqCorpus, "q_id", "vec_id", "q_vec", "dv", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want, "quantized degenerate probe != brute force over reconstructions")
    // append quantizes under the same scheme and stays probe-findable
    val extra = emb.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val hq2 = IvfIndex.append(hq, extra)
    val pq = extra.select(lit(-1L).as("q_id"), col("embedding").as("q_vec"))
    val top = IvfIndex.probe(hq2, pq, "q_id", "q_vec", k = 2, nProbe = 4)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toMap
    assert(top.contains(100000L + 7L), s"appended quantized row not findable: $top")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.rebuild(hq2.copy(assignMetric = IvfIndex.MetricKMeans), tmp("x"))
    }
    assert(e.getMessage.contains("lossy codes"))
  }

  test("rebuild refits over build + appended mass into a fresh dir; refuses same-dir and cosine-metric") {
    val dir = tmp("ivf-rebuild")
    val base = emb.filter(col("vec_id") < 250)
    val h = IvfIndex.buildKMeans(base, "vec_id", "embedding", nCells = 8, dir)
    val extra = emb.filter(col("vec_id") >= 250)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val h2 = IvfIndex.append(h, extra)
    val dir2 = tmp("ivf-rebuild-g2")
    val h3 = IvfIndex.rebuild(h2, dir2)
    val r = IvfIndex.driftReport(h3).head()
    assert(r.getAs[Double]("growth_ratio") == 1.0, "rebuild did not reset the growth clock")
    assert(r.getAs[Long]("n_vectors") == h2.cells.count())
    // the rebuilt index still answers exactly in the degenerate regime
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = IvfIndex.probe(h3, queries, "q_id", "q_vec", k = 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exact = VF.bruteForceTopK(
        queries, h3.cells.select(col("vec_id"), col("embedding")),
        "q_id", "vec_id", "q_vec", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == exact)
    intercept[IllegalArgumentException] { IvfIndex.rebuild(h2, h2.dir) }
    val cdir = tmp("ivf-rebuild-cos")
    val hc = IvfIndex.build(emb.limit(50), "vec_id", "embedding",
      emb.filter(col("vec_id") < 2)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid")),
      cdir)
    val ec = intercept[IllegalArgumentException] { IvfIndex.rebuild(hc, tmp("x")) }
    assert(ec.getMessage.contains("upstream centroid"))
  }

  test("explicit-centroid build executes exactly ONE shuffle (the cell-clustering repartition)") {
    // the round-14 build-path claim made artifact-checkable: assignment is
    // a map-side fold (zero exchanges), so the cells write must plan
    // exactly one shuffle — the repartition(cell) that buys the
    // one-file-per-cell layout. The earlier heap+join shape planned three
    // (heap partial-agg, join-back-by-id, clustering); a regression to any
    // join- or window-based assignment re-adds an exchange and fails here.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        // the WRITE into <dir>/cells only — the build's read-back count
        // over the same path would otherwise also match (and planning an
        // Exchange SinglePartition for its final agg is fine there)
        if (qe.analyzed.toString.contains("InsertIntoHadoopFsRelation") &&
            qe.analyzed.toString.contains("ivf-oneshuffle") &&
            qe.analyzed.toString.contains("cells"))
          captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = tmp("ivf-oneshuffle")
      val centroids = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
      IvfIndex.build(emb, "vec_id", "embedding", centroids, dir)
      // QueryExecutionListener delivery is async — poll for the cells-write plan
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(!captured.isEmpty, "cells-write query execution was never captured")
      // an adaptive plan prints its final AND initial trees — count the
      // final one only. KEY-partitioned (hash/range) exchanges are the
      // corpus-mass shuffles the claim is about; the plan legitimately
      // also carries Engine.table's RoundRobin scan rebalance (test-
      // harness artifact: single-row-group testdata parquet) and one
      // SinglePartition collapse of the ≤ nCells centroid rows into the
      // broadcast array — neither moves corpus-proportional data by key
      val plan = captured.peek().split("== Initial Plan ==")(0)
      val keyed = "Exchange (hashpartitioning|rangepartitioning)".r
        .findAllIn(plan).size
      assert(keyed == 1,
        s"cells write planned $keyed key-partitioned shuffles (want exactly 1 — " +
          s"the cell clustering):\n$plan")
      assert(plan.contains("REPARTITION_BY_COL"),
        "the one shuffle is not the explicit cell-clustering repartition")
    } finally spark.listenerManager.unregister(listener)
  }

  test("delete: delete . append == fresh build over survivors (cells, meta, health, probe)") {
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    // lifecycle chain: build evens, append odds, take down vec_id % 5 == 2
    val hA = IvfIndex.build(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", centroids,
      tmp("ivf-del-a"))
    val hA2 = IvfIndex.append(hA, emb.filter(col("vec_id") % 2 === 1))
    val rm = emb.filter(col("vec_id") % 5 === 2).select(col("vec_id"))
    val hA3 = IvfIndex.delete(hA2, rm)
    // the reference: one fresh build over exactly the survivors
    val hB = IvfIndex.build(
      emb.filter(col("vec_id") % 5 =!= 2), "vec_id", "embedding", centroids,
      tmp("ivf-del-b"))
    assert(hA3.cells.select("cell", "vec_id").collect().map(_.toSeq).toSet ==
      hB.cells.select("cell", "vec_id").collect().map(_.toSeq).toSet,
      "survivor cells diverge from a fresh build over the survivors")
    assert(hA3.builtN == hB.builtN, "delete did not re-baseline built_n")
    // mean_assign_sim is an avg over doubles — partition layout moves the
    // summation order, so the last ulp can differ; pin it at 12 dp and
    // everything else exactly
    def health(h: IvfIndex.Handle): Seq[Any] =
      IvfIndex.driftReport(h).head().toSeq.map {
        case d: Double => math.rint(d * 1e12) / 1e12
        case x => x
      }
    assert(health(hA3) == health(hB),
      "health report diverges from the fresh-build-over-survivors reference")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def probe(h: IvfIndex.Handle) =
      IvfIndex.probe(h, queries, "q_id", "q_vec", k = 4, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(probe(hA3) == probe(hB))
    // the delete COMMITTED: a cold load sees the same accounting
    val reloaded = IvfIndex.load(spark, hA3.dir)
    assert(reloaded.builtN == hA3.builtN && reloaded.cells.count() == hA3.builtN)
    // a no-op takedown (ids not present) must not reset the growth clock
    val extra = emb.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val grown = IvfIndex.append(hA3, extra)
    val noop = IvfIndex.delete(grown,
      emb.filter(col("vec_id") < 3).select((col("vec_id") + 900000L).as("vec_id")))
    assert(noop.builtN == hA3.builtN,
      "no-op delete re-baselined built_n (growth clock silently reset)")
  }

  test("delete that empties a cell drops its directory; probe and reload survive") {
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val dir = tmp("ivf-del-empty")
    val h = IvfIndex.build(emb, "vec_id", "embedding", centroids, dir)
    // take down EVERY member of one populated cell
    val victim = h.cells.groupBy(col("cell")).count()
      .orderBy(col("count"), col("cell")).head().getInt(0)
    val rm = h.cells.filter(col("cell") === victim).select(col("vec_id"))
    val nRm = rm.count()
    assert(nRm > 0)
    val h2 = IvfIndex.delete(h, rm)
    assert(!new java.io.File(s"$dir/cells/cell=$victim").exists(),
      "emptied cell directory left stale files behind")
    assert(h2.builtN == h.builtN - nRm)
    assert(h2.cells.filter(col("cell") === victim).count() == 0)
    // probing INTO the emptied cell region still answers from the others
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = IvfIndex.probe(h2, queries, "q_id", "q_vec", k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exact = VF.bruteForceTopK(
        queries, h2.cells.select(col("vec_id"), col("embedding")),
        "q_id", "vec_id", "q_vec", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == exact, "degenerate probe after emptying a cell is not exact")
    assert(IvfIndex.load(spark, dir).cells.count() == h2.builtN)
  }

  test("rebuildQuantized: recommend_rebuild on a quantized handle has an executable path") {
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val dir = tmp("ivf-rq")
    val raw = emb.select(col("vec_id"), col("embedding"))
    val hq = IvfIndex.buildQuantized(raw, "vec_id", "embedding", centroids, dir)
    // the monitor can recommend a rebuild the old tier had no verb for;
    // the service path: rebuildQuantized over the RAW corpus, swap dirs
    val dir2 = tmp("ivf-rq-g2")
    val h2 = IvfIndex.rebuildQuantized(hq, raw, dir2)
    assert(h2.quantized && h2.dir == dir2)
    assert(h2.cells.select("cell", "vec_id").collect().map(_.toSeq).toSet ==
      hq.cells.select("cell", "vec_id").collect().map(_.toSeq).toSet,
      "re-quantized generation moved rows between cells under unchanged centroids")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def probe(h: IvfIndex.Handle) =
      IvfIndex.probe(h, queries, "q_id", "q_vec", k = 4, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(probe(h2) == probe(hq),
      "rebuilt-from-raw quantized generation answers differently")
    // refusals: not quantized / same dir
    val hr = IvfIndex.build(raw, "vec_id", "embedding", centroids, tmp("ivf-rq-raw"))
    val en = intercept[IllegalArgumentException] {
      IvfIndex.rebuildQuantized(hr, raw, tmp("x"))
    }
    assert(en.getMessage.contains("not quantized"))
    intercept[IllegalArgumentException] { IvfIndex.rebuildQuantized(hq, raw, hq.dir) }
  }
}
