package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expressions.VectorExpressions
import graft.catalog.Shared.exitScopedDir

class SimilarityJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomSets(seed: Int, n: Int): Seq[(Long, Seq[Long])] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val base = Seq.fill(rnd.nextInt(40) + 5)(rnd.nextInt(120).toLong).distinct
      (i.toLong, base.sorted)
    }
  }

  private def bruteForce(
      left: Seq[(Long, Seq[Long])],
      right: Seq[(Long, Seq[Long])],
      t: Double): Set[(Long, Long)] =
    (for {
      (li, ls) <- left
      (ri, rs) <- right
      inter = ls.toSet.intersect(rs.toSet).size
      union = ls.toSet.union(rs.toSet).size
      if union > 0 && inter.toDouble / union >= t
    } yield (li, ri)).toSet

  test("prefix-filtered join equals brute force across thresholds on random sets") {
    val all = randomSets(3, 120)
    val (lRows, rRows) = all.partition(_._1 <= 60)
    val l = lRows.toDF("lid", "s")
    val r = rRows.toDF("rid", "s")
    Seq(0.25, 0.5, 0.8).foreach { t =>
      val got = SimilarityJoin.jaccardJoin(l, "lid", r, "rid", "s", t)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val want = bruteForce(lRows, rRows, t)
      assert(got == want, s"t=$t: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("boundary pair with J exactly == threshold survives the filter") {
    // |A|=3 ⊂ |B|=4 ⇒ J = 3/4 exactly at t = 0.75
    val l = Seq((1L, Seq(10L, 20L, 30L))).toDF("lid", "s")
    val r = Seq((2L, Seq(5L, 10L, 20L, 30L))).toDF("rid", "s")
    val got = SimilarityJoin.jaccardJoin(l, "lid", r, "rid", "s", 0.75).collect()
    assert(got.length == 1)
    assert(math.abs(got.head.getDouble(2) - 0.75) < 1e-12)
  }

  test("a hub element present in every set does not break exactness") {
    val hub = 999L
    val all = randomSets(7, 80).map { case (i, s) => (i, (s :+ hub).distinct.sorted) }
    val (lRows, rRows) = all.partition(_._1 <= 40)
    val t = 0.5
    val got = SimilarityJoin
      .jaccardJoin(lRows.toDF("lid", "s"), "lid", rRows.toDF("rid", "s"), "rid", "s", t)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == bruteForce(lRows, rRows, t))
  }

  test("reported jaccard values are exact") {
    val all = randomSets(11, 60)
    val (lRows, rRows) = all.partition(_._1 <= 30)
    SimilarityJoin
      .jaccardJoin(lRows.toDF("lid", "s"), "lid", rRows.toDF("rid", "s"), "rid", "s", 0.3)
      .collect().foreach { row =>
        val ls = lRows.find(_._1 == row.getLong(0)).get._2.toSet
        val rs = rRows.find(_._1 == row.getLong(1)).get._2.toSet
        val j = ls.intersect(rs).size.toDouble / ls.union(rs).size
        assert(math.abs(row.getDouble(2) - j) < 1e-12)
      }
  }

  private def bruteForceSelf(
      rows: Seq[(Long, Seq[Long])],
      t: Double,
      block: Long => Any = _ => 0): Set[(Long, Long)] =
    (for {
      (ai, as) <- rows
      (bi, bs) <- rows
      if ai < bi && block(ai) == block(bi)
      inter = as.toSet.intersect(bs.toSet).size
      union = as.toSet.union(bs.toSet).size
      if union > 0 && inter.toDouble / union >= t
    } yield (ai, bi)).toSet

  test("self-join equals brute force across thresholds, each pair exactly once") {
    val rows = randomSets(13, 120)
    val df = rows.toDF("id", "s")
    Seq(0.25, 0.5, 0.8).foreach { t =>
      val got = SimilarityJoin.jaccardSelfJoin(df, "id", "s", t)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"t=$t: duplicate pairs emitted")
      assert(got.forall { case (a, b) => a < b }, s"t=$t: unordered pair leaked")
      val want = bruteForceSelf(rows, t)
      assert(got.toSet == want,
        s"t=$t: missing=${want -- got.toSet} extra=${got.toSet -- want}")
    }
  }

  test("self-join with blockCols never pairs across blocks and matches per-block brute force") {
    val rows = randomSets(17, 100)
    val blockOf = (id: Long) => id % 3
    val df = rows.map { case (i, s) => (i, blockOf(i), s) }.toDF("id", "g", "s")
    val t = 0.4
    val got = SimilarityJoin.jaccardSelfJoin(df, "id", "s", t, blockCols = Seq("g"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == bruteForceSelf(rows, t, blockOf))
    assert(got.forall { case (a, b) => blockOf(a) == blockOf(b) })
  }

  test("self-join boundary pair at J == threshold survives; jaccard values exact") {
    val rows = Seq((1L, Seq(10L, 20L, 30L)), (2L, Seq(5L, 10L, 20L, 30L)))
    val got = SimilarityJoin.jaccardSelfJoin(rows.toDF("id", "s"), "id", "s", 0.75).collect()
    assert(got.length == 1 && got.head.getLong(0) == 1L && got.head.getLong(1) == 2L)
    assert(math.abs(got.head.getDouble(2) - 0.75) < 1e-12)
  }

  test("index-prefix asymmetry: size-skewed boundary pairs survive; candidate stage shrinks") {
    // sizes 4 vs 8 at t = 0.5: α = ⌈0.5/1.5·12⌉ = 4 = the whole smaller
    // set — its index prefix is 4 − ⌈(2·0.5/1.5)·4⌉ + 1 = 2, so losslessness
    // here depends on the FIRST common element argument (element 1 is
    // rarest: df 2 vs the decoys' df 1 ... ties put it in both prefixes)
    val rows = Seq(
      (1L, Seq(1L, 2L, 3L, 4L)),
      (2L, Seq(1L, 2L, 3L, 4L, 90L, 91L, 92L, 93L)))
    Seq(SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs,
      SimilarityStrategy.Auto).foreach { st =>
      val got = SimilarityJoin
        .jaccardSelfJoin(rows.toDF("id", "s"), "id", "s", 0.5, strategy = st)
        .collect()
      assert(got.length == 1 && math.abs(got.head.getDouble(2) - 0.5) < 1e-12,
        s"$st lost the size-skewed boundary pair")
    }
    // the probe's prefix volume must reflect the index-side restriction:
    // strictly below the symmetric Σ n(n−1)/2 on a corpus whose postings
    // all share one rare element
    val shared = (1L to 40L).map(i => (i, Seq(0L) ++ (i * 100 until i * 100 + 9).map(_.toLong)))
    val (cp, _) = SimilarityJoin.selfJoinVolumes(shared.toDF("id", "s"), "id", "s", 0.5)
    val posts = 40.0 // every set posts the shared rare element once
    assert(cp < posts * (posts - 1) / 2,
      s"prefix volume $cp should sit below the symmetric bound ${posts * (posts - 1) / 2}")
  }

  test("self-join with empty and hub-heavy sets stays exact") {
    val hub = 999L
    val base = randomSets(19, 80).map { case (i, s) => (i, (s :+ hub).distinct.sorted) }
    val rows = base :+ (200L, Seq.empty[Long]) :+ (201L, Seq.empty[Long])
    val t = 0.5
    val got = SimilarityJoin.jaccardSelfJoin(rows.toDF("id", "s"), "id", "s", t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == bruteForceSelf(rows, t))
  }

  test("cross-frame strategies (Auto / PrefixFilter / AllPairs salted cross) agree") {
    val all = randomSets(37, 100)
    val (lRows, rRows) = all.partition(_._1 <= 50)
    val l = lRows.toDF("lid", "s")
    val r = rRows.toDF("rid", "s")
    Seq(0.3, 0.6).foreach { t =>
      val want = bruteForce(lRows, rRows, t)
      Seq(SimilarityStrategy.Auto, SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs)
        .foreach { st =>
          val got = SimilarityJoin.jaccardJoin(l, "lid", r, "rid", "s", t, strategy = st)
            .select("lid", "rid").as[(Long, Long)].collect()
          assert(got.length == got.toSet.size, s"t=$t $st: duplicate pairs")
          assert(got.toSet == want,
            s"t=$t $st: missing=${want -- got.toSet} extra=${got.toSet -- want}")
        }
    }
  }

  test("all three strategies emit identical pairs (with and without blocks)") {
    val rows = randomSets(29, 110)
    val blockOf = (id: Long) => id % 2
    val df = rows.map { case (i, s) => (i, blockOf(i), s) }.toDF("id", "g", "s")
    val t = 0.4
    val want = bruteForceSelf(rows, t, blockOf)
    Seq(SimilarityStrategy.Auto, SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs)
      .foreach { st =>
        val got = SimilarityJoin
          .jaccardSelfJoin(df, "id", "s", t, blockCols = Seq("g"), strategy = st)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(got == want, s"strategy=$st")
        val noBlocks = SimilarityJoin
          .jaccardSelfJoin(rows.toDF("id", "s"), "id", "s", t, strategy = st)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(noBlocks == bruteForceSelf(rows, t), s"strategy=$st (no blocks)")
      }
  }

  test("cost probe identifies the regime: replica-dense -> allPairs, sparse -> prefix") {
    // replica-dense: 20 originals x 10 near-identical copies — every
    // cluster member shares its whole prefix, so prefix candidates blow
    // past the block volume (the sf1 stress shape)
    val rnd = new scala.util.Random(31)
    val dense = (0 until 20).flatMap { o =>
      val base = Seq.fill(60)(rnd.nextInt(100000).toLong).distinct.sorted
      (0 until 10).map { r =>
        (o * 10L + r, (base :+ (1000000L + o * 10 + r)).distinct.sorted)
      }
    }
    val (dp, db) = SimilarityJoin.selfJoinVolumes(dense.toDF("id", "s"), "id", "s", 0.5)
    assert(dp > db, s"dense corpus should favor allPairs: prefix=$dp blocks=$db")

    // sparse: 200 docs with mostly-unique elements — rare prefixes almost
    // never collide, so candidates stay far below the all-pairs volume
    val sparse = (0 until 200).map { i =>
      (i.toLong, Seq.fill(60)(rnd.nextLong()).distinct.sorted)
    }
    val (sp, sb) = SimilarityJoin.selfJoinVolumes(sparse.toDF("id", "s"), "id", "s", 0.5)
    assert(sp < sb, s"sparse corpus should favor prefix filter: prefix=$sp blocks=$sb")
  }

  test("cost probes overlapped on a pool thread carry the caller's job group") {
    val sc = spark.sparkContext
    val sets = randomSets(41, 60).toDF("id", "s")
    // the drift report's two volume measurements run overlapped (par2)
    val storedFreq = SimilarityJoin.dfCounts(randomSets(42, 60).toDF("id", "s"), "s")
    def report() = SimilarityJoin.indexDriftReport(sets, "id", "s", 0.5, storedFreq)
    // the first calls leave idle pool threads behind, created under the
    // properties of that moment (no job group)
    (1 to 3).foreach(_ => report())
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      (1 to 3).foreach { i =>
        sc.setJobGroup(s"probe-group-$i", s"probe pair $i")
        try report()
        finally sc.clearJobGroup()
        org.apache.spark.ListenerBusDrain(sc)
        val seen = jobs.asScala.toSeq
        jobs.clear()
        assert(seen.size >= 2, s"expected both probes' jobs, saw $seen")
        assert(seen.forall(_ == ((s"probe-group-$i", s"probe pair $i"))),
          s"a probe job ran outside the caller's job group: $seen")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("per-block routing: a mixed dense+sparse corpus routes each block to its engine, output identical") {
    // block "d": 12 originals x 8 near-replicas — prefix candidates blow
    // past the block volume (scraper-echo language). block "s": 150
    // mostly-unique docs — prefix stays far below all-pairs. A single
    // global choice pays the worse engine on one of the two.
    val rnd = new scala.util.Random(37)
    val dense = (0 until 12).flatMap { o =>
      val base = Seq.fill(60)(rnd.nextInt(100000).toLong).distinct.sorted
      (0 until 8).map { r =>
        (o * 8L + r, "d", (base :+ (1000000L + o * 8 + r)).distinct.sorted)
      }
    }
    val sparse = (0 until 150).map { i =>
      (1000L + i, "s", Seq.fill(60)(rnd.nextLong()).distinct.sorted)
    }
    val df = (dense ++ sparse).toDF("id", "g", "s")
    val t = 0.5

    // the probe sees the two regimes
    val regimes = SimilarityJoin
      .selfJoinBlockVolumes(df, "id", "s", t, Seq("g"))
      .select("g", "engine", "prefix_volume", "allpairs_volume")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(regimes("d")._1 == "allpairs", s"dense block misrouted: $regimes")
    assert(regimes("s")._1 == "prefix", s"sparse block misrouted: $regimes")

    // routed cost strictly below EITHER single-engine run's candidate volume
    val routed = regimes.values.map(v => math.min(v._2, v._3)).sum
    val allPrefix = regimes.values.map(_._2).sum
    val allPairs = regimes.values.map(_._3).sum
    assert(routed < allPrefix && routed < allPairs,
      s"routing should beat both single engines: routed=$routed prefix=$allPrefix pairs=$allPairs")

    // and the OUTPUT is identical to both forced single-engine runs (and
    // to brute force) — routing is invisible in the result
    val rows = (dense ++ sparse).map { case (i, _, s) => (i, s) }
    val blockOf = (id: Long) => if (id < 1000L) "d" else "s"
    val want = bruteForceSelf(rows, t, blockOf)
    Seq(SimilarityStrategy.Auto, SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs)
      .foreach { st =>
        val got = SimilarityJoin
          .jaccardSelfJoin(df, "id", "s", t, blockCols = Seq("g"), strategy = st)
          .select("id_a", "id_b").as[(Long, Long)].collect()
        assert(got.length == got.toSet.size, s"strategy=$st: duplicate pairs")
        assert(got.toSet == want,
          s"strategy=$st: missing=${want -- got.toSet} extra=${got.toSet -- want}")
      }
  }

  test("cross-frame per-block routing: mixed ingest routes each block, output identical") {
    // dense block "d": every ingest doc is a near-replica of a corpus doc
    // (scraper echo) — prefix postings degenerate; sparse block "s":
    // mostly-unique sets — prefix wins. Mirrors the self-join routing spec
    // on the ingest-vs-corpus shape.
    val rnd = new scala.util.Random(41)
    val denseBases = (0 until 10).map(o =>
      Seq.fill(60)(rnd.nextInt(100000).toLong).distinct.sorted)
    val denseCorpus = denseBases.zipWithIndex.flatMap { case (base, o) =>
      (0 until 6).map(c => (o * 6L + c, "d", (base :+ (900000L + o * 6 + c)).distinct.sorted))
    }
    val denseIngest = denseBases.zipWithIndex.flatMap { case (base, o) =>
      (0 until 6).map(c => (o * 6L + c, "d", (base :+ (950000L + o * 6 + c)).distinct.sorted))
    }
    val sparseCorpus = (0 until 120).map(i =>
      (100L + i, "s", Seq.fill(60)(rnd.nextLong()).distinct.sorted))
    val sparseIngest = (0 until 120).map(i =>
      (100L + i, "s", Seq.fill(60)(rnd.nextLong()).distinct.sorted))
    val lRows = denseIngest ++ sparseIngest
    val rRows = denseCorpus ++ sparseCorpus
    val l = lRows.toDF("lid", "g", "s")
    val r = rRows.toDF("rid", "g", "s")
    val t = 0.5

    val regimes = SimilarityJoin
      .joinBlockVolumes(l, "lid", r, "rid", "s", t, Seq("g"))
      .select("g", "engine", "prefix_volume", "cross_volume")
      .collect().map(x => x.getString(0) -> (x.getString(1), x.getDouble(2), x.getDouble(3)))
      .toMap
    assert(regimes("d")._1 == "cross", s"dense block misrouted: $regimes")
    assert(regimes("s")._1 == "prefix", s"sparse block misrouted: $regimes")
    val routed = regimes.values.map(v => math.min(v._2, v._3)).sum
    assert(routed < regimes.values.map(_._2).sum && routed < regimes.values.map(_._3).sum,
      s"routing should beat both single engines: $regimes")

    // output identical across routed Auto and both forced engines, and
    // equal to per-block brute force (id ranges are block-disjoint, so
    // (lid, rid) identifies the pair)
    val want = (for {
      (li, gl, ls) <- lRows
      (ri, gr, rs) <- rRows
      if gl == gr
      inter = ls.toSet.intersect(rs.toSet).size
      union = ls.toSet.union(rs.toSet).size
      if union > 0 && inter.toDouble / union >= t
    } yield (li, ri)).toSet
    Seq(SimilarityStrategy.Auto, SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs)
      .foreach { st =>
        val got = SimilarityJoin
          .jaccardJoin(l, "lid", r, "rid", "s", t, strategy = st, blockCols = Seq("g"))
          .select("lid", "rid").as[(Long, Long)].collect()
        assert(got.toSet == want,
          s"strategy=$st: missing=${want -- got.toSet} extra=${got.toSet -- want}")
      }
  }

  test("MinHashLsh: precision 1 (subset of exact, values exact) with high recall on BOTH regimes") {
    val rnd = new scala.util.Random(43)
    val t = 0.8
    // dense regime: 15 originals x 6 near-replicas (j ~ 0.97 within a
    // cluster) — the corpus where Auto routes to allPairs
    val dense = (0 until 15).flatMap { o =>
      val base = Seq.fill(70)(rnd.nextInt(100000).toLong).distinct.sorted
      (0 until 6).map { r =>
        (o * 6L + r, (base :+ (1000000L + o * 6 + r)).distinct.sorted)
      }
    }
    // sparse regime: 150 mostly-unique docs (prefix regime) + 25 planted
    // near-dup pairs at j ~ 0.97
    val uniques = (0 until 150).map { i =>
      (2000L + i, Seq.fill(70)(rnd.nextLong()).distinct.sorted)
    }
    val planted = (0 until 25).flatMap { p =>
      val base = Seq.fill(70)(rnd.nextLong()).distinct.sorted
      Seq((4000L + 2 * p, base), (4000L + 2 * p + 1, (base :+ rnd.nextLong()).distinct.sorted))
    }
    Seq("dense" -> dense, "sparse" -> (uniques ++ planted)).foreach { case (regime, rows) =>
      val df = rows.toDF("id", "s")
      val exact = SimilarityJoin.jaccardSelfJoin(df, "id", "s", t)
        .select("id_a", "id_b", "jac").as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
      val approx = SimilarityJoin
        .jaccardSelfJoin(df, "id", "s", t,
          strategy = SimilarityStrategy.MinHashLsh(bands = 4, rowsPerBand = 4))
        .select("id_a", "id_b", "jac").as[(Long, Long, Double)].collect()
      // precision 1: every emitted pair is a true pair with its EXACT value
      approx.foreach { case (a, b, j) =>
        assert(exact.contains((a, b)), s"$regime: false positive ($a,$b)")
        assert(math.abs(exact((a, b)) - j) < 1e-12, s"$regime: inexact jaccard on ($a,$b)")
      }
      assert(approx.length == approx.map(p => (p._1, p._2)).toSet.size,
        s"$regime: duplicate pairs")
      // recall: at j ~ 0.97 the 4x4 banding misses a pair with prob
      // (1 - j^4)^4 ~ 2e-4 — and the run is fully deterministic (seeded
      // corpus, fixed XXH64 family), so this bound cannot flake
      val recall = approx.length.toDouble / exact.size
      assert(exact.nonEmpty && recall >= 0.95,
        s"$regime: recall $recall (${approx.length}/${exact.size})")
    }
  }

  test("MinHashLsh cross-frame: subset of the exact join with exact values") {
    val rnd = new scala.util.Random(47)
    val lRows = (0 until 60).map { i =>
      (i.toLong, Seq.fill(70)(rnd.nextInt(5000).toLong).distinct.sorted)
    }
    // right side: perturbed copies of the left (true cross-frame matches)
    val rRows = lRows.map { case (i, s) =>
      (1000L + i, (s :+ (900000L + i)).distinct.sorted)
    }
    val l = lRows.toDF("lid", "s")
    val r = rRows.toDF("rid", "s")
    val exact = SimilarityJoin.jaccardJoin(l, "lid", r, "rid", "s", 0.8)
      .select("lid", "rid", "jac").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val approx = SimilarityJoin.jaccardJoin(l, "lid", r, "rid", "s", 0.8,
        strategy = SimilarityStrategy.MinHashLsh(4, 4))
      .select("lid", "rid", "jac").as[(Long, Long, Double)].collect()
    approx.foreach { case (a, b, j) =>
      assert(exact.contains((a, b)) && math.abs(exact((a, b)) - j) < 1e-12)
    }
    assert(exact.nonEmpty && approx.length.toDouble / exact.size >= 0.95)
  }

  test("prebuilt leftIndex (frozen-order postings) gives the identical join") {
    // the incremental-ingest shape: a standing left corpus indexed ONCE,
    // probed by right batches whose sets carry elements the index has never
    // seen (the df-0 left-join path in prefixPostings) — output must equal
    // the index-free join exactly, for every strategy, at thresholds at and
    // above the index's build threshold
    val lRows = randomSets(31, 70)
    // right: fresh random sets (element universe shifted so roughly half
    // the elements are absent from the left corpus) + some near-copies of
    // left sets so true pairs exist at high thresholds
    val rnd = new scala.util.Random(37)
    val rFresh = (200 to 240).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40) + 5)(60L + rnd.nextInt(120)).distinct.sorted)
    }
    val rNear = (300 to 320).map { i =>
      val base = lRows(rnd.nextInt(lRows.size))._2
      (i.toLong, (base ++ Seq.fill(2)(500L + rnd.nextInt(40))).distinct.sorted)
    }
    val rRows = rFresh ++ rNear
    val l = lRows.toDF("lid", "s")
    val r = rRows.toDF("rid", "s")
    // index built at the LOWEST threshold it will serve (the contract)
    val (freq, posts) = SimilarityJoin.prefixIndex(l, "lid", "s", 0.25)
    // parquet round-trip: the index is a STORED artifact between ticks
    val dir = exitScopedDir("pfx_idx")
    freq.write.mode("overwrite").parquet(s"$dir/freq")
    posts.write.mode("overwrite").parquet(s"$dir/posts")
    val idx = Some((
      spark.read.parquet(s"$dir/freq"),
      spark.read.parquet(s"$dir/posts")))
    for {
      t <- Seq(0.25, 0.5, 0.8)
      strat <- Seq(SimilarityStrategy.Auto, SimilarityStrategy.PrefixFilter,
        SimilarityStrategy.AllPairs)
    } {
      val base = SimilarityJoin
        .jaccardJoin(l, "lid", r, "rid", "s", t, strategy = strat)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val indexed = SimilarityJoin
        .jaccardJoin(l, "lid", r, "rid", "s", t, strategy = strat,
          leftIndex = idx, leftPinned = true)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      assert(indexed == base,
        s"t=$t strat=$strat: missing=${base -- indexed} extra=${indexed -- base}")
      assert(base == bruteForce(lRows, rRows, t), s"t=$t baseline drifted")
    }
  }

  test("leftIndex appended under the frozen freq stays exact") {
    // the tick-loop append: new corpus rows' postings are generated under
    // the ORIGINAL freq (their unseen elements take df 0) and unioned onto
    // the stored postings — the grown index must still find every pair
    val l0 = randomSets(41, 50)
    val grow = (400 to 420).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Seq.fill(rnd.nextInt(30) + 5)(700L + rnd.nextInt(90)).distinct.sorted)
    }
    val rRows = {
      val rnd = new scala.util.Random(43)
      // probes near BOTH the original corpus and the appended slice
      (500 to 515).map { i =>
        val base = (if (i % 2 == 0) l0 else grow)(rnd.nextInt(15))._2
        (i.toLong, (base ++ Seq(999L)).distinct.sorted)
      }
    }
    val (freq, posts0) = SimilarityJoin.prefixIndex(l0.toDF("lid", "s"), "lid", "s", 0.5)
    val f = freq.localCheckpoint()
    val postsGrown = posts0.unionByName(
      SimilarityJoin.prefixIndex(grow.toDF("lid", "s"), "lid", "s", 0.5,
        frozenFreq = Some(f))._2)
    val lAll = (l0 ++ grow).toDF("lid", "s")
    val got = SimilarityJoin
      .jaccardJoin(lAll, "lid", rRows.toDF("rid", "s"), "rid", "s", 0.5,
        leftIndex = Some((f, postsGrown)), leftPinned = true)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == bruteForce(l0 ++ grow, rRows, 0.5) && got.nonEmpty)
  }

  test("drift monitor: a deliberately drifted corpus trips the rebuild " +
      "recommendation while the frozen-order join stays exact") {
    // build-time corpus: random sets, plus element 5000 appearing in
    // exactly ONE doc — RARE at build, so the frozen order puts it first
    val rnd = new scala.util.Random(53)
    val l0 = randomSets(51, 40) :+ (41L, Seq(5000L, 1L, 2L, 3L).sorted)
    val storedFreq = SimilarityJoin
      .dfCounts(l0.toDF("lid", "s"), "s").localCheckpoint()

    // a fresh index reads ratio ~ 1 and never triggers
    val fresh0 = SimilarityJoin
      .indexDriftReport(l0.toDF("lid", "s"), "lid", "s", 0.5, storedFreq)
      .collect().head
    assert(math.abs(fresh0.getAs[Double]("drift_ratio") - 1.0) < 1e-9)
    assert(!fresh0.getAs[Boolean]("recommend_rebuild"))

    // drift: 200 appended docs ALL contain 5000 — now a hub, but the frozen
    // order still ranks it rarest, so it keeps entering every prefix
    val grown = (100 to 299).map { i =>
      (i.toLong, (5000L +: Seq.fill(4)(rnd.nextInt(120).toLong)).distinct.sorted)
    }
    val lAll = l0 ++ grown
    val report = SimilarityJoin
      .indexDriftReport(lAll.toDF("lid", "s"), "lid", "s", 0.5, storedFreq)
      .collect().head
    assert(report.getAs[Double]("drift_ratio") >= 2.0,
      s"drifted corpus should trip the monitor: $report")
    assert(report.getAs[Boolean]("recommend_rebuild"))
    assert(report.getAs[Double]("stored_volume") > report.getAs[Double]("fresh_volume"))

    // the mergeable df side channel: per-slice counts sum to the recompute,
    // and feeding it as currentFreq gives the identical report
    val mergedFreq = SimilarityJoin.mergeDfCounts(
      storedFreq, SimilarityJoin.dfCounts(grown.toDF("lid", "s"), "s"))
    val direct = SimilarityJoin.dfCounts(lAll.toDF("lid", "s"), "s")
    assert(mergedFreq.as[(Long, Long)].collect().toSet
      == direct.as[(Long, Long)].collect().toSet)
    val viaMerged = SimilarityJoin
      .indexDriftReport(lAll.toDF("lid", "s"), "lid", "s", 0.5, storedFreq,
        currentFreq = Some(mergedFreq))
      .collect().head
    assert(viaMerged == report)

    // EXACTNESS under drift (the frozen-order contract the monitor prices):
    // postings appended under the stale storedFreq still find every pair
    val posts = SimilarityJoin.prefixIndex(
      lAll.toDF("lid", "s"), "lid", "s", 0.5, frozenFreq = Some(storedFreq))._2
    val rRows = (500 to 520).map { i =>
      val base = lAll(rnd.nextInt(lAll.size))._2
      (i.toLong, (base ++ Seq(7777L)).distinct.sorted)
    }
    val got = SimilarityJoin
      .jaccardJoin(lAll.toDF("lid", "s"), "lid", rRows.toDF("rid", "s"), "rid",
        "s", 0.5, leftIndex = Some((storedFreq, posts)), leftPinned = true)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == bruteForce(lAll, rRows, 0.5) && got.nonEmpty)
  }

  test("drift monitor degenerate edge: empty corpus reads ratio 1, never triggers") {
    val empty = spark.emptyDataFrame
      .withColumn("lid", lit(1L)).withColumn("s", array().cast("array<long>"))
      .limit(0)
    val freq = Seq((1L, 1L)).toDF("h", "_df")
    val r = SimilarityJoin.indexDriftReport(empty, "lid", "s", 0.5, freq)
      .collect().head
    assert(r.getAs[Double]("stored_volume") == 0.0
      && r.getAs[Double]("fresh_volume") == 0.0
      && r.getAs[Double]("drift_ratio") == 1.0
      && !r.getAs[Boolean]("recommend_rebuild"))
  }

  test("drift monitor with block columns (the Curation wrapper shape)") {
    // drift confined to one lang block still trips the blocked report
    val rnd = new scala.util.Random(59)
    val mk = (i: Int, lang: String, extra: Seq[Long]) =>
      (i.toLong, lang, (extra ++ Seq.fill(5)(rnd.nextInt(100).toLong)).distinct.sorted)
    val l0 = (1 to 30).map(i => mk(i, if (i % 2 == 0) "en" else "zh",
      if (i == 1) Seq(9000L) else Nil))
    val storedFreq = SimilarityJoin
      .dfCounts(l0.toDF("lid", "lang", "s"), "s").localCheckpoint()
    val grown = (100 to 249).map(i => mk(i, "zh", Seq(9000L)))
    val report = SimilarityJoin
      .indexDriftReport((l0 ++ grown).toDF("lid", "lang", "s"), "lid", "s",
        0.5, storedFreq, blockCols = Seq("lang"))
      .collect().head
    assert(report.getAs[Boolean]("recommend_rebuild"), s"blocked drift missed: $report")
  }

  test("leftIndex with missing columns fails loud") {
    val l = randomSets(47, 10).toDF("lid", "s")
    val r = randomSets(48, 10).toDF("rid", "s")
    val bad = Seq((1L, 2, 3, 4L)).toDF("lid", "_sz", "_pos", "notH")
    val freq = Seq((1L, 1L)).toDF("h", "_df")
    val ex = intercept[IllegalArgumentException] {
      SimilarityJoin.jaccardJoin(l, "lid", r, "rid", "s", 0.5,
        leftIndex = Some((freq, bad)))
    }
    assert(ex.getMessage.contains("prefixIndex"))
  }

  test("MinHashLsh parameter validation fails loud") {
    intercept[IllegalArgumentException] { SimilarityStrategy.MinHashLsh(0, 4) }
    intercept[IllegalArgumentException] { SimilarityStrategy.MinHashLsh(4, 0) }
    intercept[IllegalArgumentException] { SimilarityStrategy.MinHashLsh(64, 64) }
  }

  test("non-positive buckets fail loud at entry (not as a silent empty join)") {
    val rows = randomSets(41, 10).toDF("id", "s")
    intercept[IllegalArgumentException] {
      SimilarityJoin.jaccardSelfJoin(rows, "id", "s", 0.5, buckets = 0)
    }
    intercept[IllegalArgumentException] {
      SimilarityJoin.jaccardJoin(rows, "id", rows.toDF("rid", "s"), "rid", "s", 0.5,
        buckets = -1)
    }
  }

  test("pin strategies agree (Persist / Off vs default)") {
    val rows = randomSets(23, 60)
    val df = rows.toDF("id", "s")
    val want = bruteForceSelf(rows, 0.5)
    Seq(Pin.Persist, Pin.Off).foreach { p =>
      val got = SimilarityJoin.jaccardSelfJoin(df, "id", "s", 0.5, pin = p)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == want, s"pin=$p")
    }
  }

  /** SQL executions that `f` starts — the construction-time actions of a
    * join call (its size check, postings pins and cost probes). */
  private def executionsDuring[T](f: => T): (T, Int) = {
    val (out, plans) = executionPlansDuring(f)
    (out, plans.size)
  }

  /** The physical plan of each SQL execution that `f` starts, in order. */
  private def executionPlansDuring[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (out, plans.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `n` rows (id, block, set) of 4-8 element sets over a 3n-element
    * universe: every 9th row a near-copy of the row before it (one element
    * added, so true pairs exist), every 13th set NULL, every 17th block
    * NULL, the rest in blocks "x" and "y" alternating every 9 rows (so a
    * near-copy shares its original's block). */
  private def sizeCheckRows(
      seed: Int, n: Int, firstId: Long): Seq[(Long, Option[String], Seq[Long])] = {
    val rnd = new scala.util.Random(seed)
    var prev = Seq(0L)
    (0 until n).map { i =>
      val fresh = Seq.fill(rnd.nextInt(5) + 4)(rnd.nextInt(3 * n).toLong).distinct.sorted
      val set = if (i % 9 == 8) (prev :+ (10L * n + i)).distinct.sorted else fresh
      prev = set
      (firstId + i, if (i % 17 == 5) None else Some(if (i / 9 % 2 == 0) "x" else "y"),
        if (i % 13 == 7) null else set)
    }
  }

  /** Brute-force pairs (ids from `a` × ids from `b`, `self` keeping a < b
    * only) with J ≥ t; NULL sets, and NULL blocks when `blocked`, pair
    * with nothing. */
  private def bruteForceSized(
      a: Seq[(Long, Option[String], Seq[Long])],
      b: Seq[(Long, Option[String], Seq[Long])],
      t: Double, blocked: Boolean, self: Boolean): Set[(Long, Long)] = {
    def prep(rows: Seq[(Long, Option[String], Seq[Long])]) =
      rows.collect { case (i, g, s) if s != null && (!blocked || g.isDefined) =>
        (i, if (blocked) g else None, s.toSet) }
    val (pa, pb) = (prep(a), prep(b))
    (for {
      (ai, ag, as) <- pa
      (bi, bg, bs) <- pb
      if (!self || ai < bi) && ag == bg
      union = (as | bs).size
      if union > 0 && (as & bs).size.toDouble / union >= t
    } yield (ai, bi)).toSet
  }

  test("Auto's size check: below the rule no postings build or cost probe runs; " +
    "above it the probe still runs; outputs equal both forced engines and brute force") {
    val t = 0.5
    // 80 rows: W/E_post ≈ 40-80, far below the rule's 500. 1300 rows: two
    // blocks of ~610 (W/E_post ≈ 575 blocked, ≈ 1150 unblocked) — above it
    for ((n, below) <- Seq((80, true), (1300, false))) {
      val rowsA = sizeCheckRows(51, n, 1L)
      // right frame: near-copies of every 3rd left set (one element
      // added), fresh sets elsewhere, under its own id range
      val rowsB = sizeCheckRows(53, n, 100000L).zip(rowsA).map {
        case ((i, g, s), (_, _, la)) =>
          (i, g, if (i % 3 == 0 && la != null) (la :+ (20L * n + i)).distinct.sorted else s)
      }
      val dfA = rowsA.toDF("lid", "g", "s")
      val dfB = rowsB.toDF("rid", "g", "s")
      def blocks(blocked: Boolean) = if (blocked) Seq("g") else Nil
      def check(label: String, want: Set[(Long, Long)],
          run: SimilarityStrategy => org.apache.spark.sql.DataFrame): Unit = {
        assert(want.nonEmpty, s"$label: the fixture has no true pairs")
        val (auto, executions) = executionsDuring(run(SimilarityStrategy.Auto))
        if (below) assert(executions == 1,
          s"$label: below the rule only the size check may run, saw $executions SQL executions")
        else assert(executions > 1,
          s"$label: above the rule the postings pin / cost probe must run, saw $executions")
        val got = auto.collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(got.length == got.toSet.size, s"$label: duplicate pairs")
        assert(got.toSet == want, s"$label Auto: missing=${want -- got.toSet} " +
          s"extra=${got.toSet -- want}")
        Seq(SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs).foreach { st =>
          val forced = run(st).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(forced == want, s"$label $st")
        }
      }
      for (blocked <- Seq(false, true)) {
        val tag = s"n=$n blocked=$blocked"
        check(s"self $tag", bruteForceSized(rowsA, rowsA, t, blocked, self = true),
          st => SimilarityJoin.jaccardSelfJoin(dfA, "lid", "s", t, blockCols = blocks(blocked),
            strategy = st, inputPinned = true))
        check(s"cross $tag", bruteForceSized(rowsA, rowsB, t, blocked, self = false),
          st => SimilarityJoin.jaccardJoin(dfA, "lid", dfB, "rid", "s", t, strategy = st,
            blockCols = blocks(blocked), leftPinned = true, rightPinned = true))
        val idx = SimilarityJoin.prefixIndex(dfA, "lid", "s", t, blocks(blocked))
        check(s"cross leftIndex $tag", bruteForceSized(rowsA, rowsB, t, blocked, self = false),
          st => SimilarityJoin.jaccardJoin(dfA, "lid", dfB, "rid", "s", t, strategy = st,
            blockCols = blocks(blocked), leftPinned = true, rightPinned = true,
            leftIndex = Some(idx)))
      }
    }
  }

  private def unions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.size

  /** Union nodes in a physical plan description (the formatted explain
    * lists each plan node once in its details section). */
  private def planUnions(plan: String): Int = "(?m)^\\(\\d+\\) Union\\b".r.findAllIn(plan).size

  /** The self-join routing fixture above the size check: a dense block "d"
    * (near-replicas, routes to all-pairs) beside a sparse block "s" of 1000
    * docs (routes to prefix), with its brute-force pairs. */
  private def mixedSelfFixture(): (org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    // the routing fixture above falls below the size check (its blocks are
    // too small for the postings to pay); here the sparse block holds 1000
    // docs, which lifts W/E_post to ≈ 690
    val rnd = new scala.util.Random(59)
    val dense = (0 until 6).flatMap { o =>
      val base = Seq.fill(60)(rnd.nextInt(100000).toLong).distinct.sorted
      (0 until 8).map(r => (o * 8L + r, "d", (base :+ (1000000L + o * 8 + r)).distinct.sorted))
    }
    val sparseBase = (0 until 1000).map(i => Seq.fill(6)(rnd.nextLong()).distinct.sorted)
    // every 50th sparse doc a near-copy of its predecessor: true pairs exist
    val sparse = sparseBase.indices.map { i =>
      (10000L + i, "s",
        if (i % 50 == 49) (sparseBase(i - 1) :+ (2000000L + i)).distinct.sorted
        else sparseBase(i))
    }
    val rows = (dense ++ sparse).map { case (i, _, s) => (i, s) }
    ((dense ++ sparse).toDF("id", "g", "s"), bruteForceSelf(rows, 0.5, id => id < 10000L))
  }

  /** The cross-frame routing fixture above the size check: 800 × 800
    * sparse docs (W/E_post ≈ 590, route to prefix) beside a dense block of
    * near-replicas across the frames (routes to the salted cross), with its
    * brute-force pairs. */
  private def mixedCrossFixture()
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    val rnd = new scala.util.Random(61)
    val denseBases = (0 until 10).map(_ => Seq.fill(30)(rnd.nextInt(100000).toLong).distinct.sorted)
    def dense(tag: Long) = denseBases.zipWithIndex.flatMap { case (base, o) =>
      (0 until 6).map(c => (o * 6L + c, "d", (base :+ (tag + o * 6 + c)).distinct.sorted))
    }
    val sparseL = (0 until 800).map(i => (1000L + i, "s", Seq.fill(6)(rnd.nextLong()).distinct.sorted))
    // every 40th right doc a near-copy of a left doc
    val sparseR = sparseL.map { case (i, g, s) =>
      (i, g, if (i % 40 == 0) (s :+ (3000000L + i)).distinct.sorted
        else Seq.fill(6)(rnd.nextLong()).distinct.sorted)
    }
    val lRows = dense(900000L) ++ sparseL
    val rRows = dense(950000L) ++ sparseR
    (lRows.toDF("lid", "g", "s"), rRows.toDF("rid", "g", "s"), bruteForceSized(
      lRows.map { case (i, g, s) => (i, Some(g), s) },
      rRows.map { case (i, g, s) => (i, Some(g), s) }, 0.5, blocked = true, self = false))
  }

  test("per-block routing above the size check: a large sparse block beside a dense one " +
    "takes the mixed (union) plan, output identical") {
    val (df, want) = mixedSelfFixture()
    val t = 0.5
    val engines = SimilarityJoin.selfJoinBlockVolumes(df, "id", "s", t, Seq("g"))
      .select("g", "engine").as[(String, String)].collect().toMap
    assert(engines == Map("d" -> "allpairs", "s" -> "prefix"), s"$engines")
    assert(want.nonEmpty)
    Seq(SimilarityStrategy.Auto, SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs)
      .foreach { st =>
        val (out, plans) = executionPlansDuring(SimilarityJoin.jaccardSelfJoin(
          df, "id", "s", t, blockCols = Seq("g"), strategy = st))
        // Auto pins its output, so the union is in the plan of the pin's
        // execution (the last during construction); the forced engines
        // return it lazily
        val n = if (st == SimilarityStrategy.Auto) planUnions(plans.last) else unions(out)
        assert(n == (if (st == SimilarityStrategy.Auto) 1 else 0), s"strategy=$st: $n unions")
        assert(out.select("id_a", "id_b").as[(Long, Long)].collect().toSet == want,
          s"strategy=$st")
      }
  }

  test("cross-frame per-block routing above the size check takes the mixed (union) plan, " +
    "output identical") {
    val (l, r, want) = mixedCrossFixture()
    val t = 0.5
    val engines = SimilarityJoin.joinBlockVolumes(l, "lid", r, "rid", "s", t, Seq("g"))
      .select("g", "engine").as[(String, String)].collect().toMap
    assert(engines == Map("d" -> "cross", "s" -> "prefix"), s"$engines")
    assert(want.nonEmpty)
    Seq(SimilarityStrategy.Auto, SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs)
      .foreach { st =>
        val (out, plans) = executionPlansDuring(SimilarityJoin.jaccardJoin(
          l, "lid", r, "rid", "s", t, strategy = st, blockCols = Seq("g")))
        val n = if (st == SimilarityStrategy.Auto) planUnions(plans.last) else unions(out)
        assert(n == (if (st == SimilarityStrategy.Auto) 1 else 0), s"strategy=$st: $n unions")
        assert(out.select("lid", "rid").as[(Long, Long)].collect().toSet == want,
          s"strategy=$st")
      }
  }

  /** Brute-force self pairs over sorted sets (merge intersection): ids
    * a < b sharing a block, J ≥ t; NULL blocks and NULL sets pair with
    * nothing. */
  private def bruteForceBlocked(
      rows: Seq[(Long, Option[String], Array[Long])], t: Double): Set[(Long, Long)] = {
    def inter(a: Array[Long], b: Array[Long]): Int = {
      var (x, y, n) = (0, 0, 0)
      while (x < a.length && y < b.length) {
        if (a(x) == b(y)) { n += 1; x += 1; y += 1 }
        else if (a(x) < b(y)) x += 1
        else y += 1
      }
      n
    }
    rows.filter(r => r._2.isDefined && r._3 != null).groupBy(_._2).values.flatMap { rs =>
      val v = rs.toIndexedSeq
      for {
        i <- v.indices
        j <- v.indices
        (ai, _, as) = v(i)
        (bi, _, bs) = v(j)
        if ai < bi
        n = inter(as, bs)
        if as.length + bs.length - n > 0 && n.toDouble / (as.length + bs.length - n) >= t
      } yield (ai, bi)
    }.toSet
  }

  private val LowDiversityAlphabet = 800L

  /** `perBlock` rows in each of blocks "x" and "y" (ids 10000·b + i): sets
    * of 90 elements drawn from one shared 800-element alphabet, every 10th
    * a near-copy of the row before it (2 elements swapped for fresh ones),
    * so true pairs exist. At t = 0.5 each row posts 31 index-prefix
    * elements, so P_b²/(2·D_b) ≈ 1.2 × m_b(m_b − 1)/2 for 550-row blocks,
    * and likewise over the unblocked frame. */
  private def lowDiversityRows(
      seed: Int, perBlock: Int): Seq[(Long, Option[String], Array[Long])] = {
    val rnd = new scala.util.Random(seed)
    def draw() = rnd.shuffle((0L until LowDiversityAlphabet).toVector).take(90).sorted.toArray
    Seq("x", "y").zipWithIndex.flatMap { case (g, b) =>
      var prev = draw()
      (0 until perBlock).map { i =>
        val set =
          if (i % 10 == 9) {
            val fresh = rnd.shuffle((0L until LowDiversityAlphabet).filterNot(prev.contains).toVector)
            (prev.drop(2) ++ fresh.take(2)).sorted
          } else draw()
        prev = set
        (10000L * b + i, Option(g), set)
      }
    }
  }

  private def lowDiversityFrame(rows: Seq[(Long, Option[String], Array[Long])]) =
    rows.map { case (i, g, s) => (i, g, s.toSeq) }.toDF("id", "g", "s")

  /** (prefix_volume, prefix_volume_lb, allpairs_volume, engine) per block value. */
  private def blockReport(df: org.apache.spark.sql.DataFrame, t: Double) =
    SimilarityJoin.selfJoinBlockVolumes(df, "id", "s", t, Seq("g"))
      .select("g", "prefix_volume", "prefix_volume_lb", "allpairs_volume", "engine")
      .collect().map(r => Option(r.getString(0)) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getString(4))).toMap

  private def checkStrategies(
      label: String, want: Set[(Long, Long)], auto: org.apache.spark.sql.DataFrame,
      run: SimilarityStrategy => org.apache.spark.sql.DataFrame): Unit = {
    assert(want.nonEmpty, s"$label: the fixture has no true pairs")
    val got = auto.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, s"$label: duplicate pairs")
    assert(got.toSet == want, s"$label Auto: missing=${want -- got.toSet} extra=${got.toSet -- want}")
    Seq(SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs).foreach { st =>
      assert(run(st).select("id_a", "id_b").as[(Long, Long)].collect().toSet == want, s"$label $st")
    }
  }

  test("Auto's volume bound: a low-diversity frame above the size check runs all-pairs with " +
    "no postings build or cost probe; outputs equal both forced engines and brute force") {
    val t = 0.5
    val rows = lowDiversityRows(71, 550)
    val df = lowDiversityFrame(rows)
    for (blocked <- Seq(true, false)) {
      val blockCols = if (blocked) Seq("g") else Nil
      def run(st: SimilarityStrategy) = SimilarityJoin.jaccardSelfJoin(
        df, "id", "s", t, blockCols = blockCols, strategy = st, inputPinned = true)
      val (auto, plans) = executionPlansDuring(run(SimilarityStrategy.Auto))
      // the size check, the frequency pin, the bound and the output pin;
      // the postings (the only posexplode) are never planned into an action
      assert(plans.size == 4,
        s"blocked=$blocked: expected the size check, pin, bound and output pin only, " +
          s"saw ${plans.size}")
      assert(!plans.exists(_.contains("posexplode")),
        s"blocked=$blocked: a postings build ran during construction")
      val keyed = if (blocked) rows else rows.map { case (i, _, s) => (i, Option("all"), s) }
      checkStrategies(s"blocked=$blocked", bruteForceBlocked(keyed, t), auto, run)
    }
    // the report agrees: every block's bound exceeds its all-pairs volume
    val report = blockReport(df, t)
    assert(report.keySet == Set(Some("x"), Some("y")))
    report.foreach { case (g, (cp, lb, cb, engine)) =>
      assert(cb < lb && lb <= cp && engine == "allpairs", s"block $g: ${(cp, lb, cb, engine)}")
    }
  }

  test("Auto's volume bound does not fire when a row has a NULL block value") {
    val t = 0.5
    val rnd = new scala.util.Random(73)
    val rows = lowDiversityRows(71, 550) ++ (0 until 5).map(i => (50000L + i, Option.empty[String],
      rnd.shuffle((0L until LowDiversityAlphabet).toVector).take(90).sorted.toArray))
    val df = lowDiversityFrame(rows)
    val report = blockReport(df, t)
    assert(report(None)._2 == 0.0 && report(None)._4 == "prefix", s"NULL block: ${report(None)}")
    Seq(Some("x"), Some("y")).foreach { g =>
      assert(report(g)._2 > report(g)._3, s"dense block $g should clear the bound: ${report(g)}")
    }
    def run(st: SimilarityStrategy) = SimilarityJoin.jaccardSelfJoin(
      df, "id", "s", t, blockCols = Seq("g"), strategy = st, inputPinned = true)
    val (auto, plans) = executionPlansDuring(run(SimilarityStrategy.Auto))
    assert(plans.exists(_.contains("posexplode")),
      "with a NULL block value the postings must be built and probed")
    checkStrategies("NULL block", bruteForceBlocked(rows, t), auto, run)
  }

  test("the volume bound is at most each block's prefix volume, and where it exceeds every " +
    "block's all-pairs volume every block routes to all-pairs (24 seeded fixtures)") {
    var (fired, held) = (0, 0)
    (0 until 24).foreach { k =>
      val rnd = new scala.util.Random(1000 + k)
      val alphabet = Seq(4, 12, 40, 200, 5000)(k % 5)
      val t = Seq(0.3, 0.5, 0.8)(k % 3)
      val rows = (0 until 1 + k % 4).flatMap { b =>
        // every even fixture opens with a single-row block
        val m = if (b == 0 && k % 2 == 0) 1 else 2 + rnd.nextInt(40)
        (0 until m).map { i =>
          val set: Seq[Long] = rnd.nextInt(10) match {
            case 0 => null
            case 1 => Nil
            case _ => Seq.fill(1 + rnd.nextInt(math.min(alphabet, 20)))(
              rnd.nextInt(alphabet).toLong).distinct.sorted
          }
          (1000L * b + i, Option(s"b$b"), set)
        }
      } ++ (if (k % 6 == 5) Seq((99999L, Option.empty[String], Seq(1L, 2L, 3L))) else Nil)
      val df = rows.toDF("id", "g", "s")
      // a NULL element in the first row of some fixtures
      val withNullElement =
        if (k % 8 == 3) df.withColumn("s", when(col("id") === 0,
          concat(col("s"), array(lit(null).cast("long")))).otherwise(col("s")))
        else df
      val report = blockReport(withNullElement, t)
      report.foreach { case (g, (cp, lb, _, _)) =>
        assert(lb <= cp * (1 + 1e-12), s"fixture $k block $g: bound $lb above prefix volume $cp")
      }
      if (k % 6 == 5) assertVolumeSums(s"fixture $k (a NULL block value)", withNullElement, t)
      if (report.values.forall { case (_, lb, cb, _) => lb > cb }) {
        fired += 1
        assert(report.values.forall(_._4 == "allpairs"),
          s"fixture $k: the bound fires but a block routes to prefix: $report")
      } else held += 1
    }
    assert(fired > 0 && held > 0, s"fixtures fired $fired, held $held")
    assertVolumeSums("mixed fixture", mixedSelfFixture()._1, 0.5)
    assertVolumeSums("empty frame", Seq.empty[(Long, String, Seq[Long])].toDF("id", "g", "s"), 0.5)
  }

  /** The probe's contract: `selfJoinVolumes` is, exactly, the column sums of
    * `selfJoinBlockVolumes` (sums of integer halves are exact in double). */
  private def assertVolumeSums(label: String, df: org.apache.spark.sql.DataFrame, t: Double): Unit = {
    val blocks = SimilarityJoin.selfJoinBlockVolumes(df, "id", "s", t, Seq("g"))
      .select("prefix_volume", "allpairs_volume").as[(Double, Double)].collect()
    val sums = (blocks.map(_._1).sum, blocks.map(_._2).sum)
    val probe = SimilarityJoin.selfJoinVolumes(df, "id", "s", t, Seq("g"))
    assert(probe == sums, s"$label: selfJoinVolumes $probe, block sums $sums")
  }

  /** True when a plan (a returned frame's, or an executed one's) holds the
    * join: its verify kernel or the sort-merge join that feeds it. */
  private def holdsJoin(plan: String): Boolean =
    plan.contains("jaccard_sorted_min") || plan.contains("SortMergeJoin")

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("above the size check Auto pins its verified pairs: a second action runs no verify; " +
    "with Pin.Off, and below the check, the returned plan still holds the join") {
    val t = 0.5
    val low = lowDiversityRows(71, 550)
    val lowDf = lowDiversityFrame(low)
    // one sparse block of 1000 docs (W/E_post ≈ 1000, thousands of distinct
    // elements): the probe routes it to prefix
    val (mixed, mixedWant) = mixedSelfFixture()
    val sparse = mixed.filter(col("g") === "s").drop("g")
    val sparseWant = mixedWant.filter(_._1 >= 10000L)
    assert(SimilarityJoin.selfJoinVolumes(sparse, "id", "s", t) match { case (p, b) => p < b },
      "the sparse fixture should route to prefix")
    val (l, r, crossWant) = mixedCrossFixture()
    // the unblocked cross-frame routes (q233's shape), each read off the
    // per-block probe over one constant block
    def crossRoute(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      SimilarityJoin.joinBlockVolumes(a.withColumn("k", lit(0)), "lid", b.withColumn("k", lit(0)),
        "rid", "s", t, Seq("k")).select("engine").as[String].collect().toSeq
    val (sparseL, sparseR) = (l.filter(col("g") === "s").drop("g"), r.filter(col("g") === "s").drop("g"))
    assert(crossRoute(sparseL, sparseR) == Seq("prefix"), "the sparse cross fixture should route to prefix")
    val lowL = lowDf.drop("g").withColumnRenamed("id", "lid")
    val lowR = lowDf.drop("g").select((col("id") + 100000L).as("rid"), col("s"))
    assert(crossRoute(lowL, lowR) == Seq("cross"), "the low-diversity cross should route to the salted cross")
    // J is symmetric and every set meets its own copy at J = 1
    val lowSelf = bruteForceBlocked(low.map { case (i, _, s) => (i, Option("all"), s) }, t)
    val lowCrossWant = lowSelf.flatMap { case (a, b) => Seq((a, b + 100000L), (b, a + 100000L)) } ++
      low.map { case (i, _, _) => (i, i + 100000L) }
    type Run = (SimilarityStrategy, Pin) => org.apache.spark.sql.DataFrame
    def cross(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
        blockCols: Seq[String]): Run = (st, p) =>
      SimilarityJoin.jaccardJoin(a, "lid", b, "rid", "s", t, pin = p, strategy = st,
        blockCols = blockCols)
    def self(df: org.apache.spark.sql.DataFrame, blockCols: Seq[String]): Run = (st, p) =>
      SimilarityJoin.jaccardSelfJoin(df, "id", "s", t, blockCols = blockCols, strategy = st, pin = p)
    val cases: Seq[(String, Set[(Long, Long)], Run)] = Seq(
      ("volume bound, blocked", bruteForceBlocked(low, t), self(lowDf, Seq("g"))),
      ("volume bound, unblocked", lowSelf, self(lowDf.drop("g"), Nil)),
      ("probe-routed prefix", sparseWant, self(sparse, Nil)),
      ("mixed per-block self-join", mixedWant, self(mixed, Seq("g"))),
      ("cross-frame mixed", crossWant, cross(l, r, Seq("g"))),
      ("cross-frame unblocked, routed to prefix", crossWant.filter(_._1 >= 1000L),
        cross(sparseL, sparseR, Nil)),
      ("cross-frame unblocked, routed to the salted cross", lowCrossWant, cross(lowL, lowR, Nil)))
    cases.foreach { case (label, want, run) =>
      assert(want.nonEmpty, s"$label: the fixture has no true pairs")
      val auto = run(SimilarityStrategy.Auto, Pin.LocalCheckpoint)
      assert(!holdsJoin(auto.queryExecution.executedPlan.toString),
        s"$label: the returned plan still holds the join")
      val first = pairsOf(auto)
      val (second, plans) = executionPlansDuring(pairsOf(auto))
      assert(plans.nonEmpty && !plans.exists(holdsJoin),
        s"$label: the second action re-ran the verify:\n${plans.mkString("\n")}")
      assert(first == want && second == want,
        s"$label Auto: missing=${want -- first} extra=${first -- want}")
      Seq(SimilarityStrategy.PrefixFilter, SimilarityStrategy.AllPairs).foreach { st =>
        assert(pairsOf(run(st, Pin.LocalCheckpoint)) == want, s"$label $st")
      }
      val off = run(SimilarityStrategy.Auto, Pin.Off)
      assert(holdsJoin(off.queryExecution.executedPlan.toString),
        s"$label: with Pin.Off the returned plan must hold the join")
      assert(pairsOf(off) == want, s"$label Pin.Off")
    }
    // below the size check (W/E_post ≈ 40-80) Auto returns the lazy join
    val rows = sizeCheckRows(51, 80, 1L)
    val df = rows.toDF("lid", "g", "s")
    val right = rows.map { case (i, g, s) => (i + 100000L, g, s) }.toDF("rid", "g", "s")
    Seq(
      "self" -> SimilarityJoin.jaccardSelfJoin(df, "lid", "s", t, blockCols = Seq("g")),
      "cross" -> SimilarityJoin.jaccardJoin(df, "lid", right, "rid", "s", t, blockCols = Seq("g"))
    ).foreach { case (label, out) =>
      assert(holdsJoin(out.queryExecution.executedPlan.toString),
        s"$label below the size check: the returned plan must hold the join")
    }
  }
}
