package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.Shared.exitScopedDir

/** Drift.psiByPeriod: the load-bearing properties are the closed form
  * (each psi equals the hand-computed Σ (p−q)·ln(p/q) with the eps floor),
  * zero on identical distributions, and the eps floor making
  * one-side-empty bins finite instead of ±∞.
  */
class DriftSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val eps = 1e-6

  private def handPsi(
      post: Map[Long, Long], ref: Map[Long, Long]): Double = {
    val tp = post.values.sum.toDouble
    val tr = ref.values.sum.toDouble
    (post.keySet ++ ref.keySet).toSeq.map { b =>
      val p = math.max(post.getOrElse(b, 0L) / tp, eps)
      val q = math.max(ref.getOrElse(b, 0L) / tr, eps)
      (p - q) * math.log(p / q)
    }.sum
  }

  /** Binned two-sample KS by hand: running integer sums over the sorted
    * union of bins, each divided by its exact total; the largest gap. */
  private def handKs(
      post: Map[Long, Long], ref: Map[Long, Long]): Double = {
    val tp = post.values.sum.toDouble
    val tr = ref.values.sum.toDouble
    var cp = 0L
    var cr = 0L
    (post.keySet ++ ref.keySet).toSeq.sorted.map { b =>
      cp += post.getOrElse(b, 0L)
      cr += ref.getOrElse(b, 0L)
      math.abs(cp / tp - cr / tr)
    }.max
  }

  /** The declared output surface: round(x + 1e-9, 6). */
  private def rnd6(v: Double): Double = math.round((v + 1e-9) * 1e6) / 1e6

  /** One hand-scored row (keys…, psi, ks, n_period, n_ref) at the declared
    * surface — the shape of a psiKsByPeriod row. */
  private def handRow(
      keys: Seq[Any], post: Map[Long, Long], ref: Map[Long, Long]): Seq[Any] =
    keys ++ Seq(rnd6(handPsi(post, ref)), rnd6(handKs(post, ref)),
      post.values.sum, ref.values.sum)

  /** Engine rows (keys…, psi, ks, n_period, n_ref) at the declared surface. */
  private def declared(rows: Seq[Seq[Any]]): Set[Seq[Any]] = rows.map { r =>
    val k = r.length - 4
    r.take(k) ++ Seq(rnd6(r(k).asInstanceOf[Double]),
      rnd6(r(k + 1).asInstanceOf[Double]), r(k + 2), r(k + 3))
  }.toSet

  test("psi equals the hand-computed closed form per period") {
    val cells = Seq(
      ("d1", 0L, 10L), ("d1", 1L, 30L), ("d1", 2L, 60L),
      ("d2", 0L, 50L), ("d2", 1L, 25L), ("d2", 3L, 25L))
      .toDF("day", "bin", "cnt")
    val ref = Seq((0L, 20L), (1L, 30L), (2L, 50L)).toDF("bin", "cnt")
    val got = Drift.psiByPeriod(cells, "day", ref)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w1 = handPsi(Map(0L -> 10L, 1L -> 30L, 2L -> 60L),
      Map(0L -> 20L, 1L -> 30L, 2L -> 50L))
    val w2 = handPsi(Map(0L -> 50L, 1L -> 25L, 3L -> 25L),
      Map(0L -> 20L, 1L -> 30L, 2L -> 50L))
    assert(math.abs(got("d1") - w1) < 1e-12 && math.abs(got("d2") - w2) < 1e-12)
    // d2 has a bin the reference lacks AND misses one it has — the eps
    // floor keeps both terms finite and positive-direction-correct
    assert(got("d2").isFinite && got("d2") > got("d1"))
  }

  test("identical distributions read psi = 0 exactly") {
    val cells = Seq(("d1", 0L, 40L), ("d1", 1L, 60L)).toDF("day", "bin", "cnt")
    val ref = Seq((0L, 80L), (1L, 120L)).toDF("bin", "cnt") // same proportions
    val got = Drift.psiByPeriod(cells, "day", ref).collect().head.getDouble(1)
    assert(got == 0.0)
  }

  test("parameter and schema validation fails loud") {
    val ok = Seq(("d", 0L, 1L)).toDF("day", "bin", "cnt")
    val ref = Seq((0L, 1L)).toDF("bin", "cnt")
    intercept[IllegalArgumentException] { Drift.psiByPeriod(ok, "day", ref, eps = 0.0) }
    intercept[IllegalArgumentException] {
      Drift.psiByPeriod(ok.withColumnRenamed("cnt", "n"), "day", ref)
    }
    // reserved working columns must not collide with input columns
    intercept[IllegalArgumentException] {
      Drift.psiByPeriod(ok.withColumn("_tr", lit(1)), "day", ref)
    }
    intercept[IllegalArgumentException] {
      Drift.psiByPeriod(ok.withColumnRenamed("day", "_tp"), "_tp", ref)
    }
    // the grid's CDF-gap column too: a period or key named _d would be
    // overwritten by the gap and grouped on silently
    intercept[IllegalArgumentException] {
      Drift.ksByPeriod(ok.withColumnRenamed("day", "_d"), "_d", ref)
    }
    intercept[IllegalArgumentException] {
      Drift.ksByPeriod(ok.withColumn("_d", lit("k")), "day",
        ref.withColumn("_d", lit("k")), keyCols = Seq("_d"))
    }
    // the adaptive form's own working columns are reserved too
    val okAd = Seq(("d", 0, 0L, 1L)).toDF("day", "scale", "bin", "cnt")
    val refAd = Seq((0, 0L, 1L)).toDF("scale", "bin", "cnt")
    intercept[IllegalArgumentException] {
      Drift.psiByPeriodAdaptive(okAd.withColumnRenamed("day", "_bin2"), "_bin2", refAd)
    }
    intercept[IllegalArgumentException] {
      Drift.psiByPeriodAdaptive(okAd, "day", refAd.withColumn("_ts", lit(1)))
    }
  }

  test("adaptive PSI equals the fixed-range PSI when every input sits at one scale") {
    import graft.functions.{AdaptiveHist, QuantileSketch}
    // values in [0, 16): adaptive buffers at minScale 0 never escalate, so
    // their bins floor(v) coincide with the [0,16)×16 fixed grid — the
    // align step must be the identity and the scores bit-identical
    val rnd = new scala.util.Random(41)
    val rows = for (d <- Seq("d1", "d2"); _ <- 1 to 200)
      yield (d, rnd.nextDouble() * (if (d == "d1") 15.9 else 9.0))
    val df = rows.toDF("day", "v")
    val refDf = (1 to 300).map(_ => rnd.nextDouble() * 12.0).toDF("v")
    val gotAd = Drift.psiByPeriodAdaptive(
        AdaptiveHist.cells(df, col("v"), 16, Seq("day")), "day",
        AdaptiveHist.cells(refDf, col("v"), 16))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gotFx = Drift.psiByPeriod(
        QuantileSketch.cells(df, col("v"), 0.0, 16.0, 16, Seq("day")), "day",
        QuantileSketch.cells(refDf, col("v"), 0.0, 16.0, 16))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // same bins, same counts, same per-term doubles; only the float SUM
    // order differs between the two physical plans (ulp-level)
    assert(gotAd.keySet == gotFx.keySet)
    gotAd.foreach { case (d, v) =>
      assert(math.abs(v - gotFx(d)) < 1e-12, s"$d: adaptive $v vs fixed ${gotFx(d)}")
    }
  }

  test("adaptive PSI rebins finer scales by floorDiv to the coarsest present") {
    // period cells at scale 0, reference at scale 2: the period side must
    // collapse bins 4-at-a-time (floorDiv) before scoring
    val cells = Seq(
      ("d1", 0, 0L, 10L), ("d1", 0, 1L, 20L), ("d1", 0, 4L, 30L), ("d1", 0, 7L, 40L))
      .toDF("day", "scale", "bin", "cnt")
    val ref = Seq((2, 0L, 50L), (2, 1L, 50L)).toDF("scale", "bin", "cnt")
    val got = Drift.psiByPeriodAdaptive(cells, "day", ref)
      .collect().head.getDouble(1)
    // hand-aligned: scale-0 bins {0,1}→0 (30), {4,7}→1 (70)
    val want = Drift.psiByPeriod(
      Seq(("d1", 0L, 30L), ("d1", 1L, 70L)).toDF("day", "bin", "cnt"), "day",
      Seq((0L, 50L), (1L, 50L)).toDF("bin", "cnt"))
      .collect().head.getDouble(1)
    assert(got == want)
    assert(got == handPsi(Map(0L -> 30L, 1L -> 70L), Map(0L -> 50L, 1L -> 50L)))
  }

  test("adaptive PSI: a scale delta >= 63 collapses to the sign bin instead of wrapping") {
    // Java's >> wraps at 64 (x >> 64 == x); the operator must floorDiv to
    // 0 / -1 instead
    val cells = Seq(("d1", 0, 100L, 6L), ("d1", 0, -100L, 4L))
      .toDF("day", "scale", "bin", "cnt")
    val ref = Seq((70, 0L, 5L), (70, -1L, 5L)).toDF("scale", "bin", "cnt")
    val got = Drift.psiByPeriodAdaptive(cells, "day", ref)
      .collect().head.getDouble(1)
    val want = handPsi(Map(0L -> 6L, -1L -> 4L), Map(0L -> 5L, -1L -> 5L))
    assert(math.abs(got - want) < 1e-12, s"got $got want $want")
  }

  test("property: adaptive PSI equals the floorDiv hand model on 20 random multi-scale shapes") {
    // random periods × random per-period scales × random (incl. NEGATIVE)
    // bins — negative bins are the trap: alignment must FLOOR-divide
    // (shiftright), not truncate toward zero, and the hand model uses
    // Math.floorDiv so a truncation bug in the operator fails loudly here
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { trial =>
      def randCells(): Map[Long, Long] = {
        val n = 1 + rnd.nextInt(6)
        (1 to n).map(_ => (rnd.nextInt(17) - 8).toLong -> (1L + rnd.nextInt(100))).toMap
      }
      val periods = (1 to 1 + rnd.nextInt(3)).map(i => s"p$i")
      val perScale = periods.map(_ -> rnd.nextInt(7)).toMap
      val perCells = periods.map(_ -> randCells()).toMap
      val refScale = rnd.nextInt(7)
      val refRaw = randCells()
      val cellsDf = periods.flatMap(p => perCells(p).toSeq.map {
        case (b, c) => (p, perScale(p), b, c) }).toDF("day", "scale", "bin", "cnt")
      val refDf = refRaw.toSeq.map { case (b, c) => (refScale, b, c) }
        .toDF("scale", "bin", "cnt")
      val got = Drift.psiByPeriodAdaptive(cellsDf, "day", refDf)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // hand model: floorDiv everything to the coarsest scale, then psi
      val tgt = (perScale.values ++ Seq(refScale)).max
      def align(m: Map[Long, Long], s: Int): Map[Long, Long] =
        m.groupMapReduce { case (b, _) => Math.floorDiv(b, 1L << (tgt - s)) }(_._2)(_ + _)
      val refAl = align(refRaw, refScale)
      val want = periods.map(p => p -> handPsi(align(perCells(p), perScale(p)), refAl)).toMap
      assert(got.keySet == want.keySet, s"trial $trial: ${got.keySet} vs ${want.keySet}")
      got.foreach { case (p, v) =>
        assert(math.abs(v - want(p)) < 1e-9, s"trial $trial $p: got $v want ${want(p)}")
      }
    }
  }

  test("an empty or all-null reference fails loud instead of scoring garbage") {
    val cells = Seq(("d1", 0L, 40L), ("d1", 1L, 60L)).toDF("day", "bin", "cnt")
    val emptyRef = Seq.empty[(Long, Long)].toDF("bin", "cnt")
    val e1 = intercept[Exception] {
      Drift.psiByPeriod(cells, "day", emptyRef).collect()
    }
    assert(e1.getMessage.contains("reference cells are empty") ||
      Option(e1.getCause).exists(_.getMessage.contains("reference cells are empty")))
    val nullRef = Seq((0L, null.asInstanceOf[java.lang.Long]))
      .toDF("bin", "cnt")
    val e2 = intercept[Exception] {
      Drift.psiByPeriod(cells, "day", nullRef).collect()
    }
    assert(e2.getMessage.contains("reference cells are empty") ||
      Option(e2.getCause).exists(_.getMessage.contains("reference cells are empty")))
  }

  test("keyed paths fail loud on an empty reference even when cells are empty too") {
    // a scheduled keyed monitor fed two empty frames must read "broken
    // feed", not "no drift" — the per-key in-plan assert only covers keys
    // OBSERVED in cells, so this needs the unconditional 1-row guard
    val emptyCells = Seq.empty[(String, String, Long, Long)]
      .toDF("day", "k", "bin", "cnt")
    val emptyRef = Seq.empty[(String, Long, Long)].toDF("k", "bin", "cnt")
    val e1 = intercept[Exception] {
      Drift.psiByPeriod(emptyCells, "day", emptyRef, keyCols = Seq("k")).collect()
    }
    assert(e1.getMessage.contains("reference cells are empty") ||
      Option(e1.getCause).exists(_.getMessage.contains("reference cells are empty")))
    val e2 = intercept[Exception] {
      Drift.ksByPeriod(emptyCells, "day", emptyRef, keyCols = Seq("k")).collect()
    }
    assert(e2.getMessage.contains("reference is empty") ||
      Option(e2.getCause).exists(_.getMessage.contains("reference is empty")))
    // and a healthy keyed score is untouched by the guard bind
    val cells = Seq(("d1", "a", 0L, 40L), ("d1", "a", 1L, 60L))
      .toDF("day", "k", "bin", "cnt")
    val ref = Seq(("a", 0L, 50L), ("a", 1L, 50L)).toDF("k", "bin", "cnt")
    assert(Drift.psiByPeriod(cells, "day", ref, keyCols = Seq("k")).count() == 1L)
    assert(Drift.ksByPeriod(cells, "day", ref, keyCols = Seq("k")).count() == 1L)
  }

  test("rotateReference: trailing-k re-aggregation scores identically to a fresh batch reference") {
    // a standing cell table over five days, two keys — rotate to the
    // trailing 2 days and score the remaining days against it; must equal
    // scoring against a reference aggregated fresh over those days' rows
    val rnd = new scala.util.Random(12)
    val cells = (for {
      d <- 1 to 5; k <- Seq("a", "b"); b <- 0L to 3L
    } yield (s"d$d", k, b, (rnd.nextInt(50) + 1).toLong))
      .toDF("day", "key", "bin", "cnt")
    val rotated = Drift.rotateReference(cells, "day", 2, keyCols = Seq("key"))
    val fresh = cells.filter(col("day") >= "d4")
      .groupBy(col("key"), col("bin")).agg(sum(col("cnt")).as("cnt"))
    assert(rotated.collect().map(_.toSeq).toSet == fresh.collect().map(_.toSeq).toSet)
    val post = cells.filter(col("day") < "d4")
    def scored(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Double] =
      df.collect().map(r => r.toSeq.dropRight(1) -> r.getDouble(r.length - 1)).toMap
    val psiRot = scored(Drift.psiByPeriod(post, "day", rotated, keyCols = Seq("key")))
    val psiFresh = scored(Drift.psiByPeriod(post, "day", fresh, keyCols = Seq("key")))
    assert(psiRot == psiFresh && psiRot.size == 6)
    val ksRot = Drift.ksByPeriod(post, "day", rotated, keyCols = Seq("key"))
      .select("day", "key", "ks").collect().map(_.toSeq).toSet
    val ksFresh = Drift.ksByPeriod(post, "day", fresh, keyCols = Seq("key"))
      .select("day", "key", "ks").collect().map(_.toSeq).toSet
    assert(ksRot == ksFresh && ksRot.size == 6)
    // unkeyed form + parameter validation
    val unkeyed = Drift.rotateReference(cells.drop("key"), "day", 1)
    val wantLast = cells.filter(col("day") === "d5")
      .groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))
    assert(unkeyed.collect().map(_.toSeq).toSet == wantLast.collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException](Drift.rotateReference(cells, "day", 0))
  }

  test("KS equals the hand-computed max CDF gap per period; 0 on identical") {
    val cells = Seq(
      ("d1", 0L, 10L), ("d1", 1L, 30L), ("d1", 2L, 60L),
      ("d2", 0L, 40L), ("d2", 1L, 60L)) // same proportions as the ref
      .toDF("day", "bin", "cnt")
    val ref = Seq((0L, 20L), (1L, 30L), (2L, 50L)).toDF("bin", "cnt")
    val got = Drift.ksByPeriod(cells, "day", ref)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toMap
    // d1: CDFs p = (.1, .4, 1) vs r = (.2, .5, 1) — max gap .1 at bins 0/1
    assert(math.abs(got("d1")._1 - 0.1) < 1e-12)
    assert(got("d1")._2 == 100L && got("d1")._3 == 100L)
    // d2 puts 0 mass in bin 2: CDFs p = (.4, 1, 1) vs r = (.2, .5, 1) —
    // max gap .5 at bin 1 (the union spine supplies d2's empty bin 2)
    assert(math.abs(got("d2")._1 - 0.5) < 1e-12)
    // identical proportions read EXACTLY zero (integer ratios, no eps)
    val same = Seq(("d", 0L, 40L), ("d", 1L, 60L)).toDF("day", "bin", "cnt")
    val sameRef = Seq((0L, 80L), (1L, 120L)).toDF("bin", "cnt")
    assert(Drift.ksByPeriod(same, "day", sameRef).collect().head.getDouble(1) == 0.0)
  }

  test("keyed KS equals the unkeyed score per key slice; uncovered key fails loud") {
    val cells = Seq(
      ("d1", "k1", 0L, 10L), ("d1", "k1", 1L, 90L),
      ("d1", "k2", 0L, 70L), ("d1", "k2", 2L, 30L),
      ("d2", "k1", 1L, 5L), ("d2", "k2", 0L, 7L))
      .toDF("day", "key", "bin", "cnt")
    val ref = Seq(("k1", 0L, 50L), ("k1", 1L, 50L), ("k2", 0L, 20L), ("k2", 2L, 80L))
      .toDF("key", "bin", "cnt")
    val keyed = Drift.ksByPeriod(cells, "day", ref, keyCols = Seq("key"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(keyed.size == 4)
    for (k <- Seq("k1", "k2")) {
      val slice = Drift.ksByPeriod(
        cells.filter(col("key") === k).drop("key"), "day",
        ref.filter(col("key") === k).drop("key"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      for (d <- Seq("d1", "d2"))
        assert(math.abs(keyed((d, k)) - slice(d)) < 1e-12)
    }
    val e = intercept[Exception] {
      Drift.ksByPeriod(cells, "day", ref.filter(col("key") === "k1"),
        keyCols = Seq("key")).collect()
    }
    assert(e.getMessage.contains("reference is empty") ||
      Option(e.getCause).exists(_.getMessage.contains("reference is empty")))
    val e2 = intercept[Exception] {
      Drift.ksByPeriod(cells.drop("key"), "day",
        Seq.empty[(Long, Long)].toDF("bin", "cnt")).collect()
    }
    assert(e2.getMessage.contains("reference is empty") ||
      Option(e2.getCause).exists(_.getMessage.contains("reference is empty")))
  }

  test("psiKsByPeriod equals the hand-computed psi and ks, keyed and unkeyed") {
    // psi is a float SUM whose accumulation order is not fixed (the Drift
    // rounding contract), so it is pinned at the declared surface
    // round(x+1e-9, 6), and raw to within an ulp-scale tolerance ("same
    // terms, different accumulation order", not "close"); ks and the
    // totals are exact
    val rnd = new scala.util.Random(17)
    val unkeyedRows = (1 to 4).flatMap(d =>
      (0L to 5L).map(b => (f"d$d%02d", b, (rnd.nextInt(90) + 1).toLong)))
    val refRows = (0L to 5L).map(b => (b, (rnd.nextInt(90) + 1).toLong))
    // keyed: key b's periods each miss one bin, and its reference carries
    // a bin (6) that no period has
    val keyedRows = for {
      d <- 1 to 4; k <- Seq("a", "b"); b <- 0L to 5L if !(k == "b" && b == d)
    } yield (f"d$d%02d", k, b, (rnd.nextInt(90) + 1).toLong)
    val keyedRef = for (k <- Seq("a", "b"); b <- 0L to (if (k == "a") 5L else 6L))
      yield (k, b, (rnd.nextInt(90) + 1).toLong)
    val unkeyedWant = unkeyedRows.groupBy(_._1).map { case (d, rs) =>
      d -> (rs.map(r => r._2 -> r._3).toMap, refRows.toMap)
    }
    val keyedWant = keyedRows.groupBy(r => (r._1, r._2)).map { case ((d, k), rs) =>
      (d, k) -> (rs.map(r => r._3 -> r._4).toMap,
        keyedRef.filter(_._1 == k).map(r => r._2 -> r._3).toMap)
    }
    val cases = Seq(
      (Drift.psiKsByPeriod(unkeyedRows.toDF("day", "bin", "cnt"), "day",
        refRows.toDF("bin", "cnt")), unkeyedWant.map { case (d, v) => Seq[Any](d) -> v }),
      (Drift.psiKsByPeriod(keyedRows.toDF("day", "key", "bin", "cnt"), "day",
        keyedRef.toDF("key", "bin", "cnt"), keyCols = Seq("key")),
        keyedWant.map { case ((d, k), v) => Seq[Any](d, k) -> v }))
    for ((df, want) <- cases) {
      val got = df.collect().map(_.toSeq).toSeq
      assert(declared(got) ==
        want.map { case (keys, (post, ref)) => handRow(keys, post, ref) }.toSet)
      got.foreach { r =>
        val k = r.length - 4
        val (post, ref) = want(r.take(k))
        val psi = r(k).asInstanceOf[Double]
        val hand = handPsi(post, ref)
        assert(math.abs(psi - hand) <= math.ulp(psi) * 4, s"${r.take(k)}: $psi vs $hand")
        assert(r(k + 1) == handKs(post, ref), s"${r.take(k)}: ks ${r(k + 1)}")
      }
    }
    // empty reference fails loud through the fused path too
    val e = intercept[Exception] {
      Drift.psiKsByPeriod(unkeyedRows.toDF("day", "bin", "cnt"), "day",
        Seq.empty[(Long, Long)].toDF("bin", "cnt")).collect()
    }
    assert(e.getMessage.contains("reference cells are empty") ||
      Option(e.getCause).exists(_.getMessage.contains("reference cells are empty")))
  }

  test("plan shape: psi-only calls prune ks away; a keyed monitor chunk scores on one grid") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => WindowNode}
    val cells = Seq(
      ("d1", "k1", 0L, 10L), ("d1", "k1", 1L, 90L), ("d1", "k2", 0L, 70L),
      ("d2", "k1", 1L, 5L), ("d2", "k2", 0L, 7L))
      .toDF("day", "key", "bin", "cnt")
    val ref = Seq(("k1", 0L, 50L), ("k1", 1L, 50L), ("k2", 0L, 20L))
      .toDF("key", "bin", "cnt")
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case w: WindowNode => w }
    for ((c, r, keys) <- Seq(
        (cells, ref, Seq("key")), (cells.drop("key"), ref.drop("key"), Nil))) {
      val psiOnly = Drift.psiByPeriod(c, "day", r, keyCols = keys)
      // a projection of the one scoring grid, not a second grid builder...
      assert(psiOnly.sameSemantics(Drift.psiKsByPeriod(c, "day", r, keyCols = keys)
        .select(("day" +: keys :+ "psi").map(col): _*)), s"keys $keys")
      // ...and column pruning removes the ks running-sum window
      assert(windows(psiOnly).isEmpty, s"keys $keys")
      assert(windows(Drift.ksByPeriod(c, "day", r, keyCols = keys)).size == 1, s"keys $keys")
    }
    // a keyed monitor chunk: one scoring aggregate carrying both statistics,
    // and no join of a psi output to a ks output
    val state = Drift.monitorState(cells.filter(col("day") === "d1"), "day",
      Seq("key"), cadence = 3, refK = 1)
    val plan = Drift.monitorTick(state, cells.filter(col("day") === "d2"))
      .queryExecution.optimizedPlan
    val scoring = plan.collect {
      case a: Aggregate if a.output.exists(o => o.name == "psi" || o.name == "ks") => a
    }
    assert(scoring.size == 1 &&
      Set("psi", "ks").subsetOf(scoring.head.output.map(_.name).toSet), plan.toString)
    def outputs(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.exists(_.name == n)
    val psiKsJoins = plan.collect {
      case j: Join if (outputs(j.left, "psi") && outputs(j.right, "ks")) ||
        (outputs(j.left, "ks") && outputs(j.right, "psi")) => j
    }
    assert(psiKsJoins.isEmpty, plan.toString)
  }

  test("keyed PSI equals the unkeyed score per key slice") {
    // two keys with different distributions AND different reference
    // totals — the keyed grid must score each key exactly as an unkeyed
    // run over that key's slice would
    val cells = Seq(
      ("d1", "k1", 0L, 10L), ("d1", "k1", 1L, 90L),
      ("d1", "k2", 0L, 70L), ("d1", "k2", 2L, 30L),
      ("d2", "k1", 1L, 5L), ("d2", "k2", 0L, 7L))
      .toDF("day", "key", "bin", "cnt")
    val ref = Seq(("k1", 0L, 50L), ("k1", 1L, 50L), ("k2", 0L, 20L), ("k2", 2L, 80L))
      .toDF("key", "bin", "cnt")
    val keyed = Drift.psiByPeriod(cells, "day", ref, keyCols = Seq("key"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(keyed.size == 4)
    for (k <- Seq("k1", "k2")) {
      val slice = Drift.psiByPeriod(
        cells.filter(col("key") === k).drop("key"), "day",
        ref.filter(col("key") === k).drop("key"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      for (d <- Seq("d1", "d2"))
        assert(math.abs(keyed((d, k)) - slice(d)) < 1e-12,
          s"keyed ($d, $k) = ${keyed((d, k))} vs slice ${slice(d)}")
    }
  }

  test("keyed PSI fails loud on a key the reference does not cover") {
    val cells = Seq(("d1", "k1", 0L, 10L), ("d1", "k9", 0L, 10L))
      .toDF("day", "key", "bin", "cnt")
    val ref = Seq(("k1", 0L, 10L)).toDF("key", "bin", "cnt")
    val e = intercept[Exception] {
      Drift.psiByPeriod(cells, "day", ref, keyCols = Seq("key")).collect()
    }
    assert(e.getMessage.contains("empty reference") ||
      Option(e.getCause).exists(_.getMessage.contains("empty reference")))
  }

  test("embedding cells: posexplode grid, clamped bins, NULL vectors skipped") {
    val df = Seq(
      (1, Seq(-0.9, 0.0, 0.9)), // -0.9 and 0.9 clamp into the edge bins
      (1, Seq(-0.1, 0.1, 0.2)),
      (2, null.asInstanceOf[Seq[Double]]))
      .toDF("label", "emb")
    val cells = Drift.embeddingCells(df, "emb", -0.5, 0.5, 10, Seq("label"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    // w = 0.1: -0.9 → bin clamps to 0; 0.9 → 9; -0.1 → 4; 0.2 → 6; and
    // both 0.0 and 0.1 land in bin 5 (IEEE: (0.1 + 0.5)/0.1 reads
    // 5.999…, floor 5 — the double arithmetic the oracle replays)
    assert(cells == Map(
      (1, 0, 0L) -> 1L, (1, 1, 5L) -> 2L, (1, 2, 9L) -> 1L,
      (1, 0, 4L) -> 1L, (1, 2, 6L) -> 1L))
    intercept[IllegalArgumentException] {
      Drift.embeddingCells(df, "emb", -0.5, 0.5, 10, Seq("dim"))
    }
  }

  test("embedding PSI: identical cohorts read 0 per dim; a shifted dim alone trips") {
    // ref and the 'same' cohort share the exact component multiset per
    // dim; cohort 'shift' moves ONLY dim 1's mass to the other half
    val mk = (label: String, d1: Double) =>
      (1 to 50).map(i => (label, Seq(i / 100.0, d1)))
    val df = (mk("same", -0.3) ++ mk("shift", 0.3)).toDF("label", "emb")
    val ref = mk("r", -0.3).toDF("label", "emb")
    val got = Drift.embeddingPsiByPeriod(
        df, "emb", "label", ref, lo = -0.5, hi = 0.5, bins = 10)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 4)
    assert(got(("same", 0)) == 0.0 && got(("same", 1)) == 0.0)
    assert(got(("shift", 0)) == 0.0) // dim 0 unchanged in the shifted cohort
    assert(got(("shift", 1)) > 0.2)  // the moved dim alone reads drifted
  }

  test("embedding PSI equals per-dim unkeyed scores through the keyed grid") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 120).map { i =>
      (s"c${i % 3}", Seq.fill(4)(rng.nextDouble() - 0.5))
    }
    val df = rows.filter(_._1 != "c0").toDF("label", "emb")
    val ref = rows.filter(_._1 == "c0").toDF("label", "emb")
    val got = Drift.embeddingPsiByPeriod(df, "emb", "label", ref, -0.5, 0.5, 8)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val cells = Drift.embeddingCells(df, "emb", -0.5, 0.5, 8, Seq("label"))
    val refCells = Drift.embeddingCells(ref, "emb", -0.5, 0.5, 8)
    for (d <- 0 until 4) {
      val slice = Drift.psiByPeriod(
        cells.filter(col("dim") === d).drop("dim"), "label",
        refCells.filter(col("dim") === d).drop("dim"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      for (c <- Seq("c1", "c2"))
        assert(math.abs(got((c, d)) - slice(c)) < 1e-12)
    }
  }

  test("monitorTick: service loop with rotation cadence equals hand-rotated scores, batching-invariant") {
    val rnd = new scala.util.Random(41)
    def dayCells(d: Int) = (0L to 3L).map(b => (f"d$d%02d", b, (rnd.nextInt(80) + 1).toLong))
    val all = (1 to 10).map(d => d -> dayCells(d)).toMap
    def frame(days: Seq[Int]) =
      days.flatMap(all).toDF("day", "bin", "cnt")
    // hand expectation: seed d01-d02, cadence 3, refK 2 — the reference in
    // force per scored day (rotations after d05 and d08, trailing-2):
    val refDays = Map(
      3 -> Seq(1, 2), 4 -> Seq(1, 2), 5 -> Seq(1, 2),
      6 -> Seq(4, 5), 7 -> Seq(4, 5), 8 -> Seq(4, 5),
      9 -> Seq(7, 8), 10 -> Seq(7, 8))
    // hand scores (Scala, independent of the engine) at the declared 6-dp
    // surface; BATCHING-invariance below stays EXACT: both loops run the
    // same plan
    def counts(rows: Seq[(String, Long, Long)]): Map[Long, Long] =
      rows.groupMapReduce(_._2)(_._3)(_ + _)
    val want = (3 to 10).map(d =>
      handRow(Seq(f"d$d%02d"), counts(all(d)), counts(refDays(d).flatMap(all)))).toSet
    def runLoop(batches: Seq[Seq[Int]]): Seq[Seq[Any]] = {
      val state = Drift.monitorState(frame(Seq(1, 2)), "day",
        cadence = 3, refK = 2)
      batches.flatMap(b =>
        Drift.monitorTick(state, frame(b)).collect().map(_.toSeq))
    }
    // one closed day per tick — the steady-state deployment shape
    val perDay = runLoop((3 to 10).map(Seq(_)))
    assert(declared(perDay) == want,
      "per-day service loop diverged from hand-rotated scores")
    // uneven batching, rotation boundary mid-batch — must not move a score,
    // bit for bit (same scorer both sides: chunking must be invisible)
    val uneven = runLoop(Seq(Seq(3, 4, 5), Seq(6), Seq(7, 8, 9, 10)))
    assert(uneven.toSet == perDay.toSet,
      "uneven batching moved a score across a rotation boundary")
    assert(declared(uneven) == want,
      "uneven batching diverged from hand-rotated scores")
    // an empty batch scores nothing and leaves the clock alone
    val state = Drift.monitorState(frame(Seq(1, 2)), "day", cadence = 3, refK = 2)
    val empty = Drift.monitorTick(state, frame(Nil))
    assert(empty.columns.toSeq ==
      Seq("day", "psi", "ks", "n_period", "n_ref") && empty.count() == 0)
    assert(state.sinceRotation == 0)
  }

  test("keyed monitorTick: two keys equal hand-rotated scores, batching- and restart-invariant") {
    val rnd = new scala.util.Random(47)
    // key b skips bin 3 on odd days, so the shared spine carries bins a
    // period lacks
    def dayCells(d: Int) = for {
      k <- Seq("a", "b"); b <- 0L to 3L if !(k == "b" && b == 3L && d % 2 == 1)
    } yield (f"d$d%02d", k, b, (rnd.nextInt(80) + 1).toLong)
    val all = (1 to 10).map(d => d -> dayCells(d)).toMap
    def frame(days: Seq[Int]) = days.flatMap(all).toDF("day", "key", "bin", "cnt")
    // seed d01-d02, cadence 3, refK 2: rotations after d05 and d08
    val refDays = Map(
      3 -> Seq(1, 2), 4 -> Seq(1, 2), 5 -> Seq(1, 2),
      6 -> Seq(4, 5), 7 -> Seq(4, 5), 8 -> Seq(4, 5),
      9 -> Seq(7, 8), 10 -> Seq(7, 8))
    def counts(rows: Seq[(String, String, Long, Long)], k: String): Map[Long, Long] =
      rows.filter(_._2 == k).groupMapReduce(_._3)(_._4)(_ + _)
    val want = (for (d <- 3 to 10; k <- Seq("a", "b")) yield
      handRow(Seq(f"d$d%02d", k), counts(all(d), k), counts(refDays(d).flatMap(all), k))
    ).toSet
    def newState() = Drift.monitorState(frame(Seq(1, 2)), "day", Seq("key"),
      cadence = 3, refK = 2)
    def runLoop(state: Drift.MonitorState, batches: Seq[Seq[Int]]): Seq[Seq[Any]] =
      batches.flatMap(b => Drift.monitorTick(state, frame(b)).collect().map(_.toSeq))
    val perDay = runLoop(newState(), (3 to 10).map(Seq(_)))
    assert(perDay.size == 16 && declared(perDay) == want,
      "keyed per-day service loop diverged from hand-rotated scores")
    // uneven batching, the d08 rotation inside the last batch: the same rows
    val uneven = runLoop(newState(), Seq(Seq(3, 4, 5), Seq(6), Seq(7, 8, 9, 10)))
    assert(uneven.toSet == perDay.toSet,
      "keyed uneven batching moved a score across a rotation boundary")
    // persist after d06 (one period past the d05 rotation) and resume
    val state = newState()
    val before = runLoop(state, (3 to 6).map(Seq(_)))
    assert(state.sinceRotation == 1)
    val dir = exitScopedDir("monitor-keyed") + "/st"
    Drift.persistMonitorState(state, dir)
    val restored = Drift.restoreMonitorState(spark, dir)
    assert(restored.keyCols == Seq("key") && restored.sinceRotation == 1)
    val after = runLoop(restored, (7 to 10).map(Seq(_)))
    assert((before ++ after).toSet == perDay.toSet,
      "keyed restart moved a score — the restored monitor did not resume the declared loop")
  }

  test("monitorTick fails loud, with the batch's period count, past MaxBatchPeriods") {
    val seed = Seq((0L, 0L, 5L), (0L, 1L, 5L)).toDF("p", "bin", "cnt")
    def periods(n: Long) = spark.range(1, n + 1)
      .select(col("id").as("p"), (col("id") % 2).as("bin"), lit(3L).as("cnt"))
    val state = Drift.monitorState(seed, "p", cadence = 3, refK = 1)
    val e = intercept[IllegalArgumentException] {
      Drift.monitorTick(state, periods(Drift.MaxBatchPeriods + 5L))
    }
    assert(e.getMessage.contains(s"closes ${Drift.MaxBatchPeriods + 5} periods in 'p'"),
      e.getMessage)
    // the failed batch left the state alone, and a batch at the cap scores
    assert(state.sinceRotation == 0)
    val small = Drift.monitorState(seed, "p", cadence = Drift.MaxBatchPeriods, refK = 1)
    assert(Drift.monitorTick(small, periods(Drift.MaxBatchPeriods.toLong))
      .select("p").distinct().count() == Drift.MaxBatchPeriods)
  }

  test("persist/restore monitor: restart mid-rotation-cycle is score-transparent; partial gens skipped") {
    val rnd = new scala.util.Random(43)
    def dayCells(d: Int) = (0L to 3L).map(b => (f"d$d%02d", b, (rnd.nextInt(80) + 1).toLong))
    val all = (1 to 10).map(d => d -> dayCells(d)).toMap
    def frame(days: Seq[Int]) = days.flatMap(all).toDF("day", "bin", "cnt")
    // uninterrupted reference run
    val ref = Drift.monitorState(frame(Seq(1, 2)), "day", cadence = 3, refK = 2)
    val want = (3 to 10).flatMap(d =>
      Drift.monitorTick(ref, frame(Seq(d))).collect().map(_.toSeq)).toSet
    // interrupted run: persist after day 6 — ONE period past the d05
    // rotation, so since_rotation = 1 must ride the ledger or the d08
    // rotation shifts
    val state = Drift.monitorState(frame(Seq(1, 2)), "day", cadence = 3, refK = 2)
    val before = (3 to 6).flatMap(d =>
      Drift.monitorTick(state, frame(Seq(d))).collect().map(_.toSeq))
    assert(state.sinceRotation == 1)
    val dir = exitScopedDir("monitor-ckpt") + "/st"
    val gen0 = Drift.persistMonitorState(state, dir)
    assert(gen0 == 0L)
    val restored = Drift.restoreMonitorState(spark, dir)
    assert(restored.sinceRotation == 1 && restored.cadence == 3 &&
      restored.refK == 2 && restored.periodCol == "day" && restored.keyCols.isEmpty)
    val after = (7 to 10).flatMap(d =>
      Drift.monitorTick(restored, frame(Seq(d))).collect().map(_.toSeq))
    assert((before ++ after).toSet == want,
      "restart moved a score — the restored monitor did not resume the declared loop")
    // a second checkpoint commits a new generation and prunes the old one
    val gen1 = Drift.persistMonitorState(restored, dir)
    assert(gen1 == 1L && !new java.io.File(s"$dir/gen=0").exists())
    // a crash-truncated generation (frames written, no ledger) is skipped
    // in favor of the last committed one...
    restored.cells.write.mode("overwrite").parquet(s"$dir/gen=2/cells")
    val skipped = Drift.restoreMonitorState(spark, dir)
    assert(skipped.sinceRotation == restored.sinceRotation &&
      skipped.cells.count() == restored.cells.count())
    // ...and with ONLY partials on disk, restore fails loud
    val dir2 = exitScopedDir("monitor-ckpt2") + "/st"
    restored.cells.write.mode("overwrite").parquet(s"$dir2/gen=0/cells")
    val e = intercept[IllegalArgumentException] {
      Drift.restoreMonitorState(spark, dir2)
    }
    assert(e.getMessage.contains("no COMMITTED generation"))
  }
}
