package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.Shared.exitScopedDir

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zValue interleaves bits: hand-computed cases") {
    // x=5 (101), y=3 (011), bits=3: x bits land at even positions, y at
    // odd ⇒ 1 + 2 + 8 + 16 = 27
    val got = Seq((5L, 3L)).toDF("x", "y")
      .select(ZOrder.zValue(Seq(col("x"), col("y")), 3)).head.getLong(0)
    assert(got == 27L)
    // three dims, bits=2: x=3 (11), y=0, z=1 (01): positions 0,3 from x; 2 from z
    val got3 = Seq((3L, 0L, 1L)).toDF("x", "y", "z")
      .select(ZOrder.zValue(Seq(col("x"), col("y"), col("z")), 2)).head.getLong(0)
    assert(got3 == (1L | (1L << 3) | (1L << 2)))
  }

  test("z-curve is monotone in each dimension holding the others fixed") {
    val rows = for (x <- 0L until 16L) yield (x, 5L)
    val zs = rows.toDF("x", "y")
      .select(col("x"), ZOrder.zValue(Seq(col("x"), col("y")), 4).as("z"))
      .orderBy("x").select("z").as[Long].collect()
    assert(zs.sliding(2).forall(p => p(0) < p(1)))
  }

  test("NULL dimension propagates to a NULL z instead of raising") {
    val got = Seq((Some(5L), None: Option[Long]), (Some(5L), Some(3L)))
      .toDF("x", "y")
      .select(ZOrder.zValue(Seq(col("x"), col("y")), 3))
      .collect()
    assert(got.count(_.isNullAt(0)) == 1)
    assert(got.exists(r => !r.isNullAt(0) && r.getLong(0) == 27L))
  }

  test("out-of-range dimension fails loud") {
    val ex = intercept[Exception] {
      Seq((64L, 0L)).toDF("x", "y")
        .select(ZOrder.zValue(Seq(col("x"), col("y")), 6)).collect()
    }
    assert(ex.getMessage.contains("zValue") || ex.getCause != null)
  }

  test("z slices bound BOTH dimensions; a linear sort bounds only its leading one") {
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toDF("x", "y")
    // 16 z-slices of the 64x64 grid are 16x16 boxes
    val zSpans = ZOrder
      .layoutStats(grid, Seq("x" -> col("x"), "y" -> col("y")), bits = 6, buckets = 16)
      .select((col("max_y") - col("min_y")).as("ys"), (col("max_x") - col("min_x")).as("xs"))
      .collect()
    assert(zSpans.length == 16)
    assert(zSpans.forall(r => r.getLong(0) <= 15L && r.getLong(1) <= 15L))
    // the same 16 slices cut on x alone leave y completely unbounded
    val linSpans = grid.groupBy((col("x") / 4).cast("long"))
      .agg((max(col("y")) - min(col("y"))).as("ys"))
      .select("ys").as[Long].collect()
    assert(linSpans.forall(_ == 63L))
  }

  // rows the parquet READER actually produced (post row-group/file pruning
  // via footer min/max stats, pre residual filter) — the IO-pruning
  // evidence. No exchange in a scan+filter+collect plan, so the plan is
  // non-adaptive and the FileSourceScanExec metric is directly visible.
  private def rowsScanned(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "expected a parquet FileSourceScanExec in the plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("writeClustered: footer stats prune scans on the NON-leading dimension") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(100000)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      .toDF("x", "y")
    val dir = exitScopedDir("graft-zorder")
    try {
      // z-clustered vs linear-sorted (leading column x), same file count
      ZOrder.writeClustered(pts, Seq(col("x"), col("y")), bits = 10, s"$dir/z", files = 128)
      pts.repartitionByRange(128, col("x")).sortWithinPartitions(col("x"))
        .write.mode("overwrite").parquet(s"$dir/lin")
      val z = spark.read.parquet(s"$dir/z")
      val lin = spark.read.parquet(s"$dir/lin")

      // y-only predicate: the linear layout can't prune at all (every file
      // spans the full y range); the z layout skips every file whose y-box
      // misses the band
      val pred = col("y") >= 200L && col("y") <= 250L
      val zRows = rowsScanned(z.filter(pred))
      val linRows = rowsScanned(lin.filter(pred))
      assert(linRows == 100000L,
        s"linear layout was expected to scan everything for a y predicate, scanned $linRows")
      assert(zRows < linRows / 2,
        s"z layout should skip most files for a y predicate: scanned $zRows of $linRows")

      // 2-D box predicate: both layouts return identical results, and the
      // z layout still reads no more than the linear one
      val box = col("x") >= 100L && col("x") <= 150L && pred
      val zBox = z.filter(box).orderBy("x", "y").collect().toSeq
      val linBox = lin.filter(box).orderBy("x", "y").collect().toSeq
      assert(zBox == linBox && zBox.nonEmpty)
      assert(rowsScanned(z.filter(box)) <= rowsScanned(lin.filter(box)))
    } finally {
      import java.nio.file.{Files => F, Paths}
      import scala.jdk.CollectionConverters._
      F.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse.foreach(p => F.deleteIfExists(p))
    }
  }

  test("zOrderBy: z is nondecreasing within every partition") {
    val rnd = new scala.util.Random(5)
    val pts = Seq.fill(5000)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .toDF("x", "y")
    val parted = ZOrder.zOrderBy(pts, Seq(col("x"), col("y")), bits = 8, partitions = 8)
    val ok = parted.select(col("_z")).mapPartitions { it =>
      val zs = it.map(_.getLong(0)).toSeq
      Iterator.single(zs.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }.collect()
    assert(ok.forall(identity))
  }
}
