package graft.recipes

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Shared.exitScopedDir

/** Each reference workload runs end-to-end on TESTDATA and produces the
  * result tables the reference prints/saves (SURVEY.md §3).
  */
class RecipesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.Sf

  test("VEG recipe: transactions, itemsets, and rules materialize") {
    val out = Recipes.vegetableTrends(spark, sf)
    assert(out("pivoted").count() > 0)
    val tx = out("transactions")
    assert(tx.count() > 0)
    assert(out("itemsets").count() > 0)
    val rules = out("rules")
    // every rule respects the confidence floor
    assert(rules.filter(col("confidence") < 0.6).count() == 0)
    assert(out("rule_stats").head().getLong(0) == rules.count())
  }

  test("COVID recipe: metric table has all four models; best has min rmse") {
    val out = Recipes.timeSeriesRegression(spark, sf)
    val metrics = out("metrics").collect()
    assert(metrics.map(_.getString(0)).toSet ==
      Set("ridge", "lasso", "elastic_net", "gbt"))
    assert(metrics.forall(r => !r.getDouble(1).isNaN))
    val best = out("best_model").head()
    assert(best.getDouble(1) == metrics.map(_.getDouble(1)).min)
  }

  test("CANCER recipe: bake-off metrics, scored output, confusion counts") {
    val out = Recipes.classifierBakeOff(spark, sf)
    val metrics = out("metrics").collect()
    assert(metrics.length == 3)
    assert(metrics.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    val scored = out("scored")
    assert(scored.columns.toSeq ==
      Seq("sample_id", "label", "predicted", "p_positive", "p_negative", "correct"))
    assert(scored.filter(col("correct") =!= (col("label") === col("predicted"))).count() == 0)
    assert(out("confusion").agg(sum("n")).head().getLong(0) == scored.count())
  }

  test("HLM recipe: features, clusters, summary, and ward linkage materialize") {
    val out = Recipes.stylometryClustering(spark, sf)
    assert(out("features").count() == 500)
    assert(out("clusters").select("prediction").distinct().count() == 2)
    val s = out("summary").head()
    assert(!s.getDouble(0).isNaN) // silhouette
    assert(s.getDouble(1) >= 0.5) // consistency is at least the max-orientation bound
    assert(out("top_variance_words").count() == 5)
    // ward linkage over the 8 bisecting centroids: 7 monotone merges
    val linkage = out("ward_linkage").orderBy("step").collect()
    assert(linkage.length == 7)
    val heights = linkage.map(_.getDouble(3)).toSeq
    assert(heights == heights.sorted, s"non-monotone dendrogram heights: $heights")
    assert(linkage.last.getInt(4) == 8)
  }

  test("DBSCAN grid recipe: selection table picks the silhouette winner") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val pts = (0 until 120).map { i =>
      val c = if (i % 2 == 0) 0.0 else 8.0
      (i.toLong, c + rng.nextGaussian() * 0.4, c + rng.nextGaussian() * 0.4)
    }.toDF("id", "x", "y")
    val grid = Recipes.dbscanGrid(pts, "id", "x", "y",
      epsGrid = Seq(0.05, 1.5), minPtsGrid = Seq(4, 8))
    val rows = grid.collect()
    assert(rows.length == 4)
    val selected = rows.filter(_.getBoolean(5))
    assert(selected.length == 1)
    // the workable eps must win and find the two blobs
    assert(selected.head.getDouble(0) == 1.5)
    assert(selected.head.getLong(2) == 2)
    assert(!selected.head.getDouble(4).isNaN && selected.head.getDouble(4) > 0.5)
  }

  test("GOLDEN artifact: scored output round-trips through the single-file CSV sink") {
    import graft.sources.Sources
    val out = Recipes.classifierBakeOff(spark, sf)
    val scored = out("scored")
    val dir = exitScopedDir("golden")
    Sources.writeCsvSingle(scored, dir, sortBy = Seq("sample_id"))
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, "contract is ONE deliverable csv file")
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(files.head.getPath)
    // GOLDEN schema (神经网络预测结果.csv / 乳腺癌预测.py:203-219): 6 columns
    assert(back.columns.toSeq ==
      Seq("sample_id", "label", "predicted", "p_positive", "p_negative", "correct"))
    assert(back.count() == scored.count() && back.count() > 0)
    val ids = back.select(col("sample_id").cast("long")).collect().map(_.getLong(0)).toSeq
    assert(ids == ids.sorted, "rows must be sorted by sample id")
    assert(back.filter(col("correct") =!= (col("label") === col("predicted"))).count() == 0)
  }

  test("CATDOG recipe: submission sorted by id with binary predictions") {
    val dir = exitScopedDir("catdog")
    (1 to 8).foreach { i =>
      val label = if (i % 2 == 0) "dog" else "cat"
      Files.write(Paths.get(dir, s"$label.$i.jpg"), Array.fill[Byte](16 + i)(i.toByte))
    }
    val out = Recipes.imagePipeline(spark, dir)
    val sub = out("submission").collect()
    assert(sub.length == 8)
    assert(sub.map(_.getLong(0)).toSeq == sub.map(_.getLong(0)).toSeq.sorted)
    assert(sub.forall(r => r.getInt(1) == 0 || r.getInt(1) == 1))
  }
}
