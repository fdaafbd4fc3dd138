package graft.ml

import java.nio.file.Files

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Shared.exitScopedDir

/** S10 — model checkpoint sink/source: a fitted Pipeline must round-trip
  * through save/load with identical predictions (the spark.ml analog of the
  * reference's torch.save/load, 猫狗大战分类.py:371,413).
  */
class PipelinePersistenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fitted pipeline save/load round-trips predictions") {
    val rng = new scala.util.Random(42)
    val df = (0 until 100).map { i =>
      val label = i % 2
      (i.toLong, label, label * 3.0 + rng.nextGaussian(), label * 3.0 + rng.nextGaussian())
    }.toDF("id", "label", "x1", "x2")

    val pipeline = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("x1", "x2")).setOutputCol("_raw"),
      new StandardScaler().setInputCol("_raw").setOutputCol("features")
        .setWithMean(true).setWithStd(true),
      new LogisticRegression().setMaxIter(50)))
    val model = pipeline.fit(df)

    val dir = exitScopedDir("pipeline-ckpt") + "/model"
    model.write.overwrite().save(dir)
    val restored = PipelineModel.load(dir)

    val a = model.transform(df).select("id", "prediction")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = restored.transform(df).select("id", "prediction")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }
}
