package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Shared.exitScopedDir

class ReportsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("writeTextReport renders an aligned table with a title") {
    val df = Seq(("ridge", 1.23), ("lasso", 45.6)).toDF("model", "rmse")
    val path = exitScopedDir("report") + "/out/report.txt"
    Reports.writeTextReport(df, path, "Model comparison")
    val lines = Files.readAllLines(Paths.get(path))
    assert(lines.get(0) == "Model comparison")
    assert(lines.get(2).startsWith("model"))
    assert(lines.stream().anyMatch(_.contains("ridge")))
    assert(lines.stream().anyMatch(_.contains("45.6")))
  }
}
