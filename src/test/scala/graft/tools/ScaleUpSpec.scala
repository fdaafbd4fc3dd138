package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `ScaleUp`'s per-table digests are the check that a scaled corpus is the
  * one its inputs determine (its parquet bytes differ from run to run).
  */
class ScaleUpSpec extends AnyFunSuite {

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  test("two factor-2 copies of sf0.001 write equal per-table digests") {
    val root = Files.createTempDirectory("scaleup-spec")
    try {
      // a child session: ScaleUp sets a runtime conf on the session it gets
      def copy(k: Int) = {
        val out = root.resolve(s"copy$k").toString
        val digests = ScaleUp.run(TestSpark.spark.newSession(), TestSpark.Sf, out, 2, 0)
        val written = Tables.map(t => t -> new String(
          Files.readAllBytes(Paths.get(s"$out/$t.digest")), StandardCharsets.UTF_8).trim)
        assert(written == digests.map { case (t, d) => t -> d.toString },
          s"copy $k: the .digest files differ from the returned digests")
        digests
      }
      val (a, b) = (copy(1), copy(2))
      assert(a.map(_._1) == Tables)
      assert(a == b, s"digests differ:\n${a.zip(b).filter(p => p._1 != p._2).mkString("\n")}")
      // the fixed dimensions keep their rows; every other table doubles
      a.foreach { case (t, d) =>
        val n = TestSpark.spark.read.parquet(s"${TestSpark.Sf}/$t.parquet").count()
        assert(d.rows == (if (t == "region" || t == "nation") n else 2 * n), s"$t: $d vs $n source rows")
      }
    } finally deleteTree(root)
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
