package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.{Engine, SparkEntry, TestSpark}
import graft.catalog.Shared.deleteAtExit

/** Regression pin for the replay harness's input handling: the streaming
  * file source lists LEAF files and does not recurse, and a symlink target
  * is stored verbatim — so a directory-style `events.parquet` dataset (the
  * form every engine-written or scaled corpus has) and a RELATIVE data dir
  * must both still replay every event. The sf1 scale sweep caught both
  * silently replaying ZERO events (the queries "passed" in ~0.2 s on empty
  * streams) before the per-part-file absolute-target symlink fix.
  */
class ReplayInputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** TESTDATA events copied as a DIRECTORY-style parquet dataset (multi
    * part-file), placed UNDER the repo cwd so a relative path to it exists.
    */
  private lazy val dirStyle: java.nio.file.Path = {
    Files.createDirectories(Paths.get("tmp"))
    val d = deleteAtExit(Files.createTempDirectory(Paths.get("tmp"), "replay-dirstyle"))
    Engine.table(spark, TestSpark.Sf, "events")
      .repartition(3)
      .write.mode("overwrite").parquet(d.resolve("events.parquet").toString)
    d
  }

  private def q27(dir: String): Seq[String] =
    SparkEntry.queries("q27_stream_daily_counts")(spark, dir)
      .collect().map(_.toString).sorted.toSeq

  test("directory-style events.parquet replays every event (not zero)") {
    val single = q27(TestSpark.Sf)
    val dir = q27(dirStyle.toAbsolutePath.toString)
    assert(dir.nonEmpty, "directory-style input replayed zero events")
    assert(dir == single,
      "directory-style replay diverged from single-file replay")
  }

  test("a relative data dir replays (symlink targets must be absolute)") {
    val rel = Paths.get("").toAbsolutePath.relativize(dirStyle.toAbsolutePath)
    val out = q27(rel.toString)
    assert(out.nonEmpty, "relative data dir replayed zero events")
  }
}
