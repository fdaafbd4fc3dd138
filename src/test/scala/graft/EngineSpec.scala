package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's session semantics (ANSI off, UTC, the timestamp reads, ...)
  * are defined once, in `Engine.confs`, and set by one builder,
  * `Engine.session`. The streaming replays run in `newSession()` children
  * and rely on those confs reaching the child.
  */
class EngineSpec extends AnyFunSuite {

  test("every engine conf reads back on the session and on a newSession() child") {
    val spark = TestSpark.spark
    val child = spark.newSession()
    val wrong = Engine.confs(TestSpark.Cores).flatMap { case (k, v) =>
      Seq("session" -> spark, "newSession()" -> child).collect {
        case (where, s) if s.conf.getOption(k) != Some(v) =>
          s"$where: $k = ${s.conf.getOption(k)}, want $v"
      }
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("no main source outside Engine.scala builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found; run from the project root")
    val builder = raw"SparkSession\s*\.\s*builder\b".r
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Engine.scala")
        .filter(p => Files.readAllLines(p).asScala.exists { line =>
          val code = line.trim
          // doc and line comments may show a builder as a usage example
          !code.startsWith("*") && !code.startsWith("/") && builder.findFirstIn(code).isDefined
        })
        .map(root.relativize(_).toString).toSeq.sorted
      finally walk.close()
    assert(offenders.isEmpty,
      s"${offenders.size} files build a session outside Engine.session: ${offenders.mkString(", ")}")
  }
}
