package graft.tools

import org.apache.spark.sql.execution.ExplainMode

import graft.{Engine, SparkEntry}

/** Dump `.explain("formatted")` for declared queries to files — the
  * plans/rNN/<query>_{before,after}.txt evidence the optimization rounds
  * commit. Building the final frame of a loop-shaped query executes its
  * driver-side loop; the dump is therefore also a smoke run. Diagnostic
  * only — never part of a bench or oracle gate.
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> <query...>
  */
object ExplainDump {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <query...>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    java.nio.file.Files.createDirectories(outDir)

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      val df = fn(spark, dir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        outDir.resolve(s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"EXPLAIN wrote ${name}_$suffix.txt (${txt.length} chars)")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
