package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each catalog query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryNamePrefix...] — prefixes (builder-side
    // iteration aid, same contract as Bench) restrict which queries run;
    // the driver always calls with exactly two args = full sweep.
    val Array(sfDir, outDir) = args.take(2)
    val prefixes = args.drop(2)
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // queries are independent — run them concurrently (Spark schedules
    // concurrent jobs fine); 4-wide keeps executor threads busy while the
    // driver-loop ML queries (rolling CV, FPGrowth fits) wait on their jobs.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val selected =
      if (prefixes.isEmpty) SparkEntry.catalog
      else SparkEntry.catalog.filter { case (n, _) => prefixes.exists(n.startsWith) }
    val futures = selected.toSeq.map { case (name, q) =>
      scala.concurrent.Future {
        try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // on a prefix-filtered run, dump only the selected queries' SQL so
    // tools/check.py doesn't report the unselected ones as MISSING
    val json = new ObjectMapper().writeValueAsString(
      selected.map { case (name, q) => name -> q.oracleSql }.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
