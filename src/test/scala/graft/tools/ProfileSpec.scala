package graft.tools

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.graftbridge.ListenerBusDrain
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.catalog.Shared.exitScopedDir

/** `Profile` on one relational query (q01) and one service-tier query
  * (q261), whose tick overlaps its two similarity joins on a pool thread.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def query(prefix: String) =
    SparkEntry.catalog.values.find(_.name.startsWith(prefix)).get
  private lazy val (q01, q261) = (query("q01_"), query("q261_"))

  private val Required = Seq("construct_s", "execute_s", "jobs", "stages", "tasks",
    "sql_executions", "call_sites", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "codegen_compiles",
    "codegen_compile_s", "phases", "rule_s", "overhead_ratio")

  /** One `Profile.run` into a fresh dir: the layer file's entries by name. */
  private def profiled(): Map[String, JsonNode] = {
    val out = java.nio.file.Paths.get(exitScopedDir("profile-spec"))
    Profile.run(spark, Seq(q01, q261), TestSpark.Sf, out)
    Seq(q01, q261).foreach(q => assert(Files.exists(out.resolve(s"BENCH_PLANS/${q.name}.txt"))))
    new ObjectMapper().readTree(out.resolve("BENCH_LAYERS.json").toFile)
      .get("queries").fields().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  test("two runs give the same counts, every entry holds every layer, " +
    "and q261's jobs are attributed to its tick's Curation.scala lines") {
    val (a, b) = (profiled(), profiled())
    assert(a.keySet == Set(q01.name, q261.name) && b.keySet == a.keySet)
    for ((name, entry) <- a ++ b) {
      val missing = Required.filterNot(entry.has)
      assert(missing.isEmpty, s"$name lacks $missing: $entry")
      assert(entry.get("jobs").asInt > 0 && entry.get("sql_executions").asInt > 0, s"$name: $entry")
    }
    for (name <- a.keys; k <- Seq("jobs", "stages", "sql_executions"))
      assert(a(name).get(k).asInt == b(name).get(k).asInt,
        s"$name: $k ${a(name).get(k)} then ${b(name).get(k)}")
    val sites = a(q261.name).get("call_sites").elements().asScala.toSeq
    assert(sites.map(_.get("jobs").asInt).sum == a(q261.name).get("jobs").asInt)
    assert(sites.exists(_.get("site").asText.contains("(Curation.scala:")),
      s"no Curation.scala call site: ${sites.map(_.get("site").asText)}")
  }

  test("the recorder counts every job, those the tick submits from a pool thread included") {
    val sc = spark.sparkContext
    sc.setJobGroup("profile-spec", "q261 under the recorder")
    val (_, rec) =
      try Profile.record(spark)(q261.build(spark, TestSpark.Sf).write.format("noop")
        .mode("overwrite").save())
      finally sc.clearJobGroup()
    ListenerBusDrain(sc)
    val submitted = sc.statusTracker.getJobIdsForGroup("profile-spec").length
    assert(rec.layers("jobs") == submitted)
  }
}
