package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbridge.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.{QueryExecutionMetering, RuleExecutor}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Engine, SparkEntry}
import graft.catalog.Query

/** Per-query, per-layer profile of the catalog.
  *
  * Takes `graft.Bench`'s arguments: query-name prefixes (none for the whole
  * catalog), the data dir from SPARK_GRAFT_SF_DIR and the core count from
  * SPARK_GRAFT_CPUS. Like `Bench` it first warms every selected query up on
  * the sibling `sf0.001` dir. Then each query runs twice in this JVM, forced
  * by a noop write as in `Bench`: once untraced and once under a
  * [[Recorder]]. The order alternates with the query's position in the
  * name-sorted list (untraced first at even positions, traced first at odd
  * ones), so the second run's warmth falls on each side for half the
  * queries and the median `overhead_ratio` is not biased by it. The traced
  * run fills the query's entry in
  * `BENCH_LAYERS.json` and its `BENCH_PLANS/<query>.txt` (the physical plan
  * of each SQL execution, in start order), both in the working directory.
  * An entry holds:
  *   - `construct_s` against `execute_s`: building the DataFrame (where the
  *     service tier runs its pins and cost probes) against the final write;
  *   - `jobs`, `stages`, `tasks` and `sql_executions`;
  *   - `call_sites`: jobs and executor run time per call site, the first
  *     `graft.` frame of the job's stage details that is not `Pin` or
  *     `SimilarityJoin.par2`, so a tick stage's pin reads as its own
  *     `Curation.scala` line, and "final action" for the noop write;
  *   - executor run time against CPU time, GC, shuffle bytes and spill;
  *   - codegen compiles and compile time;
  *   - `phases`: the summed `QueryExecution.tracker` phase times of the
  *     query's actions, and `rule_s`, all Catalyst rule time;
  *   - `overhead_ratio`: traced wall over untraced wall, the recorder's cost.
  *
  * Never part of a gate: `Bench` times its queries untraced.
  *
  * Usage: runMain graft.tools.Profile [query-name prefix ...]
  */
object Profile {

  /** What Spark reports while one [[record]] body runs. Read it after the
    * body returns.
    */
  final class Recorder private[Profile] (spark: SparkSession) {
    private val sc = spark.sparkContext
    private val plansSeen = mutable.ArrayBuffer.empty[String]
    private val execSites = mutable.Map.empty[Long, String]
    private val stageSites = mutable.Map.empty[Int, String]
    private val siteJobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val siteRunMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private var jobs, stages, tasks = 0
    private var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    private var compileNs, compiles, ruleNs = 0L

    private val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
          plansSeen += s.physicalPlanDescription
          callSite(s.details).foreach(execSites(s.executionId) = _)
        }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
        // a job submitted off the action's thread (a broadcast, say) has no
        // graft frame, and a job over no partitions has no stage; the call
        // site of the job's SQL execution stands in
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        val site = e.stageInfos.maxByOption(_.stageId).flatMap(s => callSite(s.details))
          .orElse(exec.flatMap(id => execSites.get(id.toLong))).getOrElse("?")
        jobs += 1
        siteJobs(site) += 1
        e.stageInfos.foreach(s => stageSites.getOrElseUpdate(s.stageId, site))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Recorder.this.synchronized {
          val si = e.stageInfo
          stages += 1
          tasks += si.numTasks
          val m = si.taskMetrics
          if (m != null) {
            runMs += m.executorRunTime
            cpuNs += m.executorCpuTime
            gcMs += m.jvmGCTime
            shuffleRead += m.shuffleReadMetrics.totalBytesRead
            shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            spill += m.diskBytesSpilled
            siteRunMs(stageSites.getOrElse(si.stageId, "?")) += m.executorRunTime
          }
        }
    }

    private val qeListener = new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit = Recorder.this.synchronized {
        qe.tracker.phases.foreach { case (p, s) => phases(p) += s.durationMs / 1e3 }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    }

    private[Profile] def attach(): Unit = {
      ListenerBusDrain(sc)
      compileNs = -CodeGenerator.compileTime
      compiles = -CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      ruleNs = -ruleTimeNs
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    }

    private[Profile] def close(): Unit = {
      compileNs += CodeGenerator.compileTime
      compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      ruleNs += ruleTimeNs
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }

    /** The physical plan of each SQL execution, in start order. */
    def plans: Seq[String] = synchronized(plansSeen.toSeq)

    /** The layer metrics, keyed as in `BENCH_LAYERS.json`. */
    def layers: ListMap[String, Any] = synchronized(ListMap(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "sql_executions" -> plansSeen.size,
      "call_sites" -> siteJobs.keys.toSeq.sortBy(s => (-siteRunMs(s), s)).map(s =>
        ListMap("site" -> s, "jobs" -> siteJobs(s), "run_s" -> siteRunMs(s) / 1e3)),
      "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_read_mb" -> shuffleRead / 1e6, "shuffle_write_mb" -> shuffleWrite / 1e6,
      "spill_mb" -> spill / 1e6,
      "codegen_compiles" -> compiles, "codegen_compile_s" -> compileNs / 1e9,
      "phases" -> ListMap(phases.toSeq.sorted: _*), "rule_s" -> ruleNs / 1e9))
  }

  /** Frames that are never a call site: the pin wrapper and the overlap
    * helper. */
  private val NotCallSites = Seq("graft.operators.Pin", "par2")

  /** The first `graft.` frame of a call stack that is not in
    * [[NotCallSites]]. This profiler's frames are the outermost, so a job
    * whose first such frame is one of them is the query's final action.
    */
  private def callSite(details: String): Option[String] =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !NotCallSites.exists(l.contains))
      .map(l => if (l.startsWith("graft.tools.Profile")) "final action" else l)

  /** Total Catalyst rule time in this JVM, in ns. The meter is protected in
    * Scala (public in bytecode), hence reflection.
    */
  private def ruleTimeNs: Long = RuleExecutor.getClass.getMethod("queryExecutionMeter")
    .invoke(RuleExecutor).asInstanceOf[QueryExecutionMetering].totalTime

  /** Runs `body` with a [[Recorder]] attached; the listener bus is drained
    * before attaching and before detaching, so the recorder sees exactly
    * the events of `body`, from every thread.
    */
  def record[T](spark: SparkSession)(body: => T): (T, Recorder) = {
    val r = new Recorder(spark)
    r.attach()
    try (body, r) finally r.close()
  }

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Builds and forces `q`, returning the construction and final-action
    * walls. Drops the caches and pinned RDDs the run created, as `Bench`
    * does between runs.
    */
  private def runOnce(spark: SparkSession, q: Query, dir: String): (Double, Double) = {
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val df = q.build(spark, dir)
    val t1 = System.nanoTime()
    sink(df)
    val t2 = System.nanoTime()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.iterator
      .collect { case (id, rdd) if !preexisting.contains(id) => rdd }
      .foreach(_.unpersist(blocking = false))
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** One query's `BENCH_LAYERS.json` entry and its SQL executions' plans;
    * `tracedFirst` picks which of the two runs goes first.
    */
  def profile(
      spark: SparkSession,
      q: Query,
      dir: String,
      tracedFirst: Boolean): (ListMap[String, Any], Seq[String]) = {
    def untraced() = runOnce(spark, q, dir)
    val before = if (tracedFirst) None else Some(untraced())
    val ((c, e), rec) = record(spark)(runOnce(spark, q, dir))
    val (untracedC, untracedE) = before.getOrElse(untraced())
    (ListMap[String, Any]("construct_s" -> c, "execute_s" -> e) ++ rec.layers +
      ("overhead_ratio" -> (c + e) / math.max(untracedC + untracedE, 1e-9)), rec.plans)
  }

  /** Warms `queries` up, profiles each on `dir`, and writes
    * `out/BENCH_LAYERS.json` and `out/BENCH_PLANS/`.
    */
  def run(spark: SparkSession, queries: Seq[Query], dir: String, out: Path): Unit = {
    val warmDir = Paths.get(dir).resolveSibling("sf0.001").toString
    queries.foreach(q => try sink(q.build(spark, warmDir)) catch { case NonFatal(_) => () })
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))

    val plansDir = Files.createDirectories(out.resolve("BENCH_PLANS"))
    val entries = queries.sortBy(_.name).zipWithIndex.map { case (q, i) =>
      val (entry, plans) =
        try profile(spark, q, dir, tracedFirst = i % 2 == 1)
        catch { case NonFatal(e) => (ListMap[String, Any]("error" -> String.valueOf(e.getMessage)), Nil) }
      val numbered = plans.zipWithIndex.map { case (p, i) => s"== SQL execution ${i + 1} ==\n$p" }
      Files.write(plansDir.resolve(s"${q.name}.txt"), numbered.mkString("\n").getBytes(UTF_8))
      println(s"PROFILE ${q.name} " + Seq("jobs", "construct_s", "execute_s", "overhead_ratio")
        .map(k => s"$k=${entry.getOrElse(k, "-")}").mkString(" "))
      q.name -> entry
    }
    val layers = ListMap("sf" -> dir, "cores" -> spark.sparkContext.defaultParallelism,
      "queries" -> ListMap(entries: _*))
    Files.write(out.resolve("BENCH_LAYERS.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writerWithDefaultPrettyPrinter().writeValueAsBytes(layers))
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a testdata scale dir"))
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val selected = SparkEntry.catalog.values.toSeq
      .filter(q => args.isEmpty || args.exists(q.name.startsWith))
    try run(spark, selected, dir, Paths.get(""))
    finally spark.stop()
  }
}
