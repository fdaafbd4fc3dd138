package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Engine

/** Benchmark runner: one workload, one seed, one closed-loop client, in one
  * process on a session built by `Engine.session(cores = nproc)`.
  *
  * Untraced runs (`--trace 0`) set up once, then run whole rounds of
  * operations until `--seconds` have passed and print the end-to-end
  * metrics; `setup_s` is the JVM's uptime when set-up is done. Traced runs
  * (`--trace 1`) set up, run the first round under a [[Tracer]] and print
  * its per-layer metrics, plus the tracing overhead: the time of a further
  * traced round over that of an untraced one before it. The last stdout
  * line is the result object; the line before it is a report with the
  * session's resolved conf, the sample count and the round's output digest.
  *
  * The `setup` mode sets up the same way and prints only its `setup_s`, for
  * run.py's further cold set-ups; the `archive` mode sets up every workload
  * in turn, so that run.py can archive the classes a set-up loads.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "1/s", "op_p50_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "jvm.peak_rss_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.tasks_failed" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.scheduler_delay_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.driver_idle_s" -> "s", "spark.slot_busy_ratio" -> "ratio",
    "spark.error_events" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "catalyst.codegen_compile_s" -> "s", "catalyst.codegen_compiles" -> "count",
    "entry.construct_s" -> "s", "entry.execute_s" -> "s",
    "entry.construct_jobs" -> "count", "entry.execute_jobs" -> "count",
    "curation.state_build_s" -> "s", "curation.tick_p50_s" -> "s", "curation.read_p50_s" -> "s",
    "curation.tick_construct_s" -> "s", "curation.tick_sink_s" -> "s",
    "curation.tick_jobs" -> "count", "curation.accept_ratio" -> "ratio",
    "curation.audit_s" -> "s", "curation.drift_report_s" -> "s",
    "pin.calls_per_tick" -> "count", "pin.s_per_tick" -> "s", "pin.block_mb" -> "MB",
    "simjoin.selfjoin_s" -> "s", "simjoin.pairs_out" -> "count",
    "simjoin.prefix_volume" -> "count", "simjoin.allpairs_volume" -> "count",
    "decontam.shared_grams_s" -> "s") ++
    Workload.Kernels.map { case (k, _) => s"kernel.${k}_ns_per_row" -> "ns" } ++ Seq(
    "trace.overhead_ratio" -> "ratio", "fail_ratio" -> "ratio")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, golden: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv.getOrElse("mode", "run"), kv.getOrElse("workload", ""),
      kv.getOrElse("seed", "0").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("work"), kv("golden"))
    new File(a.work).mkdirs()
    a.mode match {
      case "run" => run(a)
      case "setup" =>
        val (spark, _, setupS) = setUp(a)
        stopSession(spark)
        println(json.writeValueAsString(Map("setup_s" -> setupS)))
      case "archive" =>
        // loads the classes of every workload's set-up, for run.py's archive
        Workloads.foreach(w => stopSession(setUp(a.copy(workload = w))._1))
      case "metrics" =>
        println(json.writeValueAsString(Map("end_to_end" -> EndToEnd, "per_layer" -> PerLayer)))
      case "record" => Record.golden(a)
      case "crosscheck" => Record.crosscheck(a)
      case m => sys.error(s"unknown mode $m")
    }
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(): SparkSession = Engine.session("perfbench", cores = cores)

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Bundled input scale of each workload. */
  val CurationScale = "sf0.01"
  val CorpusScale = "sf0.1"

  val Workloads: Seq[String] = Seq("curation_service", "corpus_batch")

  def workload(a: Args, golden: Golden): Workload = a.workload match {
    case "curation_service" => new CurationService(s"${a.data}/$CurationScale", golden, a.seed)
    case "corpus_batch" => new CorpusBatch(s"${a.data}/$CorpusScale", a.work, golden, a.seed)
    case w => sys.error(s"unknown workload $w")
  }

  /** Runs `w.op(i)`, timing it; a throw is a failed operation. */
  def runOp(w: Workload, i: Int): Op = {
    val t0 = System.nanoTime()
    try w.op(i)
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] operation $i failed: $e")
        e.printStackTrace()
        Op((System.nanoTime() - t0) / 1e9, 0L, ok = false)
    }
  }

  /** Builds the session and brings the workload to ready; returns them with
    * the set-up time, from JVM start to ready.
    */
  private def setUp(a: Args): (SparkSession, Workload, Double) = {
    val w = workload(a, Golden.load(a.golden))
    val spark = session()
    w.prepare(spark)
    (spark, w, ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
  }

  private def run(a: Args): Unit = {
    val (spark, w, setupS) = setUp(a)
    val conf = spark.conf.getAll

    val (ops, elapsed, layers) =
      if (!a.trace) {
        // whole rounds, so every run's samples are the same mix of operations
        val t0 = System.nanoTime()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Op]
        while ((System.nanoTime() - t0) / 1e9 < a.seconds)
          buf ++= (buf.size until buf.size + w.roundLength).map(runOp(w, _))
        (buf.toSeq, (System.nanoTime() - t0) / 1e9, Map.empty[String, Double])
      } else {
        // round 1 is traced, so the layer numbers describe the same work as
        // an untraced run's first round; the overhead is then timed on two
        // more rounds, one untraced and one traced, both warm
        val n = w.roundLength
        val t0 = System.nanoTime()
        val (first, tracer) = Trace.window(spark)((0 until n).map(runOp(w, _)))
        val elapsed = (System.nanoTime() - t0) / 1e9
        val rssMb = peakRssMb
        writeSpans(a, tracer)
        val layers = tracer.runtimeMetrics(cores) ++ w.layers(tracer, first) ++
          Workload.kernelNsPerRow(w.kernelText)
        val plain = (n until 2 * n).map(runOp(w, _))
        val again = Trace.window(spark)((2 * n until 3 * n).map(runOp(w, _)))._1
        val all = first ++ plain ++ again
        (all, elapsed, layers ++ Map(
          "jvm.peak_rss_mb" -> rssMb,
          "trace.overhead_ratio" -> again.map(_.seconds).sum / plain.map(_.seconds).sum,
          "fail_ratio" -> all.count(!_.ok).toDouble / all.size))
      }

    val good = ops.filter(_.ok)
    require(good.nonEmpty, s"no operation of ${ops.size} succeeded")
    val values =
      if (!a.trace) Map(
        "setup_s" -> setupS,
        "docs_per_s" -> good.map(_.docs).sum / elapsed,
        "op_p50_s" -> Stats.quantile(good.map(_.seconds), 0.5))
      else layers
    // a layer the workload does not exercise reads 0
    val metrics = (if (!a.trace) EndToEnd else PerLayer).map { case (name, unit) =>
      (name, unit, values.getOrElse(name, 0.0))
    }

    val round = ops.take(w.roundLength)
    println(json.writeValueAsString(Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "samples" -> good.size, "elapsed_s" -> elapsed,
      "op_s" -> ops.map(_.seconds),
      "part_p50_s" -> good.flatMap(_.parts.keys).distinct.map(k =>
        k -> Stats.quantile(good.flatMap(_.parts.get(k)), 0.5)).toMap,
      "round_ok" -> round.forall(_.ok),
      "round_digest" -> round.flatMap(_.digest).foldLeft(Digest.Value(0L, 0L))(
        (x, y) => Digest.Value(x.rows + y.rows, x.hash + y.hash)),
      "spark_conf" -> conf)))
    stopSession(spark)
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", ops.forall(_.ok))
    result.put("attempted", ops.size)
    result.put("failed", ops.count(!_.ok))
    val m = new java.util.LinkedHashMap[String, Any]()
    metrics.foreach { case (name, unit, v) =>
      m.put(name, Map("value" -> v, "unit" -> unit).asJava)
    }
    result.put("metrics", m)
    println(json.writeValueAsString(result))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM not available"))

  private def writeSpans(a: Args, t: Tracer): Unit = {
    val f = new File(a.work, s"spans-${a.workload}-${a.seed}.json")
    json.writeValue(f, t.spanRows)
  }
}

object Stats {
  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
