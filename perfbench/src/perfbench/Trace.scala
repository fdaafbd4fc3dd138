package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.{QueryExecutionMetering, RuleExecutor}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine's layers.
  *
  * `Trace.span` is a pass-through unless a [[Tracer]] is installed, so the
  * untraced runs execute the same code with no listener, appender or
  * bookkeeping attached.
  */
object Trace {
  @volatile private var current: Option[Tracer] = None

  def install(t: Tracer): Unit = current = Some(t)
  def uninstall(): Unit = current = None
  def active: Boolean = current.isDefined

  def span[T](name: String)(body: => T): T = current match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Runs `body` under a fresh [[Tracer]], closed when `body` ends. */
  def window[T](spark: SparkSession)(body: => T): (T, Tracer) = {
    val t = new Tracer(spark)
    install(t)
    try (body, t) finally {
      uninstall()
      t.close()
    }
  }
}

/** One traced window: spans, a Spark listener, a query-execution listener
  * and an ERROR-log counter, all removed again by [[close]].
  *
  * Job attribution: every span sets the `perfbench.span` local property on
  * the calling thread, so a job submitted inside it carries the span id. A
  * job whose tag is missing, or names a span that was not open when the
  * job started (threads of the global fork-join pool inherit the local
  * properties of whichever thread created them, so their tags go stale),
  * falls to the innermost span open at the job's start time.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val jobs = ArrayBuffer.empty[Job]
  private val jobEnd = scala.collection.mutable.Map.empty[Int, Long]
  private val tasks = new TaskTotals
  private val phases = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var stagesDone = 0L
  private val errors = new ErrorCounter
  private val compileNs0 = CodeGenerator.compileTime
  private val ruleNs0 = Tracer.ruleTimeNs
  private var ruleNs = 0L
  private val compiles0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  val startMs: Long = System.currentTimeMillis()
  private var endMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).map(_.toInt)
      jobs += Job(e.jobId, e.time, tag)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnd(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stagesDone += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      tasks.add(e)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, s) => phases(phase) += s.durationMs / 1e3 }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  errors.attach()

  def span[T](name: String)(body: => T): T = {
    val prevTag = sc.getLocalProperty(Tag)
    val s = synchronized {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      s
    }
    sc.setLocalProperty(Tag, s.id.toString)
    try body
    finally {
      sc.setLocalProperty(Tag, prevTag)
      synchronized {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.filterNot(_ eq s)
      }
    }
  }

  /** Stops recording: drains the listener bus so every event of the window
    * is counted, then detaches everything.
    */
  def close(): Unit = {
    endMs = System.currentTimeMillis()
    ruleNs = Tracer.ruleTimeNs - ruleNs0
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    errors.detach()
  }

  /** Span that owns a job: its valid tag, else the innermost span whose
    * interval holds the job's start.
    */
  private def owner(j: Job): Int = {
    def holds(s: Span) = s.startMs <= j.timeMs && (s.endMs == 0L || j.timeMs <= s.endMs)
    j.tag.filter(id => id < spans.size && holds(spans(id))).getOrElse {
      spans.filter(holds).sortBy(s => -depth(s)).headOption.map(_.id).getOrElse(-1)
    }
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  private def ancestry(id: Int): List[Span] =
    if (id < 0) Nil else spans(id) :: ancestry(spans(id).parent)

  /** Jobs per span name, each job counted for its owner span and all of the
    * owner's ancestors.
    */
  def jobsByName: Map[String, Long] = synchronized {
    jobs.toSeq.flatMap(j => ancestry(owner(j)).map(_.name).distinct)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  /** Summed wall seconds per span name. */
  def secondsByName: Map[String, Double] = synchronized {
    spans.toSeq.filter(_.endNs > 0).groupBy(_.name)
      .map { case (k, v) => k -> v.map(s => (s.endNs - s.startNs) / 1e9).sum }
  }

  /** The `spark.*` and `catalyst.*` layer metrics of the window. */
  def runtimeMetrics(cores: Int): Map[String, Double] = synchronized {
    val wallS = (endMs - startMs) / 1e3
    val busy = jobs.toSeq.map(j => (j.timeMs, jobEnd.getOrElse(j.id, endMs))).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach)
        else (acc + (e - math.max(s, reach)), e)
      }._1
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stagesDone.toDouble,
      "spark.tasks" -> tasks.count.toDouble,
      "spark.tasks_failed" -> tasks.failed.toDouble,
      "spark.executor_run_s" -> tasks.runMs / 1e3,
      "spark.executor_cpu_s" -> tasks.cpuNs / 1e9,
      "spark.gc_s" -> tasks.gcMs / 1e3,
      "spark.scheduler_delay_s" -> tasks.delayMs / 1e3,
      "spark.shuffle_read_mb" -> tasks.shuffleRead / 1e6,
      "spark.shuffle_write_mb" -> tasks.shuffleWrite / 1e6,
      "spark.spill_mb" -> tasks.spill / 1e6,
      "spark.driver_idle_s" -> math.max(0.0, wallS - busy / 1e3),
      "spark.slot_busy_ratio" -> tasks.runMs / 1e3 / math.max(wallS * cores, 1e-9),
      "spark.error_events" -> errors.count.toDouble,
      // DataFrames are analyzed when built, outside any action a listener
      // sees, so analysis is the Catalyst rule time outside optimization
      "catalyst.analysis_s" -> math.max(0.0, ruleNs / 1e9 - phases("optimization")),
      "catalyst.optimization_s" -> phases("optimization"),
      "catalyst.planning_s" -> phases("planning"),
      "catalyst.codegen_compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
      "catalyst.codegen_compiles" ->
        (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
          .toDouble)
  }

  /** Spans as JSON-ready rows, with the jobs each span owns directly. */
  def spanRows: Seq[Map[String, Any]] = synchronized {
    val own = jobs.toSeq.groupBy(owner).map { case (k, v) => k -> v.size }
    spans.toSeq.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "jobs" -> own.getOrElse(s.id, 0)))
  }
}

object Tracer {
  val Tag = "perfbench.span"

  /** Total time of all Catalyst rule executions in this JVM, in ns. The
    * meter is protected in Scala (public in bytecode), hence reflection.
    */
  def ruleTimeNs: Long = RuleExecutor.getClass.getMethod("queryExecutionMeter")
    .invoke(RuleExecutor).asInstanceOf[QueryExecutionMetering].totalTime

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, startMs: Long) {
    var endNs = 0L
    var endMs = 0L
  }

  final case class Job(id: Int, timeMs: Long, tag: Option[Int])

  final class TaskTotals {
    var count, failed, runMs, cpuNs, gcMs, delayMs, shuffleRead, shuffleWrite, spill = 0L
    def add(e: SparkListenerTaskEnd): Unit = {
      count += 1
      if (e.taskInfo.failed || e.taskInfo.killed) failed += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
        val total = e.taskInfo.finishTime - e.taskInfo.launchTime
        delayMs += math.max(0L, total - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime)
      }
    }
  }

  /** Counts ERROR-level log events on the root logger while attached. */
  final class ErrorCounter extends AbstractAppender(
      "perfbench-errors", null, null, true, Property.EMPTY_ARRAY) {
    private val n = new AtomicLong
    def count: Long = n.get
    override def append(event: LogEvent): Unit =
      if (event.getLevel.isMoreSpecificThan(Level.ERROR)) n.incrementAndGet()
    private def root = LogManager.getContext(false).asInstanceOf[LoggerContext]
    def attach(): Unit = {
      start()
      root.getConfiguration.getRootLogger.addAppender(this, Level.ERROR, null)
      root.updateLoggers()
    }
    def detach(): Unit = {
      root.getConfiguration.getRootLogger.removeAppender(getName)
      root.updateLoggers()
      stop()
    }
  }
}
