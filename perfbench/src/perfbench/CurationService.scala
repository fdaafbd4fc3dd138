package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.operators.{Curation, Pin}

/** `curation_service`: the standing curation service driven through its
  * public verbs by one client — a tick, then a read, then the next tick.
  *
  * Service start builds `Curation.serviceState` over the corpus (`doc_id`
  * below the 80th percentile of the id range, minus the `% 50` benchmark
  * split). The arrival stream (the remaining ids, in rank order) is cut at
  * seed-drawn boundaries into [[Batches]] contiguous batches; each goes
  * through `Curation.serviceTick` and its accepted frame is forced to a
  * sink. After every tick comes one read, alternating `auditService` and
  * `indexDriftReport`, so a tick made cheaper by deferring materialization
  * into the reads does not look faster. When the stream is used up the
  * service restarts from the built state (`restoreServiceState`, no jobs).
  *
  * Ticks compose, so every slicing accepts the same documents: each tick's
  * accepted rows are checked against the golden accepted set restricted to
  * the tick's id range.
  */
final class CurationService(data: String, golden: Golden, seed: Long) extends Workload {
  import CurationService._

  private var spark: SparkSession = _
  private var arrivals: DataFrame = _
  private var ids: Array[Long] = _
  private var slices: IndexedSeq[(Long, Long)] = _
  private var built: Curation.ServiceState = _
  private var state: Curation.ServiceState = _
  private var buildS = 0.0
  private var pinCalls = 0
  private var pinS = 0.0
  private val timedPin = Pin.Timed(Pin.LocalCheckpoint, (_, s) => { pinCalls += 1; pinS += s })

  def prepare(s: SparkSession): Unit = {
    spark = s
    val docs = Engine.table(s, data, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val x80 = mx * 4 / 5
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    arrivals = docs.filter(col("doc_id") >= x80)
    ids = arrivals.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    slices = cut(ids, Batches, seed)
    val t0 = System.nanoTime()
    built = Trace.span("curation.state_build") {
      val st = Curation.serviceState(corpus, bench, "doc_id", "text", "lang")
      Seq(st.index, st.posts, st.frozenFreq, st.benchIdx.grams, st.benchIdx.bloomCells)
        .foreach(_.write.format("noop").mode("overwrite").save())
      st
    }
    buildS = (System.nanoTime() - t0) / 1e9
  }

  def roundLength: Int = slices.size

  /** A fresh service handle over the built state (no jobs). */
  private def restart(): Curation.ServiceState = Curation.restoreServiceState(built.index,
    built.posts, built.frozenFreq, built.currentFreq, built.benchIdx, "doc_id",
    maxRank = Some(built.maxRank))

  /** The accepted frame of the latest tick. */
  var lastAccepted: DataFrame = _

  /** One tick over the whole arrival stream on a fresh handle. */
  def acceptAll(): DataFrame = Curation.serviceTick(restart(), arrivals, "doc_id", "text", "lang",
    Workload.quality(col("text")), batchId = Some(0L))

  def op(i: Int): Op = {
    val k = i % slices.size
    if (k == 0) state = restart()
    val (lo, hi) = slices(k)
    val batch = arrivals.filter(col("doc_id").between(lo, hi))
    val offered = ids.count(id => id >= lo && id <= hi)
    val pin = if (Trace.active) timedPin else Pin.LocalCheckpoint
    val t0 = System.nanoTime()
    val (acc, t1) = Trace.span("curation.tick") {
      lastAccepted = Trace.span("curation.tick.construct")(Curation.serviceTick(
        state, batch, "doc_id", "text", "lang", Workload.quality(col("text")),
        pin = pin, batchId = Some(k.toLong)))
      val t1 = System.nanoTime()
      (Trace.span("curation.tick.sink")(Digest.sink(lastAccepted)), t1)
    }
    val t2 = System.nanoTime()
    val expected = golden.accepted.filter { case (id, _) => id >= lo && id <= hi }
    val tickOk = acc == Digest.Value(expected.size.toLong, expected.values.sum)
    val (read, readOk) =
      if (k % 2 == 0) "audit_s" -> Trace.span("curation.audit") {
        Curation.auditService(state, "lang").collect().forall(_.getAs[Boolean]("ok"))
      }
      else "drift_report_s" -> Trace.span("curation.drift_report") {
        val r = Curation.indexDriftReport(state.index, "doc_id", "lang", state.tau,
          state.frozenFreq, Some(state.currentFreq)).collect()
        r.length == 1 && !r(0).isNullAt(r(0).fieldIndex("drift_ratio"))
      }
    val t3 = System.nanoTime()
    val blockMb = if (Trace.active)
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6 else 0.0
    Op((t3 - t0) / 1e9, offered, tickOk && readOk, Map(
      "tick_s" -> (t2 - t0) / 1e9, "tick_construct_s" -> (t1 - t0) / 1e9,
      "tick_sink_s" -> (t2 - t1) / 1e9, read -> (t3 - t2) / 1e9,
      "read_s" -> (t3 - t2) / 1e9, "accepted" -> acc.rows.toDouble,
      "block_mb" -> blockMb), Some(acc))
  }

  def layers(t: Tracer, ops: Seq[Op]): Map[String, Double] = {
    def mean(key: String) = {
      val v = ops.flatMap(_.parts.get(key))
      if (v.isEmpty) 0.0 else v.sum / v.size
    }
    val ticks = math.max(ops.size, 1)
    Map(
      "curation.state_build_s" -> buildS,
      "curation.tick_p50_s" -> Stats.quantile(ops.flatMap(_.parts.get("tick_s")), 0.5),
      "curation.read_p50_s" -> Stats.quantile(ops.flatMap(_.parts.get("read_s")), 0.5),
      "curation.tick_construct_s" -> mean("tick_construct_s"),
      "curation.tick_sink_s" -> mean("tick_sink_s"),
      "curation.tick_jobs" -> t.jobsByName.getOrElse("curation.tick", 0L).toDouble,
      "curation.accept_ratio" ->
        ops.flatMap(_.parts.get("accepted")).sum / math.max(ops.map(_.docs).sum, 1L),
      "curation.audit_s" -> mean("audit_s"),
      "curation.drift_report_s" -> mean("drift_report_s"),
      "pin.calls_per_tick" -> pinCalls.toDouble / ticks,
      "pin.s_per_tick" -> pinS / ticks,
      "pin.block_mb" -> mean("block_mb"))
  }

  def kernelText: DataFrame = Engine.table(spark, data, "documents")
}

object CurationService {
  val Batches = 2

  /** `k` contiguous id ranges covering `ids` (sorted), with sizes drawn by
    * `seed` in proportion to weights uniform on [1, 3) — every batch holds
    * at least a third of an even share.
    */
  def cut(ids: Array[Long], k: Int, seed: Long): IndexedSeq[(Long, Long)] = {
    val rng = Workload.random(seed)
    val w = IndexedSeq.fill(k)(1.0 + 2.0 * rng.nextDouble())
    val ends = w.scanLeft(0.0)(_ + _).tail.map(c => math.round(c / w.sum * ids.length).toInt)
    (0 +: ends.init).zip(ends).map { case (a, b) => (ids(a), ids(b - 1)) }
  }
}
