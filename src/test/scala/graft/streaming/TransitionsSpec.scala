package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Shared.deleteAtExit

/** StreamOps.transitions: per-user event-type transitions with O(1) state
  * per user, equal to the batch lead() window — including when the
  * transition spans a micro-batch boundary (the case the state exists for).
  */
class TransitionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  test("transitions carry state across micro-batches and match the batch window") {
    val d = deleteAtExit(Files.createTempDirectory("trans-stream"))
    // batch 1: user 1 -> a, b ; user 2 -> x
    Seq(
      StreamOps.TypedEvent(1L, ts(0), 1L, "a"),
      StreamOps.TypedEvent(1L, ts(1), 2L, "b"),
      StreamOps.TypedEvent(2L, ts(0), 3L, "x"))
      .toDF().write.mode("overwrite").parquet(d.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(d.toString).schema)
      .parquet(d.toString)
    val q = StreamOps.transitions(spark, stream.as[StreamOps.TypedEvent])
      .writeStream.outputMode("append").format("memory").queryName("trans").start()
    try {
      q.processAllAvailable()
      // batch 2 (new files appended after the first trigger drained):
      // user 1 -> c (cross-batch transition b->c), user 2 -> y
      Seq(
        StreamOps.TypedEvent(1L, ts(2), 4L, "c"),
        StreamOps.TypedEvent(2L, ts(1), 5L, "y"))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      val got = spark.table("trans").as[StreamOps.Transition].collect()
        .map(t => (t.src, t.dst)).sorted.toSeq
      assert(got == Seq(("a", "b"), ("b", "c"), ("x", "y")))
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS trans")
    }
  }

  test("a stateTtl registers processing-time eviction without changing in-order results") {
    // CAUTION: under ProcessingTimeTimeout the engine NEVER quiesces — with
    // timeouts registered it must keep running (empty) batches so they can
    // fire without new data, so processAllAvailable hangs and AvailableNow
    // never terminates. Poll the sink for the expected rows instead.
    import org.apache.spark.sql.streaming.Trigger
    val d = deleteAtExit(Files.createTempDirectory("trans-ttl"))
    Seq(
      StreamOps.TypedEvent(1L, ts(0), 1L, "a"),
      StreamOps.TypedEvent(1L, ts(1), 2L, "b"))
      .toDF().write.mode("overwrite").parquet(d.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(d.toString).schema)
      .parquet(d.toString)
    // generous TTL: pins the ProcessingTimeTimeout path end-to-end
    // (setTimeoutDuration is illegal under NoTimeout and would throw);
    // actual eviction timing belongs to the state store, not this test
    val q = StreamOps.transitions(spark, stream.as[StreamOps.TypedEvent], stateTtl = Some("1 hour"))
      .writeStream.outputMode("append").format("memory").queryName("trans_ttl")
      .trigger(Trigger.ProcessingTime("500 milliseconds")).start()
    def awaitRows(expect: Seq[(String, String)]): Unit = {
      val deadline = System.currentTimeMillis() + 120000
      def current() = spark.table("trans_ttl").as[StreamOps.Transition].collect()
        .map(t => (t.src, t.dst)).sorted.toSeq
      while (System.currentTimeMillis() < deadline && current() != expect) Thread.sleep(200)
      assert(current() == expect)
    }
    try {
      awaitRows(Seq(("a", "b")))
      Seq(StreamOps.TypedEvent(1L, ts(2), 3L, "c"))
        .toDF().write.mode("append").parquet(d.toString)
      // the cross-batch b->c transition proves state carries with the TTL on
      awaitRows(Seq(("a", "b"), ("b", "c")))
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS trans_ttl")
    }
  }

  test("event-time TTL: gap rule filters output, quiet state evicts, late data drops") {
    import scala.concurrent.duration._
    val d = deleteAtExit(Files.createTempDirectory("trans-evttl"))
    // batch 1 — user 1: a@0 -> b@10 (gap 10 m <= TTL 30 m, emits); user 2: x@0
    Seq(
      StreamOps.TypedEvent(1L, ts(0), 1L, "a"),
      StreamOps.TypedEvent(1L, ts(10), 2L, "b"),
      StreamOps.TypedEvent(2L, ts(0), 3L, "x"))
      .toDF().write.mode("overwrite").parquet(d.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(d.toString).schema)
      .parquet(d.toString)
    val q = StreamOps
      .transitionsEventTtl(spark, stream.as[StreamOps.TypedEvent],
        ttl = 30.minutes, watermarkDelay = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("trans_ev").start()
    def rows() = spark.table("trans_ev").as[StreamOps.Transition].collect()
      .map(t => (t.src, t.dst)).sorted.toSeq
    try {
      q.processAllAvailable()
      assert(rows() == Seq(("a", "b")))
      // batch 2 — user 1: c@100 (gap 90 m > TTL: NO b->c even though the
      // state may not have evicted yet — the gap rule guards emission);
      // user 2: y@5 (gap 5 m: x->y); user 3: z@3000 pushes the watermark
      // ~2990 m, far past users 1/2's (lastTs + TTL) timeouts
      Seq(
        StreamOps.TypedEvent(1L, ts(100), 4L, "c"),
        StreamOps.TypedEvent(2L, ts(5), 5L, "y"),
        StreamOps.TypedEvent(3L, ts(3000), 6L, "z"))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      assert(rows() == Seq(("a", "b"), ("x", "y")))
      // eviction is observable in the state-store metrics: after the
      // watermark-advance batch, only user 3's chain may remain
      val lastTotal = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      assert(lastTotal.exists(_ <= 1),
        s"expected TTL eviction to shrink state to <= 1 user, got $lastTotal " +
          "(users 1/2 should be gone)")
      // batch 3 — a LATE event for user 3 (ts far below the watermark):
      // dropped by the engine; were it processed, the fold would emit a
      // bogus z->w (negative gap passes the <= TTL check)
      Seq(StreamOps.TypedEvent(3L, ts(1000), 7L, "w"))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      assert(rows() == Seq(("a", "b"), ("x", "y")))
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS trans_ev")
    }
  }

  test("event-time TTL: a cross-batch out-of-order straggler neither emits nor regresses state") {
    import scala.concurrent.duration._
    val d = deleteAtExit(Files.createTempDirectory("trans-ooo"))
    // batch 1 — user 1: a@60 (state now at 60)
    Seq(StreamOps.TypedEvent(1L, ts(60), 1L, "a"))
      .toDF().write.mode("overwrite").parquet(d.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(d.toString).schema)
      .parquet(d.toString)
    // generous watermark: the straggler below is NOT late-droppable — the
    // operator itself must handle it
    val q = StreamOps
      .transitionsEventTtl(spark, stream.as[StreamOps.TypedEvent],
        ttl = 2.hours, watermarkDelay = "10 days")
      .writeStream.outputMode("append").format("memory").queryName("trans_ooo").start()
    def rows() = spark.table("trans_ooo").as[StreamOps.Transition].collect()
      .map(t => (t.src, t.dst)).sorted.toSeq
    try {
      q.processAllAvailable()
      // batch 2 — b@30 arrives AFTER a@60 but carries an earlier event
      // time: folding it would emit a bogus negative-gap (a -> b) the batch
      // lead()-window oracle never produces, and would move state back to 30
      Seq(StreamOps.TypedEvent(1L, ts(30), 2L, "b"))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      assert(rows() == Seq.empty, "stale straggler must not emit")
      // batch 3 — c@90: chains from a@60 (gap 30 m), NOT from the stale b@30
      Seq(StreamOps.TypedEvent(1L, ts(90), 3L, "c"))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      assert(rows() == Seq(("a", "c")), "state must still sit at the newest event")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS trans_ooo")
    }
  }

  test("within-batch events fold in (ts, event_id) order, not arrival order") {
    val d = deleteAtExit(Files.createTempDirectory("trans-order"))
    // same timestamp: event_id breaks the tie; rows written out of order
    Seq(
      StreamOps.TypedEvent(7L, ts(1), 12L, "late"),
      StreamOps.TypedEvent(7L, ts(0), 10L, "first"),
      StreamOps.TypedEvent(7L, ts(1), 11L, "mid"))
      .toDF().coalesce(1).write.mode("overwrite").parquet(d.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(d.toString).schema)
      .parquet(d.toString)
    val q = StreamOps.transitions(spark, stream.as[StreamOps.TypedEvent])
      .writeStream.outputMode("append").format("memory").queryName("trans2").start()
    try {
      q.processAllAvailable()
      val got = spark.table("trans2").as[StreamOps.Transition].collect()
        .map(t => (t.src, t.dst)).toSeq.sorted
      assert(got == Seq(("first", "mid"), ("mid", "late")))
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS trans2")
    }
  }
}
