package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Shared.deleteAtExit

/** StreamOps.sessionizeEventTtl: append-mode closed-session rows with
  * per-user state evicted one gap after the last event — the production
  * (bounded-state) form of the q24/q28 sessionization family. The TTL here
  * is LOSSLESS (an evicted session could never have been extended by any
  * event the watermark still admits), so output must equal the batch
  * lag()-window sessionization on every closed session, across micro-batch
  * boundaries and disorder.
  */
class SessionizeTtlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  private def start(dir: java.nio.file.Path, name: String, gapMin: Int, wmDelay: String) = {
    val stream = spark.readStream
      .schema(spark.read.parquet(dir.toString).schema)
      .parquet(dir.toString)
    StreamOps
      .sessionizeEventTtl(spark, stream.as[StreamOps.Event],
        gapSeconds = gapMin * 60L, watermarkDelay = wmDelay)
      .writeStream.outputMode("append").format("memory").queryName(name).start()
  }

  private def rows(name: String): Seq[(Long, Long, Long, Long)] =
    spark.table(name).as[StreamOps.Session].collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events))
      .sorted.toSeq

  test("sessions close across micro-batches: gap rule in-fold, timeout flushes the quiet tail") {
    val d = deleteAtExit(Files.createTempDirectory("sess-ttl"))
    // batch 1 — user 1: events at 0, 10 (one open session); user 2: at 5
    Seq(
      StreamOps.Event(1L, ts(0), 1L),
      StreamOps.Event(1L, ts(10), 2L),
      StreamOps.Event(2L, ts(5), 3L))
      .toDF().write.mode("overwrite").parquet(d.toString)
    val q = start(d, "sess1", gapMin = 30, wmDelay = "10 minutes")
    try {
      q.processAllAvailable()
      // nothing closed yet: no gap exceeded, watermark (10 − 10 = 0) not
      // past any lastTs + gap
      assert(rows("sess1") == Seq.empty)
      // batch 2 — user 1: event at 100 (gap 90 > 30: closes [0,10] IN-FOLD
      // even though user 1's state hasn't timed out); user 3: event at 200
      // pushes the watermark to 190, far past user 2's 5 + 30 timeout
      Seq(
        StreamOps.Event(1L, ts(100), 4L),
        StreamOps.Event(3L, ts(200), 5L))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      // user 1's first session closed by the gap rule; user 2's singleton
      // flushed by the event-time timeout; users 1 (at 100) and 3 (at 200)
      // still open — watermark 190 is not past 100+30? It IS (130 < 190):
      // user 1's second session times out too. User 3 (200+30 > 190) stays.
      assert(rows("sess1") == Seq(
        (1L, ts(0).getTime, ts(10).getTime, 2L),
        (1L, ts(100).getTime, ts(100).getTime, 1L),
        (2L, ts(5).getTime, ts(5).getTime, 1L)))
      // eviction is observable: only user 3's state may remain
      val lastTotal = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      assert(lastTotal.exists(_ <= 1),
        s"expected TTL eviction to shrink state to <= 1 user, got $lastTotal")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS sess1")
    }
  }

  test("output equals batch sessionization on closed sessions (multi-batch replay)") {
    val d = deleteAtExit(Files.createTempDirectory("sess-ttl-eq"))
    // two batches of interleaved users; final event at 500 sets the
    // watermark to 490 with a 10-minute delay, so every session whose
    // lastTs + 30 < 490 must flush — here, all of them
    Seq(
      StreamOps.Event(1L, ts(0), 1L),
      StreamOps.Event(2L, ts(3), 2L),
      StreamOps.Event(1L, ts(20), 3L),
      StreamOps.Event(2L, ts(8), 4L))
      .toDF().write.mode("overwrite").parquet(d.toString)
    val q = start(d, "sess_eq", gapMin = 30, wmDelay = "10 minutes")
    try {
      q.processAllAvailable()
      Seq(
        StreamOps.Event(1L, ts(60), 5L), // closes [0,20] (gap 40 > 30)
        StreamOps.Event(2L, ts(30), 6L), // extends [3,8] (gap 22 <= 30)
        StreamOps.Event(3L, ts(500), 7L))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      // batch semantics: user 1 → [0,20] (2 events) and [60,60]; user 2 →
      // [3,30] (3 events); user 3 → [500,500] still open (500+30 > 490)
      assert(rows("sess_eq") == Seq(
        (1L, ts(0).getTime, ts(20).getTime, 2L),
        (1L, ts(60).getTime, ts(60).getTime, 1L),
        (2L, ts(3).getTime, ts(30).getTime, 3L)))
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS sess_eq")
    }
  }

  test("a cross-batch out-of-order straggler neither emits nor regresses the open session") {
    val d = deleteAtExit(Files.createTempDirectory("sess-ooo"))
    // batch 1 — user 1 at 60 (state at 60)
    Seq(StreamOps.Event(1L, ts(60), 1L))
      .toDF().write.mode("overwrite").parquet(d.toString)
    // generous watermark: the straggler is NOT late-droppable — the
    // operator itself must skip it
    val q = start(d, "sess_ooo", gapMin = 30, wmDelay = "10 days")
    try {
      q.processAllAvailable()
      // batch 2 — a straggler at 30: folding it would regress state to 30,
      // and the next event would then measure its gap from the wrong end
      Seq(StreamOps.Event(1L, ts(30), 2L))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      assert(rows("sess_ooo") == Seq.empty, "stale straggler must not emit")
      // batch 3 — at 80: extends the session anchored at 60 (gap 20 <= 30);
      // had state regressed to 30, gap 50 would have split the session
      Seq(StreamOps.Event(1L, ts(80), 3L))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      // batch 4 — at 200 (gap 120 > 30): closes [60, 80] with 2 events —
      // the straggler contributed nothing
      Seq(StreamOps.Event(1L, ts(200), 4L))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      assert(rows("sess_ooo") == Seq((1L, ts(60).getTime, ts(80).getTime, 2L)))
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS sess_ooo")
    }
  }

  test("late events beyond the watermark are dropped by the engine, not sessionized") {
    val d = deleteAtExit(Files.createTempDirectory("sess-late"))
    Seq(StreamOps.Event(1L, ts(1000), 1L))
      .toDF().write.mode("overwrite").parquet(d.toString)
    val q = start(d, "sess_late", gapMin = 30, wmDelay = "10 minutes")
    try {
      q.processAllAvailable()
      // watermark is now 990; an event at 0 is far below it — dropped by
      // the engine's late-data filter before the operator ever sees it
      Seq(StreamOps.Event(2L, ts(0), 2L))
        .toDF().write.mode("append").parquet(d.toString)
      q.processAllAvailable()
      // a user-2 session [0,0] would flush instantly by timeout were the
      // late event admitted; user 1's open session (1000+30 > 990) is not
      // flushed either — so the sink must be empty
      assert(rows("sess_late") == Seq.empty)
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS sess_late")
    }
  }
}
