package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expressions of the engine's window operators
  * (SURVEY.md §2.10 / §7.2 phase E): the same computations the batch queries
  * declare, over an unbounded `events` stream.
  *
  * The sketch tier has no streaming copies: each sketch's batch builder
  * (`CountMin.sketch`, `HyperLogLog.cells`, `QuantileSketch.cells`,
  * `Kmv.bufs`, `WeightedSample.bufs`, `AdaptiveHist.bufs`, `Bloom.cells`,
  * `Drift.embeddingCells`) is one DataFrame plan that runs as a running
  * aggregation on a stream (complete mode) and per event-time window under
  * [[windowed]] (append mode).
  */
object StreamOps {

  /** Tumbling-window counts/averages per event type with a watermark: the
    * streaming form of the daily aggregation behind q04/q06. `complete`
    * output in tests; on a real stream use append + watermark-closed windows.
    */
  def windowedTypeStats(events: DataFrame, window_ : String = "1 day", watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("avg_value"))

  /** Sliding-window per-type counts: each event lands in window_/slide
    * windows (epoch-aligned). Same watermarked stateful-agg machinery as
    * the tumbling form above, multiplied state ∝ window_/slide.
    */
  def slidingTypeCounts(
      events: DataFrame,
      window_ : String = "7 days",
      slide: String = "1 day",
      watermark: String = "7 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  case class Event(user_id: Long, ts: Timestamp, event_id: Long)
  case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)
  case class SessionState(lastTs: Long, sessions: Long, events: Long)

  /** Stateful sessionization via flatMapGroupsWithState — the streaming
    * equivalent of the batch q24 (gap > `gapSeconds` starts a session).
    * Within a micro-batch the group's events are sorted by (ts, event_id);
    * state carries (last event time, session count) across batches.
    *
    * BOUNDED-REPLAY FORM ONLY: per-user state under NoTimeout grows with
    * the number of distinct users ever seen — the Update-mode running
    * totals (n_sessions/n_events since the beginning of time) require
    * exactly that unbounded memory. The production operator is
    * [[sessionizeEventTtl]], which emits per-SESSION rows in append mode
    * and evicts each user's state one gap after their last event — for
    * sessionization that eviction is LOSSLESS (see its contract), so
    * unbounded state buys nothing but the running-total output shape.
    */
  def sessionize(spark: SparkSession, events: Dataset[Event], gapSeconds: Long): Dataset[SessionSummary] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toVector.sortBy(e => (e.ts.getTime, e.event_id))
          var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val t = e.ts.getTime
            val newSession = s.lastTs == Long.MinValue || (t - s.lastTs) > gapSeconds * 1000
            s = SessionState(t, s.sessions + (if (newSession) 1 else 0), s.events + 1)
          }
          state.update(s)
          Iterator(SessionSummary(userId, s.sessions, s.events))
      }
  }

  case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)
  case class OpenSession(start: Timestamp, last: Timestamp, lastId: Long, n: Long)

  /** Event-time μs of a Timestamp: getTime() floors to ms, so sub-ms
    * precision (the testdata ships μs-precision events) must come from the
    * nanos field — ordering/gap arithmetic at anything coarser than the
    * data's own precision silently disagrees with a batch min/max(ts)
    * oracle on same-ms ties.
    */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /** EVENT-TIME-TTL'd sessionization — the PRODUCTION form of
    * [[sessionize]] for an unbounded user key space (the q24/q28 family's
    * 100-TB shape). Emits one append-mode row per CLOSED session
    * (user_id, session_start, session_end, n_events); a session closes when
    *
    *  - a later event of the same user arrives with gap > `gapSeconds`
    *    (enforced INSIDE the fold), or
    *  - the event-time watermark passes lastTs + gap and the state-store
    *    timeout flushes it (EventTimeTimeout; per-user state is REMOVED,
    *    so a quiet user costs nothing after one gap).
    *
    * Unlike [[transitionsEventTtl]] — where the TTL intentionally DROPS
    * pairs spanning a quiet gap — this eviction is LOSSLESS: once the
    * watermark passes lastTs + gap, every event the engine will still
    * accept (ts ≥ watermark) necessarily starts a NEW session under the
    * same gap rule, so flushing the old session early can never change
    * which sessions exist or their contents. Output is therefore a pure
    * function of the events plus the final watermark (which only gates
    * WHICH trailing sessions have flushed yet), and a replay value-checks
    * against the batch lag()-window sessionization (q236): a session
    * appears iff it is followed by a later same-user session, or
    * floor-ms(session_end) + gap·1000 < floor-ms(max ts) − watermarkDelay
    * (the engine's ms-granularity watermark/timeout arithmetic, mirrored
    * exactly in the oracle via epoch_ms).
    *
    * Gap comparisons inside the fold run on integer MICROSECONDS (strict
    * `>`, matching the batch `epoch(ts − prev) > gap` predicate exactly);
    * the stale-straggler guard of [[transitionsEventTtl]] applies verbatim:
    * a cross-batch arrival at or before the user's state (μs, event_id) is
    * skipped — no emission, no state regression — so disorder within the
    * watermark costs at most that event's own membership, never a
    * corrupted session chain.
    */
  def sessionizeEventTtl(
      spark: SparkSession,
      events: Dataset[Event],
      gapSeconds: Long,
      watermarkDelay: String): Dataset[Session] = {
    import spark.implicits._
    require(gapSeconds > 0, s"gapSeconds must be positive: $gapSeconds")
    val gapUs = gapSeconds * 1000000L
    val gapMs = gapSeconds * 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start, s.last, s.n))
          } else {
            val sorted = it.toVector.sortBy(e => (micros(e.ts), e.event_id))
            val out = Vector.newBuilder[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case None =>
                  cur = Some(OpenSession(e.ts, e.ts, e.event_id, 1L))
                case Some(s) =>
                  val last = micros(s.last)
                  // stale cross-batch straggler: skip (see header)
                  if (!(t < last || (t == last && e.event_id <= s.lastId))) {
                    if (t - last > gapUs) {
                      out += Session(userId, s.start, s.last, s.n)
                      cur = Some(OpenSession(e.ts, e.ts, e.event_id, 1L))
                    } else {
                      cur = Some(OpenSession(s.start, e.ts, e.event_id, s.n + 1))
                    }
                  }
              }
            }
            cur.foreach { s =>
              val wm = state.getCurrentWatermarkMs()
              if (s.last.getTime + gapMs < wm) {
                // the open session is ALREADY gap-expired against the current
                // watermark — possible when the only arrivals this batch were
                // skipped stale stragglers, so the fold never closed it but
                // its timeout would have fired this very trigger. Emit now
                // and drop state: re-arming at wm+1 would strand the session
                // forever if the watermark never advances again, diverging
                // from the "pure function of events + final watermark"
                // contract (q236's oracle closure predicate).
                if (state.exists) state.remove()
                out += Session(userId, s.start, s.last, s.n)
              } else {
                state.update(s)
                // timeout must land strictly beyond the current watermark; a
                // session already past its gap flushes next trigger
                state.setTimeoutTimestamp(
                  math.max(s.last.getTime + gapMs, wm + 1))
              }
            }
            out.result().iterator
          }
      }
  }

  /** Streaming exact dedup — the streaming leg of the LLM dedup suite: drop
    * any row whose content digest has been seen before, emitting the FIRST
    * occurrence (append mode). State holds one digest per distinct row,
    * expired by the watermark: duplicates are recognized only within the
    * watermark horizon — the standard bounded-state trade for an unbounded
    * stream (exact global dedup of an infinite stream needs infinite state).
    * At scale the state is ~32 B per distinct key in the horizon, sharded by
    * digest across executors.
    */
  def dedupByDigest(
      events: DataFrame,
      digest: org.apache.spark.sql.Column,
      tsCol: String,
      watermark: String): DataFrame =
    events
      .withColumn("_digest", digest)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_digest")
      .drop("_digest")

  /** Stream-static enrichment join: each micro-batch joins against a static
    * dimension snapshot — the streaming leg of the star join (J1). The
    * static side is explicitly broadcast: a dimension small enough to
    * snapshot per batch is small enough to ship to every executor, and the
    * alternative (shuffling every micro-batch on the join key) adds a
    * per-batch exchange on the unbounded side. Inner stream-static joins are
    * stateless — no watermark needed.
    */
  def enrich(stream: DataFrame, dim: DataFrame, joinExpr: org.apache.spark.sql.Column): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), joinExpr)

  /** Stream-stream inner interval join (the J-family × phase E): each left
    * row pairs with right rows of the same key whose event time falls in
    * [leftTs − before, leftTs]. Both sides carry watermarks AND the join
    * condition bounds the two event times against each other — together
    * they let Spark expire join state (a right row is dropped once the
    * left watermark passes rightTs + before), so state stays bounded on an
    * unbounded stream. Append-mode only, per the stream-stream contract.
    *
    * `before` is a SQL interval literal body, e.g. "1 hour".
    */
  def intervalJoin(
      left: DataFrame,
      leftKey: String,
      leftTs: String,
      right: DataFrame,
      rightKey: String,
      rightTs: String,
      before: String,
      watermark: String): DataFrame =
    left
      .withWatermark(leftTs, watermark)
      .join(
        right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
          col(rightTs) <= col(leftTs))

  /** Per-user event-type transitions as a stateful streaming operator: the
    * streaming form of the batch lead()-window transition counting (q208).
    * State carries the last event (time, id, type) per user across
    * micro-batches; each batch's group slice is sorted by (ts, event_id)
    * before folding, so with in-order arrival the emitted (src, dst) pairs
    * equal the batch window exactly. State is O(1) per user, sharded by
    * user key — the bounded-state analog of the batch shuffle.
    */
  case class TypedEvent(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)
  case class Transition(src: String, dst: String)
  case class TransState(lastTs: Long, lastId: Long, lastType: String)

  def transitions(
      spark: SparkSession,
      events: Dataset[TypedEvent],
      stateTtl: Option[String] = None): Dataset[Transition] = {
    import spark.implicits._
    // Production contract: pass a TTL ("30 minutes") so per-user state is
    // EVICTED once a user goes quiet — on an unbounded user key space,
    // NoTimeout grows the state store forever. The bounded replay harness
    // (and the batch-oracle equivalence) keeps the NoTimeout default: an
    // evicted user's next event starts a fresh chain, so a TTL'd stream
    // intentionally drops the transition that spans the quiet gap.
    val timeout = stateTtl
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (_: Long, it: Iterator[TypedEvent], state: GroupState[TransState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toVector.sortBy(e => (e.ts.getTime, e.event_id))
            var prev = state.getOption
            val out = Vector.newBuilder[Transition]
            sorted.foreach { e =>
              prev.foreach(p => out += Transition(p.lastType, e.event_type))
              prev = Some(TransState(e.ts.getTime, e.event_id, e.event_type))
            }
            prev.foreach(state.update)
            stateTtl.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  /** EVENT-TIME-TTL'd transitions — the production form of [[transitions]]
    * for an unbounded user key space: a (src → dst) pair is emitted iff dst
    * follows src for the user AND dst.ts − src.ts ≤ `ttl`; per-user state is
    * EVICTED by the state store once the event-time watermark passes
    * lastTs + ttl (EventTimeTimeout), so a user who goes quiet costs nothing
    * after one TTL. The gap rule is ALSO enforced inside the fold, which
    * makes the OUTPUT a pure function of the event data — independent of
    * micro-batch boundaries and of exactly when eviction fires (eviction may
    * lag the watermark by a trigger; an un-evicted quiet chain still never
    * emits a spanning pair). That purity is what lets a replay value-check
    * against a batch lead()-window oracle (q232) while keeping state
    * bounded. Events later than the watermark are dropped by the engine
    * before the operator (standard late-data filtering).
    *
    * Out-of-order arrivals WITHIN the watermark: inside one micro-batch the
    * fold sorts by (ts, event_id), so disorder there is invisible; an event
    * that arrives in a LATER batch but carries an event time at or before
    * the user's current state is STALE — it is skipped (no emission, no
    * state regression), never folded as a bogus negative-gap transition.
    * The purity contract is therefore: output equals the batch gap-filtered
    * lead() window whenever cross-batch arrival respects per-user (ts, id)
    * order; a cross-batch straggler costs at most its own two adjacent
    * pairs, and can never fabricate a pair the oracle lacks or corrupt
    * later chains by moving state backwards.
    */
  def transitionsEventTtl(
      spark: SparkSession,
      events: Dataset[TypedEvent],
      ttl: scala.concurrent.duration.FiniteDuration,
      watermarkDelay: String): Dataset[Transition] = {
    import spark.implicits._
    val ttlMs = ttl.toMillis
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[TypedEvent], state: GroupState[TransState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toVector.sortBy(e => (e.ts.getTime, e.event_id))
            var prev = state.getOption
            val out = Vector.newBuilder[Transition]
            sorted.foreach { e =>
              // stale cross-batch straggler (event time not after the
              // state's): skip — folding it would emit a negative-gap pair
              // the batch oracle never produces and regress state to an
              // older event, corrupting every later gap in the chain
              val stale = prev.exists(p =>
                e.ts.getTime < p.lastTs ||
                  (e.ts.getTime == p.lastTs && e.event_id <= p.lastId))
              if (!stale) {
                prev.foreach { p =>
                  if (e.ts.getTime - p.lastTs <= ttlMs)
                    out += Transition(p.lastType, e.event_type)
                }
                prev = Some(TransState(e.ts.getTime, e.event_id, e.event_type))
              }
            }
            prev.foreach { p =>
              state.update(p)
              // the engine requires a timeout strictly beyond the current
              // watermark; a chain already past its TTL evicts next trigger
              state.setTimeoutTimestamp(
                math.max(p.lastTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** The sketch × event-time-window composition: `cells` is any sketch's
    * batch builder, and this runs it per tumbling window over a watermarked
    * stream in append mode. The stream gets `withWatermark("ts", watermark)`
    * and a reserved group column `_win = window(ts, window_)`; `cells`
    * receives it as `Seq("_win")` and must group by it on top of its own
    * groups. The window column carries the watermark into the aggregate, so
    * a window closes once the watermark passes its end and its state is
    * evicted: state is (open windows) × the builder's own bound. The output
    * is the builder's, with `_win` replaced by a leading `ws` = window
    * start. The builder's hashing, binning and parameter checks are the
    * batch ones, and a drained window equals the batch build over that
    * window's rows, so every batch read-off (estimate, quantiles,
    * explodeBufs, positiveItems, the Drift scores) applies per `ws`:
    * {{{
    *   StreamOps.windowed(events)((df, g) =>
    *     HyperLogLog.cells(df, col("user_id").cast("string"), p = 9, g))
    * }}}
    * A running sketch (one state per group that lives as long as the
    * stream, complete mode) needs no combinator: the batch builder runs
    * unchanged on the stream.
    */
  def windowed(stream: DataFrame, window_ : String = "1 day", watermark: String = "1 hour")(
      cells: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    require(!stream.columns.contains("_win"),
      "windowed reserves the column _win as its window key: rename it")
    val out = cells(
      stream.withWatermark("ts", watermark).withColumn("_win", window(col("ts"), window_)),
      Seq("_win"))
    out.select(col("_win.start").as("ws") +: out.columns.filter(_ != "_win").map(col): _*)
  }

  /** Streaming trend detection (the VEG adjacent-period comparison as a
    * stateful operator): per (event_type) group, compare each micro-batch's
    * day-average against the previous day's retained in state and emit
    * up/down/flat transitions.
    */
  case class DayStat(event_type: String, day: java.sql.Date, avg_value: Double)
  case class Trend(event_type: String, day: java.sql.Date, trend: String)
  case class TrendState(lastDay: Long, lastAvg: Double)

  def trendDetect(spark: SparkSession, days: Dataset[DayStat], band: Double = 0.05): Dataset[Trend] = {
    import spark.implicits._
    days
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[DayStat], state: GroupState[TrendState]) =>
          val sorted = it.toVector.sortBy(_.day.getTime)
          val out = Vector.newBuilder[Trend]
          var s = state.getOption.orNull
          sorted.foreach { d =>
            if (s != null) {
              val label =
                if (d.avg_value > s.lastAvg * (1 + band)) "up"
                else if (d.avg_value < s.lastAvg * (1 - band)) "down"
                else "flat"
              out += Trend(key, d.day, label)
            }
            s = TrendState(d.day.getTime, d.avg_value)
          }
          if (s != null) state.update(s)
          out.result().iterator
      }
  }
}
