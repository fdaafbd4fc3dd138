package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Shared._

/** Structured Streaming over the replayed event log: windowed counts,
  * sessions, dedup, joins and stateful transitions. */
object StreamingQueries extends Family {

  // q27 — Structured Streaming windowed aggregation (phase E, oracle-checked):
  // tumbling 1-day windows × event_type over the replayed events stream must
  // equal the batch group-by the oracle computes.
  private def streamDailyCounts(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.windowedTypeStats(ev)
    }
      .select(
        to_date(col("window_start")).as("d"),
        col("event_type"),
        col("n"),
        rnd(col("avg_value"), 4).as("avg_value"))
      .orderBy(col("d"), col("event_type"))
  query("q27_stream_daily_counts", streamDailyCounts,
      """SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n,
        |  round(avg(value) + 1e-9, 4) AS avg_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY d, event_type""".stripMargin,
    barSec = 1.979)

  // q28 — stateful streaming sessionization via flatMapGroupsWithState
  // (phase E, oracle-checked): must equal the batch q24 pipeline.
  private def streamSessions(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "update") { ev =>
      import s.implicits._
      graft.streaming.StreamOps
        .sessionize(s, ev.select(col("user_id"), col("ts"), col("event_id"))
          .as[graft.streaming.StreamOps.Event], gapSeconds = 1800)
        .toDF()
    }.orderBy(col("user_id"))
  query("q28_stream_sessions", streamSessions,
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), flagged AS (
        |  SELECT user_id,
        |    CASE WHEN prev IS NULL OR epoch(ts - prev) > 1800.0 THEN 1 ELSE 0 END AS brk
        |  FROM lagged
        |)
        |SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM flagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    barSec = 1.765)

  // q43 — streaming exact dedup (dedup suite × phase E, oracle-checked):
  // replay events as a stream, drop content-duplicate rows (digest of
  // user_id|event_type|props — the synthetic corpus has ~6% true dups),
  // then summarize per type. Must equal the batch DISTINCT the oracle runs.
  private def streamDedup(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "append") { ev =>
      graft.streaming.StreamOps.dedupByDigest(
        ev,
        sha2(concat_ws("|", col("user_id"), col("event_type"), col("props")), 256),
        "ts",
        watermark = "365 days")
    }
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_unique"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  query("q43_stream_dedup", streamDedup,
      """WITH u AS (SELECT DISTINCT user_id, event_type, props FROM events)
        |SELECT event_type, count(*) AS n_unique,
        |  count(DISTINCT user_id) AS n_users
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,
    barSec = 3.358)

  // q48 — stream-static enrichment (phase E × J1): the replayed events
  // stream joins the static customer→nation dimension (broadcast — no
  // per-batch shuffle of the unbounded side) and aggregates per nation.
  // Must equal the batch 3-way join the oracle runs. The value sum rides
  // decimals on both sides: float summation order across micro-batches is
  // not deterministic enough for 4-decimal rounding.
  private def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
      .join(
        t(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.enrich(ev, dim, col("user_id") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("_tv"))
    }
      .select(
        col("n_name"),
        col("n_events"),
        round(col("_tv"), 4).cast("double").as("total_value"))
      .orderBy(col("n_name"))
  }
  query("q48_stream_enrich", streamEnrich,
      """SELECT n.n_name, count(*) AS n_events,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,
    barSec = 2.277)

  // q56 — stream-stream interval self-join (phase E, oracle-checked): each
  // purchase pairs with the same user's clicks in the preceding hour,
  // watermarks on both sides bounding the join state. The per-purchase
  // tally aggregates the DRAINED sink table (batch side); the join itself
  // runs inside the stream and must equal the batch join the oracle runs.
  private def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val pairs = replayStream(s, dir, "append") { ev =>
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      graft.streaming.StreamOps.intervalJoin(
        purchases, "p_user", "p_ts", clicks, "c_user", "c_ts",
        before = "1 hour", watermark = "1 day")
    }
    pairs
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_clicks"), max(col("c_id")).as("last_click_id"))
      .orderBy(col("p_id"))
  }
  query("q56_stream_join", streamJoin,
      """WITH p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts, event_id
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts, event_id
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT p.event_id AS p_id, count(*) AS n_clicks,
        |  max(c.event_id) AS last_click_id
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        |  AND c.c_ts <= p.p_ts
        |GROUP BY p.event_id
        |ORDER BY p_id""".stripMargin,
    barSec = 3.410)

  // q64 — sliding-window streaming counts (phase E): 7-day windows sliding
  // 1 day over the replayed event stream, counts per (window, type). Each
  // event lands in exactly 7 windows (epoch-aligned UTC midnights — same
  // boundaries the oracle derives as date - k for k in 0..6). Complements
  // q27's tumbling windows; same watermarked stateful-agg machinery.
  private def streamSliding(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "complete") { ev =>
      graft.streaming.StreamOps.slidingTypeCounts(ev, "7 days", "1 day", "7 days")
    }
      .select(to_date(col("window_start")).as("window_day"), col("event_type"), col("n"))
      .orderBy(col("window_day"), col("event_type"))
  query("q64_stream_sliding", streamSliding,
      """SELECT CAST(ts AS DATE) - CAST(k AS INT) AS window_day, event_type,
        |  count(*) AS n
        |FROM events, range(0, 7) t(k)
        |GROUP BY 1, 2
        |ORDER BY window_day, event_type""".stripMargin,
    barSec = 0.909)

  // q67 — streaming trend detection (phase E: the VEG adjacent-period
  // comparison in streaming form, previously test-only): per-type daily
  // avg-value stats replayed as a stream through the
  // flatMapGroupsWithState trend labeler (state = last day's avg per
  // type). The upstream daily aggregation runs as its own batch stage —
  // the standard pipeline split, since chaining agg→fMGWS inside one
  // streaming query is restricted. Labels (±5% band, emitted at the
  // TO-day) must equal the batch lag-window labeling the oracle runs.
  private def streamTrends(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg(col("value")).as("avg_value"))
    replayFrame(s, daily, "update") { (ss, stream) =>
      import ss.implicits._
      graft.streaming.StreamOps
        .trendDetect(ss, stream.as[graft.streaming.StreamOps.DayStat])
        .toDF()
    }
      .select(col("day"), col("event_type"), col("trend"))
      .orderBy(col("day"), col("event_type"))
  }
  query("q67_stream_trends", streamTrends,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), lagged AS (
        |  SELECT event_type, day, v,
        |    lag(v) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM daily
        |)
        |SELECT day, event_type,
        |  CASE WHEN v > prev * 1.05 THEN 'up'
        |       WHEN v < prev * 0.95 THEN 'down'
        |       ELSE 'flat' END AS trend
        |FROM lagged WHERE prev IS NOT NULL
        |ORDER BY day, event_type""".stripMargin,
    barSec = 1.382)

  // q81 — CHAINED stateful streaming (Spark 3.5+ multi-stateful support):
  // exactly-once dedup → daily windowed counts in ONE streaming query (no
  // intermediate sink between the two state stores). The input is the
  // event stream UNIONED WITH ITSELF, so the dedup stage is load-bearing —
  // without it every count would double. Append mode emits only windows
  // the watermark (max event time − 1 h) has closed; the oracle applies
  // the same closure predicate arithmetically. Complements q43 (dedup
  // alone) and q27 (windowed agg alone).
  private def streamDedupCounts(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "append") { ev =>
      ev.unionByName(ev)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(Seq("event_id"))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
    }
      .select(to_date(col("ws")).as("day"), col("event_type"), col("n"))
      .orderBy(col("day"), col("event_type"))
  query("q81_stream_dedup_counts", streamDedupCounts,
      """WITH mx AS (
        |  SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events
        |), daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT day, event_type, n
        |FROM daily, mx
        |WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
        |ORDER BY day, event_type""".stripMargin,
    barSec = 2.217)

  // q157 — streaming hourly peak detection: hour-windowed counts
  // accumulate in complete mode (day×24-bounded state), then the per-day
  // argmax hour (count ties → earliest hour) lands as a batch post-step on
  // the replay result — the "what hour peaked" operational readout, equal
  // by construction to the batch hourly profile the oracle computes.
  private def streamHourlyPeak(s: SparkSession, dir: String): DataFrame = {
    val hourly = replayStream(s, dir, "complete") { ev =>
      ev.groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
    }
    val w = Window.partitionBy(col("day")).orderBy(col("n").desc, col("peak_hour"))
    hourly
      .select(to_date(col("ws")).as("day"), hour(col("ws")).as("peak_hour"), col("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("day"), col("peak_hour"), col("n").as("n_events"))
      .orderBy(col("day"))
  }
  query("q157_stream_hourly_peak", streamHourlyPeak,
      """WITH hourly AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS peak_hour,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT day, peak_hour, n,
        |    row_number() OVER (PARTITION BY day ORDER BY n DESC, peak_hour)
        |      AS rk
        |  FROM hourly
        |)
        |SELECT day, peak_hour, n AS n_events FROM ranked
        |WHERE rk = 1 ORDER BY day""".stripMargin,
    barSec = 1.200)

  // q158 — streaming first-seen user acquisition: per-user min timestamp
  // accumulates in complete mode (user-bounded state — the deterministic
  // twin of arrival-order dropDuplicates, which a single-batch replay
  // would leave unspecified), then daily new-user counts — the streaming
  // face of q77's batch acquisition curve.
  private def streamNewUsers(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "complete") { ev =>
      ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    }
      .groupBy(to_date(col("first_ts")).as("day"))
      .agg(count(lit(1)).as("new_users"))
      .orderBy(col("day"))
  query("q158_stream_new_users", streamNewUsers,
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_ts
        |  FROM events GROUP BY 1
        |)
        |SELECT CAST(first_ts AS DATE) AS day, count(*) AS new_users
        |FROM f GROUP BY 1 ORDER BY day""".stripMargin,
    barSec = 1.210)

  // q211 — the q208 transition counts as a STATEFUL STREAMING query:
  // flatMapGroupsWithState carries each user's last event across
  // micro-batches (O(1) state per user, sharded by key), emitted pairs
  // aggregated after the drain; oracle = the batch lead() counts exactly.
  private def streamTransitions(s: SparkSession, dir: String): DataFrame = {
    val sink = replayStream(s, dir, "append") { raw =>
      val ss = raw.sparkSession
      import ss.implicits._
      graft.streaming.StreamOps
        .transitions(ss, raw
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .as[graft.streaming.StreamOps.TypedEvent])
        .toDF()
    }
    sink.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      .orderBy(col("src"), col("dst"))
  }
  query("q211_stream_transitions", streamTransitions,
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events
        |)
        |SELECT src, dst, count(*) AS c FROM seq WHERE dst IS NOT NULL
        |GROUP BY src, dst ORDER BY src, dst""".stripMargin,
    barSec = 2.340)

  // q232 — q211's stateful transition stream under a PRODUCTION state
  // budget: event-time TTL (4 h) evicts quiet users' state once the
  // watermark passes, and the same gap rule filters emissions, so the
  // output is a pure function of the events — the batch lead()-window
  // oracle with a gap predicate checks it value-exactly. Median per-user
  // gap in `events` is ~7 h, so the TTL genuinely drops about half the
  // q211 transitions (the query would be vacuous at a gap-free TTL).
  private def streamTtlTransitions(s: SparkSession, dir: String): DataFrame = {
    import scala.concurrent.duration._
    val sink = replayStream(s, dir, "append") { raw =>
      val ss = raw.sparkSession
      import ss.implicits._
      graft.streaming.StreamOps
        .transitionsEventTtl(ss, raw
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .as[graft.streaming.StreamOps.TypedEvent],
          ttl = 4.hours, watermarkDelay = "1 day")
        .toDF()
    }
    sink.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      .orderBy(col("src"), col("dst"))
  }
  query("q232_stream_ttl_transitions", streamTtlTransitions,
    // q232: q211's transition counts restricted to gaps <= the 4 h TTL —
    // the TTL'd stream must equal the batch window with the gap predicate
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER w AS dst,
        |    lead(ts) OVER w AS dst_ts, ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT src, dst, count(*) AS c FROM seq
        |WHERE dst IS NOT NULL AND dst_ts <= ts + INTERVAL 4 HOUR
        |GROUP BY src, dst ORDER BY src, dst""".stripMargin,
    // event-time-TTL transition replay (first declared r6; replay harness
    // cost tracks q211's 2.34 s almost exactly — the TTL adds no stages)
    barSec = 2.350)

  // q236 — q24's sessionization under a PRODUCTION state budget (the q28
  // family's 100-TB form): TTL'd stateful sessionize emits one row per
  // CLOSED session and evicts per-user state one gap after the last event
  // — for sessionization that eviction is lossless (sessionizeEventTtl's
  // contract), so the replay value-checks against the batch lag()-window
  // oracle restricted to sessions that have closed: followed by a later
  // session, or past the final watermark's ms-floor timeout rule.
  private def streamTtlSessions(s: SparkSession, dir: String): DataFrame =
    replayStream(s, dir, "append") { raw =>
      val ss = raw.sparkSession
      import ss.implicits._
      graft.streaming.StreamOps
        .sessionizeEventTtl(ss, raw
          .select(col("user_id"), col("ts"), col("event_id"))
          .as[graft.streaming.StreamOps.Event],
          gapSeconds = 1800, watermarkDelay = "1 day")
        .toDF()
    }.orderBy(col("user_id"), col("session_start"))
  query("q236_stream_ttl_sessions", streamTtlSessions,
    // q236: batch sessionization (q24's lag/gap pipeline, integer-μs gap
    // compare matching the fold exactly) restricted to CLOSED sessions —
    // followed by a later same-user session, or flushed by the event-time
    // timeout: the engine's watermark/timeout arithmetic runs at ms
    // granularity (floor), mirrored via epoch_ms
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL
        |      OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM lagged
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |), grouped AS (
        |  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
        |    count(*) AS n_events
        |  FROM sess GROUP BY user_id, sid
        |), marked AS (
        |  SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid FROM grouped
        |), wm AS (
        |  SELECT epoch_ms(max(ts)) - 86400000 AS w FROM events
        |)
        |SELECT user_id, session_start, session_end, n_events
        |FROM marked, wm
        |WHERE sid < max_sid OR epoch_ms(session_end) + 1800000 < w
        |ORDER BY user_id, session_start""".stripMargin,
    // round-7 additions (r7 sf0.1 measurements, BASELINE.md §3f)
    barSec = 1.950)
}
