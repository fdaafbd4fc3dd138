package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Engine, TestSpark}
import graft.catalog.Shared.exitScopedDir

/** Streaming operators must agree with their batch counterparts when the
  * whole table is replayed through the stream (SURVEY.md §2.10).
  */
class StreamOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** events re-written as µs-timestamped parquet in a fresh dir (the ns
    * original needs the nanosAsLong conversion that file streams would see
    * as a long column).
    */
  private lazy val streamDir: String = {
    val d = exitScopedDir("events-stream")
    Engine.table(spark, TestSpark.Sf, "events").write.mode("overwrite").parquet(d)
    d
  }
  private lazy val batch = spark.read.parquet(streamDir)

  private def runStream(
      out: org.apache.spark.sql.DataFrame,
      name: String,
      mode: String): org.apache.spark.sql.DataFrame = {
    val q = out.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("stream-static enrich equals the batch join and broadcasts the dim") {
    val dim = Seq((0L, "alpha"), (1L, "beta")).toDF("key", "segment")
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    val enriched = StreamOps.enrich(
      stream, dim, col("user_id") % 2 === col("key"))
      .groupBy(col("segment")).agg(count(lit(1)).as("n"))
    val got = runStream(enriched, "enrich_t", "complete")
      .orderBy("segment").collect().toSeq
    val want = batch.join(dim, col("user_id") % 2 === col("key"))
      .groupBy(col("segment")).agg(count(lit(1)).as("n"))
      .orderBy("segment").collect().toSeq
    assert(got == want)
    // static side must broadcast: no shuffle of the unbounded side per batch
    val plan = StreamOps.enrich(batch, dim, col("user_id") % 2 === col("key"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("windowed type stats equal the batch group-by") {
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    val got = runStream(StreamOps.windowedTypeStats(stream), "win_stats", "complete")
      .select(to_date(col("window_start")).as("d"), col("event_type"), col("n"),
        round(col("avg_value"), 6).as("av"))
      .orderBy("d", "event_type")
      .collect().toSeq
    val want = batch
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("av"))
      .orderBy("d", "event_type")
      .collect().toSeq
    assert(got == want)
  }

  test("windowed HLL cells: append mode emits exactly the batch sketch of each closed day") {
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    def hll(p: Int) = StreamOps.windowed(stream)((df, g) =>
      graft.functions.HyperLogLog.cells(df, col("user_id").cast("string"), p, g))
    // the windowed form fails loud on the batch builder's p range
    Seq(6, 17).foreach(p => intercept[IllegalArgumentException](hll(p)))
    // and on an input column that its window key would overwrite
    intercept[IllegalArgumentException] {
      StreamOps.windowed(stream.withColumn("_win", lit(1)))((df, _) => df)
    }
    val got = runStream(hll(7), "win_hll", "append")
      .select(to_date(col("ws")).as("d"), col("bucket"), col("r"))
      .collect().map(x => (x.getDate(0).toString, x.getLong(1), x.getInt(2)))
    assert(got.nonEmpty, "no closed windows emitted")
    // per-day cells must equal the batch sketch of that day (the closure
    // PREDICATE itself — which days emit — is oracle-gated by q241)
    val gotDays = got.map(_._1).toSet
    val want = graft.functions.HyperLogLog.cells(
        batch.withColumn("d", to_date(col("ts"))),
        col("user_id").cast("string"), p = 7, Seq("d"))
      .collect().map(x => (x.getDate(0).toString, x.getLong(1), x.getInt(2)))
      .filter(c => gotDays(c._1))
    assert(got.toSet == want.toSet)
    // and the final (unclosed) day never leaks
    val maxDay = batch.agg(max(to_date(col("ts")))).head().getDate(0).toString
    assert(!gotDays(maxDay), s"unclosed day $maxDay emitted in append mode")
  }

  test("windowed hist cells: append mode emits exactly the batch histogram of each closed day") {
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    val got = runStream(
        StreamOps.windowed(stream)((df, g) =>
          graft.functions.QuantileSketch.cells(df, col("value"), 0.0, 512.0, 16, g)),
        "win_hist", "append")
      .select(to_date(col("ws")).as("d"), col("bin"), col("cnt"))
      .collect().map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2)))
    assert(got.nonEmpty, "no closed windows emitted")
    val gotDays = got.map(_._1).toSet
    val want = graft.functions.QuantileSketch.cells(
        batch.withColumn("d", to_date(col("ts"))),
        col("value"), 0.0, 512.0, 16, Seq("d"))
      .collect().map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2)))
      .filter(c => gotDays(c._1))
    assert(got.toSet == want.toSet)
    val maxDay = batch.agg(max(to_date(col("ts")))).head().getDate(0).toString
    assert(!gotDays(maxDay), s"unclosed day $maxDay emitted in append mode")
  }

  test("windowed CMS cells: append mode emits exactly the batch sketch of each closed day") {
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    def cms(depth: Int, width: Int) = StreamOps.windowed(stream)((df, g) =>
      graft.functions.CountMin.sketch(df, col("user_id").cast("string"), depth, width, g))
    // the windowed form fails loud on the batch builder's (depth, width)
    // contract: depth 5 would slice past md5's 32 hex chars into null
    // buckets, width 0 would bucket by % 0
    Seq((5, 32), (0, 32), (2, 0)).foreach { case (d, w) =>
      intercept[IllegalArgumentException](cms(d, w))
    }
    val got = runStream(cms(2, 32), "win_cms", "append")
      .select(to_date(col("ws")).as("d"), col("d").as("dd"), col("bucket"), col("cnt"))
      .collect().map(x => (x.getDate(0).toString, x.getInt(1), x.getLong(2), x.getLong(3)))
    assert(got.nonEmpty, "no closed windows emitted")
    val gotDays = got.map(_._1).toSet
    val want = batch.where(col("user_id").isNotNull)
      .withColumn("day", to_date(col("ts")))
      .select(col("day"), posexplode(array((0 until 2).map(d =>
        graft.functions.CountMin.bucket(col("user_id").cast("string"), d, 32)): _*))
        .as(Seq("dd", "bucket")))
      .groupBy("day", "dd", "bucket").agg(count(lit(1)).as("cnt"))
      .collect().map(x => (x.getDate(0).toString, x.getInt(1), x.getLong(2), x.getLong(3)))
      .filter(c => gotDays(c._1))
    assert(got.toSet == want.toSet)
    val maxDay = batch.agg(max(to_date(col("ts")))).head().getDate(0).toString
    assert(!gotDays(maxDay), s"unclosed day $maxDay emitted in append mode")
  }

  test("windowed KMV bufs: append mode emits exactly the batch sketch of each closed day") {
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    val bufs = runStream(
      StreamOps.windowed(stream.filter(col("user_id").isNotNull))((df, g) =>
        graft.functions.Kmv.bufs(df, col("user_id").cast("string"), k = 16, g)),
      "win_kmv", "append")
    val got = graft.functions.Kmv.explodeBufs(
        bufs.select(to_date(col("ws")).as("d"), col("_buf")), Seq("d"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getString(3)))
    assert(got.nonEmpty, "no closed windows emitted")
    val gotDays = got.map(_._1).toSet
    val want = graft.functions.Kmv.cells(
        batch.filter(col("user_id").isNotNull).withColumn("d", to_date(col("ts"))),
        col("user_id").cast("string"), 16, Seq("d"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getString(3)))
      .filter(c => gotDays(c._1))
    assert(got.toSet == want.toSet)
    val maxDay = batch.agg(max(to_date(col("ts")))).head().getDate(0).toString
    assert(!gotDays(maxDay), s"unclosed day $maxDay emitted in append mode")
  }

  test("windowed embedding cells: append mode emits exactly the batch marginals of each closed day") {
    // a synthetic embedding stream: deterministic hourly timestamps over
    // the embeddings table (embeddings carry no event time of their own)
    val embDir = exitScopedDir("emb-stream")
    Engine.table(spark, TestSpark.Sf, "embeddings")
      .withColumn("ts", expr(
        "timestampadd(HOUR, CAST(vec_id % 72 AS INT), TIMESTAMP '2024-01-01 00:00:00')"))
      // a sprinkling of null COMPONENTS (not null arrays): the streaming
      // build must drop them exactly like the batch QuantileSketch.cells
      // does, instead of minting bin=NULL cells that inflate the
      // per-(window, dim) totals
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> IF(vec_id % 17 = 0 AND i = 3, NULL, x))"))
      .write.mode("overwrite").parquet(embDir)
    val embBatch = spark.read.parquet(embDir)
    val stream = spark.readStream.schema(embBatch.schema).parquet(embDir)
    val got = runStream(
        StreamOps.windowed(stream)((df, g) => graft.operators.Drift.embeddingCells(
          df, "embedding", lo = -0.75, hi = 0.75, bins = 12, g)),
        "win_emb", "append")
      .select(to_date(col("ws")).as("d"), col("dim"), col("bin"), col("cnt"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty, "no closed windows emitted")
    val gotDays = got.map(_._1).toSet
    val want = graft.operators.Drift.embeddingCells(
        embBatch.withColumn("d", to_date(col("ts"))),
        "embedding", lo = -0.75, hi = 0.75, bins = 12, keyCols = Seq("d"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getLong(3)))
      .filter(c => gotDays(c._1))
    assert(got.toSet == want.toSet)
    val maxDay = embBatch.agg(max(to_date(col("ts")))).head().getDate(0).toString
    assert(!gotDays(maxDay), s"unclosed day $maxDay emitted in append mode")
    // keyed form: per-label cells drain identically to the batch build
    val gotK = runStream(
        StreamOps.windowed(stream)((df, g) => graft.operators.Drift.embeddingCells(
          df, "embedding", lo = -0.75, hi = 0.75, bins = 12, g :+ "label")),
        "win_emb_k", "append")
      .select(to_date(col("ws")).as("d"), col("label"), col("dim"),
        col("bin"), col("cnt"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    assert(gotK.nonEmpty, "no closed keyed windows emitted")
    val gotKDays = gotK.map(_._1).toSet
    val wantK = graft.operators.Drift.embeddingCells(
        embBatch.withColumn("d", to_date(col("ts"))),
        "embedding", lo = -0.75, hi = 0.75, bins = 12,
        keyCols = Seq("d", "label"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
      .filter(c => gotKDays(c._1))
    assert(gotK.toSet == wantK.toSet)
  }

  test("windowed adaptive-hist bufs: append mode emits exactly the batch cells of each closed day") {
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    val bufs = runStream(
      StreamOps.windowed(stream)((df, g) => graft.functions.AdaptiveHist.bufs(
        df, col("value"), maxBins = 16, g :+ "event_type")),
      "win_ahist", "append")
    val got = graft.functions.AdaptiveHist.explodeBufs(
        bufs.select(to_date(col("ws")).as("d"), col("event_type"), col("_ah")),
        Seq("d", "event_type"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty, "no closed windows emitted")
    val gotDays = got.map(_._1).toSet
    val want = graft.functions.AdaptiveHist.cells(
        batch.withColumn("d", to_date(col("ts"))),
        col("value"), maxBins = 16, Seq("d", "event_type"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
      .filter(c => gotDays(c._1))
    assert(got.toSet == want.toSet)
    val maxDay = batch.agg(max(to_date(col("ts")))).head().getDate(0).toString
    assert(!gotDays(maxDay), s"unclosed day $maxDay emitted in append mode")
  }

  test("windowed adaptive-hist: each window's scale escalates independently") {
    // day 1 spans [0, 8) — fits 16 bins at scale 0; day 2 spans [0, 4096) —
    // needs scale 8 (4096/16 = 256 = 2^8). The RUNNING form would hold both
    // days at the lifetime scale; the windowed form must keep day 1 fine.
    val d = exitScopedDir("ahist-scales")
    val rows = (0 until 64).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 10:00:${i % 60}%02d"), (i % 8).toDouble)
    } ++ (0 until 64).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-02 10:00:${i % 60}%02d"), (i * 64).toDouble)
    } ++ Seq((java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), 1.0)) // closes both
    rows.toDF("ts", "value").write.mode("overwrite").parquet(d)
    val stream = spark.readStream
      .schema(spark.read.parquet(d).schema).parquet(d)
    val bufs = runStream(
      StreamOps.windowed(stream)((df, g) =>
        graft.functions.AdaptiveHist.bufs(df, col("value"), maxBins = 16, g)),
      "win_ahist_sc", "append")
    val scales = bufs
      .select(to_date(col("ws")).cast("string"), col("_ah.scale"))
      .as[(String, Int)].collect().toMap
    assert(scales.get("2024-01-01").contains(0), s"day 1 scale: $scales")
    assert(scales.get("2024-01-02").contains(8), s"day 2 scale: $scales")
  }

  test("windowed bloom cells: append mode emits exactly the batch filter of each closed day") {
    val m = 1 << 11
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    def bloom(src: org.apache.spark.sql.DataFrame, m: Int, k: Int) =
      StreamOps.windowed(src)((df, g) =>
        graft.functions.Bloom.cells(df, col("user_id").cast("string"), m, k, g))
    // the streaming form fails loud on the same (m, k) contract as every
    // batch Bloom entry point — an unguarded k = 0 would corrupt silently
    intercept[IllegalArgumentException] {
      bloom(stream, m, 0)
    }
    intercept[IllegalArgumentException] {
      bloom(stream, 16, 4)
    }
    val got = runStream(
        bloom(stream.filter(col("user_id").isNotNull), m, 4),
        "win_bloom", "append")
      .select(to_date(col("ws")).as("d"), col("word"), col("bits"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
    assert(got.nonEmpty, "no closed windows emitted")
    val gotDays = got.map(_._1).toSet
    val want = graft.functions.Bloom.cells(
        batch.filter(col("user_id").isNotNull).withColumn("d", to_date(col("ts"))),
        col("user_id").cast("string"), m, 4, Seq("d"))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
      .filter(c => gotDays(c._1))
    assert(got.toSet == want.toSet)
    val maxDay = batch.agg(max(to_date(col("ts")))).head().getDate(0).toString
    assert(!gotDays(maxDay), s"unclosed day $maxDay emitted in append mode")
    // per-day one-sidedness: every day's users are positive against that
    // day's drained filter (probe with ws in groupCols)
    val gotCells = spark.createDataFrame(
      spark.sparkContext.parallelize(got.toSeq.map {
        case (d, w, b) => org.apache.spark.sql.Row(d, w, b) }),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("d",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("word",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("bits",
          org.apache.spark.sql.types.LongType))))
    val dayUsers = batch.filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).cast("string").as("d"),
        col("user_id").cast("string").as("u"))
      .where(col("d").isin(gotDays.toSeq: _*)).distinct()
    val pos = graft.functions.Bloom
      .positiveItems(gotCells, dayUsers, "u", m, 4, Seq("d")).count()
    assert(pos == dayUsers.count(), "a member fell out of its day's filter")
  }

  test("windowed ES bufs: append mode emits exactly the batch sample of each closed day") {
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    val bufs = runStream(
      StreamOps.windowed(stream)((df, g) => graft.operators.WeightedSample.bufs(
        df, g :+ "event_type", "event_id", floor(col("value")).cast("long"), k = 8)),
      "win_es", "append")
    val got = graft.functions.TopK.explodeBufs(
        bufs.select(to_date(col("ws")).as("d"), col("event_type"), col("_tk")),
        Seq("d", "event_type"))
      .select(col("d"), col("event_type"), col("rank"), col("id"), col("tag"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty, "no closed windows emitted")
    val gotDays = got.map(_._1).toSet
    val want = graft.operators.WeightedSample.sample(
        batch.withColumn("d", to_date(col("ts")))
          .withColumn("gk", concat_ws("|", col("d"), col("event_type"))),
        "gk", "event_id", floor(col("value")).cast("long"), k = 8)
      .collect().map { r =>
        val Array(d, et) = r.getString(0).split("\\|")
        (d, et, r.getInt(1), r.getLong(2), r.getLong(3))
      }
      .filter(c => gotDays(c._1))
    assert(got.toSet == want.toSet)
    val maxDay = batch.agg(max(to_date(col("ts")))).head().getDate(0).toString
    assert(!gotDays(maxDay), s"unclosed day $maxDay emitted in append mode")
  }

  test("streaming KMV bufs across micro-batches equal the batch sketch cells") {
    // maxFilesPerTrigger forces MULTIPLE micro-batches, so the bottom-k
    // buffers provably merge through the state store (not one lucky fold);
    // bottom-k-with-dedup is commutative/associative, so arrival order and
    // batch boundaries cannot change the drained sketch
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "3").parquet(streamDir)
    val bufs = runStream(
      graft.functions.Kmv.bufs(stream.filter(col("user_id").isNotNull),
        col("user_id").cast("string"), k = 16, Seq("event_type")),
      "kmv_bufs", "complete")
    val got = graft.functions.Kmv.explodeBufs(bufs, Seq("event_type"))
      .select("event_type", "rk", "h", "item")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3)))
    val want = graft.functions.Kmv.cells(
        batch.filter(col("user_id").isNotNull),
        col("user_id").cast("string"), 16, Seq("event_type"))
      .select("event_type", "rk", "h", "item")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(got.nonEmpty && got.toSet == want.toSet)
  }

  test("streaming ES weighted-sample bufs across micro-batches equal the batch sample") {
    // maxFilesPerTrigger forces MULTIPLE micro-batches, so the bounded ES
    // top-k buffers provably merge through the state store; top-k by
    // (key desc, id asc) is commutative/associative, so batch boundaries
    // and arrival order cannot change the drained sample
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "3").parquet(streamDir)
    val bufs = runStream(
      graft.operators.WeightedSample.bufs(stream, Seq("event_type"), "event_id",
        floor(col("value")).cast("long"), k = 16),
      "es_bufs", "complete")
    val got = graft.operators.WeightedSample.explodeBufs(bufs, "event_type")
      .select("event_type", "rank", "id", "weight")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val want = graft.operators.WeightedSample
      .sample(batch, "event_type", "event_id", floor(col("value")).cast("long"), k = 16)
      .select("event_type", "rank", "id", "weight")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.toSet == want.toSet)
  }

  test("streaming adaptive-hist bufs across micro-batches equal the batch cells") {
    // the scale must escalate THROUGH the state store as later batches
    // widen the observed range — deterministic dyadic rebinning means the
    // drained cells still equal the one-shot batch build exactly
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "3").parquet(streamDir)
    val bufs = runStream(
      graft.functions.AdaptiveHist.bufs(
        stream.filter(col("value").isNotNull), col("value"), 64, Seq("event_type")),
      "ah_bufs", "complete")
    val got = graft.functions.AdaptiveHist.explodeBufs(bufs, Seq("event_type"))
      .select("event_type", "scale", "bin", "cnt")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val want = graft.functions.AdaptiveHist.cells(
        batch.filter(col("value").isNotNull), col("value"), 64, Seq("event_type"))
      .select("event_type", "scale", "bin", "cnt")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.toSet == want.toSet)
  }

  test("streaming bloom cells across micro-batches equal the batch build") {
    // bit_or is associative/commutative/idempotent, so micro-batch
    // boundaries (and even replays) cannot move a bit — the drained cells
    // are a pure function of the item SET seen
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "3").parquet(streamDir)
    val m = 1 << 12
    val got = runStream(
      graft.functions.Bloom.cells(stream.filter(col("user_id").isNotNull),
        col("user_id").cast("string"), m, 4, Seq("event_type")),
      "bloom_cells", "complete")
      .select("event_type", "word", "bits")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val want = graft.functions.Bloom.cells(
        batch.filter(col("user_id").isNotNull),
        col("user_id").cast("string"), m, 4, Seq("event_type"))
      .select("event_type", "word", "bits")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(got.nonEmpty && got.toSet == want.toSet)
  }

  test("stateful sessionization equals the batch window pipeline") {
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    val events = stream.select(col("user_id"), col("ts"), col("event_id"))
      .as[StreamOps.Event]
    val got = runStream(
      StreamOps.sessionize(spark, events, gapSeconds = 1800).toDF(), "sessions", "update")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // batch q24-style expectation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val want = batch
      .withColumn("_prev", lag(col("ts"), 1).over(w))
      .withColumn("_brk",
        when(col("_prev").isNull ||
          (col("ts").cast("double") - col("_prev").cast("double")) > 1800.0, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("_brk")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("streaming trend detection matches batch lead-compare labels") {
    val dayStats = batch
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg(col("value")).as("avg_value"))
      .select(col("event_type"), col("day"), col("avg_value"))
    // replay the day stats as a memory stream source is overkill; feed them
    // through the stateful function via a single-batch stream over parquet
    val d = exitScopedDir("daystats")
    dayStats.write.mode("overwrite").parquet(d)
    val stream = spark.readStream.schema(dayStats.schema).parquet(d)
      .as[StreamOps.DayStat]
    val got = runStream(StreamOps.trendDetect(spark, stream).toDF(), "trends", "update")
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getString(2))).toSet
    // batch labels: q09 marks the trend at the FROM-day; streaming emits at
    // the TO-day — compare via (type, to_day)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val want = dayStats
      .withColumn("_prev", lag(col("avg_value"), 1).over(w))
      .filter(col("_prev").isNotNull)
      .select(col("event_type"), col("day"),
        when(col("avg_value") > col("_prev") * 1.05, "up")
          .when(col("avg_value") < col("_prev") * 0.95, "down")
          .otherwise("flat").as("trend"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getString(2))).toSet
    assert(got == want)
  }
}

/** State must accumulate ACROSS micro-batches, not just within one replay. */
class StreamIncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sessionization state carries across two micro-batches") {
    val all = Engine.table(spark, TestSpark.Sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
    // split by TIME: the stateful operator (like any event-time processor)
    // assumes batches arrive in order; a mid-month cut models real arrival
    val cut = "2024-01-16"
    val half1 = all.filter(col("ts") < lit(cut))
    val half2 = all.filter(col("ts") >= lit(cut))

    val dir = exitScopedDir("events-incr")
    half1.write.mode("overwrite").parquet(dir + "/b1")
    // stream over a parent dir that gains a second batch mid-run
    val streamDir = exitScopedDir("events-incr-stream")
    def addBatch(src: String, n: Int): Unit = {
      val files = new java.io.File(dir + "/" + src).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      files.zipWithIndex.foreach { case (f, i) =>
        // copy-then-atomic-rename: the file source lists the dir per trigger
        // while this runs; a plain copy can be listed half-written (flaky
        // under suite load). Dot-prefixed names are hidden from the source.
        val tmp = java.nio.file.Paths.get(streamDir, s".batch${n}_$i.parquet.tmp")
        java.nio.file.Files.copy(f.toPath, tmp)
        java.nio.file.Files.move(tmp,
          java.nio.file.Paths.get(streamDir, s"batch${n}_$i.parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
    addBatch("b1", 1)

    val stream = spark.readStream.schema(all.schema).parquet(streamDir)
      .as[StreamOps.Event]
    // One bounded query RUN per arrival batch, sharing a checkpoint: a
    // free-running trigger can fire mid-copy and split one arrival's part
    // files (hash-partitioned, not time-ordered) across micro-batches,
    // feeding the stateful operator out-of-order events — the operator's
    // contract is in-order batch arrival. Stopping between batches pins the
    // batch boundary AND exercises state recovery across query restarts.
    val ckpt = exitScopedDir("events-incr-ckpt")
    // user -> (n_sessions, n_events); update-mode emits the latest state per
    // user per micro-batch, so last-write-wins per user is the final state
    // (memory sink cannot recover from a checkpoint; foreachBatch can)
    val acc = new scala.collection.concurrent.TrieMap[Long, (Long, Long)]()
    def runBatch(): Unit = {
      val q = StreamOps.sessionize(spark, stream, gapSeconds = 1800).toDF()
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => acc.put(r.getLong(0), (r.getLong(1), r.getLong(2))))
        }
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    runBatch()
    half2.write.mode("overwrite").parquet(dir + "/b2")
    addBatch("b2", 2)
    runBatch()

    val got = acc.toSeq.map { case (u, (s, e)) => (u, s, e) }.sortBy(_._1)

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val want = all
      .withColumn("_prev", lag(col("ts"), 1).over(w))
      .withColumn("_brk",
        when(col("_prev").isNull ||
          (col("ts").cast("double") - col("_prev").cast("double")) > 1800.0, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("_brk")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    assert(got == want, "two-batch streaming must equal the batch pipeline")
  }

  test("streaming dedup drops duplicates across micro-batches") {
    val all = Engine.table(spark, TestSpark.Sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("props"))
    // b1 = a subset; b2 = EVERYTHING (so every b1 row is a cross-batch dup)
    val b1 = all.filter(col("event_id") % 3 === 0)
    val dir = exitScopedDir("events-dedup")
    val streamDir = exitScopedDir("events-dedup-stream")
    def addBatch(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val sub = dir + s"/b$n"
      df.write.mode("overwrite").parquet(sub)
      new java.io.File(sub).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          val tmp = java.nio.file.Paths.get(streamDir, s".batch${n}_$i.parquet.tmp")
          java.nio.file.Files.copy(f.toPath, tmp)
          java.nio.file.Files.move(tmp,
            java.nio.file.Paths.get(streamDir, s"batch${n}_$i.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    }
    val ckpt = exitScopedDir("events-dedup-ckpt")
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    def runBatch(): Unit = {
      val stream = spark.readStream.schema(all.schema).parquet(streamDir)
      val q = StreamOps.dedupByDigest(
          stream,
          sha2(concat_ws("|", col("user_id"), col("ts").cast("long"), col("event_id")), 256),
          "ts", watermark = "365 days")
        .writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(df.count()); ()
        }
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    addBatch(b1, 1)
    runBatch()
    val afterB1 = seen.get()
    addBatch(all, 2)
    runBatch()

    val distinctAll = all.select("user_id", "ts", "event_id").distinct().count()
    assert(afterB1 == b1.select("user_id", "ts", "event_id").distinct().count())
    assert(seen.get() == distinctAll,
      s"stream emitted ${seen.get()} unique rows, batch distinct is $distinctAll")
  }

  test("stream-stream interval join retains state across micro-batches") {
    val all = Engine.table(spark, TestSpark.Sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    // time-ordered arrival split AT a joining purchase's timestamp, derived
    // from the data: its click lands in batch 1, the purchase in batch 2 —
    // the pair can only form if batch 1's click survives in join state
    val pAll = all.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val cAll = all.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
    val cut = pAll.join(cAll,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 hour") &&
          col("c_ts") < col("p_ts"))
      .agg(min(col("p_ts"))).head().getTimestamp(0)
    val dir = exitScopedDir("events-join")
    val streamDir = exitScopedDir("events-join-stream")
    def addBatch(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val sub = dir + s"/b$n"
      df.write.mode("overwrite").parquet(sub)
      new java.io.File(sub).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          val tmp = java.nio.file.Paths.get(streamDir, s".batch${n}_$i.parquet.tmp")
          java.nio.file.Files.copy(f.toPath, tmp)
          java.nio.file.Files.move(tmp,
            java.nio.file.Paths.get(streamDir, s"batch${n}_$i.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    }
    val ckpt = exitScopedDir("events-join-ckpt")
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def runBatch(): Unit = {
      val stream = spark.readStream.schema(all.schema).parquet(streamDir)
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      val q = StreamOps.intervalJoin(
          purchases, "p_user", "p_ts", clicks, "c_user", "c_ts",
          before = "1 hour", watermark = "365 days")
        .select(col("p_id"), col("c_id"))
        .writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => acc.add((r.getLong(0), r.getLong(1)))); ()
        }
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    addBatch(all.filter(col("ts") < lit(cut)), 1)
    runBatch()
    addBatch(all.filter(col("ts") >= lit(cut)), 2)
    runBatch()

    import scala.jdk.CollectionConverters._
    val got = acc.asScala.toSeq.sorted
    val (p, c) = (pAll, cAll)
    val want = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 hour") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(want.nonEmpty, "fixture must produce at least one join pair")
    // at least one pair must straddle the batch cut (else the test is vacuous)
    val cutPairs = p.filter(col("p_ts") >= lit(cut))
      .join(c.filter(col("c_ts") < lit(cut)),
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 hour") &&
          col("c_ts") <= col("p_ts"))
      .count()
    assert(cutPairs > 0, "no pair straddles the cut; pick a different cut")
    assert(got == want, s"stream join emitted ${got.size} pairs, batch has ${want.size}")
  }
}
