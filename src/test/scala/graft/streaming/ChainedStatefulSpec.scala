package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Engine, TestSpark}
import graft.catalog.Shared.{deleteAtExit, exitScopedDir}

/** Feasibility + correctness of CHAINED stateful streaming operators
  * (supported since Spark 3.5 for dedup→time-window-agg in append mode):
  * exactly-once event dedup followed by a windowed aggregation in ONE
  * streaming query — the ingest-then-count shape that previously required
  * two queries with an intermediate sink.
  */
class ChainedStatefulSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val streamDir: String = {
    val d = deleteAtExit(Files.createTempDirectory("events-chain"))
    // deleted with its contents at exit: a full parquet copy per run would
    // otherwise accumulate in /tmp (same concern as replayStream's cleanup)
    Engine.table(spark, TestSpark.Sf, "events").write.mode("overwrite").parquet(d.toString)
    d.toString
  }
  private lazy val batch = spark.read.parquet(streamDir)

  test("dedup then daily windowed counts chain in one streaming query, equal to batch") {
    val stream = spark.readStream.schema(batch.schema).parquet(streamDir)
    val out = stream
      .withWatermark("ts", "10 days")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day_start"), col("event_type"), col("n"))
    val q = out.writeStream.outputMode("append").format("memory").queryName("chain").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chain")
      .select(to_date(col("day_start")).as("day"), col("event_type"), col("n"))
    // append mode emits only windows the watermark has CLOSED; the last
    // open window(s) are withheld — compare on the emitted prefix
    val exp = batch
      .dropDuplicates("event_id")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val emittedDays = got.select("day").distinct().as[java.sql.Date].collect().toSet
    assert(emittedDays.nonEmpty, "no closed windows emitted")
    val expEmitted = exp.filter(col("day").isin(emittedDays.toSeq: _*))
    assert(got.count() == expEmitted.count())
    assert(got.except(expEmitted).isEmpty && expEmitted.except(got).isEmpty)
    spark.sql("DROP VIEW IF EXISTS chain")
  }

  test("chained dedup+window state recovers across a query restart with cross-batch dups") {
    import org.apache.spark.sql.functions._
    val all = batch
    val cut = all.agg(min(to_date(col("ts")))).collect()(0).getDate(0)
      .toLocalDate.plusDays(19)
    val cutD = java.sql.Date.valueOf(cut)
    val b1 = all.filter(to_date(col("ts")) <= lit(cutD))
    val b2 = all.filter(to_date(col("ts")) > lit(cutD))
    // cross-batch duplicates: batch 2 replays batch 1's LAST day (inside
    // the 2-day watermark horizon, so the dedup state is still live)
    val dupTail = b1.filter(to_date(col("ts")) === lit(cutD))

    val arrivals = exitScopedDir("chain-restart")
    val streamDir = exitScopedDir("chain-restart-stream")
    val tmpDirs = scala.collection.mutable.ArrayBuffer(arrivals, streamDir)
    try {
    def addBatch(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val sub = s"$arrivals/b$n"
      df.write.mode("overwrite").parquet(sub)
      new java.io.File(sub).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(
            f.toPath,
            java.nio.file.Paths.get(streamDir, s"batch${n}_$i.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    }

    val stream = spark.readStream.schema(all.schema).parquet(streamDir)
    val ckpt = exitScopedDir("chain-restart-ckpt")
    tmpDirs += ckpt
    val appended = scala.collection.mutable.ArrayBuffer[(java.sql.Date, String, Long)]()
    def runBatch(): Unit = {
      val out = stream
        .unionByName(stream) // in-batch duplicates too: dedup is load-bearing
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(Seq("event_id"))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(to_date(col("window.start")).as("day"), col("event_type"), col("n"))
      val q = out.writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          appended.synchronized {
            appended ++= df.collect().map(r =>
              (r.getDate(0), r.getString(1), r.getLong(2)))
          }
          ()
        }
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    addBatch(b1.unionByName(b1), 1)
    runBatch()
    addBatch(b2.unionByName(b2).unionByName(dupTail), 2)
    runBatch()

    // expected: distinct events per (day, type) for windows the FINAL
    // watermark (max ts - 2 days) has closed. Horizon derived in SESSION
    // time (UTC) via Spark itself — Timestamp.toLocalDateTime would apply
    // the JVM default timezone and shift the boundary day off-UTC hosts
    val horizon = all
      .agg(date_sub(to_date(max(col("ts")) - expr("INTERVAL 2 DAYS")), 1).as("h"))
      .collect()(0).getDate(0)
    val exp = all
      .dropDuplicates("event_id")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("day") <= lit(horizon))
      .collect().map(r => (r.getDate(0), r.getString(1), r.getLong(2))).toSet
    val got = appended.toSet
    // every emitted window must be exactly the batch-distinct count (no
    // double-emission across the restart, no duplicate survived the dedup)
    assert(got.size == appended.size, "a window was emitted twice across the restart")
    assert(exp.subsetOf(got), s"missing closed windows: ${exp -- got}")
    got.foreach { case (d, t, n) =>
      assert(exp.contains((d, t, n)) || d.toLocalDate.isAfter(horizon.toLocalDate),
        s"wrong count for ($d, $t): $n")
    }
    } finally tmpDirs.foreach { d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    }
  }
}
