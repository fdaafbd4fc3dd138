package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is forced end-to-end with a noop-format
  * write (computes every column — `count()` would let Catalyst prune the
  * projections and under-measure).
  *
  * Optional args: query-name prefixes to run a subset (iteration aid),
  * e.g. `runMain graft.Bench q15 q16`.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // SPARK_GRAFT_BENCH_EXCLUDE: comma-separated exact query names to skip —
    // for scale-validation sweeps that should not pay a strategy-PINNED
    // stress gate's declared cost (e.g. q228's prefix-pinned τ=0.25 point at
    // sf1, VERDICT r6 item 7; its oracle + sf0.1 bench gates stay intact).
    val excluded = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val selected =
      (if (args.isEmpty) SparkEntry.catalog
       else SparkEntry.catalog.filter { case (n, _) => args.exists(n.startsWith) })
        .filter { case (n, _) => !excluded(n) }

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      try fn catch { case e: Throwable => System.err.println(s"[bench] ${e.getMessage}") }
      (System.nanoTime() - t0) / 1e9
    }

    // JVM/codegen warmup: run EVERY query once at the smallest sf so the
    // timed sf0.1 numbers measure the plan, not first-touch classloading/JIT
    // (cold-start inflated individual queries 5-10x in testing).
    selected.values.map(_.build).foreach { fn =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // drop the warmup queries' persistent RDDs wholesale before timing
    // starts: the per-query sweep below scopes its unpersist to RDDs the
    // query itself created (so it can't break a pre-existing pinned frame),
    // which would otherwise leave ~200 warmup-era localCheckpoint blocks
    // alive for the entire sweep — measured late-sweep inflation up to 4×
    // (q227 at sf1: 16 s in-sweep vs 4.2 s standalone)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))

    // min of two runs per query: first-touch JIT and ambient GC noise
    // inflated single-shot numbers up to 4x in testing. Caches from
    // query-internal persist() are dropped between queries so later queries
    // don't pay earlier queries' memory pressure.
    // SPARK_GRAFT_BENCH_RUNS=1: scale-validation mode (e.g. a one-off sf1
    // sweep) — single timed run, no baseline-triggered retries (the sf0.1
    // baselines are meaningless at another scale and would trigger the
    // settle+rerun path on every query). Queries whose single run exceeds
    // SPARK_GRAFT_BENCH_HEAVY_RERUN_SEC (default 10 s; 0 disables) are
    // re-run once and the MIN recorded: in-sweep heavies carry up to 4×
    // ambient GC/cleaner variance (r9 sf1: q180 178.7 s in-sweep vs
    // 42.9 s standalone), and min-of-2 on just the heavy tail removes the
    // need for manual standalone rechecks at ~5% added sweep cost.
    val singleRun = sys.env.get("SPARK_GRAFT_BENCH_RUNS").contains("1")
    val heavyRerunSec = sys.env.get("SPARK_GRAFT_BENCH_HEAVY_RERUN_SEC")
      .map(v => try v.toDouble catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_BENCH_HEAVY_RERUN_SEC must be numeric seconds (0 disables): '$v'", e)
      })
      .getOrElse(10.0)
    val results = selected.toSeq.sortBy(_._1).map { case (name, q) =>
      def once(): Double = {
        // snapshot the persistent-RDD ids BEFORE the query so the sweep
        // only drops RDDs the query itself created — unpersisting a
        // localCheckpoint'd RDD that predates the query (lineage already
        // truncated) would leave any outside reference unrecoverable
        val preexisting = spark.sparkContext.getPersistentRDDs.keySet
        val dt = time(q.build(spark, sfDir).write.format("noop").mode("overwrite").save())
        // (streaming queries' memory-sink views are dropped inside
        // replayStream itself — the result is localCheckpoint-detached)
        spark.catalog.clearCache()
        // localCheckpoint blocks (GlobalRank range exchanges, replay
        // results, BPE vocab iterations) are NOT in the SQL cache and only
        // die when the ContextCleaner GCs the RDD — across a 228-query
        // sweep they pile into block storage and degrade the late-sweep
        // band 1.4-2.5x (measured: the same queries re-bench clean in a
        // fresh JVM). Every query is self-contained, so drop the ones this
        // query created eagerly.
        spark.sparkContext.getPersistentRDDs.iterator
          .collect { case (id, rdd) if !preexisting.contains(id) => rdd }
          .foreach(_.unpersist(blocking = false))
        dt
      }
      if (singleRun) {
        val t1 = once()
        (name, if (heavyRerunSec > 0 && t1 >= heavyRerunSec) math.min(t1, once()) else t1, q.barSec)
      } else {
      val two = Seq(once(), once())
      // ambient host contention occasionally inflates BOTH samples of one
      // query 10-80x; when the two samples disagree wildly, buy one more
      val t0 = if (two.max / math.max(two.min, 1e-9) > 3.0) (two :+ once()).min else two.min
      // agreeing samples can still BOTH be inflated late in a 50+-query
      // sweep (GC/state-store pressure); if even the min sits far above the
      // query's own standing baseline, settle and buy two more — min-of-k
      // is the standard contention-robust throughput estimate
      val t =
        if (math.max(t0, 1.0) > 1.4 * math.max(q.barSec, 1.0)) {
          System.gc(); Thread.sleep(500)
          (Seq(t0) ++ Seq(once(), once())).min
        } else t0
      (name, t, q.barSec)
      }
    }
    // 1-second noise floor on both sides: sub-second queries are
    // JVM/scheduler-overhead-bound (±0.3 s run-to-run on an idle host),
    // so their raw ratios flap; a genuine sub-second -> multi-second
    // regression still flags because the numerator escapes the floor
    def ratio(v: Double, bar: Double): Double = math.max(v, 1.0) / math.max(bar, 1.0)

    // The stdout contract is ONE parseable JSON line, and the harness that
    // reads it keeps only a bounded tail of the run's output: per-query
    // keys overgrew that window at 100 queries (r2, full names) and again
    // at 235 (r6, short qNN keys) — both rounds recorded parsed:null. The
    // stdout line now carries ONLY the fixed-size summary (total, the
    // regressed ratios — empty on a healthy run — and the detail-file
    // pointer); every per-query number lives in BENCH_DETAIL.json.
    val regressions = results
      .collect { case (k, v, bar) if ratio(v, bar) > 1.4 =>
        "\"" + k + "\":" + f"${ratio(v, bar)}%.2f"
      }
      .mkString("{", ",", "}")
    val detail = results
      .map { case (k, v, bar) =>
        "\"" + k + "\":" + f"""{"sec":$v%.3f,"vs_baseline":${ratio(v, bar)}%.2f}"""
      }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","queries":$detail}"""
        .getBytes("UTF-8"))
    // any filtered run is self-describing: excluded names ride in the line
    val excludedJson = excluded.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val summary =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"regressions":$regressions,"excluded":$excludedJson,"detail":"$detailPath","sf":"$sfDir"}"""
    // two delivery paths for the same object: the stdout line (unprefixed —
    // build.sbt forks with StdoutOutput so sbt's "[info] " never wraps it)
    // and a fixed-path file the harness can read when its stdout-tail parse
    // misses (the r6/r7 parsed:null failure mode)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "BENCH_SUMMARY.json")),
      summary.getBytes("UTF-8"))
    spark.stop()
    // printed AFTER spark.stop() so no executor/cleaner WARN line can land
    // between this line and process exit — the summary is the LAST stdout line
    println(summary)
  }
}
