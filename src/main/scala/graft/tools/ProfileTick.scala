package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Engine
import graft.catalog.Shared.Stopwords
import graft.functions.TextFunctions
import graft.operators.{Curation, Pin}

/** Stage profiler for the q248 indexed-tick loop: drives the REAL
  * `Curation.tickIndexed` through its `stageHook` seam (each stage's pinned
  * frame is counted under a timer as it materializes), so the profile can
  * never drift from the pipeline q248 executes — the r7 copy-paste version
  * silently measured its own replica. Diagnostic only — never part of a
  * bench or oracle gate.
  *
  * Runs the two-tick loop THREE times: signature-index only (the r7
  * shape, the similarity stage rebuilds corpus df + postings per tick),
  * with the persistable postings index carried across ticks (the r8
  * shape), and with the stored benchmark BloomIndex too (the r9+ full
  * production state — stage 2 probes stored cells instead of rebuilding
  * the driver-side bloom from benchmark text per tick). The printed
  * totals are the measured tick-time reduction for each stored index.
  *
  * Usage: runMain graft.tools.ProfileTick [sfDir] [benchMod] [ticks] [stage2only]
  *
  * `ticks` (default 8) sets the stage-2 tick count; passing `stage2only` as
  * the 4th arg skips the three full loops and runs only the stage-2 sweep.
  *
  * `benchMod` (default 50) sets the benchmark share: every benchMod-th doc
  * of the corpus region is benchmark. 50 ≈ 2% (78k docs at sf1 — where the
  * stored bench bloom only ~breaks even, its rebuild-per-tick rival being
  * ~2 s); 5 ≈ 20% (a 10× benchmark — the growth regime where
  * bench-proportional per-tick work has to actually show up as a measured
  * win for the stored cells, VERDICT r12 item 6).
  */
object ProfileTick {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def tm[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROF  $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def mat(label: String, df: DataFrame): DataFrame =
      tm(label) { val p = Pin.LocalCheckpoint(df); p.count(); p }

    val benchMod = args.lift(1).map { a =>
      require(a.forall(_.isDigit), s"benchMod (arg 2) must be an integer, got '$a'")
      a.toInt
    }.getOrElse(50)
    require(benchMod >= 2, s"benchMod must leave a corpus: $benchMod")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % benchMod === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % benchMod =!= 0)
    println(s"PROF  benchMod=$benchMod bench=${bench.count()} docs")
    val b1 = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)
    val b2 = docs.filter(col("doc_id") >= x90)
    def q = TextFunctions.qualityScore(col("text"), Stopwords)

    // one timed tick through the real operator: every stage frame is
    // counted (and, where tickIndexed left it unpinned — every stage after
    // "batch_signatures" — pinned here first so the next stage reads the
    // materialization, like a sweep would). "corpus_matched" and
    // "self_pairs" reach the hook after the tick built both concurrently,
    // so their times are each stage's own execution, not its share of the
    // overlapped construction.
    def profiledTick(
        tag: String,
        index: DataFrame,
        batch: DataFrame,
        posts: Option[(DataFrame, DataFrame)],
        bi: Option[graft.operators.Decontaminate.BenchIndex] = None): DataFrame =
      Curation.tickIndexed(index, batch, bench, "doc_id", "text", "lang",
        quality = q, indexPinned = true, corpusPostings = posts, benchIdx = bi,
        stageHook = (name, df) =>
          if (name == "s3" || name == "batch_signatures") tm(s"$tag $name") { df.count(); df }
          else mat(s"$tag $name", df))

    def runLoop(tag: String, withPostings: Boolean, withBench: Boolean = false): Double = {
      val t0 = System.nanoTime()
      val idx0 = mat(s"$tag idx0 signatures",
        Curation.signatures(corpus, "doc_id", "text", "lang"))
      val posts0 = if (!withPostings) None else Some(tm(s"$tag idx0 postings") {
        val (f, p) = Curation.postingsIndex(idx0, "doc_id", "lang")
        val ff = Pin.LocalCheckpoint(f); ff.count()
        val pp = Pin.LocalCheckpoint(p); pp.count()
        (ff, pp)
      })
      val bi0 = if (!withBench) None else Some(tm(s"$tag idx0 bench bloom") {
        val b = graft.operators.Decontaminate.benchIndexSized(
          bench, "doc_id", "text", n = 4)
        b.grams.count(); b.bloomCells.count()
        b
      })
      val acc1 = profiledTick(s"$tag t1", idx0, b1, posts0, bi0)
      // deliberately hand-rolled (not Curation.appendState): the profiler
      // exists to time each append half separately, and the named verb
      // would collapse the per-stage attribution this tool reports
      val app1 = mat(s"$tag append signatures(acc1)",
        Curation.signatures(acc1, "doc_id", "text", "lang"))
      val idx1 = idx0.unionByName(app1)
      val posts1 = posts0.map { case (f, p) => tm(s"$tag append postings(acc1)") {
        val pa = Pin.LocalCheckpoint(
          p.unionByName(Curation.postingsIndex(app1, "doc_id", "lang",
            frozenFreq = Some(f))._2))
        pa.count()
        (f, pa)
      }}
      val acc2 = profiledTick(s"$tag t2", idx1, b2, posts1, bi0)
      tm(s"$tag final agg") {
        acc1.unionByName(acc2)
          .select(col("doc_id"), col("lang"),
            greatest(TextFunctions.tokenCount(col("text")), lit(0)).cast("long").as("toks"))
          .orderBy(col("doc_id"))
          .write.format("noop").mode("overwrite").save()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PROF  == $tag TOTAL ==                       $dt%8.2f s")
      // drop this loop's pinned blocks so the next loop starts clean
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
      dt
    }

    // args(3) == "stage2only" skips the three full loops — for sweeping the
    // stage-2 micro-leg across benchMod points without re-paying ~2 min of
    // loop per point (the batch b1 is benchMod-independent, so probe
    // readings are comparable across points)
    if (!args.lift(3).contains("stage2only")) {
      val inline = runLoop("sig-only ", withPostings = false)
      val indexed = runLoop("postings ", withPostings = true)
      val full = runLoop("p+bloom  ", withPostings = true, withBench = true)
      println(f"PROF  postings-index speedup: ${inline / indexed}%.2fx " +
        f"($inline%.1f s -> $indexed%.1f s)")
      println(f"PROF  + bench-bloom speedup:  ${indexed / full}%.2fx " +
        f"($indexed%.1f s -> $full%.1f s); vs sig-only ${inline / full}%.2fx")
    }

    // stage-2 micro-leg (VERDICT r12 item 6): the PER-TICK delta the stored
    // bench cells buy, isolated from the loop's other mass — T consecutive
    // decontamination ticks over the same batch, driver-bloom-rebuild
    // (sharedGramCounts: re-shingle bench + count + stat.bloomFilter per
    // tick) vs stored-cell probe (sharedGramCountsIndexed over the pinned
    // grams + cells the service persists). Reports per-tick averages, the
    // one-time stored build, measured T-tick totals, and the crossover
    // tick count after which the stored index is a net win.
    val ticks = args.lift(2).map { a =>
      require(a.forall(_.isDigit), s"ticks (arg 3) must be an integer, got '$a'")
      a.toInt
    }.getOrElse(8)
    def s2force(df: DataFrame): Unit = { df.agg(count(lit(1))).head(); () }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val rebuild = (1 to ticks).map(_ => timed(s2force(
      graft.operators.Decontaminate.sharedGramCounts(
        b1, bench, "doc_id", "text", 4))))
    val tB = System.nanoTime()
    val bi = graft.operators.Decontaminate.benchIndexSized(bench, "doc_id", "text", 4)
    bi.grams.count()
    val cells = Pin.LocalCheckpoint(bi.bloomCells)
    cells.count()
    val buildS = (System.nanoTime() - tB) / 1e9
    val probe = (1 to ticks).map(_ => timed(s2force(
      graft.operators.Decontaminate.sharedGramCountsIndexed(
        b1, bi.grams, cells, "doc_id", "text", 4, bi.m, bi.k))))
    val (rAvg, pAvg) = (rebuild.sum / ticks, probe.sum / ticks)
    println(f"PROF  stage2 rebuild  per-tick avg ${rAvg}%6.2f s (T=$ticks total ${rebuild.sum}%6.2f s)")
    println(f"PROF  stage2 stored   build once   ${buildS}%6.2f s")
    println(f"PROF  stage2 probe    per-tick avg ${pAvg}%6.2f s (T=$ticks total ${probe.sum}%6.2f s)")
    val crossover = if (rAvg > pAvg) math.ceil(buildS / (rAvg - pAvg)).toInt else -1
    println(f"PROF  stage2 T-tick win: ${rebuild.sum / (buildS + probe.sum)}%.2fx " +
      f"(rebuild ${rebuild.sum}%.1f s vs build+probe ${buildS + probe.sum}%.1f s); " +
      s"crossover at tick $crossover")
    spark.stop()
  }
}
