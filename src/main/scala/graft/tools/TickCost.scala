package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Engine
import graft.catalog.Shared.Stopwords
import graft.functions.TextFunctions
import graft.operators.{Curation, Pin}

/** Construction-time profiler for the indexed curation tick — the
  * complement of [[ProfileTick]] (whose stageHook timers only see the final
  * count of each already-pinned frame): `tickIndexed` does most of its work
  * DURING CONSTRUCTION — the Auto cost-model probes are driver actions, and
  * every `Pin.LocalCheckpoint` materializes its AQE exchange stages at call
  * time — so this tool timestamps the stageHook seam (construction
  * checkpoints, in execution order) and wraps the tick's `pin` with a
  * timer, attributing the wall between consecutive stage marks and inside
  * every pin call. The tick builds its two similarity stages concurrently
  * and hands them to the hook afterwards, so the phase ending at
  * "corpus_matched" covers both stages' overlapped construction and the
  * next phase (to "self_pairs") is empty; pins from the two stages
  * interleave. Each stage's Auto opens with its size check (one action,
  * no pin); a stage whose check settles on all-pairs takes no postings
  * pin and runs no cost probe, so on a small batch that phase holds just
  * the two size checks and no timed pin. Diagnostic only — never part of
  * a bench or oracle gate.
  *
  * Usage: runMain graft.tools.TickCost [sfDir] [reps]
  */
object TickCost {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val docs = Engine.table(spark, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val b1 = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)
    def q = TextFunctions.qualityScore(col("text"), Stopwords)

    def tm[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"TICKCOST $label%-42s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    (1 to reps).foreach { rep =>
      println(s"TICKCOST ==== rep $rep ====")
      val idx0 = tm("idx0 signatures pin")(
        Pin.LocalCheckpoint(Curation.signatures(corpus, "doc_id", "text", "lang")))
      val (freq0, posts0) = tm("idx0 postings pins") {
        val (f, p) = Curation.postingsIndex(idx0, "doc_id", "lang")
        (Pin.LocalCheckpoint(f), Pin.LocalCheckpoint(p))
      }
      val bi = tm("idx0 bench bloom pins") {
        val b = graft.operators.Decontaminate.benchIndexSized(
          bench, "doc_id", "text", n = 4)
        b.copy(grams = Pin.LocalCheckpoint(b.grams),
          bloomCells = Pin.LocalCheckpoint(b.bloomCells))
      }

      // the timing pin: every localCheckpoint the tick takes, with its wall
      val timingPin: Pin = Pin.Timed(Pin.LocalCheckpoint, (n, sec) =>
        println(f"TICKCOST   pin #$n%-3d ${sec}%8.3f s"))
      var last = System.nanoTime()
      var lastName = "tick start"
      val hook: (String, DataFrame) => DataFrame = (name, df) => {
        val now = System.nanoTime()
        val label = s"phase[$lastName -> $name]"
        println(f"TICKCOST  $label%-42s ${(now - last) / 1e9}%8.3f s")
        last = now; lastName = name
        df
      }
      val t0 = System.nanoTime()
      val acc = Curation.tickIndexed(idx0, b1, bench, "doc_id", "text", "lang",
        quality = q, indexPinned = true, corpusPostings = Some((freq0, posts0)),
        benchIdx = Some(bi), pin = timingPin, stageHook = hook)
      val now = System.nanoTime()
      val endLabel = s"phase[$lastName -> returned]"
      println(f"TICKCOST  $endLabel%-42s ${(now - last) / 1e9}%8.3f s")
      println(f"TICKCOST tick construction TOTAL                ${(now - t0) / 1e9}%8.3f s")
      val accP = tm("accepted pin + count") {
        val p = Pin.LocalCheckpoint(acc); p.count(); p
      }
      tm("appendState pins") {
        Curation.appendState(idx0, posts0, freq0, accP,
          "doc_id", "text", "lang", frozenFreq = freq0)
      }
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
