package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine
import graft.catalog.Shared.Stopwords
import graft.functions.TextFunctions
import graft.operators.{Curation, Pin}

/** Operational probe for the service checkpoint verb pair: build the
  * standing service over a corpus, tick once, [[Curation.persistServiceState]]
  * (timed), [[Curation.restoreServiceState]] from the directory (timed),
  * tick again on the RESTORED handle, and close with the one-call
  * [[Curation.auditService]] fsck — the "is a checkpoint cadence practical
  * at this scale" question answered with timings instead of prose.
  * Diagnostic only — never part of a bench or oracle gate (ProfileTick's
  * contract).
  *
  * Usage: runMain graft.tools.PersistProbe [sfDir] [persistDir]
  */
object PersistProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val pdir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("svc-persist-probe").toString)
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def tm[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val b1 = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)
    val b2 = docs.filter(col("doc_id") >= x90)
    def q = TextFunctions.qualityScore(col("text"), Stopwords)

    val state = tm("serviceState (service start)") {
      Curation.serviceState(corpus, bench, "doc_id", "text", "lang")
    }
    val acc1 = tm("serviceTick b1") {
      val a = Curation.serviceTick(state, b1, "doc_id", "text", "lang",
        quality = q, batchId = Some(0L))
      println(s"PROBE   acc1 = ${a.count()}")
      a
    }
    val gen = tm("persistServiceState") {
      Curation.persistServiceState(state, pdir)
    }
    println(s"PROBE   committed generation $gen at $pdir")
    val restored = tm("restoreServiceState (dir, pinned)") {
      Curation.restoreServiceState(spark, pdir, Pin.LocalCheckpoint)
    }
    val acc2 = tm("serviceTick b2 on RESTORED handle") {
      val a = Curation.serviceTick(restored, b2, "doc_id", "text", "lang",
        quality = q, batchId = Some(1L))
      println(s"PROBE   acc2 = ${a.count()}")
      a
    }
    tm("auditService (full fsck)") {
      val bad = Curation.auditService(restored, "lang")
        .filter(!col("ok")).count()
      println(s"PROBE   audit violations = $bad")
    }
    // keep the compiler honest about the accepted frames' use
    println(s"PROBE total accepted = ${acc1.count() + acc2.count()}")
    spark.stop()
  }
}
