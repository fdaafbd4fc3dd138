package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** How a library operator pins a multiply-read intermediate frame.
  *
  * What gets pinned, and when:
  *  - [[SimilarityJoin]]'s two joins pin their projected inputs (unless the
  *    caller declares them already materialized), and under Auto the
  *    frequencies and postings the cost probes read; past Auto's size
  *    check they also pin their OUTPUT, the verified pairs, so a caller
  *    that reads the result twice runs the verify once.
  *  - [[Curation]]'s tick verbs pin the stage frames more than one later
  *    stage reads, and the service state's index frames.
  *  - [[Decontaminate]]'s benchmark index pins its grams and Bloom cells;
  *    Contrastive pins its near-dup pair frame.
  *
  * By default they cut the lineage with a LOCAL checkpoint, which is the
  * fastest pin but stores blocks on executors with TRUNCATED lineage — on
  * executor loss or dynamic-allocation decommission the job fails
  * unrecoverably instead of recomputing. That trade is right
  * for a benchmark harness or a static cluster; a long-lived elastic job
  * should pass [[Pin.Persist]] (recomputable from lineage, spills to disk)
  * or [[Pin.Off]] (recompute per read — correct, just slower).
  */
sealed abstract class Pin {
  def apply(df: DataFrame): DataFrame
}

object Pin {

  /** `localCheckpoint` (lazy): truncates lineage, blocks live on executors.
    * Fastest; NOT fault-tolerant to executor loss. The default. Lazy only
    * in its last stage: under AQE the call is an action that runs the
    * plan's shuffle map stages; the first read runs the rest and stores it.
    */
  case object LocalCheckpoint extends Pin {
    def apply(df: DataFrame): DataFrame = df.localCheckpoint(false)
  }

  /** `persist(MEMORY_AND_DISK)`: keeps lineage, so lost blocks recompute —
    * the elastic-cluster-safe pin. Caller owns the unpersist (or lets the
    * ContextCleaner GC it).
    */
  case object Persist extends Pin {
    def apply(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** No pin: every consumer recomputes the frame from source. */
  case object Off extends Pin {
    def apply(df: DataFrame): DataFrame = df
  }

  /** Diagnostic pin: delegates to `inner`, reporting each call's sequence
    * number and wall seconds to `report`. Lets a profiler attribute
    * construction-time materialization (AQE runs a plan's exchange stages
    * inside the localCheckpoint call itself) without copying an operator's
    * pipeline (perfbench's pin timer). Never used by a declared query.
    */
  final case class Timed(inner: Pin, report: (Int, Double) => Unit) extends Pin {
    private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    def apply(df: DataFrame): DataFrame = {
      val n = seq.incrementAndGet()
      val t0 = System.nanoTime()
      val r = inner(df)
      report(n, (System.nanoTime() - t0) / 1e9)
      r
    }
  }
}
