package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, SparkEntry}
import graft.expressions.ShingleHashes
import graft.functions.TextFunctions
import graft.operators.{Curation, Decontaminate, SimilarityJoin}

/** `corpus_batch`: the one-pass batch curation funnel over the bundled
  * `documents` table, run pass after pass by one client.
  *
  * Set-up writes the table as a new parquet copy whose row order and split
  * into files are drawn from the seed; the funnel's output does not depend
  * on either, so one golden report checks every seed.
  *
  * A pass is the catalog's batch funnel q230, stated with the same
  * composition (the same pins and joins, and no action beyond the report's
  * collect): quality screen, benchmark decontamination, exact dedup
  * keep-min, near-dup removal through the cost-based similarity self-join;
  * plus the signature index of the survivors. It is executor-bound: few
  * jobs, so the kernels and the similarity join carry the cost.
  */
final class CorpusBatch(data: String, work: String, golden: Golden, seed: Long) extends Workload {
  import CorpusBatch._

  private var spark: SparkSession = _
  private var corpus: DataFrame = _
  private var docs = 0L
  private var last: Pass = _

  private val dir = s"$work/corpus-$seed"

  def prepare(s: SparkSession): Unit = {
    spark = s
    s.read.parquet(s"$data/documents.parquet")
      .repartition(2 + math.floorMod(seed, 7L).toInt, xxhash64(col("doc_id"), lit(seed)))
      .sortWithinPartitions(xxhash64(col("doc_id"), lit(seed), lit(1)))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    corpus = Engine.table(s, dir, "documents")
    docs = corpus.count()
  }

  def roundLength: Int = 1

  def op(i: Int): Op = {
    val t0 = System.nanoTime()
    last = funnel(corpus)
    val t1 = System.nanoTime()
    Op((t1 - t0) / 1e9, docs,
      last.report == golden.funnelReport && last.signatures == golden.funnelSignatures,
      digest = Some(last.signatures))
  }

  /** Besides the spark and catalyst layers of the traced pass, probes run
    * after it, outside the pass so that its plan stays q230's:
    *  - each heavy operator forced on its own over the last pass's pinned
    *    inputs (decontamination counts over the quality survivors and the
    *    benchmark split; the self-join over the exact-dedup shingles), plus
    *    the self-join's candidate volumes under both exact strategies;
    *  - the entry layer: the catalog's q230 over the same copy, construction
    *    against the collect of its report, which is checked against the
    *    golden one.
    */
  def layers(t: Tracer, ops: Seq[Op]): Map[String, Double] = {
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, gramsS) = timed(Digest.sink(contaminated(last.corpus1, last.bench)))
    val (pairs, joinS) = timed(Digest.sink(selfJoin(last.shingles)))
    val (prefix, allPairs) = SimilarityJoin.selfJoinVolumes(
      last.shingles, "doc_id", "h", Threshold, Seq("lang"))
    val (q230, entry) = Trace.window(spark) {
      val df = Trace.span("entry.construct")(SparkEntry.queries("q230_curation_funnel")(spark, dir))
      Trace.span("entry.execute")(df.collect()).map(r => (r.getAs[String]("stage"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toSeq
    }
    require(q230 == golden.funnelReport, s"q230 report $q230 differs from the golden funnel report")
    Workload.entryLayers(entry) ++ Map(
      "simjoin.selfjoin_s" -> joinS,
      "simjoin.pairs_out" -> pairs.rows.toDouble,
      "simjoin.prefix_volume" -> prefix,
      "simjoin.allpairs_volume" -> allPairs,
      "decontam.shared_grams_s" -> gramsS)
  }

  def kernelText: DataFrame = corpus

  /** The seed's copy of the documents, as the funnel reads it. */
  def input: DataFrame = corpus
}

object CorpusBatch {
  val Threshold = 0.5

  /** One pass's outputs, and the frames the layer probes re-run its heavy
    * operators on.
    */
  final case class Pass(report: Seq[(String, Long, Long)], signatures: Digest.Value,
      corpus1: DataFrame, bench: DataFrame, shingles: DataFrame)

  /** Ids of the corpus documents sharing at least 5 word 4-grams with a
    * benchmark document: q230's decontamination rule.
    */
  def contaminated(corpus1: DataFrame, bench: DataFrame): DataFrame =
    Trace.span("decontam.shared_gram_counts")(
      Decontaminate.sharedGramCounts(corpus1, bench, "doc_id", "text", n = 4))
      .filter(col("shared_grams") >= 5)
      .select(col("doc_id"))

  /** Near-duplicate pairs, Jaccard at least [[Threshold]] within a language. */
  def selfJoin(shingles: DataFrame): DataFrame =
    Trace.span("simjoin.jaccard_self_join")(
      SimilarityJoin.jaccardSelfJoin(shingles, "doc_id", "h", Threshold, blockCols = Seq("lang")))

  /** One funnel pass: the per-stage (stage, docs, tokens) report, collected,
    * then the digest of the survivors' signature index.
    */
  def funnel(in: DataFrame): Pass = {
    val docs = in.select(col("doc_id"), col("lang"), col("text"),
        greatest(TextFunctions.tokenCount(col("text")), lit(0)).cast("long").as("toks"),
        // the catalog's rounding: round(x + 1e-9, 6)
        round(Workload.quality(col("text")) + lit(1e-9), 6).as("q"))
      .localCheckpoint(false)
    val s1 = docs.filter(col("q") >= 0.5)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val corpus1 = s1.filter(col("doc_id") % 50 =!= 0)
    val s2 = corpus1.join(broadcast(contaminated(corpus1, bench)), Seq("doc_id"), "left_anti")
    val keepMin = s2.groupBy(col("text").as("_ktext")).agg(min(col("doc_id")).as("_keep"))
    val s3 = s2
      .join(keepMin, col("text") <=> col("_ktext"))
      .filter(col("doc_id") === col("_keep")).drop("_ktext", "_keep")
      .localCheckpoint(false)
    val sh = s3.select(col("doc_id"), col("lang"),
      ShingleHashes.hashedCharShingles(col("text"), 5).as("h"))
    val dominated = selfJoin(sh).select(col("id_b").as("doc_id")).distinct()
    val s4 = s3.join(broadcast(dominated), Seq("doc_id"), "left_anti")
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), coalesce(sum(col("toks")), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    val report = Trace.span("funnel.report") {
      stage("0_raw", docs)
        .unionByName(stage("1_quality", s1))
        .unionByName(stage("2_decontaminated", s2))
        .unionByName(stage("3_exact_dedup", s3))
        .unionByName(stage("4_near_dedup", s4))
        .orderBy(col("stage")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val sig = Trace.span("curation.signatures")(
      Digest.sink(Curation.signatures(s4, "doc_id", "text", "lang")))
    Pass(report, sig, corpus1, bench, sh)
  }
}
