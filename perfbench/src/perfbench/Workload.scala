package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.expressions.{ShingleHashes, TextStats, WordShingles}
import graft.functions.TextFunctions

/** Outcome of one closed-loop operation. `parts` holds the sub-latencies a
  * workload reports per layer (e.g. a tick against the read after it);
  * `digest` is the digest of the operation's output.
  */
final case class Op(seconds: Double, docs: Long, ok: Boolean,
    parts: Map[String, Double] = Map.empty, digest: Option[Digest.Value] = None)

/** One benchmark workload: a single client issuing one operation at a time. */
trait Workload {
  /** Brings a fresh session to ready: inputs loaded, warm-up done, state built. */
  def prepare(spark: SparkSession): Unit

  /** Operations in one round: untraced runs repeat whole rounds, traced runs trace the first. */
  def roundLength: Int

  /** Runs operation `i` (counting across rounds) and reports whether its
    * output matched the golden digest. Exceptions are handled by the caller.
    */
  def op(i: Int): Op

  /** Layer metrics computed from a traced round. */
  def layers(t: Tracer, ops: Seq[Op]): Map[String, Double]

  /** Text the kernel probe measures on. */
  def kernelText: DataFrame
}

object Workload {

  /** The stopword list the engine's quality scorer is configured with in the
    * catalog, so scores here match the catalog's curation queries.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")

  def quality(text: Column): Column = TextFunctions.qualityScore(text, Stopwords)

  /** The generator behind every seeded choice. `java.util.Random`'s first
    * outputs are correlated across nearby seeds, so the seed is mixed first.
    */
  def random(seed: Long): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())

  private val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "mit", "ist", "auf", "nicht"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "por", "con", "los", "una"),
    "fr" -> Seq("le", "les", "et", "des", "une", "du", "dans", "est", "pour", "au"))

  /** The fused text kernels, each as a projection over a text column. */
  val Kernels: Seq[(String, Column => Column)] = Seq(
    "char_shingle_hashes" -> (t => ShingleHashes.hashedCharShingles(t, 5)),
    "word_shingles" -> (t => WordShingles.wordShingles(lower(t), 4, distinct = true)),
    "quality_score" -> (t => quality(t)),
    "lang_best" -> (t => TextStats.langBest(t, LangProfiles, Some("und"))),
    "dup_token_fraction" -> (t => TextStats.dupTokenFraction(t)))

  /** The `entry.*` metrics of a window whose `SparkEntry.queries` calls and
    * final writes were traced as `entry.construct` and `entry.execute`.
    */
  def entryLayers(t: Tracer): Map[String, Double] = {
    val jobs = t.jobsByName
    val secs = t.secondsByName
    Map(
      "entry.construct_s" -> secs.getOrElse("entry.construct", 0.0),
      "entry.execute_s" -> secs.getOrElse("entry.execute", 0.0),
      "entry.construct_jobs" -> jobs.getOrElse("entry.construct", 0L).toDouble,
      "entry.execute_jobs" -> jobs.getOrElse("entry.execute", 0L).toDouble)
  }

  private val KernelRows = 200000L

  /** ns per row of each kernel: the kernel's projection written to `noop`
    * minus a scan-only pass over the same cached text, median of three.
    * The text is replicated to about [[KernelRows]] rows so a pass lasts
    * long enough to time.
    */
  def kernelNsPerRow(text: DataFrame): Map[String, Double] = {
    val n0 = text.count()
    val reps = math.max(1L, KernelRows / math.max(n0, 1L))
    val base = text.select(col("text"))
      .withColumn("_r", explode(sequence(lit(1L), lit(reps)))).select(col("text"))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val rows = base.count()
      def pass(c: Column): Double = {
        val t = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          base.select(c).write.format("noop").mode("overwrite").save()
          System.nanoTime() - t0
        }.sorted
        t(1).toDouble
      }
      val scan = pass(col("text"))
      Kernels.map { case (name, k) =>
        s"kernel.${name}_ns_per_row" -> math.max(0.0, pass(k(col("text")).as("k")) - scan) / rows
      }.toMap
    } finally base.unpersist(blocking = true)
  }
}
