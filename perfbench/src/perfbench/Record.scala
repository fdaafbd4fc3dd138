package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{Engine, SparkEntry}
import graft.functions.TextFunctions

/** Recording of the golden outputs, and the oracle cross-check of the two
  * curation compositions. Neither runs during a benchmark run.
  */
object Record {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Writes `golden.json`: the accepted set of one tick over the whole
    * curation arrival stream, and the funnel's report and signature digest
    * over the seed-0 corpus. Each is checked first against the catalog query
    * of the same composition at the same scale (q248, q230).
    */
  def golden(a: Main.Args): Unit = {
    val spark = Main.session()
    val curationDir = s"${a.data}/${Main.CurationScale}"
    val cs = new CurationService(curationDir, Golden.Empty, 0L)
    cs.prepare(spark)
    val acc = cs.acceptAll()
    val accepted = acc.select(col("doc_id"), Digest.rowHash(acc)).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1))).sortBy(_.head).toSeq
    val q248 = SparkEntry.queries("q248_indexed_ticks")(spark, curationDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    require(accepted.map(_.head) == q248.sorted,
      "curation_service accepted set differs from the catalog's q248 at the same scale")

    val corpusDir = s"${a.data}/${Main.CorpusScale}"
    val cb = new CorpusBatch(corpusDir, a.work, Golden.Empty, 0L)
    cb.prepare(spark)
    val pass = CorpusBatch.funnel(cb.input)
    val report = pass.report
    val q230 = SparkEntry.queries("q230_curation_funnel")(spark, corpusDir).collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toSeq
    require(report == q230,
      s"funnel report $report differs from the catalog's q230 $q230 at the same scale")

    json.writerWithDefaultPrettyPrinter().writeValue(new File(a.golden), Map(
      "curation_service" -> Map("accepted" -> accepted),
      "corpus_batch" -> Map(
        "report" -> report.map { case (s, n, t) => Seq(s, n, t) },
        "signatures" -> Map("rows" -> pass.signatures.rows, "hash" -> pass.signatures.hash))))
    spark.stop()
  }

  /** Writes, for the small-scale `documents` under `--data`, the outputs of
    * both compositions (one `curation_service` episode at `--seed`, projected
    * to the catalog's q248 columns, and the funnel's stage report) plus the
    * catalog's oracle SQL for q248 and q230, for `crosscheck.py` to compare
    * in DuckDB.
    */
  def crosscheck(a: Main.Args): Unit = {
    val spark = Main.session()
    val cs = new CurationService(a.data, Golden.Empty, a.seed)
    cs.prepare(spark)
    val accepted = (0 until cs.roundLength).map { i => cs.op(i); cs.lastAccepted }
      .reduce(_.unionByName(_))
      .select(col("doc_id"), col("lang"),
        greatest(TextFunctions.tokenCount(col("text")), lit(0)).cast("long").as("toks"))
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"${a.work}/$name")
    save(accepted, "q248_indexed_ticks")
    val report = CorpusBatch.funnel(Engine.table(spark, a.data, "documents")).report
    import spark.implicits._
    save(report.toDF("stage", "n_docs", "n_tokens"), "q230_curation_funnel")
    json.writeValue(new File(s"${a.work}/oracle_sql.json"), Map(
      "q248_indexed_ticks" -> SparkEntry.oracleSql("q248_indexed_ticks"),
      "q230_curation_funnel" -> SparkEntry.oracleSql("q230_curation_funnel")))
    spark.stop()
  }
}
