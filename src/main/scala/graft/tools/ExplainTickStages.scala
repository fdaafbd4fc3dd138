package graft.tools

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.Engine
import graft.catalog.Shared.Stopwords
import graft.functions.TextFunctions

/** Dump `.explain("formatted")` for the curation tick's PRE-CHECKPOINT
  * stage frames (VERDICT r14 item 7: the declared service queries pin every
  * stage with localCheckpoint, so their final plans show only
  * `Scan ExistingRDD` and cannot evidence what the stage projections
  * compute). This tool builds the real operator frames — the same
  * TextFunctions / Curation / Decontaminate entry points the q237/q248/
  * q261/q264/q267 ticks call — and dumps their plans before any pin, so a
  * claimed projection fusion is directly visible. Diagnostic only — never
  * part of a bench or oracle gate.
  *
  * Usage: runMain graft.tools.ExplainTickStages <outDir> <suffix> [sfDir]
  */
object ExplainTickStages {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainTickStages <outDir> <suffix> [sfDir]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    java.nio.file.Files.createDirectories(outDir)

    val docs = Engine.table(spark, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val batch = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        outDir.resolve(s"tick_${name}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"EXPLAIN wrote tick_${name}_$suffix.txt (${txt.length} chars)")
    }

    // stage 1 — the quality screen exactly as tickIndexed applies it
    dump("stage1_quality",
      batch.filter(TextFunctions.qualityScore(col("text"), Stopwords) >= 0.5))

    // stage 2 — the stored-index decontamination probe (word-gram explode)
    val bi = graft.operators.Decontaminate.benchIndex(
      bench, "doc_id", "text", n = 4, m = 1 << 16, k = 4)
    dump("stage2_decont",
      graft.operators.Decontaminate.sharedGramCountsIndexed(
        batch, bi.grams, bi.bloomCells, "doc_id", "text", 4, bi.m, bi.k))

    // stage 3 — the exact-dedup frame exactly as tickIndexed builds it
    // (keep-min by digest, then the anti-join against the index digests),
    // captured through the stageHook seam; construction aborts right after
    // s3 so the dump never pays the later stages' cost probes
    final class StageFrame(val df: org.apache.spark.sql.DataFrame)
      extends RuntimeException
    val idx = graft.operators.Curation.signatures(
      docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0),
      "doc_id", "text", "lang")
    val s3Frame =
      try {
        graft.operators.Curation.tickIndexed(
          idx, batch, bench, "doc_id", "text", "lang",
          quality = TextFunctions.qualityScore(col("text"), Stopwords),
          pin = graft.operators.Pin.Off,
          stageHook = (name, df) =>
            if (name == "s3") throw new StageFrame(df) else df)
        sys.error("unreachable: the hook aborts at s3")
      } catch { case sf: StageFrame => sf.df }
    dump("stage3_dedup", s3Frame)

    // stage 4 prep — the signature projection, both hash conventions
    dump("signatures_xxhash64",
      graft.operators.Curation.signatures(batch, "doc_id", "text", "lang"))
    dump("signatures_md5slice",
      graft.operators.Curation.signatures(batch, "doc_id", "text", "lang",
        shingleHash = graft.expressions.ShingleHash.Md5Slice))

    // generated-source dumps: a formatted plan cannot distinguish a
    // CodegenFallback expression (interpreted eval boundary) from a real
    // doGenCode one — the generated code can. The fused-kernel upgrades
    // are visible as direct `.compute(...)` calls inside the whole-stage
    // span (the fallback form instead routed through Expression.eval over
    // a boxed InternalRow).
    def dumpCodegen(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.execution.debug._
      val src = df.queryExecution.debug.codegenToSeq()
        .map { case (subtree, code, _) => s"== SUBTREE ==\n$subtree\n== CODE ==\n$code" }
        .mkString("\n\n")
      java.nio.file.Files.write(
        outDir.resolve(s"codegen_${name}_$suffix.txt"), src.getBytes("UTF-8"))
      println(s"CODEGEN wrote codegen_${name}_$suffix.txt (${src.length} chars)")
    }
    // AQE defers codegen until stage execution (the dump would be empty);
    // these two frames are single-stage projections, so the non-adaptive
    // plan's generated code is the same code the adaptive stage compiles
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    dumpCodegen("stage1_quality",
      batch.filter(TextFunctions.qualityScore(col("text"), Stopwords) >= 0.5))
    dumpCodegen("signatures_xxhash64",
      graft.operators.Curation.signatures(batch, "doc_id", "text", "lang"))
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    spark.stop()
  }
}
