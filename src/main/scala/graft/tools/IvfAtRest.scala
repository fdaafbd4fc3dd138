package graft.tools

import org.apache.spark.sql.functions._

import graft.Engine
import graft.functions.IvfIndex

/** At-rest measurement for the quantized IVF artifact on a scaled corpus:
  * build the q271-recipe RAW index and the q275-recipe QUANTIZED index over
  * the same embeddings table (same explicit centroids ⇒ identical cell
  * layout), report each artifact's `cells/` bytes and the compression
  * ratio, then time one partition-pruned probe against each — the "is the
  * ~4× at-rest claim real where it matters, and does the probe pay for the
  * reconstruction arithmetic" question answered with du-equivalent numbers
  * instead of the driver-data spec bound. Diagnostic only — never part of
  * a bench or oracle gate (ProfileTick's contract).
  *
  * Usage: runMain graft.tools.IvfAtRest [sfDir]
  */
object IvfAtRest {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def tm[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROF  $label%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def bytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(new java.io.File(d))
    }

    val emb = Engine.table(spark, dir, "embeddings")
    val n = emb.count()
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val root = java.nio.file.Files.createTempDirectory("ivf-atrest").toString

    val hr = tm(s"build RAW (n=$n, q271 recipe)") {
      IvfIndex.build(emb, "vec_id", "embedding", centroids, s"$root/raw")
    }
    val hq = tm(s"build QUANTIZED (n=$n, q275 recipe)") {
      IvfIndex.buildQuantized(emb, "vec_id", "embedding", centroids, s"$root/quant")
    }
    val bR = bytes(s"$root/raw/cells")
    val bQ = bytes(s"$root/quant/cells")
    println(f"SIZE  raw cells/       $bR%12d bytes")
    println(f"SIZE  quantized cells/ $bQ%12d bytes")
    println(f"SIZE  at-rest ratio    ${bQ.toDouble / bR}%12.3f (quantized / raw)")

    val queries = emb.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    for ((label, h) <- Seq(("raw", hr), ("quantized", hq)); pass <- 1 to 2) {
      tm(s"probe $label (k=5, nProbe=3) pass $pass") {
        IvfIndex.probe(h, queries, "q_id", "q_vec", k = 5, nProbe = 3)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
