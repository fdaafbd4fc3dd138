package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Engine

/** Scale-validation data builder: replicates an existing testdata scale
  * factor N× with shifted entity keys so the result has N× the rows AND N×
  * the distinct join keys — the shape a real 10× corpus has, unlike a naive
  * row-copy (which would multiply per-key cardinality instead of key count
  * and distort every groupBy/join).
  *
  * Key discipline mirrors the generator's referential structure:
  *   - region/nation are fixed dimensions (TPC-H-style: they do not scale)
  *   - customer/supplier/part/orders/lineitem shift each entity key by
  *     replica*OFFSET, consistently on both sides of every FK edge
  *     (o_custkey with c_custkey, l_orderkey with o_orderkey, ...)
  *   - events shift user_id by the customer offset (events join customer on
  *     user_id = c_custkey) and event_id by its own
  *   - documents get a tiny per-replica text prefix ("r3 ") so replicas are
  *     NEAR-duplicates, not exact ones — dedup clusters of size N, the
  *     realistic 10×-corpus burden, instead of a degenerate all-exact-dup
  *     corpus; doc_id shifts keep `% 50` split membership (OFFSET % 50 == 0)
  *   - embeddings shift vec_id only (identical vectors across replicas form
  *     tight ANN clusters — worst case for bucketed candidate generation)
  *
  * The optional 4th arg `novelPct` (0-100, default 0 = the historical
  * shape) makes that percentage of REPLICA documents (never the r0
  * originals) genuinely NOVEL instead of near-duplicate: their text is
  * resynthesized as a deterministic word salad over the source corpus'
  * OWN vocabulary, the same length as the original. Why this recipe: the
  * pure-replica corpus makes every tick-class batch doc a near-dup of its
  * r0 base, so acceptance reads ZERO at sf1 and the appendState growth
  * path is never exercised (BASELINE §5h / VERDICT r11 #1 — the one blind
  * spot in the scale story). Same-vocabulary salads keep the quality
  * stage's token/stopword/punctuation distribution (they PASS the
  * screen), collide with the benchmark's word-4-grams no more than the
  * generator's own independent docs do (they pass decontamination), and
  * share no meaningful shingle mass with any replica chain or each other
  * (they pass the similarity stages and are ACCEPTED) — a controlled
  * novel share per batch, selected by a doc-id hash so every run and
  * every split sees the same novel set.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor> [novelPct]
  * Output is benchmark input only — it is never an oracle corpus.
  */
object ScaleUp {

  /** Multiple of 50 (documents' decontamination split is doc_id % 50) and
    * far above any key range at the factors this tool is used for. */
  val Offset = 100000000L

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    val novelPct = args.lift(3).map(_.toInt).getOrElse(0)
    require(novelPct >= 0 && novelPct <= 100, s"novelPct must be 0-100: $novelPct")
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // copy naive timestamps (events.ts, l_shipdate, o_orderdate) as NTZ, not INT96
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    /** factor copies of df with `keys` shifted by replica*Offset. */
    def replicate(df: DataFrame, keys: Seq[String]): DataFrame = {
      val shift = col("_r") * lit(Offset)
      val rep = df
        .withColumn("_r", explode(sequence(lit(0L), lit(factor - 1L))))
      keys.foldLeft(rep)((d, k) => d.withColumn(k, col(k) + shift))
    }

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    write(src("region"), "region", 1)
    write(src("nation"), "nation", 1)
    write(replicate(src("customer"), Seq("c_custkey")).drop("_r"), "customer", 4)
    write(replicate(src("supplier"), Seq("s_suppkey")).drop("_r"), "supplier", 1)
    write(replicate(src("part"), Seq("p_partkey")).drop("_r"), "part", 4)
    write(replicate(src("orders"), Seq("o_orderkey", "o_custkey")).drop("_r"),
      "orders", 16)
    write(replicate(src("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")).drop("_r"), "lineitem", 32)
    write(replicate(src("events"), Seq("event_id", "user_id")).drop("_r"),
      "events", 16)
    val nearDupText =
      when(col("_r") === 0, col("text"))
        .otherwise(concat(lit("r"), col("_r"), lit(" "), col("text")))
    val docText = if (novelPct == 0) nearDupText else {
      // the generator's own vocabulary — bounded by construction (a few
      // dozen words), collected once and inlined as a literal array
      val vocab = src("documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0).distinct()
        .orderBy(col("w")).collect().map(_.getString(0))
      val vlit = array(vocab.map(lit): _*)
      // a deterministic same-length word salad: word i of the novel doc is
      // vocab[xxhash64(shifted doc_id, i) mod |vocab|] — unique per
      // (base doc, replica), reproducible across runs and splits
      val salad = concat_ws(" ",
        transform(sequence(lit(0), size(split(col("text"), " ")) - 1,
          lit(1)),
          i => element_at(vlit,
            (pmod(xxhash64(col("doc_id"), i), lit(vocab.length)) + 1).cast("int"))))
      when(col("_r") >= 1 &&
          pmod(xxhash64(col("doc_id")), lit(100)) < novelPct, salad)
        .otherwise(nearDupText)
    }
    val docs = replicate(src("documents"), Seq("doc_id"))
      .withColumn("text", docText)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("_r")
    write(docs, "documents", 8)
    write(replicate(src("embeddings"), Seq("vec_id")).drop("_r"),
      "embeddings", 4)

    println(s"scaled $srcDir x$factor -> $outDir")
    spark.stop()
  }
}
