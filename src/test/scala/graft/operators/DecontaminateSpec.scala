package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Shared.exitScopedDir

class DecontaminateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
  private val corpus = Seq(
    (1L, "a b c d x"), // shares trigrams "a b c", "b c d"
    (2L, "x y z w"), // clean
    (3L, "A B C q"), // case-folds into "a b c"
    (4L, "c d e c d e") // repeated shared trigrams count DISTINCT once each: "c d e" (+ none other)
  ).toDF("doc_id", "text")

  test("shared distinct n-gram counts are exact") {
    val out = Decontaminate
      .sharedGramCounts(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("bloom prefilter path equals the exact join path") {
    val withBloom = Decontaminate
      .sharedGramCounts(corpus, bench, "doc_id", "text", n = 3, useBloom = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Decontaminate
      .sharedGramCounts(corpus, bench, "doc_id", "text", n = 3, useBloom = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withBloom == exact)
  }

  test("indexed path (stored bloom cells + gram table) equals the inline paths") {
    val bi = Decontaminate.benchIndex(bench, "doc_id", "text", n = 3, m = 1 << 12, k = 4)
    // parquet round-trip: the index is a STORED artifact between calls
    val dir = exitScopedDir("bloom_idx")
    bi.grams.write.mode("overwrite").parquet(s"$dir/grams")
    bi.bloomCells.write.mode("overwrite").parquet(s"$dir/cells")
    val indexed = Decontaminate
      .sharedGramCountsIndexed(corpus,
        bi.copy(grams = spark.read.parquet(s"$dir/grams"),
          bloomCells = spark.read.parquet(s"$dir/cells")),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Decontaminate
      .sharedGramCounts(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed == inline && indexed.nonEmpty)
  }

  test("indexed path stays exact after a bloom-cell MERGE absorbs new benchmark docs") {
    val bench2 = Seq((200L, "p q r s t")).toDF("doc_id", "text")
    val benchBoth = bench.unionByName(bench2)
    val bi1 = Decontaminate.benchIndex(bench, "doc_id", "text", 3, 1 << 12, 4)
    val bi2 = Decontaminate.benchIndex(bench2, "doc_id", "text", 3, 1 << 12, 4)
    val corpus2 = corpus.unionByName(Seq((5L, "p q r s zz")).toDF("doc_id", "text"))
    val merged = Decontaminate
      .sharedGramCountsIndexed(corpus2,
        bi1.copy(grams = bi1.grams.unionByName(bi2.grams).distinct(),
          bloomCells = graft.functions.Bloom.merge(bi1.bloomCells, bi2.bloomCells)),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val whole = Decontaminate
      .sharedGramCounts(corpus2, benchBoth, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged == whole && merged.exists(_._1 == 5L))
  }

  test("benchIndexGrow: one-call growth equals the fresh union build and re-ingest is a no-op") {
    val bench2 = Seq((200L, "p q r s t")).toDF("doc_id", "text")
    val bi = Decontaminate.benchIndex(bench, "doc_id", "text", n = 3, m = 1 << 12, k = 4)
    val grown = Decontaminate.benchIndexGrow(bi, bench2, "text")
    val fresh = Decontaminate.benchIndex(
      bench.unionByName(bench2), "doc_id", "text", 3, 1 << 12, 4)
    def grams(i: Decontaminate.BenchIndex) = i.grams.as[(Long, String)].collect().toSet
    def cells(i: Decontaminate.BenchIndex) = i.bloomCells.as[(Int, Long)].collect().toSet
    assert(grams(grown) == grams(fresh) && cells(grown) == cells(fresh))
    assert((grown.m, grown.k, grown.n) == ((bi.m, bi.k, bi.n)))
    // idempotent: re-ingesting an absorbed slice changes nothing (replayed
    // feeds / overlapping drops are routine for a standing service)
    val again = Decontaminate.benchIndexGrow(grown, bench2, "text")
    assert(grams(again) == grams(grown) && cells(again) == cells(grown))
    // id-keyed contract: re-ingesting a KNOWN id with changed text is also
    // a no-op (first write wins; a revised doc is delete-then-grow)
    val revised = Decontaminate.benchIndexGrow(
      grown, Seq((200L, "totally different words now")).toDF("doc_id", "text"), "text")
    assert(grams(revised) == grams(grown) && cells(revised) == cells(grown))
    // and the contextual require fires on a mis-keyed slice
    val eCol = intercept[IllegalArgumentException] {
      Decontaminate.benchIndexGrow(grown, Seq((1L, "x")).toDF("id", "text"), "text")
    }
    assert(eCol.getMessage.contains("doc_id"))
    // and the grown index probes exactly like the inline path over the union
    val corpus2 = corpus.unionByName(Seq((5L, "p q r s zz")).toDF("doc_id", "text"))
    val indexed = Decontaminate.sharedGramCountsIndexed(corpus2, grown, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Decontaminate.sharedGramCounts(
        corpus2, bench.unionByName(bench2), "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed == inline && indexed.exists(_._1 == 5L))
  }

  test("benchIndexDelete: a takedown stops flagging removed-exclusive grams, keeps shared ones") {
    // bench 100 and 200 SHARE trigram "a b c"; 100's other trigrams are
    // exclusive to it. Removing 100 must stop flagging its exclusive grams
    // while the shared gram keeps flagging through 200's surviving row.
    val b2 = Seq((100L, "a b c d e"), (200L, "a b c x y")).toDF("doc_id", "text")
    val bi = Decontaminate.benchIndex(b2, "doc_id", "text", n = 3, m = 1 << 12, k = 4)
    val after = Decontaminate.benchIndexDelete(bi, Seq(100L).toDF("doc_id"))
    def counts(i: Decontaminate.BenchIndex) = Decontaminate
      .sharedGramCountsIndexed(corpus, i, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // corpus doc 1 ("a b c d x"): shares {"a b c","b c d"} before, only the
    // retained doc's "a b c" after
    assert(counts(bi).get(1L).contains(2L))
    assert(counts(after).get(1L).contains(1L))
    // the rebuilt index IS the fresh build over the retained benchmark —
    // cells bit-identical, grams row-identical
    val fresh = Decontaminate.benchIndex(
      b2.filter($"doc_id" === 200L), "doc_id", "text", 3, 1 << 12, 4)
    assert(after.bloomCells.as[(Int, Long)].collect().toSet ==
      fresh.bloomCells.as[(Int, Long)].collect().toSet)
    assert(after.grams.as[(Long, String)].collect().toSet ==
      fresh.grams.as[(Long, String)].collect().toSet)
    // removing EVERY doc leaves an empty (but well-formed) index
    val none = Decontaminate.benchIndexDelete(bi, Seq(100L, 200L).toDF("doc_id"))
    assert(none.grams.isEmpty && none.bloomCells.isEmpty)
    val e = intercept[IllegalArgumentException] {
      Decontaminate.benchIndexDelete(bi, Seq(1L).toDF("other_id"))
    }
    assert(e.getMessage.contains("doc_id"))
  }

  test("streaming-drained bloom cells ARE the BenchIndex growth feed (merge ≡ fresh build)") {
    // the Bloom.cells doc claims drained slices feed a stored
    // decontamination index as benchmark additions arrive — prove it: a
    // growth slice arrives as a STREAM, its gram feed drains through the
    // running Bloom.cells at the index's (m, k), and Bloom.merge of the
    // drained cells into the stored cells equals a fresh BATCH benchIndex
    // over the union benchmark set, probe-identical (the indexed≡inline
    // pattern, joining the streaming tier to the index tier)
    import graft.functions.{Bloom, TextFunctions}
    val (m, k) = (1 << 12, 4)
    val bi1 = Decontaminate.benchIndex(bench, "doc_id", "text", n = 3, m = m, k = k)
    val bench2 = Seq((200L, "p q r s t"), (201L, "u v w x y")).toDF("doc_id", "text")
    val dir = exitScopedDir("bench_growth")
    bench2.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(bench2.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // the same gram derivation as benchIndex, as a stateless stream stage
    val gramStream = stream.filter(trim(col("text")) =!= "")
      .select(explode(array_distinct(
        TextFunctions.wordShingles(lower(col("text")), 3))).as("g"))
    val q = Bloom.cells(gramStream, col("g"), m, k)
      .writeStream.outputMode("complete").format("memory")
      .queryName("growth_cells").start()
    q.processAllAvailable(); q.stop()
    val drained = spark.table("growth_cells")
    // growth = OR-merge the drained cells + row-append the gram table
    val grown = bi1.copy(
      grams = bi1.grams.unionByName(
        Decontaminate.benchIndex(bench2, "doc_id", "text", 3, m, k).grams),
      bloomCells = Bloom.merge(bi1.bloomCells, drained))
    val benchBoth = bench.unionByName(bench2)
    val fresh = Decontaminate.benchIndex(benchBoth, "doc_id", "text", 3, m, k)
    assert(grown.bloomCells.as[(Int, Long)].collect().toSet ==
      fresh.bloomCells.as[(Int, Long)].collect().toSet,
      "streaming-drained growth cells diverge from the whole-data build")
    // probe-identity on a corpus touching old, new, and no benchmark docs
    val corpus2 = corpus.unionByName(Seq((5L, "p q r s zz")).toDF("doc_id", "text"))
    val viaGrown = Decontaminate.sharedGramCountsIndexed(corpus2, grown, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Decontaminate.sharedGramCounts(corpus2, benchBoth, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGrown == inline && viaGrown.exists(_._1 == 5L))
  }

  test("benchIndexResize: monitor trips, resize from stored grams, monitor green, probes identical") {
    // saturate a deliberately tiny stored filter: ~300 grams in 64 bits
    val benchBig = (0 until 60)
      .map(i => (i.toLong, s"w$i x$i y$i z$i q$i r$i")).toDF("doc_id", "text")
    val bi = Decontaminate.benchIndex(benchBig, "doc_id", "text", n = 3, m = 64, k = 2)
    val before = Decontaminate.saturationReport(bi)
      .select("recommend_rebuild").as[Boolean].collect().head
    assert(before, "a 64-bit filter over ~240 grams must trip the monitor")
    val resized = Decontaminate.benchIndexResize(bi, targetFpp = 0.01)
    // the carried (m, k) is sizeFor over the STORED distinct gram count
    val g = bi.grams.select("g").distinct().count()
    assert((resized.m, resized.k) == graft.functions.Bloom.sizeFor(g, 0.01))
    // cells bit-identical to a fresh TEXT build at the new (m, k) — no
    // benchmark text was read to get them
    val fresh = Decontaminate.benchIndex(
      benchBig, "doc_id", "text", n = 3, m = resized.m, k = resized.k)
    assert(resized.bloomCells.as[(Int, Long)].collect().toSet ==
      fresh.bloomCells.as[(Int, Long)].collect().toSet)
    // gram table untouched by a resize
    assert(resized.grams.as[(Long, String)].collect().toSet ==
      bi.grams.as[(Long, String)].collect().toSet)
    // the monitor reads green afterwards
    val after = Decontaminate.saturationReport(resized)
      .select("recommend_rebuild", "effective_fpp")
      .as[(Boolean, Double)].collect().head
    assert(!after._1 && after._2 < 0.02, s"monitor still red after resize: $after")
    // probe-identity: the resized index returns the inline path's counts
    val probe = Seq(
      (1L, "w1 x1 y1 z1 tail"), // shares trigrams with benchBig doc 1
      (2L, "nothing shared here at all")).toDF("doc_id", "text")
    val viaResized = Decontaminate.sharedGramCountsIndexed(probe, resized, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Decontaminate.sharedGramCounts(probe, benchBig, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaResized == inline && viaResized.nonEmpty)
    // an emptied index cannot be sized — fail loud, not NPE/garbage
    val emptied = Decontaminate.benchIndexDelete(bi, benchBig.select("doc_id"))
    val e = intercept[IllegalArgumentException] {
      Decontaminate.benchIndexResize(emptied, 0.01)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("saturationReport(handle) reads the carried (m, k) — identical to the raw form") {
    val bi = Decontaminate.benchIndex(bench, "doc_id", "text", n = 3, m = 1 << 12, k = 4)
    val viaHandle = Decontaminate.saturationReport(bi)
      .collect().map(_.toSeq).toSeq
    val raw = graft.functions.Bloom.saturationReport(bi.bloomCells, bi.m, bi.k)
      .collect().map(_.toSeq).toSeq
    assert(viaHandle == raw && viaHandle.nonEmpty)
  }

  test("bloom prefilter sits on the corpus side BELOW the verify join (and any shuffle)") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val docs = graft.Engine.table(spark, TestSpark.Sf, "documents")
    val plan = Decontaminate
      .sharedGramCounts(
        docs.filter("doc_id % 50 <> 0"), docs.filter("doc_id % 50 = 0"),
        "doc_id", "text", n = 4)
      .queryExecution.sparkPlan
    val join = plan.collectFirst { case j: BaseJoinExec => j }
    assert(join.isDefined, s"no join in plan:\n$plan")
    def bloomFilters(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case f: FilterExec if f.condition.toString.toLowerCase.contains("udf") => f
    }
    // the streamed corpus side (left) carries the bloom prune before the
    // join; if that side shuffles, the prune must be below the exchange
    // (map-side) so unmatched grams never cross the wire
    val left = join.get.children.head
    assert(bloomFilters(left).nonEmpty,
      s"bloom UDF filter not on the corpus side of the verify join:\n$plan")
    val exchanges = left.collect { case e: Exchange => e }
    exchanges.foreach { e =>
      assert(bloomFilters(e.child).nonEmpty || bloomFilters(e).isEmpty,
        s"bloom filter rides ABOVE a corpus-side exchange (post-shuffle prune):\n$plan")
    }
  }

  test("sf0.001 documents: bloom and exact paths agree on real data") {
    val docs = graft.Engine.table(spark, TestSpark.Sf, "documents")
    val b = docs.filter("doc_id % 50 = 0")
    val c = docs.filter("doc_id % 50 <> 0")
    val fast = Decontaminate.sharedGramCounts(c, b, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Decontaminate.sharedGramCounts(c, b, "doc_id", "text", n = 4, useBloom = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == exact)
    assert(fast.nonEmpty) // the synthetic corpus plants at least one near-copy
  }

  test("benchIndexSized: one gram pass, sizeFor-pinned (m, k), identical to a hand build") {
    import spark.implicits._
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val sized = Decontaminate.benchIndexSized(bench, "doc_id", "text", n = 3)
    // (m, k) must be exactly sizeFor over the index's own distinct gram
    // count (the single-recipe contract: the sizing can't drift from what
    // was built)
    val nGrams = sized.grams.select(col("g")).distinct().count()
    assert((sized.m, sized.k) == graft.functions.Bloom.sizeFor(nGrams, 0.001))
    // and the result is bit-identical to the two-step hand build at that (m, k)
    val hand = Decontaminate.benchIndex(bench, "doc_id", "text", 3, sized.m, sized.k)
    def rws(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    assert(rws(sized.grams) == rws(hand.grams))
    assert(rws(sized.bloomCells) == rws(hand.bloomCells))
    // an empty benchmark sizes at n = 1 instead of failing sizeFor's n > 0
    val empty = Decontaminate.benchIndexSized(bench.limit(0), "doc_id", "text", n = 3)
    assert(empty.grams.isEmpty && (empty.m, empty.k) == graft.functions.Bloom.sizeFor(1L, 0.001))
  }
}
