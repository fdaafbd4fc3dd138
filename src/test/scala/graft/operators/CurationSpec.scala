package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.expressions.ShingleHash
import graft.catalog.Shared.exitScopedDir

/** Curation.tick: the incremental curation operator. The load-bearing
  * property is COMPOSABILITY — two sequential ticks must equal one combined
  * tick — which the greedy near-dup rule guarantees and the "dominated by
  * any survivor" rule (batch q230's within-corpus form) does not.
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- greedyDominated unit behavior -------------------------------------

  test("greedyDominated: clique rejects all but the minimum") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val rejected = Curation.greedyDominated(pairs, "id_a", "id_b")
      .as[Long].collect().sorted.toSeq
    assert(rejected == Seq(2L, 3L))
  }

  test("greedyDominated: a chain alternates (multi-round resolution)") {
    // 1-2, 2-3, 3-4, 4-5: greedy accepts 1, rejects 2; 3 unblocks and is
    // accepted (round 2), rejecting 4; 5 unblocks and survives
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val rejected = Curation.greedyDominated(pairs, "id_a", "id_b")
      .as[Long].collect().sorted.toSeq
    assert(rejected == Seq(2L, 4L))
  }

  test("greedyDominated: rejected nodes never block (vs dominated-by-any)") {
    // 1-2 and 2-3 only: greedy accepts {1, 3} (2 is rejected, so it cannot
    // block 3); the non-composable dominated-by-any rule would drop 3 too
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val rejected = Curation.greedyDominated(pairs, "id_a", "id_b")
      .as[Long].collect().sorted.toSeq
    assert(rejected == Seq(2L))
  }

  test("greedyDominated: empty input converges immediately") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Curation.greedyDominated(pairs, "id_a", "id_b").count() == 0)
  }

  /** Sequential greedy over a pair graph: nodes in ascending id, each
    * rejected iff pre-rejected or adjacent to an accepted smaller node.
    */
  private def greedyReference(pairs: Seq[(Long, Long)], seeds: Set[Long]): Set[Long] = {
    val nbrs = pairs.filter { case (x, y) => x != y }
      .flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val accepted = scala.collection.mutable.Set.empty[Long]
    (nbrs.keySet ++ seeds).toSeq.sorted.foreach { n =>
      if (!seeds(n) && !nbrs.getOrElse(n, Set.empty).exists(m => m < n && accepted(m)))
        accepted += n
    }
    (nbrs.keySet ++ seeds) -- accepted
  }

  /** Seeded conflict graph of one shape, with duplicate and
    * reversed-orientation rows, plus pre-rejected seeds: some isolated,
    * some only ever the smaller endpoint, some anywhere in the graph.
    */
  private def randomGraph(seed: Int, shape: String): (Seq[(Long, Long)], Set[Long]) = {
    val rnd = new scala.util.Random(seed)
    val base = 1000L * (1 + rnd.nextInt(50))
    def ids(n: Int) = rnd.shuffle((0 until 4 * n).map(base + _)).take(n)
    def chain(n: Int) = { val v = ids(n).sorted; v.zip(v.tail) }
    def clique(n: Int) = { val v = ids(n); for (x <- v; y <- v if x < y) yield (x, y) }
    def star(n: Int) = { val v = ids(n); v.tail.map(v.head -> _) }
    def random(n: Int) = { val v = ids(n); Seq.fill(2 * n)((v(rnd.nextInt(n)), v(rnd.nextInt(n)))) }
    val edges = shape match {
      case "chain" => chain(3 + rnd.nextInt(12))
      case "clique" => clique(2 + rnd.nextInt(6))
      case "star" => star(3 + rnd.nextInt(10))
      case "mixed" => chain(6) ++ clique(4) ++ star(5) ++ random(10)
    }
    val rows = edges.flatMap { e =>
      val once = if (rnd.nextBoolean()) e else e.swap
      if (rnd.nextInt(4) == 0) Seq(once, e.swap) else Seq(once)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val onlySmaller = nodes.filter(n => edges.forall { case (x, y) => math.max(x, y) != n })
    val seeds = Set(base - 1 - rnd.nextInt(100)) ++ // isolated, below every node
      onlySmaller.take(1) ++ nodes.filter(_ => rnd.nextInt(5) == 0)
    (rnd.shuffle(rows), seeds)
  }

  test("greedyDominated equals the sequential greedy on random graphs with pre-rejected seeds") {
    val cases = for ((shape, k) <- Seq("chain", "clique", "star", "mixed").zipWithIndex;
                     seed <- 0 until 5)
      yield (shape, seed) -> randomGraph(10 * seed + k, shape)
    assert(cases.exists(_._2._2.size > 1))
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      for (partitions <- Seq("1", "8"); repartition <- Seq(false, true)) {
        spark.conf.set(key, partitions)
        cases.foreach { case ((shape, seed), (pairs, seeds)) =>
          def frame(df: org.apache.spark.sql.DataFrame) =
            if (repartition) df.repartition(5) else df
          val got = Curation.greedyDominated(
              frame(pairs.toDF("id_a", "id_b")), "id_a", "id_b",
              preRejected = Some(frame(seeds.toSeq.toDF("id"))))
            .as[Long].collect().toSeq
          assert(got.distinct.size == got.size, s"$shape/$seed: an id was emitted twice")
          assert(got.toSet == greedyReference(pairs, seeds),
            s"$shape/$seed at $partitions partitions (repartitioned=$repartition)")
        }
      }
    } finally spark.conf.set(key, before)
  }

  // ---- tick vs a sequential reference ------------------------------------

  private def shingles(text: String): Set[String] = {
    val norm = text.trim.replaceAll("\\s+", " ").toLowerCase
    if (norm.length < 5) Set.empty
    else (0 to norm.length - 5).map(i => norm.substring(i, i + 5)).toSet
  }

  private def jac(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty || b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size

  /** Sequential greedy reference: ingest batch docs in id order against the
    * corpus; quality bypassed (lit(1.0) in these tests), no bench.
    */
  private def reference(
      corpus: Seq[(Long, String, String)],
      batch: Seq[(Long, String, String)],
      tau: Double): Seq[Long] = {
    val corpusTexts = corpus.map(_._3).toSet
    val corpusSh = corpus.map { case (_, l, t) => (l, shingles(t)) }
    var accepted = Vector.empty[(Long, String, Set[String])]
    var acceptedTexts = Set.empty[String]
    batch.sortBy(_._1).foreach { case (id, lang, text) =>
      val sh = shingles(text)
      val exactDup = corpusTexts.contains(text) || acceptedTexts.contains(text)
      val nearCorpus = corpusSh.exists { case (l, s) => l == lang && jac(sh, s) >= tau }
      val nearAccepted = accepted.exists { case (_, l, s) => l == lang && jac(sh, s) >= tau }
      if (!exactDup && !nearCorpus && !nearAccepted) {
        accepted :+= ((id, lang, sh))
        acceptedTexts += text
      }
    }
    accepted.map(_._1)
  }

  /** Random corpus with planted mutation chains: each chain extends a base
    * string so adjacent links are near-dups but distant links are not.
    */
  private def mutationCorpus(seed: Int): (Seq[(Long, String, String)], Seq[(Long, String, String)]) = {
    val rnd = new scala.util.Random(seed)
    def randStr(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val corpus = (0 until 30).map(i => (i.toLong, s"l${i % 2}", randStr(120)))
    // batch: fresh docs + docs near corpus docs + chains within the batch +
    // exact dups of corpus and of earlier batch docs
    val fresh = (100 until 115).map(i => (i.toLong, s"l${i % 2}", randStr(120)))
    val nearCorpus = (115 until 122).map { i =>
      val (_, l, t) = corpus(rnd.nextInt(corpus.size))
      (i.toLong, l, t + randStr(40)) // J ~ 116/156 >= 0.5 vs the base
    }
    val chains = (122 until 128).flatMap { i0 =>
      val base = randStr(100)
      Seq(
        (i0 * 10L, "l0", base),
        (i0 * 10L + 1, "l0", base + randStr(60)), // ~0.61 vs base
        (i0 * 10L + 2, "l0", base + randStr(60) + randStr(60))) // ~0.44 vs base, ~0.72 vs mid
    }
    val exactDups = Seq(
      (5000L, corpus(3)._2, corpus(3)._3), // corpus text verbatim
      (5001L, "l0", chains.head._3)) // earlier batch text verbatim
    (corpus, (fresh ++ nearCorpus ++ chains ++ exactDups).sortBy(_._1))
  }

  private def runTick(
      corpus: Seq[(Long, String, String)],
      batch: Seq[(Long, String, String)],
      tau: Double): Seq[Long] = {
    val bench = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "lang", "text")
    Curation.tick(
        corpus.toDF("doc_id", "lang", "text"),
        batch.toDF("doc_id", "lang", "text"),
        bench, "doc_id", "text", "lang",
        quality = lit(1.0), minQuality = 0.0, tau = tau)
      .select("doc_id").as[Long].collect().sorted.toSeq
  }

  test("tick equals the sequential greedy reference on a mutation corpus") {
    val (corpus, batch) = mutationCorpus(61)
    val got = runTick(corpus, batch, tau = 0.5)
    val want = reference(corpus, batch, tau = 0.5).sorted
    assert(got == want, s"missing=${want.toSet -- got} extra=${got.toSet -- want.toSet}")
    // the corpus must make every stage bite: some fresh accepts, some
    // near-corpus rejects, some chain middles rejected with ends accepted
    assert(got.nonEmpty && got.size < batch.size)
  }

  test("two sequential ticks equal one combined tick (composability)") {
    val (corpus, batch) = mutationCorpus(67)
    // split point chosen mid-corpus so chains STRADDLE the tick boundary
    // (ranks stay monotone across ticks — the operator's contract)
    val (b1, b2) = batch.partition(_._1 < 1240L)
    assert(b1.nonEmpty && b2.nonEmpty)
    val combined = runTick(corpus, batch, tau = 0.5)

    val acc1 = runTick(corpus, b1, tau = 0.5)
    val corpus2 = corpus ++ b1.filter(d => acc1.contains(d._1))
    val acc2 = runTick(corpus2, b2, tau = 0.5)
    assert((acc1 ++ acc2).sorted == combined,
      s"tick composition diverged: combined=$combined split=${(acc1 ++ acc2).sorted}")
  }

  // ---- the indexed tick loop ---------------------------------------------

  test("indexed tick loop with append equals one combined tick") {
    val (corpus, batch) = mutationCorpus(73)
    val (b1, b2) = batch.partition(_._1 < 1240L)
    assert(b1.nonEmpty && b2.nonEmpty)
    val bench = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "lang", "text")
    val combined = runTick(corpus, batch, tau = 0.5)

    // production loop: build the signature index once, probe it per tick,
    // append accepted signatures between ticks — corpus text never re-read
    val idx0 = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang")
    val acc1 = Curation.tickIndexed(idx0, b1.toDF("doc_id", "lang", "text"),
      bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0)
    val idx1 = idx0.unionByName(
      Curation.signatures(acc1, "doc_id", "text", "lang"))
    val acc2 = Curation.tickIndexed(idx1, b2.toDF("doc_id", "lang", "text"),
      bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0)
    val got = (acc1.select("doc_id").as[Long].collect() ++
      acc2.select("doc_id").as[Long].collect()).sorted.toSeq
    assert(got == combined,
      s"indexed loop diverged: combined=$combined indexed=$got")
  }

  test("indexed tick probes a parquet-persisted index unchanged") {
    // the production loop: the index lives as parquet between ticks — the
    // round-trip must preserve digests, hash arrays, and the tick output
    val (corpus, batch) = mutationCorpus(79)
    val bench = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "lang", "text")
    val idx = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang")
    val dir = exitScopedDir("sig_idx")
    idx.write.mode("overwrite").parquet(dir)
    val fromDisk = spark.read.parquet(dir)
    val live = Curation.tickIndexed(idx, batch.toDF("doc_id", "lang", "text"),
        bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val persisted = Curation.tickIndexed(fromDisk, batch.toDF("doc_id", "lang", "text"),
        bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(live == persisted && live.nonEmpty,
      s"parquet round-trip changed the tick: live=$live persisted=$persisted")
  }

  test("postings-indexed tick equals the inline tick (parquet round-trip)") {
    // the round-8 production shape: the persistable (freq, posts) half of
    // the index carries the similarity stage's corpus-side prep, so a tick
    // never re-explodes corpus shingles — output must be IDENTICAL to the
    // postings-free tick (frozen-order losslessness)
    val (corpus, batch) = mutationCorpus(83)
    val bench = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "lang", "text")
    val idx = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang").localCheckpoint()
    val (freq, posts) = Curation.postingsIndex(idx, "doc_id", "lang")
    val dir = exitScopedDir("post_idx")
    freq.write.mode("overwrite").parquet(s"$dir/freq")
    posts.write.mode("overwrite").parquet(s"$dir/posts")
    val stored = Some((
      spark.read.parquet(s"$dir/freq"),
      spark.read.parquet(s"$dir/posts")))
    def run(cp: Option[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]) =
      Curation.tickIndexed(idx, batch.toDF("doc_id", "lang", "text"), bench,
          "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
          indexPinned = true, corpusPostings = cp)
        .select("doc_id").as[Long].collect().sorted.toSeq
    val inline = run(None)
    val indexed = run(stored)
    assert(indexed == inline && inline.nonEmpty,
      s"postings index changed the tick: inline=$inline indexed=$indexed")
  }

  test("postings-indexed two-tick loop with frozen-freq appends equals one combined tick") {
    val (corpus, batch) = mutationCorpus(89)
    val (b1, b2) = batch.partition(_._1 < 1240L)
    assert(b1.nonEmpty && b2.nonEmpty)
    val bench = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "lang", "text")
    val combined = runTick(corpus, batch, tau = 0.5)

    val idx0 = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang").localCheckpoint()
    val (freq0, posts0raw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq = freq0.localCheckpoint()
    val posts0 = posts0raw.localCheckpoint()
    val acc1 = Curation.tickIndexed(idx0, b1.toDF("doc_id", "lang", "text"), bench,
      "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      indexPinned = true, corpusPostings = Some((freq, posts0)))
    val app1 = Curation.signatures(acc1, "doc_id", "text", "lang").localCheckpoint()
    val idx1 = idx0.unionByName(app1)
    // appended postings build under the FROZEN order — the contract
    val posts1 = posts0.unionByName(
      Curation.postingsIndex(app1, "doc_id", "lang", frozenFreq = Some(freq))._2)
    val acc2 = Curation.tickIndexed(idx1, b2.toDF("doc_id", "lang", "text"), bench,
      "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      indexPinned = true, corpusPostings = Some((freq, posts1)))
    val got = (acc1.select("doc_id").as[Long].collect() ++
      acc2.select("doc_id").as[Long].collect()).sorted.toSeq
    assert(got == combined,
      s"postings-indexed loop diverged: combined=$combined indexed=$got")
  }

  test("stored BenchIndex decontamination equals the inline bench path (parquet round-trip)") {
    val (corpus, batch0) = mutationCorpus(61)
    // a bench doc sharing >= 5 distinct 4-grams with two planted batch docs
    val contaminatedText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val batch = batch0 ++ Seq(
      (6000L, "l0", contaminatedText + " lambda"),
      (6001L, "l1", "mu nu " + contaminatedText))
    val bench = Seq((9000L, "lx", contaminatedText)).toDF("doc_id", "lang", "text")
    val idx = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang")
      .localCheckpoint()
    // sized the way a production caller would: expected gram budget +
    // target fpp through Bloom.sizeFor (VERDICT r9 item 7 migration)
    val (m, k) = graft.functions.Bloom.sizeFor(64L, 0.01)
    val built = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = m, k = k)
    val dir = exitScopedDir("bench_idx")
    built.grams.write.mode("overwrite").parquet(s"$dir/grams")
    built.bloomCells.write.mode("overwrite").parquet(s"$dir/cells")
    val bi = Decontaminate.BenchIndex(
      spark.read.parquet(s"$dir/grams"), spark.read.parquet(s"$dir/cells"),
      "doc_id", 4, m, k)
    def run(b: Option[Decontaminate.BenchIndex]) = Curation.tickIndexed(
        idx, batch.toDF("doc_id", "lang", "text"), bench, "doc_id", "text", "lang",
        quality = lit(1.0), minQuality = 0.0, tau = 0.5, benchIdx = b)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val inline = run(None)
    val stored = run(Some(bi))
    assert(stored == inline)
    // the contaminated plants were actually screened (stage 2 did real work)
    assert(!inline.contains(6000L) && !inline.contains(6001L))
    // an index built at a different gram size than the tick's decontN is
    // rejected loud (the silent-underreport mismatch class BenchIndex exists
    // to prevent)
    val e = intercept[IllegalArgumentException] { run(Some(bi.copy(n = 5))) }
    assert(e.getMessage.contains("decontN"))
  }

  test("the shingle-hash convention does not change the accepted set") {
    // distinct-set Jaccard is hash-invariant (modulo collisions), so the
    // portable md5-slice convention the oracle-replayable capstone uses
    // must accept exactly the docs the default xxhash64 index accepts
    val (corpus, batch) = mutationCorpus(83)
    val corpusDf = corpus.toDF("doc_id", "lang", "text")
    def run(h: ShingleHash) =
      Curation.tickIndexed(
        Curation.signatures(corpusDf, "doc_id", "text", "lang", shingleHash = h),
        batch.toDF("doc_id", "lang", "text"),
        Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0, tau = 0.5,
        shingleHash = h)
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(run(ShingleHash.XxHash64) == run(ShingleHash.Md5Slice))
    // the Md5Slice index holds exactly the composed Kmv.hash element sets —
    // the reference form the DuckDB oracles re-derive
    val md = Curation.signatures(corpusDf, "doc_id", "text", "lang",
      shingleHash = ShingleHash.Md5Slice).select("doc_id", "_h")
    val composed = corpusDf.select(col("doc_id"), sort_array(array_distinct(transform(
      graft.functions.TextFunctions.charShingles(col("text"), 5),
      x => graft.functions.Kmv.hash(x)))).as("_h"))
    assert(md.exceptAll(composed).isEmpty && composed.exceptAll(md).isEmpty)
  }

  test("index delete contract: removing a corpus doc re-admits its blocked near-dup") {
    // takedowns are routine: the documented recipe is an anti-join of BOTH
    // index halves on the removed ids; freq stays frozen (staleness, not
    // error). A batch doc blocked only by the deleted corpus doc must be
    // accepted on the post-delete tick.
    val rnd = new scala.util.Random(97)
    def randStr(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val base = randStr(120)
    val corpus = Seq((1L, "l0", base + randStr(30)), (2L, "l0", randStr(120)))
    val batch = Seq((10L, "l0", base + randStr(35))) // near-dup of doc 1 only
    val bench = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "lang", "text")
    val idx = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang").localCheckpoint()
    val (freq0, posts0) = Curation.postingsIndex(idx, "doc_id", "lang")
    val freq = freq0.localCheckpoint()
    val posts = posts0.localCheckpoint()
    def run(sig: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.DataFrame) =
      Curation.tickIndexed(sig, batch.toDF("doc_id", "lang", "text"), bench,
          "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
          indexPinned = true, corpusPostings = Some((freq, p)))
        .select("doc_id").as[Long].collect().toSeq
    assert(run(idx, posts).isEmpty, "doc 10 must be blocked while doc 1 stands")
    // the delete recipe: left_anti on the removed ids, both halves
    val deleted = Seq(1L).toDF("doc_id")
    val idx2 = idx.join(deleted, Seq("doc_id"), "left_anti")
    val posts2 = posts.join(deleted, Seq("doc_id"), "left_anti")
    assert(run(idx2, posts2) == Seq(10L), "doc 10 must be re-admitted after the delete")
  }

  test("rebuildPostings: fresh-order rebuild reads drift_ratio exactly 1.0") {
    val (corpus, batch) = mutationCorpus(103)
    val idxAll = Curation.signatures(
      (corpus ++ batch).toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang").localCheckpoint()
    // a deliberately drifted stored order: the TRUE df ranking inverted, so
    // hub elements read as "rarest" and flood every prefix — the worst case
    // a year of corpus mix-shift can produce
    val trueFreq = SimilarityJoin.dfCounts(idxAll.select(col("_h")), "_h")
    val mx = trueFreq.agg(max(col("_df"))).head().getLong(0)
    val inverted = trueFreq.select(col("h"), (lit(mx + 1) - col("_df")).as("_df"))
      .localCheckpoint()
    val before = Curation.indexDriftReport(idxAll, "doc_id", "lang", 0.5, inverted)
      .select("drift_ratio").as[Double].collect().head
    assert(before > 1.0, s"an inverted order must overpay: ratio $before")
    // the executable rebuild: one postingsIndex pass over the signature
    // index, no text re-read — row-identical to postingsIndex itself
    val (freshFreq0, freshPosts0) = Curation.rebuildPostings(idxAll, "doc_id", "lang")
    val freshFreq = freshFreq0.localCheckpoint()
    val (pfFreq, pfPosts) = Curation.postingsIndex(idxAll, "doc_id", "lang")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    assert(rows(freshFreq) == rows(pfFreq) && rows(freshPosts0) == rows(pfPosts))
    // immediately after the rebuild the monitor reads EXACTLY 1.0 (stored
    // and fresh volumes are the same measurement under the same order) and
    // the flag clears
    val after = Curation.indexDriftReport(idxAll, "doc_id", "lang", 0.5, freshFreq)
      .select("drift_ratio", "recommend_rebuild")
      .as[(Double, Boolean)].collect().head
    assert(after._1 == 1.0 && !after._2, s"post-rebuild monitor not green: $after")
  }

  test("takedown: ticks + takedown ≡ state built fresh over the survivors") {
    val (corpus, batch) = mutationCorpus(107)
    val (b1, b2raw) = batch.partition(_._1 < 1240L)
    // bench side: two benchmark docs; one will be taken down, and a tick-2
    // batch doc contaminated ONLY by the removed one must flip to accepted
    val keptBenchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val removedBenchText = "one two three four five six seven eight nine ten"
    val bench = Seq((9000L, "lx", keptBenchText), (9001L, "lx", removedBenchText))
      .toDF("doc_id", "lang", "text")
    val b2 = b2raw ++ Seq((7000L, "l0", removedBenchText + " tail"))
    val bi = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = 1 << 12, k = 4)

    def sigs(docs: Seq[(Long, String, String)]) = Curation.signatures(
      docs.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

    // ---- tick 1 + state maintenance (the q261 loop) ----
    val idx0 = sigs(corpus)
    val (freq0raw, posts0raw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq0 = freq0raw.localCheckpoint()
    val posts0 = posts0raw.localCheckpoint()
    val acc1 = Curation.tickIndexed(idx0, b1.toDF("doc_id", "lang", "text"),
      bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      indexPinned = true, corpusPostings = Some((freq0, posts0)), benchIdx = Some(bi))
    val acc1Ids = acc1.select("doc_id").as[Long].collect().toSet // one action, hoisted
    val acc1Docs = b1.filter(d => acc1Ids.contains(d._1))
    val app1 = sigs(acc1Docs)
    val idx1 = idx0.unionByName(app1)
    val posts1 = posts0.unionByName(
      Curation.postingsIndex(app1, "doc_id", "lang", frozenFreq = Some(freq0))._2)
    val cur1 = SimilarityJoin.mergeDfCounts(
      freq0, SimilarityJoin.dfCounts(app1, "_h")).localCheckpoint()

    // ---- the takedown: corpus ids, an accepted tick-1 id, a bench id, and
    // an id the state never saw (must no-op) ----
    val removedCorpusIds = corpus.map(_._1).filter(_ % 7 == 0)
    val removedAccId = acc1Docs.map(_._1).take(1)
    val removed = removedCorpusIds ++ removedAccId ++ Seq(9001L, 424242L)
    val (idx2, posts2, cur2, bi2opt) = Curation.takedown(
      idx1, posts1, cur1, Some(bi), removed.toDF("doc_id"), "doc_id")
    val bi2 = bi2opt.get

    // (a) the signature index equals a fresh build over the survivors
    val survivors = (corpus ++ acc1Docs).filterNot(d => removed.contains(d._1))
    assert(rows(idx2) == rows(sigs(survivors)))
    // (b) the postings equal a fresh frozen-order build over the survivors
    val postsF = Curation.postingsIndex(
      sigs(survivors), "doc_id", "lang", frozenFreq = Some(freq0))._2
    assert(rows(posts2) == rows(postsF))
    // (c) the subtracted df feed equals an exact recompute, so the drift
    // monitor reads identically with the feed and with a recompute
    assert(rows(cur2.groupBy(col("h")).agg(sum(col("_df")).as("_df"))) ==
      rows(SimilarityJoin.dfCounts(idx2.select(col("_h")), "_h")))
    val idx2p = idx2.localCheckpoint()
    val viaFeed = Curation.indexDriftReport(
      idx2p, "doc_id", "lang", 0.5, freq0, currentFreq = Some(cur2))
    val viaRecompute = Curation.indexDriftReport(idx2p, "doc_id", "lang", 0.5, freq0)
    assert(rows(viaFeed) == rows(viaRecompute))
    // (d) the bench half equals benchIndexDelete (grams AND cells)
    val biF = Decontaminate.benchIndexDelete(bi, Seq(9001L).toDF("doc_id"))
    assert(rows(bi2.grams) == rows(biF.grams) && rows(bi2.bloomCells) == rows(biF.bloomCells))
    assert((bi2.m, bi2.k, bi2.n) == ((bi.m, bi.k, bi.n)))

    // (e) tick 2 over the taken-down state ≡ tick 2 over the fresh state —
    // and the doc contaminated only by the REMOVED bench doc is accepted
    // now (it is rejected under the pre-takedown index: the removal is live)
    def tick2(sig: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.DataFrame,
        b: Decontaminate.BenchIndex) =
      Curation.tickIndexed(sig, b2.toDF("doc_id", "lang", "text"),
          bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
          indexPinned = true, corpusPostings = Some((freq0, p)), benchIdx = Some(b))
        .select("doc_id").as[Long].collect().sorted.toSeq
    val overTakedown = tick2(idx2p, posts2.localCheckpoint(), bi2)
    val overFresh = tick2(sigs(survivors), postsF.localCheckpoint(), biF)
    assert(overTakedown == overFresh)
    assert(overTakedown.contains(7000L), "the bench takedown must re-admit 7000")
    assert(!tick2(idx1.localCheckpoint(), posts1.localCheckpoint(), bi).contains(7000L),
      "7000 must be contaminated under the pre-takedown bench index")

    // guards: a takedown keyed by the wrong column / a feed that never saw
    // the subtracted counts fail loud
    intercept[IllegalArgumentException] {
      Curation.takedown(idx1, posts1, cur1, Some(bi), Seq(1L).toDF("other"), "other")
    }
    def negMsg(e: Exception): Boolean =
      e.getMessage.contains("went negative") ||
        Option(e.getCause).exists(_.getMessage.contains("went negative"))
    assert(negMsg(intercept[Exception] {
      SimilarityJoin.subtractDfCounts(
        freq0, SimilarityJoin.mergeDfCounts(freq0, freq0)).collect()
    }))
    // a key the feed NEVER saw must also trip (not silently vanish — the
    // union-aggregate form exists precisely so absent keys reach the guard)
    assert(negMsg(intercept[Exception] {
      SimilarityJoin.subtractDfCounts(
        freq0, Seq((Long.MinValue + 42L, 1L)).toDF("h", "_df")).collect()
    }))
  }

  test("appendState ≡ the hand-rolled maintenance, and takedown inverts it exactly") {
    val (corpus, batch) = mutationCorpus(109)
    val idx0 = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang").localCheckpoint()
    val (freq0raw, posts0raw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq0 = freq0raw.localCheckpoint()
    val posts0 = posts0raw.localCheckpoint()
    val accepted = batch.take(8).toDF("doc_id", "lang", "text") // any doc set works
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    val (idx1, posts1, cur1) = Curation.appendState(
      idx0, posts0, freq0, accepted, "doc_id", "text", "lang", frozenFreq = freq0)
    // ≡ the hand-rolled three statements
    val app = Curation.signatures(accepted, "doc_id", "text", "lang").localCheckpoint()
    assert(rows(idx1) == rows(idx0.unionByName(app)))
    assert(rows(posts1) == rows(posts0.unionByName(
      Curation.postingsIndex(app, "doc_id", "lang", frozenFreq = Some(freq0))._2)))
    assert(rows(cur1) == rows(SimilarityJoin.mergeDfCounts(
      freq0, SimilarityJoin.dfCounts(app, "_h"))))
    // the inverse law: takedown of exactly the appended ids lands back on
    // the original state, half for half (df feed compared as a multiset —
    // merge leaves one row per h either way)
    val (idxB, postsB, curB, _) = Curation.takedown(
      idx1.localCheckpoint(), posts1.localCheckpoint(), cur1.localCheckpoint(),
      None, accepted.select("doc_id"), "doc_id")
    assert(rows(idxB) == rows(idx0))
    assert(rows(postsB) == rows(posts0))
    assert(rows(curB) == rows(freq0))
  }

  test("df-feed algebra: subtract inverts merge on random multisets (seeded property)") {
    // the takedown feed's load-bearing identity: for any feed F and delete
    // counts D, subtract(merge(F, D), D) == F — including keys D introduces
    // (they cancel to 0 and drop) and duplicate-row shapes (both ops
    // re-group). subtract(F, F) == empty.
    val rnd = new scala.util.Random(131)
    (1 to 5).foreach { trial =>
      val keys = (1 to 40).map(_ => rnd.nextInt(25).toLong).distinct
      val f = keys.map(h => (h, 1L + rnd.nextInt(9))).toDF("h", "_df")
      // D: some keys from F, some fresh; emitted as DUPLICATE rows to
      // exercise the re-grouping tolerance
      val d0 = keys.take(keys.size / 2).map(h => (h, 1L + rnd.nextInt(4))) ++
        (1 to 5).map(_ => (1000L + rnd.nextInt(3), 1L + rnd.nextInt(4)))
      val d = d0.flatMap { case (h, c) => Seq((h, c - c / 2), (h, c / 2)) }
        .filter(_._2 > 0).toDF("h", "_df")
      val roundTrip = SimilarityJoin.subtractDfCounts(
          SimilarityJoin.mergeDfCounts(f, d), d)
        .as[(Long, Long)].collect().toSet
      assert(roundTrip == f.as[(Long, Long)].collect().toSet, s"trial $trial")
    }
    val f1 = Seq((1L, 2L), (2L, 5L)).toDF("h", "_df")
    assert(SimilarityJoin.subtractDfCounts(f1, f1).isEmpty)
  }

  test("tick strategy passthrough: MinHashLsh is opt-in, exact-verified, recall-documented") {
    // MinHashLsh(8, 2) sized for tau = 0.5 (S-curve 50% point at
    // (1/8)^(1/2) ≈ 0.35; recall ≈ 0.98 at j = 0.6): candidates are banded
    // buckets but every emitted pair still passes the exact verify, so the
    // approximate tick can only MISS near-dup pairs — each miss admits a
    // doc the exact tick rejects, never the reverse at the corpus-match
    // stage (the within-batch greedy can cascade, which is why the subset
    // claim is measured on the tick's actual corpora, not asserted as a law)
    val (corpus, batch) = mutationCorpus(101)
    val bench = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "lang", "text")
    val lsh = SimilarityStrategy.MinHashLsh(bands = 8, rowsPerBand = 2)
    def run(strategy: SimilarityStrategy) =
      Curation.tick(corpus.toDF("doc_id", "lang", "text"),
          batch.toDF("doc_id", "lang", "text"), bench, "doc_id", "text", "lang",
          quality = lit(1.0), minQuality = 0.0, strategy = strategy)
        .select("doc_id").as[Long].collect().toSet
    val accAuto = run(SimilarityStrategy.Auto)
    val accLsh = run(lsh)
    val batchIds = batch.map(_._1).toSet
    val (rejAuto, rejLsh) = (batchIds -- accAuto, batchIds -- accLsh)
    assert(rejLsh.subsetOf(rejAuto),
      s"LSH rejected docs the exact tick accepted: ${rejLsh -- rejAuto}")
    // measured recall of the pair engine itself on this corpus's shingle
    // sets, documenting the trade the caller opts into
    val sh = Curation.signatures(
      (corpus ++ batch).toDF("doc_id", "lang", "text"), "doc_id", "text", "lang")
    val exactPairs = SimilarityJoin
      .jaccardSelfJoin(sh, "doc_id", "_h", 0.5, blockCols = Seq("lang"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lshPairs = SimilarityJoin
      .jaccardSelfJoin(sh, "doc_id", "_h", 0.5, blockCols = Seq("lang"), strategy = lsh)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lshPairs.subsetOf(exactPairs), "precision must be 1 (exact verify)")
    val recall = lshPairs.size.toDouble / exactPairs.size
    assert(exactPairs.nonEmpty && recall >= 0.8,
      f"recall $recall%.2f below the documented band for (8, 2) at tau 0.5")
  }

  test("signatures: digest and shingle hashes match the inline tick prep") {
    // null text -> null digest, empty shingles; short text -> empty shingles
    val df = Seq((1L, "l0", "abcdefgh"), (2L, "l0", "abc"), (3L, "l1", null))
      .toDF("doc_id", "lang", "text")
    val sig = Curation.signatures(df, "doc_id", "text", "lang").collect()
      .map(r => r.getLong(0) -> r).toMap
    def hs(id: Long): Seq[Long] =
      sig(id).getSeq[Long](sig(id).fieldIndex("_h"))
    assert(hs(1L).size == 4) // 8 chars -> 4 distinct 5-grams
    assert(hs(2L).isEmpty)
    assert(sig(3L).isNullAt(sig(3L).fieldIndex("_dg")))
    assert(hs(1L) == hs(1L).sorted) // sorted contract
  }

  test("tickIndexed rejects an index missing the signature columns") {
    val bench = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "lang", "text")
    val badIdx = Seq((1L, "l0")).toDF("doc_id", "lang") // no _dg/_h
    val ex = intercept[IllegalArgumentException] {
      Curation.tickIndexed(badIdx, bench, bench, "doc_id", "text", "lang",
        quality = lit(1.0))
    }
    assert(ex.getMessage.contains("Curation.signatures"))
  }

  test("composability holds on the chain-through-corpus counterexample") {
    // e ~ corpus c, d ~ e, d !~ c: the dominated-by-any rule accepts d or
    // not depending on where the tick boundary falls; greedy always
    // accepts d (e is rejected by the corpus and cannot block)
    val rnd = new scala.util.Random(71)
    def randStr(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val base = randStr(100)
    val sufA = randStr(60)
    val corpus = Seq((1L, "l0", base + sufA + randStr(60))) // c = long form
    val e = (10L, "l0", base + sufA) // J(e, c) ~ 156/212 >= 0.5 (shared prefix)
    val d = (11L, "l0", base) // J(d, e) ~ 0.62; J(d, c) ~ 0.45 < 0.5
    Seq(Seq(e, d) -> "same tick", Seq(e) -> "e first").foreach { case (b1, label) =>
      val combined = runTick(corpus, Seq(e, d), tau = 0.5)
      assert(combined == Seq(11L), s"greedy must accept d, reject e ($label)")
    }
    // split across ticks: e in tick 1 (rejected), d in tick 2 — same outcome
    val acc1 = runTick(corpus, Seq(e), tau = 0.5)
    assert(acc1.isEmpty)
    val acc2 = runTick(corpus, Seq(d), tau = 0.5)
    assert(acc2 == Seq(11L))
  }

  /** The chain-through-corpus fixture as a service: d1 (id 10) matches the
    * corpus, d2 (id 11) is a near-dup of d1 only, plus two fresh docs.
    */
  private def corpusChainFixture(): (Seq[(Long, String, String)], Seq[(Long, String, String)]) = {
    val rnd = new scala.util.Random(83)
    def randStr(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val base = randStr(100)
    val sufA = randStr(60)
    val corpus = Seq((1L, "l0", base + sufA + randStr(60)), (2L, "l0", randStr(150)))
    val batch = Seq((9L, "l0", randStr(140)), (10L, "l0", base + sufA),
      (11L, "l0", base), (12L, "l0", randStr(140)))
    (corpus, batch)
  }

  test("serviceTick: a doc near only a corpus-matched doc is accepted, in one tick or two") {
    val (corpus, batch) = corpusChainFixture()
    assert(jac(shingles(batch(1)._3), shingles(corpus.head._3)) >= 0.5)
    assert(jac(shingles(batch(2)._3), shingles(batch(1)._3)) >= 0.5)
    assert(jac(shingles(batch(2)._3), shingles(corpus.head._3)) < 0.5)
    val bench = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "lang", "text")
    def state() = Curation.serviceState(
      corpus.toDF("doc_id", "lang", "text"), bench, "doc_id", "text", "lang")
    def tick(st: Curation.ServiceState, docs: Seq[(Long, String, String)]) =
      Curation.serviceTick(st, docs.toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0)
        .select("doc_id").as[Long].collect().toSeq
    val combined = tick(state(), batch).sorted
    assert(combined == Seq(9L, 11L, 12L), s"d1 rejected by the corpus must not block d2: $combined")
    assert(combined == reference(corpus, batch, tau = 0.5).sorted)
    val st = state()
    val (b1, b2) = batch.partition(_._1 <= 10L)
    assert((tick(st, b1) ++ tick(st, b2)).sorted == combined)
  }

  test("serviceTick runs a fixed number of SQL executions on a fixed fixture") {
    // counts are exact: a change that lengthens the tick's driver job chain
    // must update this number on purpose
    val (corpus, batch) = mutationCorpus(239)
    val bench = Seq((9000L, "lx", "winter spring summer autumn morning evening night"))
      .toDF("doc_id", "lang", "text")
    val state = Curation.serviceState(
      corpus.toDF("doc_id", "lang", "text"), bench, "doc_id", "text", "lang")
    val batchDf = batch.toDF("doc_id", "lang", "text")
    val sc = spark.sparkContext
    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          executions.incrementAndGet()
        case _ =>
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      Curation.serviceTick(state, batchDf, "doc_id", "text", "lang",
        quality = lit(1.0), minQuality = 0.0)
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(executions.get == 8, s"SQL executions during one serviceTick: ${executions.get}")
  }

  private def auditMap(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Boolean)] =
    df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("auditState: a clean standing state reads every check ok") {
    val (corpus, _) = mutationCorpus(211)
    val bench = Seq((9000L, "lx", "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "lang", "text")
    val idx = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang").localCheckpoint()
    val (freqRaw, postsRaw) = Curation.postingsIndex(idx, "doc_id", "lang")
    val freq = freqRaw.localCheckpoint()
    val posts = postsRaw.localCheckpoint()
    val bi = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = 1 << 12, k = 4)
    val got = auditMap(
      Curation.auditState(idx, posts, freq, freq, Some(bi), "doc_id", "lang"))
    assert(got.keySet == Set("ids_unique", "postings_ids_covered", "postings_exact",
      "df_feed_exact", "bench_words_bounded", "bench_cells_exact"))
    assert(got.values.forall { case (obs, ok) => obs == 0L && ok })
    // without a bench index only the four corpus checks report
    val noBench = auditMap(
      Curation.auditState(idx, posts, freq, freq, None, "doc_id", "lang"))
    assert(noBench.keySet == Set("ids_unique", "postings_ids_covered",
      "postings_exact", "df_feed_exact"))
  }

  test("auditState: each seeded corruption trips exactly its checks, counts exact") {
    val (corpus, _) = mutationCorpus(223)
    val bench = Seq((9000L, "lx", "one two three four five six seven eight nine"))
      .toDF("doc_id", "lang", "text")
    val idx = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang").localCheckpoint()
    val (freqRaw, postsRaw) = Curation.postingsIndex(idx, "doc_id", "lang")
    val freq = freqRaw.localCheckpoint()
    val posts = postsRaw.localCheckpoint()
    val bi = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = 1 << 12, k = 4)
    def audit(ix: org.apache.spark.sql.DataFrame, ps: org.apache.spark.sql.DataFrame,
        cf: org.apache.spark.sql.DataFrame, b: Decontaminate.BenchIndex) =
      auditMap(Curation.auditState(ix, ps, freq, cf, Some(b), "doc_id", "lang"))
    // doc X and its hand model: stored prefix at τ=0.5 is SZ/2 + 1 rows
    // (probe form, floor), the duplicated-signature fresh build emits
    // SZ + 1 rows with _sz = 2·SZ
    val x = idx.agg(max(col("doc_id"))).head().getLong(0)
    val sz = idx.filter(col("doc_id") === x)
      .select(size(col("_h"))).head().getInt(0).toLong
    val pl = sz / 2 + 1
    // (a) one df count bumped: exactly 2 diff rows, nothing else trips
    val hMin = freq.agg(min(col("h"))).head().getLong(0)
    val bumped = freq.withColumn("_df",
      when(col("h") === hMin, col("_df") + 1).otherwise(col("_df")))
    val a = audit(idx, posts, bumped, bi)
    assert(a("df_feed_exact") == (2L, false))
    assert((a - "df_feed_exact").values.forall(_._2))
    // (b) doc X's postings rows dropped: the diff is its stored prefix
    val b = audit(idx, posts.filter(col("doc_id") =!= x), freq, bi)
    assert(b("postings_exact") == (pl, false))
    assert((b - "postings_exact").values.forall(_._2))
    // (c) doc X's signature row duplicated: id dup + the doubled-multiset
    // fresh postings (every X row differs on _sz) + 2 df rows per shingle
    val c = audit(idx.unionByName(idx.filter(col("doc_id") === x)), posts, freq, bi)
    assert(c("ids_unique") == (1L, false))
    assert(c("postings_exact") == (pl + sz + 1, false))
    assert(c("df_feed_exact") == (2 * sz, false))
    assert(c("postings_ids_covered")._2 && c("bench_cells_exact")._2)
    // (d) an out-of-range bloom cell injected: both bench checks, 1 row each
    val words = (bi.m + 31) / 32
    val biBad = bi.copy(bloomCells = bi.bloomCells.unionByName(
      spark.range(1).select(lit(words + 3).cast("int").as("word"), lit(1L).as("bits"))))
    val d = audit(idx, posts, freq, biBad)
    assert(d("bench_words_bounded") == (1L, false))
    assert(d("bench_cells_exact") == (1L, false))
    assert((d - "bench_words_bounded" - "bench_cells_exact").values.forall(_._2))
    // (e) an orphaned postings row: covered trips; the fresh-build diff
    // sees the stray row too
    val stray = posts.limit(0).unionByName(
      Seq((999999L, "l0", 4, 1, 123L)).toDF("doc_id", "lang", "_sz", "_pos", "h"))
    val e = audit(idx, posts.unionByName(stray), freq, bi)
    assert(e("postings_ids_covered") == (1L, false))
    assert(e("postings_exact") == (1L, false))
  }

  test("auditState: the lifecycle verbs keep every invariant (append, takedown)") {
    val (corpus, batch) = mutationCorpus(227)
    val bench = Seq((9000L, "lx", "red orange yellow green blue indigo violet"))
      .toDF("doc_id", "lang", "text")
    val idx0 = Curation.signatures(
      corpus.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang").localCheckpoint()
    val (freqRaw, postsRaw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq0 = freqRaw.localCheckpoint()
    val posts0 = postsRaw.localCheckpoint()
    val bi = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = 1 << 12, k = 4)
    val acc1 = Curation.tickIndexed(idx0, batch.toDF("doc_id", "lang", "text"),
      bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      indexPinned = true, corpusPostings = Some((freq0, posts0)), benchIdx = Some(bi))
      .localCheckpoint()
    // append: the maintained state audits clean (frozenFreq stays freq0;
    // the df feed equals a recompute because freq0 IS dfCounts(idx0))
    val (idx1, posts1, cur1) = Curation.appendState(
      idx0, posts0, freq0, acc1, "doc_id", "text", "lang", frozenFreq = freq0)
    val afterAppend = auditMap(
      Curation.auditState(idx1, posts1, freq0, cur1, Some(bi), "doc_id", "lang"))
    assert(afterAppend.values.forall { case (obs, ok) => obs == 0L && ok },
      s"append left a dirty state: $afterAppend")
    // takedown: still clean over the surviving state
    val removed = idx1.select(col("doc_id")).orderBy(col("doc_id")).limit(3)
    val (idx2, posts2, cur2, bi2) =
      Curation.takedown(idx1, posts1, cur1, Some(bi), removed, "doc_id")
    val afterTakedown = auditMap(
      Curation.auditState(idx2, posts2, freq0, cur2, bi2, "doc_id", "lang"))
    assert(afterTakedown.values.forall { case (obs, ok) => obs == 0L && ok },
      s"takedown left a dirty state: $afterTakedown")
  }

  test("streaming service: foreachBatch ticks equal one combined tick; replay fails loud") {
    import java.nio.file.Files
    val (corpus, batch) = mutationCorpus(233)
    val bench = Seq((9000L, "lx", "north south east west up down left right middle"))
      .toDF("doc_id", "lang", "text")
    val cut = batch.map(_._1).sorted.apply(batch.size / 2)
    val (b1, b2) = batch.partition(_._1 < cut) // id-monotone arrival order
    val state = Curation.serviceState(
      corpus.toDF("doc_id", "lang", "text"), bench, "doc_id", "text", "lang")

    // the established file-source replay pattern: one bounded query run per
    // arrival batch, shared checkpoint — foreachBatch IS the service loop
    val streamDir = exitScopedDir("svc-stream")
    val stage = exitScopedDir("svc-stage")
    def addBatch(docs: Seq[(Long, String, String)], n: Int): Unit = {
      val sub = stage + s"/b$n"
      docs.toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(sub)
      new java.io.File(sub).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          val tmp = java.nio.file.Paths.get(streamDir, s".batch${n}_$i.parquet.tmp")
          Files.copy(f.toPath, tmp)
          Files.move(tmp, java.nio.file.Paths.get(streamDir, s"batch${n}_$i.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    }
    val ckpt = exitScopedDir("svc-ckpt")
    val schema = corpus.toDF("doc_id", "lang", "text").schema
    val acceptedIds = new scala.collection.mutable.TreeSet[Long]()
    def runArrival(): Unit = {
      val q = spark.readStream.schema(schema).parquet(streamDir)
        .writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          val acc = Curation.serviceTick(state, df, "doc_id", "text", "lang",
            quality = lit(1.0), minQuality = 0.0, batchId = Some(bid))
          acc.select("doc_id").collect().foreach(r => acceptedIds += r.getLong(0)); ()
        }
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    addBatch(b1, 1); runArrival()
    // at-least-once idempotence: re-delivering an already-applied
    // micro-batch (same batchId — the restart-after-crash shape) SKIPS
    // instead of wedging on the rank guard or double-appending
    val replayed = Curation.serviceTick(state, b1.toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      batchId = Some(state.lastBatchId))
    assert(replayed.isEmpty)
    addBatch(b2, 2); runArrival()

    // streaming-arrival accepted set ≡ one combined tick (greedy
    // composability through the foreachBatch seam, stored indexes and all)
    val combined = Curation.tick(
        corpus.toDF("doc_id", "lang", "text"),
        batch.toDF("doc_id", "lang", "text"),
        bench, "doc_id", "text", "lang",
        quality = lit(1.0), minQuality = 0.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(acceptedIds.toSeq == combined,
      s"streaming ${acceptedIds.toSeq} vs combined $combined")
    // the maintained state audits clean after the streaming loop
    val audit = auditMap(Curation.auditState(
      state.index, state.posts, state.frozenFreq, state.currentFreq,
      Some(state.benchIdx), "doc_id", "lang"))
    assert(audit.values.forall { case (obs, ok) => obs == 0L && ok },
      s"streaming loop left a dirty state: $audit")
    // takedown on the handle keeps it clean too
    Curation.serviceTakedown(state,
      Seq(combined.head).toDF("doc_id"), "doc_id")
    val audit2 = auditMap(Curation.auditState(
      state.index, state.posts, state.frozenFreq, state.currentFreq,
      Some(state.benchIdx), "doc_id", "lang"))
    assert(audit2.values.forall { case (obs, ok) => obs == 0L && ok })
    // a replayed/reordered feed trips the monotone-rank guard loud
    addBatch(b1, 3)
    val e = intercept[Exception] { runArrival() }
    def msg(t: Throwable): String =
      Option(t).map(x => x.getMessage + " " + msg(x.getCause)).getOrElse("")
    assert(msg(e).contains("high-water rank"))
  }

  test("service restart: persist mid-loop, restore from parquet, continue — ≡ combined") {
    import java.nio.file.Files
    val (corpus, batch) = mutationCorpus(239)
    val bench = Seq((9000L, "lx", "winter spring summer autumn morning evening night"))
      .toDF("doc_id", "lang", "text")
    val cut = batch.map(_._1).sorted.apply(batch.size / 2)
    val (b1, b2) = batch.partition(_._1 < cut)
    val state = Curation.serviceState(
      corpus.toDF("doc_id", "lang", "text"), bench, "doc_id", "text", "lang")
    val acc1 = Curation.serviceTick(state, b1.toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      batchId = Some(0L))
    val ids1 = acc1.select("doc_id").as[Long].collect().toSet
    // crash here: persist EVERY half (each is its tier's persistable
    // artifact) plus the two ledger scalars, then rebuild a fresh handle
    val root = exitScopedDir("svc-restart")
    def save(df: org.apache.spark.sql.DataFrame, name: String) =
      df.write.mode("overwrite").parquet(s"$root/$name")
    save(state.index, "index"); save(state.posts, "posts")
    save(state.frozenFreq, "freq"); save(state.currentFreq, "cur")
    save(state.benchIdx.grams, "bgrams"); save(state.benchIdx.bloomCells, "bcells")
    val (savedRank, savedBid) = (state.maxRank, state.lastBatchId)
    def load(name: String) = spark.read.parquet(s"$root/$name")
    val restored = Curation.restoreServiceState(
      load("index"), load("posts"), load("freq"), load("cur"),
      Decontaminate.BenchIndex(load("bgrams"), load("bcells"), "doc_id",
        state.benchIdx.n, state.benchIdx.m, state.benchIdx.k),
      "doc_id", maxRank = Some(savedRank), lastBatchId = savedBid)
    val acc2 = Curation.serviceTick(restored, b2.toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      batchId = Some(1L))
    val got = (ids1 ++ acc2.select("doc_id").as[Long].collect()).toSeq.sorted
    val combined = Curation.tick(
        corpus.toDF("doc_id", "lang", "text"), batch.toDF("doc_id", "lang", "text"),
        bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == combined, s"restart broke the loop: $got vs $combined")
    // the restored-and-advanced state still audits clean
    val audit = auditMap(Curation.auditState(restored.index, restored.posts,
      restored.frozenFreq, restored.currentFreq, Some(restored.benchIdx),
      "doc_id", "lang"))
    assert(audit.values.forall { case (obs, ok) => obs == 0L && ok },
      s"restart left a dirty state: $audit")
    // the recomputed default mark (no ledger) still rejects a feed replay
    val noLedger = Curation.restoreServiceState(
      load("index"), load("posts"), load("freq"), load("cur"),
      Decontaminate.BenchIndex(load("bgrams"), load("bcells"), "doc_id",
        state.benchIdx.n, state.benchIdx.m, state.benchIdx.k), "doc_id")
    val e = intercept[IllegalArgumentException] {
      Curation.serviceTick(noLedger, Seq(corpus.head).toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0)
    }
    assert(e.getMessage.contains("high-water rank"))
  }

  test("persistServiceState: persist -> restore equals the live handle; crash-partial generations are skipped") {
    import java.nio.file.Files
    val (corpus, batch) = mutationCorpus(241)
    val bench = Seq((9000L, "lx", "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "lang", "text")
    val cut = batch.map(_._1).sorted.apply(batch.size / 2)
    val (b1, b2) = batch.partition(_._1 < cut)
    val state = Curation.serviceState(
      corpus.toDF("doc_id", "lang", "text"), bench, "doc_id", "text", "lang")
    val acc1 = Curation.serviceTick(state, b1.toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      batchId = Some(0L))
    val ids1 = acc1.select("doc_id").as[Long].collect().toSet
    val dir = exitScopedDir("svc-persist")
    // checkpoint mid-loop, through the VERB this time (not hand-rolled
    // parquet writes) — the dir restore must land on the combined output
    val gen0 = Curation.persistServiceState(state, dir)
    assert(gen0 == 0L)
    val restored = Curation.restoreServiceState(spark, dir, Pin.LocalCheckpoint)
    assert(restored.maxRank == state.maxRank &&
      restored.lastBatchId == state.lastBatchId &&
      restored.tau == state.tau && restored.shingleN == state.shingleN &&
      restored.shingleHash == state.shingleHash,
      "restored scalars/conventions differ from the live handle's")
    val acc2 = Curation.serviceTick(restored, b2.toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      batchId = Some(1L))
    val got = (ids1 ++ acc2.select("doc_id").as[Long].collect()).toSeq.sorted
    val combined = Curation.tick(
        corpus.toDF("doc_id", "lang", "text"), batch.toDF("doc_id", "lang", "text"),
        bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == combined, s"persist/restore broke the loop: $got vs $combined")
    val audit = auditMap(Curation.auditState(restored.index, restored.posts,
      restored.frozenFreq, restored.currentFreq, Some(restored.benchIdx),
      "doc_id", "lang"))
    assert(audit.values.forall { case (obs, ok) => obs == 0L && ok },
      s"restore left a dirty state: $audit")
    // a second persist commits gen=1 and prunes gen=0
    val gen1 = Curation.persistServiceState(restored, dir)
    assert(gen1 == 1L)
    assert(!new java.io.File(s"$dir/gen=0").exists(), "older generation not pruned")
    // CRASH SIMULATION: a partial gen=2 (frames but NO ledger — the crash
    // window is anywhere before the ledger commit) must be skipped and the
    // prior committed generation restored
    restored.index.write.mode("overwrite").parquet(s"$dir/gen=2/index")
    // STRAY ENTRIES: a non-numeric gen= name and an unrelated dir under the
    // checkpoint root must be IGNORED by both verbs, not crash them with a
    // NumberFormatException
    assert(new java.io.File(s"$dir/gen=tmp").mkdirs())
    assert(new java.io.File(s"$dir/notes.bak").mkdirs())
    // MARKER-FILE INDEPENDENCE: commit detection reads the ledger row back,
    // so a deployment with marksuccessfuljobs=false (no _SUCCESS written)
    // still restores — simulate by deleting the marker from the committed gen
    assert(new java.io.File(s"$dir/gen=1/ledger/_SUCCESS").delete(),
      "_SUCCESS marker expected under the committed ledger")
    val afterCrash = Curation.restoreServiceState(spark, dir, Pin.LocalCheckpoint)
    assert(afterCrash.maxRank == restored.maxRank &&
      afterCrash.lastBatchId == restored.lastBatchId,
      "crash-partial generation was not skipped")
    assert(afterCrash.index.count() == restored.index.count())
    // and the next persist numbers past the stray names correctly (gen=3,
    // one above the crash-partial gen=2)
    val gen3 = Curation.persistServiceState(afterCrash, dir)
    assert(gen3 == 3L, s"stray gen names broke generation numbering: got $gen3")
    // a ledger written before the closed hash type holds the hash's
    // expression text in hash_tag: rewritten so by hand, it fails loud
    val ledgerDir = s"$dir/gen=3/ledger"
    val ledger = spark.read.parquet(ledgerDir)
    val oldTag = xxhash64(lit("graft-hash-convention-probe")).toString
    spark.createDataFrame(
        java.util.Arrays.asList(ledger.withColumn("hash_tag", lit(oldTag)).collect(): _*),
        ledger.schema)
      .write.mode("overwrite").parquet(ledgerDir)
    val e = intercept[IllegalArgumentException] {
      Curation.restoreServiceState(spark, dir, Pin.LocalCheckpoint)
    }
    assert(e.getMessage.contains("hash convention"))
    // an Md5Slice state persists and restores under its own convention,
    // and the restored handle's next tick accepts what the live one does
    val mdState = Curation.serviceState(corpus.toDF("doc_id", "lang", "text"), bench,
      "doc_id", "text", "lang", shingleHash = ShingleHash.Md5Slice)
    Curation.serviceTick(mdState, b1.toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0, batchId = Some(0L))
    val mdDir = exitScopedDir("svc-persist-md5")
    Curation.persistServiceState(mdState, mdDir)
    val mdRestored = Curation.restoreServiceState(spark, mdDir, Pin.LocalCheckpoint)
    assert(mdRestored.shingleHash == ShingleHash.Md5Slice)
    def nextTick(st: Curation.ServiceState) =
      Curation.serviceTick(st, b2.toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0, batchId = Some(1L))
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(nextTick(mdRestored) == nextTick(mdState))
    // a dir with ONLY partials fails loud instead of restoring nothing
    val dir2 = exitScopedDir("svc-persist-partial")
    restored.index.write.mode("overwrite").parquet(s"$dir2/gen=0/index")
    val e2 = intercept[IllegalArgumentException] {
      Curation.restoreServiceState(spark, dir2, Pin.LocalCheckpoint)
    }
    assert(e2.getMessage.contains("COMMITTED"))
  }

  test("auditService equals auditState over the handle's halves and reads clean after a tick") {
    val (corpus, batch) = mutationCorpus(251)
    val bench = Seq((9000L, "lx", "red orange yellow green blue indigo violet"))
      .toDF("doc_id", "lang", "text")
    val state = Curation.serviceState(
      corpus.toDF("doc_id", "lang", "text"), bench, "doc_id", "text", "lang")
    Curation.serviceTick(state, batch.toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
      batchId = Some(0L))
    val viaVerb = auditMap(Curation.auditService(state, "lang"))
    val explicit = auditMap(Curation.auditState(state.index, state.posts,
      state.frozenFreq, state.currentFreq, Some(state.benchIdx),
      "doc_id", "lang", state.tau))
    assert(viaVerb == explicit)
    assert(viaVerb.values.forall { case (obs, ok) => obs == 0L && ok },
      s"ticked state audits dirty through the verb: $viaVerb")
  }

  test("serviceTick fails loud on intra-batch duplicate ids") {
    val corpus = Seq((1L, "l0", "abcdefghijkl")).toDF("doc_id", "lang", "text")
    val state = Curation.serviceState(corpus, corpus.limit(0), "doc_id", "text", "lang")
    // duplicates would each survive stage-3 keep-min (each equals the min)
    // and appendState would write duplicate signature rows — silent state
    // corruption until a later auditState run
    val dup = Seq((7L, "l0", "mnopqrstuvwx"), (7L, "l0", "yz0123456789"))
      .toDF("doc_id", "lang", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.serviceTick(state, dup, "doc_id", "text", "lang",
        quality = lit(1.0), minQuality = 0.0)
    }
    assert(e.getMessage.contains("duplicate ids"))
  }

  test("serviceTick ticks under the handle's conventions") {
    // the handle carries the tau, shingle width, hash and bench gram size
    // it was built under, and a tick on it takes none of them as arguments:
    // it must accept exactly what tickIndexed accepts at those conventions
    val (corpus, batch) = mutationCorpus(257)
    val corpusDf = corpus.toDF("doc_id", "lang", "text")
    val batchDf = batch.toDF("doc_id", "lang", "text")
    val bench = Seq((9000L, "lx", "north south east west up down left right"))
      .toDF("doc_id", "lang", "text")
    val state = Curation.serviceState(corpusDf, bench, "doc_id", "text", "lang",
      decontN = 3, shingleN = 3, tau = 0.7, shingleHash = ShingleHash.Md5Slice)
    assert(state.tau == 0.7 && state.shingleN == 3 &&
      state.shingleHash == ShingleHash.Md5Slice && state.benchIdx.n == 3)
    val viaHandle = Curation.serviceTick(state, batchDf, "doc_id", "text", "lang",
        quality = lit(1.0), minQuality = 0.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val byHand = Curation.tickIndexed(
        Curation.signatures(corpusDf, "doc_id", "text", "lang",
          shingleN = 3, shingleHash = ShingleHash.Md5Slice),
        batchDf, bench, "doc_id", "text", "lang", quality = lit(1.0), minQuality = 0.0,
        decontN = 3, shingleN = 3, tau = 0.7, shingleHash = ShingleHash.Md5Slice)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaHandle == byHand)
    // not vacuous: the default conventions accept a different set here
    assert(viaHandle != runTick(corpus, batch, 0.5))
  }

  test("serviceTick fails loud on ids the rank contract cannot order") {
    val corpus = Seq((1L, "l0", "abcdefghijkl")).toDF("doc_id", "lang", "text")
    val state = Curation.serviceState(corpus, corpus.limit(0), "doc_id", "text", "lang")
    // a string id casts to NULL under non-ANSI SQL — an unchecked guard
    // would silently treat the whole batch as empty and drop every doc
    val bad = Seq(("doc-9", "l0", "mnopqrstuvwx")).toDF("doc_id", "lang", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.serviceTick(state, bad, "doc_id", "text", "lang",
        quality = lit(1.0), minQuality = 0.0)
    }
    assert(e.getMessage.contains("castable"))
  }

  test("auditState rejects malformed state frames loud") {
    val idx = Seq((1L, "l0")).toDF("doc_id", "lang") // no _dg/_h
    val ok = Curation.signatures(
      Seq((1L, "l0", "abcdefghij")).toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang")
    val (freq, posts) = Curation.postingsIndex(ok, "doc_id", "lang")
    intercept[IllegalArgumentException] {
      Curation.auditState(idx, posts, freq, freq, None, "doc_id", "lang")
    }
    intercept[IllegalArgumentException] {
      Curation.auditState(ok, posts.drop("_pos"), freq, freq, None, "doc_id", "lang")
    }
    intercept[IllegalArgumentException] {
      Curation.auditState(ok, posts, freq.drop("_df"), freq, None, "doc_id", "lang")
    }
  }
}
