package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pin, SimilarityJoin, SimilarityStrategy}

/** The session, the scale factor and the executed-plan string that every
  * plan spec below reads.
  */
trait PlanFixture {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.Sf

  protected def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
}

/** Physical-plan assertions (SURVEY.md §4.2: "verify via explain, don't
  * reimplement"): the properties the 100-TB story depends on — filter/column
  * pushdown into the parquet scan, broadcast joins for dimensions,
  * distributed top-k, partial aggregation — must hold in the produced plans.
  */
class PlanSpec extends AnyFunSuite with PlanFixture {

  test("filters and projections push into the parquet scan") {
    val df = Engine.table(spark, sf, "lineitem")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"no pushed filter in:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more columns than projected:\n$p")
  }

  test("star-join query broadcasts every dimension side") {
    val df = SparkEntry.queries("q02_regional_revenue")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    // customer, nation, region all broadcast -> at least 3 broadcast exchanges
    assert("BroadcastExchange".r.findAllIn(p).size >= 3, s"missing broadcast exchanges:\n$p")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("q03_top_orders")(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"expected distributed top-k:\n$p")
  }

  test("group-by aggregates do partial (map-side) aggregation") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    val p = plan(df)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected partial aggregation before the shuffle:\n$p")
  }

  test("keep-last dedup shuffles once on the key (no extra exchange)") {
    val df = SparkEntry.queries("q05_latest_events")(spark, sf)
    val p = plan(df)
    // one exchange for the window partition key + final order; the window
    // itself must not introduce repeated shuffles on the same key
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"unexpected extra hash exchanges ($exchanges):\n$p")
  }

  test("kNN top-k plans as partial aggregation, not a full-pair window shuffle") {
    val q14 = SparkEntry.queries("q14_knn_bruteforce")(spark, sf)
    val p = plan(q14)
    assert(!p.contains("Window"), s"full-pair window shuffle in kNN plan:\n$p")
    // the bounded-heap aggregator must run a partial phase before the
    // exchange: ObjectHashAggregate with partial_topkbysim upstream
    assert(p.contains("ObjectHashAggregate"), s"expected object hash aggregate:\n$p")
    assert(p.toLowerCase.contains("partial_topkbysim"),
      s"expected map-side partial top-k before the exchange:\n$p")
  }

  test("kNN classification plans without any window operator") {
    val q18 = SparkEntry.queries("q18_knn_classify")(spark, sf)
    val p = plan(q18)
    assert(!p.contains("Window"), s"window shuffle in kNN-classify plan:\n$p")
    assert(p.toLowerCase.contains("partial_topkbysim"),
      s"expected map-side partial top-k before the exchange:\n$p")
  }

  test("whole-stage codegen covers the pricing-summary aggregate") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    // executedPlan.toString renders WholeStageCodegen spans as "*(n)" prefixes
    assert(p.contains("*("), s"expected codegen spans:\n$p")
  }

  test("simhash near-dup banding plans as an equi-join, never a cartesian") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, i * 0x9e3779b97f4a7c15L)).toDF("doc_id", "sh")
    val p = plan(graft.operators.Dedup.simhashNearDupPairs(docs, "doc_id", "sh"))
    assert(!p.contains("CartesianProduct"), s"cartesian in simhash banding:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in simhash banding:\n$p")
  }

  test("lang-ID query is a single scan with partial aggregation, no join/window") {
    val p = plan(SparkEntry.queries("q41_lang_id")(spark, sf))
    assert(!p.contains("Join"), s"unexpected join in lang-ID plan:\n$p")
    assert(!p.contains("Window"), s"unexpected window in lang-ID plan:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"expected partial aggregation:\n$p")
  }

  test("corpus curation dedup shuffles digests, not document payloads") {
    val p = plan(SparkEntry.queries("q40_corpus_curation")(spark, sf))
    // the keep-set side of the semi join must reduce to (digest, doc_id)
    // before its exchange: no `text` column may appear in an exchange input
    val exchangeInputs = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeInputs.contains("text"), s"document payload in a shuffle:\n$p")
  }

  test("BM25 ranking plans distributed top-k, partial stats agg, no explode") {
    val p = plan(SparkEntry.queries("q51_bm25_search")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected distributed top-15:\n$p")
    // the one-row corpus-stats aggregate must have a map-side partial phase
    // (assert the partial_* functions specifically — a bare HashAggregate
    // string also matches final-mode aggregates and would never fail)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected partial aggregation:\n$p")
    // per-doc tf/dl come from one projection over the token array — an
    // Expand/Generate (explode) would mean the token-level shuffle returned
    assert(!p.contains("Generate"), s"unexpected explode in BM25 plan:\n$p")
  }

  test("IVF ANN candidate join is an equi-join with bounded top-k, no window") {
    val p = plan(SparkEntry.queries("q45_ann_ivf")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in IVF plan:\n$p")
    assert(!p.contains("Window"), s"window ranking in IVF plan:\n$p")
    assert(p.contains("top_k_by_sim") || p.contains("ObjectHashAggregate"),
      s"expected bounded top-k aggregation:\n$p")
  }

  test("relational rules broadcast the item-support side (no extra shuffle)") {
    val df = SparkEntry.queries("q53_rule_metrics")(spark, sf)
    val p = plan(df)
    // the two direction joins against the per-item support table must be
    // broadcasts — rule derivation adds no hash exchange beyond the pair
    // and item aggregations themselves
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected both item-support joins broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rule join fell back to sort-merge:\n$p")
  }

  test("ROC curve pre-aggregates per score before its single-partition window") {
    val df = SparkEntry.queries("q55_roc_auc")(spark, sf)
    val p = plan(df)
    // the windows may legally run single-partition ONLY because the
    // per-threshold tally shrank the frame first: a partial aggregate must
    // appear, and the window input must be the aggregated (thr,pos,neg) frame
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected partial per-score aggregation before the curve windows:\n$p")
    assert(p.contains("Window"), s"expected window operators:\n$p")
  }

  test("MG heavy-hitters sketch plans with a map-side partial phase") {
    val sh = Engine.table(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.charShingles(col("text"), 5)).as("sh"))
    val sketch = udaf(new graft.functions.MisraGries(100),
      org.apache.spark.sql.Encoders.STRING)
    val p = plan(sh.agg(sketch(col("sh"))))
    // typed Aggregator => ObjectHashAggregate; the partial phase bounds what
    // reaches the exchange at m counters per map partition
    assert(p.contains("ObjectHashAggregate"), s"expected object hash aggregate:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final sketch phases:\n$p")
  }

  test("blocked Jaccard pair join never plans a cartesian or single-key shuffle") {
    val p = plan(SparkEntry.queries("q46_ngram_jaccard")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in pair join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop in pair join:\n$p")
    // the equi-join key must include the triangle group, not just `lang`
    assert(p.contains("_g"), s"triangle salt missing from join key:\n$p")
  }
}

/** Physical-plan pins for the round-5 operators — the properties their
  * 100-TB contracts depend on, asserted from the produced plans.
  */
class Round5PlanSpec extends AnyFunSuite with PlanFixture {

  test("q222: the train-slice lang filter reaches the parquet scan") {
    // assert on the LM frame itself — the final q222 plan starts from
    // GlobalRank's localCheckpoint, which truncates the scan lineage
    val docs = Engine.table(spark, sf, "documents")
    val p = plan(graft.text.LanguageModel
      .bigramCrossEntropy(docs.filter(col("lang") === "en"), docs, "doc_id", "text"))
    assert(p.contains("EqualTo(lang,en)"), s"lang filter not pushed:\n${p.take(4000)}")
  }

  test("CMS sketch aggregates partially before the exchange (bounded map-side state)") {
    val docs = Engine.table(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("w"))
    val p = plan(graft.functions.CountMin.sketch(docs, col("w"), depth = 4, width = 64))
    assert(p.contains("partial_count"), s"no partial aggregation:\n$p")
  }

  test("CMS estimate broadcasts the cell table (never shuffles the items side)") {
    val docs = Engine.table(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("w"))
    val sk = graft.functions.CountMin.sketch(docs, col("w"), depth = 4, width = 64)
    val items = docs.distinct()
    val p = plan(graft.functions.CountMin.estimate(sk, items, "w", 4, 64))
    assert(p.contains("BroadcastHashJoin"), s"cell-table probe not broadcast:\n$p")
  }

  test("q228: candidate generation and verify are equi-joins, zero nested loops") {
    val p = plan(SparkEntry.queries("q228_incremental_neardup")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"non-equi join in the similarity join:\n$p")
  }

  test("q229: the z-value is pure native arithmetic — no UDF, no extra exchange") {
    val df = SparkEntry.queries("q229_zorder_layout")(spark, sf)
    val p = plan(df)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), s"UDF in plan:\n$p")
    // the interleave shows up as native shiftleft/shiftright bit expressions
    assert(p.contains("shiftleft") && p.contains("shiftright"),
      s"z arithmetic not inlined as native expressions:\n${p.take(2000)}")
    // one exchange for the groupBy, one for the final orderBy — nothing more
    assert("Exchange".r.findAllIn(p).size <= 3, s"unexpected exchanges:\n$p")
  }

  test("q227: the negative-scoring side broadcasts the anchor set") {
    val p = plan(SparkEntry.queries("q227_contrastive_triplets")(spark, sf))
    assert(p.contains("BroadcastExchange"), s"anchors not broadcast:\n$p")
  }
}

/** Physical-plan pins for the round-6 operators — the properties their
  * 100-TB contracts depend on, asserted from the produced plans.
  */
class Round6PlanSpec extends AnyFunSuite with PlanFixture {

  test("HLL cells aggregate partially before the exchange (bounded map-side state)") {
    val docs = Engine.table(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("w"))
    val p = plan(graft.functions.HyperLogLog.cells(docs, col("w"), p = 9))
    assert(p.contains("partial_max"), s"no partial max aggregation:\n$p")
  }

  test("HLL bucket/rho are pure native expressions — no UDF anywhere in q234") {
    val p = plan(SparkEntry.queries("q234_hll_distinct")(spark, sf))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), s"UDF in plan:\n$p")
  }

  test("q19: one broadcast of the 1-row centroid frame; the test side never shuffles") {
    val df = SparkEntry.queries("q19_scored_classifier")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastExchange"),
      s"centroid row not broadcast:\n$p")
    // exchanges: centroid aggregation (2 rows), final orderBy — the scored
    // side itself must not shuffle row-scale data
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"unexpected row-scale shuffles:\n$p")
  }

  test("q20: Lloyd assignment is a narrow map over literal centroids (no join in the final pass)") {
    val p = plan(SparkEntry.queries("q20_cluster_summary")(spark, sf))
    // the final assignment + one-pass summary: a scan, a project with the
    // distance expressions, and ONE aggregate — no join of any kind
    assert(!p.contains("Join"), s"final Lloyd pass must not join:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF in plan:\n$p")
  }

  test("self-join BlockedAllPairs strategy plans equi-joins only (salted, no nested loop)") {
    import spark.implicits._
    val rows = (1L to 50L).map(i => (i, Seq(i, i + 1, i + 2)))
    val p = plan(graft.operators.SimilarityJoin.jaccardSelfJoin(
      rows.toDF("id", "s"), "id", "s", 0.5,
      strategy = graft.operators.SimilarityStrategy.AllPairs))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs path must stay an equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join found:\n$p")
  }

  test("writeClustered output plan: z-sorted write is one range exchange, no extra shuffle") {
    val ev = Engine.table(spark, sf, "events").select(
      pmod(col("user_id"), lit(64)).cast("long").as("x"),
      pmod(dayofyear(col("ts")), lit(64)).cast("long").as("y"))
    val laid = graft.operators.ZOrder.zOrderBy(ev, Seq(col("x"), col("y")), bits = 6)
    val p = plan(laid)
    assert(p.contains("rangepartitioning"), s"no range exchange on z:\n$p")
    // exactly the one range exchange (Engine.table's single-row-group
    // round-robin rebalance is input plumbing, not layout cost); no
    // hash-partitioned shuffle may appear
    assert("rangepartitioning".r.findAllIn(p).size == 1 &&
      !p.contains("Exchange hashpartitioning"),
      s"extra shuffles in the layout pass:\n$p")
  }
}

/** Physical-plan pins for the round-7 operators — the properties their
  * 100-TB contracts depend on, asserted from the produced plans.
  */
class Round7PlanSpec extends AnyFunSuite with PlanFixture {

  test("KMV bufs aggregate partially before the exchange (bounded map-side state)") {
    val ev = Engine.table(spark, sf, "events")
      .select(col("event_type"), col("user_id").cast("string").as("u"))
    val p = plan(graft.functions.Kmv.bufs(ev, col("u"), 16, Seq("event_type")))
    // the typed bottom-k Aggregator must plan with a partial phase: each
    // map task reduces to <= 2k live entries per group before the exchange
    assert(p.contains("ObjectHashAggregate"), s"bottom-k not ObjectHashAggregate:\n$p")
    assert(p.contains("partial_bottomkbyhash") ||
      "partial_.*BottomK".r.findFirstIn(p.toLowerCase).isDefined ||
      p.toLowerCase.contains("partial"), s"no partial aggregation phase:\n$p")
  }

  test("q245 weighted sample: bounded-heap aggregation, never a corpus window sort") {
    val p = plan(SparkEntry.queries("q245_weighted_sample")(spark, sf))
    assert(!p.contains("Window"), s"weighted sample must not window-sort the corpus:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"no bounded-heap aggregate:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), s"UDF in plan:\n$p")
  }

  test("q247 domain caps: bounded-heap aggregation, never a corpus window sort") {
    val p = plan(SparkEntry.queries("q247_domain_caps")(spark, sf))
    assert(!p.contains("Window"), s"domain caps must not window-sort the corpus:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"no bounded-heap aggregate:\n$p")
  }

  test("q244 KMV set algebra: the only nested-loop product is the segment pair domain") {
    val p = plan(SparkEntry.queries("q244_kmv_overlap")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"unplanned cartesian product:\n$p")
    // every BNLJ must be the segs x segs pair frame (dimension-bounded, so a
    // nested loop over it is fine even duplicated across the estimate and
    // exact-truth branches); sketch-cell and truth joins stay equi-joins
    val nlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(nlj.nonEmpty, s"expected the pair-domain nested loop:\n$p")
    nlj.foreach { l =>
      assert(l.contains("seg_a") && l.contains("seg_b"),
        s"nested loop that is not the bounded pair domain: $l\n$p")
    }
  }

  test("q244 estimates agree with the exact columns at sketch accuracy") {
    val rows = SparkEntry.queries("q244_kmv_overlap")(spark, sf).collect()
    assert(rows.length == 10) // C(5,2) event-type pairs
    rows.foreach { r =>
      val estU = r.getAs[Double]("est_union")
      val exU = r.getAs[Long]("exact_union").toDouble
      // k = 128 => sigma ~ 1/sqrt(126) ~ 8.9%; 4 sigma
      assert(math.abs(estU - exU) / exU <= 4.0 / math.sqrt(126.0),
        s"union estimate off: $estU vs $exU for $r")
    }
  }

  test("CountMin estimate probes are broadcast joins over pinned cells (items never shuffle)") {
    val docs = Engine.table(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("w"))
    val sk = graft.functions.CountMin.sketch(docs, col("w"), depth = 4, width = 512)
    val items = docs.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val p = plan(graft.functions.CountMin.estimate(sk, items, "w", depth = 4, width = 512))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, s"expected 4 broadcast probes:\n$p")
    // the pinned cell table surfaces as a checkpointed scan, not the
    // caller's sketch aggregation re-planned per depth
    assert(!p.contains("partial_sum"), s"sketch aggregation re-executed inside estimate:\n$p")
  }
}

/** Physical-plan pins for the round-8 operators — the properties their
  * 100-TB contracts depend on, asserted from the produced plans.
  */
class Round8PlanSpec extends AnyFunSuite with PlanFixture {
  import spark.implicits._

  test("leftIndex removes every corpus-side explode from the prefix join") {
    // THE point of the postings index: the stored corpus postings are
    // scanned, never re-derived — the only Generate(explode) left in the
    // plan is the batch (right) side's postings build. Pin.Off keeps every
    // subtree visible in one plan string (localCheckpoint would hide the
    // prep inside RDD scans).
    val l = (1 to 40).map(i => (i.toLong, Seq.tabulate(12)(j => (i * 7 + j).toLong)))
      .toDF("lid", "s")
    val r = (100 to 120).map(i => (i.toLong, Seq.tabulate(12)(j => (i * 3 + j).toLong)))
      .toDF("rid", "s")
    val (freq, posts) = SimilarityJoin.prefixIndex(l, "lid", "s", 0.5)
    val f = freq.localCheckpoint()
    val p = posts.localCheckpoint()
    def explodes(df: DataFrame): Int =
      plan(df).linesIterator.count(_.contains("Generate explode"))
    val without = explodes(SimilarityJoin.jaccardJoin(
      l, "lid", r, "rid", "s", 0.5,
      strategy = SimilarityStrategy.PrefixFilter, pin = Pin.Off))
    val withIdx = explodes(SimilarityJoin.jaccardJoin(
      l, "lid", r, "rid", "s", 0.5,
      strategy = SimilarityStrategy.PrefixFilter, pin = Pin.Off,
      leftIndex = Some((f, p)), leftPinned = true))
    assert(withIdx == 1,
      s"indexed join must explode ONLY the batch side (got $withIdx)")
    assert(without > withIdx,
      s"baseline should re-derive more ($without vs $withIdx)")
  }

  test("q249 adaptive quantiles: windows only over cell tables, no UDFs") {
    val p = plan(SparkEntry.queries("q249_adaptive_quantiles")(spark, sf))
    // the only windows in the read-off run over <= bins rows per group —
    // every Window line must be partitioned by the group column, never a
    // global (empty-partition) window over data-sized input
    val wins = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(wins.nonEmpty, s"expected the cumulative-rank window:\n$p")
    wins.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("o_orderpriority"),
        s"window not partitioned by the group column: $l")
    }
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"UDF in plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
  }

  test("streaming ES sample core plans as a partial bounded-heap aggregate") {
    val ev = Engine.table(spark, sf, "events")
    val p = plan(graft.operators.WeightedSample.bufs(
      ev, Seq("event_type"), "event_id", floor(col("value")).cast("long"), 16))
    assert(p.contains("ObjectHashAggregate"), s"no bounded-heap aggregate:\n$p")
    assert(!p.contains("Window"), s"ES bufs must never window-sort the stream:\n$p")
  }
}
