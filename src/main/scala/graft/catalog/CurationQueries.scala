package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.catalog.Shared._

/** The curation service: the batch funnel, the incremental and indexed
  * ticks, the standing service, takedowns and state audits. */
object CurationQueries extends Family {

  /** Parameterized form of the tick chain — `sfx` suffixes every CTE name
    * so two ticks chain in one statement (q264's takedown oracle runs a
    * [x80, x90) tick, folds the takedown declaratively, then a [x90, ∞)
    * tick against the modified corpus/bench — greedy composability
    * collapses CONSECUTIVE ticks into one chain, but a takedown between
    * them changes the standing state, so each side of it needs its own
    * chain). `batchSrc`/`corpusSrc`/`benchSrc` are full SELECTs yielding
    * (doc_id, lang, text). Emits the CTE list WITHOUT the leading `WITH`.
    */
  private def curationTickCtesP(
      sfx: String, batchSrc: String, corpusSrc: String, benchSrc: String): String = {
    def N(s: String) = s + sfx
    val rounds = (1 to 8).map { k =>
      val p = k - 1
      s""", ${N(s"rej$k")} AS MATERIALIZED (
         |  SELECT DISTINCT b FROM ${N(s"e$p")} WHERE a NOT IN (SELECT b FROM ${N(s"e$p")})
         |), ${N(s"e$k")} AS MATERIALIZED (
         |  SELECT a, b FROM ${N(s"e$p")}
         |  WHERE a IN (SELECT b FROM ${N(s"e$p")})
         |    AND a NOT IN (SELECT b FROM ${N(s"rej$k")})
         |    AND b NOT IN (SELECT b FROM ${N(s"rej$k")})
         |)""".stripMargin
    }.mkString
    val rejUnion = (1 to 8).map(k => s"SELECT b FROM ${N(s"rej$k")}").mkString(" UNION ")
    s"""${N("batch")} AS (
       |  SELECT doc_id, lang, text,
       |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
       |    ${qualitySqlExpr("text")} AS q
       |  FROM ($batchSrc)
       |), ${N("corpus")} AS (
       |  $corpusSrc
       |), ${N("s1")} AS (
       |  SELECT * FROM ${N("batch")} WHERE q >= 0.5
       |), ${N("tokb")} AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |  FROM ${N("s1")} WHERE trim(text) <> ''
       |), ${N("bgrams")} AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
       |  FROM ${N("tokb")}, unnest(range(1, len(tk) - 2)) t(i)
       |), ${N("benchtok")} AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |  FROM ($benchSrc) WHERE trim(text) <> ''
       |), ${N("benchg")} AS (
       |  SELECT DISTINCT array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
       |  FROM ${N("benchtok")}, unnest(range(1, len(tk) - 2)) t(i)
       |), ${N("hits")} AS (
       |  SELECT c.doc_id FROM ${N("bgrams")} c JOIN ${N("benchg")} b USING (g)
       |  GROUP BY c.doc_id HAVING count(DISTINCT c.g) >= 5
       |), ${N("s2")} AS (
       |  SELECT * FROM ${N("s1")} WHERE doc_id NOT IN (SELECT doc_id FROM ${N("hits")})
       |), ${N("s3")} AS (
       |  -- NOT EXISTS, not NOT IN: one NULL-text corpus row would make the
       |  -- NOT IN predicate NULL for every batch row (collapsing s3 to
       |  -- empty), and a NULL-text batch row must be KEPT — the engine's
       |  -- === anti-join on sha2 digests never matches a NULL digest
       |  SELECT * FROM (
       |    SELECT * FROM ${N("s2")} QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
       |  ) k WHERE NOT EXISTS (SELECT 1 FROM ${N("corpus")} c WHERE c.text = k.text)
       |), ${N("shb")} AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
       |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)]) END AS s
       |  FROM (SELECT doc_id, lang,
       |          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM ${N("s3")})
       |), ${N("shc")} AS MATERIALIZED (
       |  SELECT lang,
       |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
       |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)]) END AS s
       |  FROM (SELECT lang,
       |          lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM ${N("corpus")})
       |), ${N("r1")} AS MATERIALIZED (
       |  SELECT DISTINCT b.doc_id
       |  FROM ${N("shb")} b JOIN ${N("shc")} c ON b.lang = c.lang
       |  WHERE len(b.s) > 0 AND len(c.s) > 0
       |    AND len(list_intersect(b.s, c.s))::DOUBLE
       |      / len(list_distinct(b.s || c.s)) >= 0.5
       |), ${N("free")} AS MATERIALIZED (
       |  SELECT * FROM ${N("shb")} WHERE doc_id NOT IN (SELECT doc_id FROM ${N("r1")})
       |), ${N("e0")} AS MATERIALIZED (
       |  SELECT x.doc_id AS a, y.doc_id AS b
       |  FROM ${N("free")} x JOIN ${N("free")} y ON x.lang = y.lang AND x.doc_id < y.doc_id
       |  WHERE len(x.s) > 0 AND len(y.s) > 0
       |    AND len(list_intersect(x.s, y.s))::DOUBLE
       |      / len(list_distinct(x.s || y.s)) >= 0.5
       |)$rounds, ${N("r2")} AS ($rejUnion), ${N("acc")} AS (
       |  SELECT doc_id, lang, toks FROM ${N("s3")}
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ${N("r1")})
       |    AND doc_id NOT IN (SELECT b FROM ${N("r2")})
       |)""".stripMargin
  }

  private def curationTickCtes: String =
    "WITH " + curationTickCtesP(
      sfx = "",
      batchSrc = """SELECT doc_id, lang, text FROM documents
                   |  WHERE doc_id >= (SELECT max(doc_id) * 4 // 5 FROM documents)""".stripMargin,
      corpusSrc = """SELECT doc_id, lang, text FROM documents
                    |  WHERE doc_id < (SELECT max(doc_id) * 4 // 5 FROM documents)
                    |    AND doc_id % 50 <> 0""".stripMargin,
      benchSrc = """SELECT doc_id, lang, text FROM documents
                   |  WHERE doc_id < (SELECT max(doc_id) * 4 // 5 FROM documents)
                   |    AND doc_id % 50 = 0""".stripMargin)

  /** q237's oracle: Curation.tick recomputed in SQL. The greedy rounds are
    * GENERATED (8 unrolled rounds over the within-batch pair frame e0):
    * round k accepts every node with no smaller undecided neighbor (a-side
    * nodes absent from the b side), rejects their larger neighbors, and
    * keeps only edges between still-undecided nodes. This frontier
    * formulation reaches the same greedy minimum-rank result that
    * Curation.greedyDominated computes in one ordered scan, so the oracle
    * stays independent of the engine's algorithm. The pair frame holds
    * only docs that survived the corpus check, while the engine resolves
    * all batch pairs with the corpus-matched docs pre-rejected; both give
    * the same accepted set because rejected docs never block. 8 rounds
    * covers dependency chains of 9+ docs; the gate corpora measure depth
    * ≤ 1, and a deeper graph would fail the compare loudly (extra rows),
    * never pass silently.
    */
  private def curationTickOracleSql: String =
    s"$curationTickCtes SELECT doc_id, lang, toks FROM acc ORDER BY doc_id"

  // q230 — the end-to-end curation funnel (capstone composition): the
  // per-stage doc/token attrition report every pretraining corpus build
  // publishes. Stages apply cumulatively — quality screen (q13's scorer),
  // benchmark decontamination (q204's 4-gram rule), exact dedup (keep-min
  // per identical text), near-dup removal (q46's exact 5-gram Jaccard,
  // drop the higher id of each ≥0.5 pair). Every stage reuses the
  // already-oracle-gated operator; the funnel proves they COMPOSE.
  private def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"),
        rnd(TF.qualityScore(col("text"), Stopwords), 6).as("q"))
      // every stage re-reads the scored base — pin it once
      .localCheckpoint(false)
    val s1 = docs.filter(col("q") >= 0.5)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val corpus1 = s1.filter(col("doc_id") % 50 =!= 0)
    val contaminated = graft.operators.Decontaminate
      .sharedGramCounts(corpus1, bench, "doc_id", "text", n = 4)
      .filter(col("shared_grams") >= 5)
      .select(col("doc_id"))
    val s2 = corpus1.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    // exact dedup keep-min: the keep-key join is NULL-SAFE (<=>) so a null
    // text behaves like the oracle's min() OVER (PARTITION BY text) — today
    // the stage-1 quality screen removes null/empty text, but the stage must
    // not silently change semantics if the threshold or scorer ever does not
    val keepMin = s2.groupBy(col("text").as("_ktext")).agg(min(col("doc_id")).as("_keep"))
    val s3 = s2
      .join(keepMin, col("text") <=> col("_ktext"))
      .filter(col("doc_id") === col("_keep")).drop("_ktext", "_keep")
      .localCheckpoint(false) // feeds both the shingle pass and the stage agg
    val sh = s3.select(
      col("doc_id"), col("lang"),
      graft.expressions.ShingleHashes.hashedCharShingles(col("text"), 5).as("h"))
    // near-dup pairs via the exact similarity SELF-join under its
    // COST-BASED strategy (q231 gates the prefix engine; the spec proves
    // both engines emit identical pairs): Auto measures the prefix-postings
    // candidate volume against the blocked all-pairs volume on THIS
    // corpus and runs the cheaper exact plan — prefix postings on the
    // realistic big-block/low-density corpus, salted all-pairs when
    // replica-dense clusters make prefixes degenerate (the sf1 stress
    // corpus: 2.28 G candidate occurrences vs 0.25 G block pairs). Past
    // Auto's size check (this corpus at sf0.1) the join returns its
    // verified pairs pinned, so the stage-4 count below and any later read
    // of s4 scan the pairs instead of re-running the all-pairs verify
    val dominated = graft.operators.SimilarityJoin
      .jaccardSelfJoin(sh, "doc_id", "h", threshold = 0.5, blockCols = Seq("lang"))
      .select(col("id_b").as("doc_id")).distinct()
    val s4 = s3.join(broadcast(dominated), Seq("doc_id"), "left_anti")
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("toks")), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    stage("0_raw", docs)
      .unionByName(stage("1_quality", s1))
      .unionByName(stage("2_decontaminated", s2))
      .unionByName(stage("3_exact_dedup", s3))
      .unionByName(stage("4_near_dedup", s4))
      .orderBy(col("stage"))
  }
  query("q230_curation_funnel", curationFunnel,
    // cumulative funnel: quality (q13's scorer) -> 4-gram decontamination
    // (q204's rule) -> exact text dedup keep-min -> 5-gram Jaccard >= 0.5
    // near-dup removal (q46's predicate, higher id dropped)
      s"""WITH base AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks,
        |    ${qualitySqlExpr("text")} AS q
        |  FROM documents
        |), s1 AS (
        |  SELECT * FROM base WHERE q >= 0.5
        |), tok4 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''
        |), grams AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
        |  FROM tok4, unnest(range(1, len(tk) - 2)) t(i)
        |), benchg AS (
        |  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
        |), hits AS (
        |  SELECT c.doc_id FROM grams c JOIN benchg b USING (g)
        |  WHERE c.doc_id % 50 <> 0
        |  GROUP BY c.doc_id HAVING count(DISTINCT c.g) >= 5
        |), s2 AS (
        |  SELECT s1.* FROM s1
        |  WHERE s1.doc_id % 50 <> 0
        |    AND s1.doc_id NOT IN (SELECT doc_id FROM hits)
        |), s3 AS (
        |  SELECT * FROM s2
        |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
        |), shd AS (
        |  SELECT doc_id, lang,
        |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
        |  FROM s3
        |), sh AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |         ELSE list_distinct([substr(t, i, 5) FOR i IN range(1, len(t) - 3)])
        |    END AS s
        |  FROM shd
        |), nd AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(a.s || b.s)) >= 0.5
        |), s4 AS (
        |  SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM nd)
        |)
        |SELECT * FROM (
        |  SELECT '0_raw' AS stage, count(*) AS n_docs,
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) AS n_tokens FROM base
        |  UNION ALL SELECT '1_quality', count(*),
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) FROM s1
        |  UNION ALL SELECT '2_decontaminated', count(*),
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) FROM s2
        |  UNION ALL SELECT '3_exact_dedup', count(*),
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) FROM s3
        |  UNION ALL SELECT '4_near_dedup', count(*),
        |    CAST(coalesce(sum(toks), 0) AS BIGINT) FROM s4
        |) ORDER BY stage""".stripMargin,
    // the capstone funnel runs four full operator pipelines end-to-end
    barSec = 10.250)

  // q237 — ONE incremental curation tick (the production shape of q230's
  // batch funnel): the newest 20% of docs arrive as the ingest batch
  // against the standing corpus (older docs minus the %50 benchmark
  // holdout). Quality screen → 4-gram decontamination → digest exact-dedup
  // (within batch + vs corpus) → cost-based near-dup vs corpus + GREEDY
  // within-batch resolution (Curation.tick's composable rule; CurationSpec
  // proves two ticks ≡ one). The oracle recomputes the tick declaratively,
  // unrolling the greedy rounds as CTEs (8 rounds ≫ the pair graph's
  // dependency depth at the gate scales; a residual round would surface as
  // a row diff, never silently).
  private def curationTick(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // one bounded driver action sizes the split (the GlobalRank-offset
    // precedent): ingest boundary at 80% of the id range
    val x = docs.agg(max(col("doc_id"))).head().getLong(0) * 4 / 5
    val batch = docs.filter(col("doc_id") >= x)
    val bench = docs.filter(col("doc_id") < x && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x && col("doc_id") % 50 =!= 0)
    graft.operators.Curation
      .tick(corpus, batch, bench, "doc_id", "text", "lang",
        quality = TF.qualityScore(col("text"), Stopwords))
      .select(col("doc_id"), col("lang"),
        greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"))
      .orderBy(col("doc_id"))
  }
  query("q237_curation_tick", curationTick,
    // q237: the tick recomputed declaratively — q230's stage fragments on
    // the batch slice, then greedy-by-rank near-dup resolution unrolled as
    // CTE rounds (MATERIALIZED: each round references the previous twice,
    // and inlining would re-evaluate the pair join exponentially)
    curationTickOracleSql,
    // the tick capstone: two cost-based similarity joins (cross + self,
    // each with Auto's volume probes) + the greedy resolution rounds
    barSec = 11.790)

  // q248 — the INDEXED curation tick loop (Curation.tickIndexed, the
  // production form of q237): the corpus signature index (id, lang, sha256
  // digest, shingle hashes — Curation.signatures) AND the postings index
  // (frozen rarest-first df order + corpus prefix postings —
  // Curation.postingsIndex) are built ONCE, then TWO sequential ingest
  // ticks ([80%,90%) then [90%,max] of the id range) probe them, with the
  // accepted docs' signatures and postings (under the FROZEN order)
  // appended between ticks — corpus text is read once ever, and corpus
  // shingle arrays are exploded once ever: each tick's similarity stage is
  // O(batch prep + postings probe), nothing corpus-proportional rebuilds.
  // Greedy composability makes the two ticks' union EQUAL one combined
  // tick over the same batch, so the oracle is q237's declarative
  // recomputation verbatim: one SQL gate covers index build ≡ corpus prep,
  // postings-indexed tickIndexed ≡ tick (frozen-order losslessness), and
  // the append-compose loop, through a genuinely different physical path.
  private def indexedTicks(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, Pin}
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val b1 = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)
    val b2 = docs.filter(col("doc_id") >= x90)
    def q = TF.qualityScore(col("text"), Stopwords)
    // every index frame is pinned where production would have parquet:
    // read by the ticks' digest and similarity branches without recompute
    val idx0 = Pin.LocalCheckpoint(
      Curation.signatures(corpus, "doc_id", "text", "lang"))
    val (freq0, posts0raw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq = Pin.LocalCheckpoint(freq0)
    val posts0 = Pin.LocalCheckpoint(posts0raw)
    val acc1 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx0, b1, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq, posts0))))
    // the appended slices are pinned too, so idx1/posts1 are materialized
    // end-to-end and tick 2 can declare indexPinned (the parquet-index
    // production shape); accepted docs' postings build under the FROZEN
    // freq — the index's staleness contract. (Hand-rolled rather than
    // Curation.appendState: this loop predates the mergeable df feed and
    // deliberately carries none — appendState is the named form when the
    // full index/posts/feed triple is maintained, q261/q264.)
    val app1 = Pin.LocalCheckpoint(
      Curation.signatures(acc1, "doc_id", "text", "lang"))
    val idx1 = idx0.unionByName(app1)
    val posts1 = posts0.unionByName(Pin.LocalCheckpoint(
      Curation.postingsIndex(app1, "doc_id", "lang", frozenFreq = Some(freq))._2))
    val acc2 = Curation.tickIndexed(idx1, b2, bench, "doc_id", "text", "lang", quality = q,
      indexPinned = true, corpusPostings = Some((freq, posts1)))
    acc1.unionByName(acc2)
      .select(col("doc_id"), col("lang"),
        greatest(TF.tokenCount(col("text")), lit(0)).cast("long").as("toks"))
      .orderBy(col("doc_id"))
  }
  query("q248_indexed_ticks", indexedTicks,
    // q248: the indexed two-tick loop ≡ ONE combined tick by greedy
    // composability (CurationSpec proves the split invariance; the corpus,
    // bench, and combined batch here are exactly q237's), so the oracle is
    // q237's declarative recomputation verbatim.
    curationTickOracleSql,
    // indexed curation-tick loop: index build + TWO sequential ticks
    // (~1.7x ONE inline tick — the corpus prep is paid once, not per tick);
    // re-baselined in round 8 at the persistable postings-index plan
    // (corpus postings built once, probed per tick — was 17.493 on the
    // per-tick postings rebuild)
    barSec = 15.700)

  // q252 — postings-index DRIFT MONITOR (SimilarityJoin.indexDriftReport):
  // the rebuild trigger for the frozen-order prefix index the tick loop
  // carries (q248). An index "built" over the even-doc_id half of the
  // corpus is measured against the full corpus: stored-order vs
  // fresh-order prefix candidate volume (Σ_h nIdx·n/2, the exact quantity
  // the Auto cost model routes on), with the documented rebuild threshold
  // ratio ≥ 2. Elements are 52-bit md5-slice shingle hashes (NOT xxhash64)
  // so the oracle re-derives the exact same rarest-first order — df ties
  // break on h — and, at τ = 0.5, both prefix lengths reduce to exact
  // integer forms (probe: sz÷2+1; index: sz−⌈2sz/3⌉+1), making every
  // volume an exact dyadic sum both engines reproduce bit-identically.
  private def indexDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SimilarityJoin
    val sigs = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.expressions.ShingleHashes.hashedCharShingles(
          col("text"), 5, md5Slice = true).as("_h"))
      .filter(size(col("_h")) > 0)
      // read 4× (stored freq + fresh freq + two postings builds)
      .localCheckpoint()
    val storedFreq =
      SimilarityJoin.dfCounts(sigs.where(col("doc_id") % 2 === 0), "_h")
    SimilarityJoin.indexDriftReport(sigs, "doc_id", "_h", 0.5, storedFreq)
      .select(
        rnd(col("stored_volume"), 4).as("stored_volume"),
        rnd(col("fresh_volume"), 4).as("fresh_volume"),
        rnd(col("drift_ratio"), 4).as("drift_ratio"),
        col("recommend_rebuild").cast("int").as("recommend_rebuild"))
  }
  query("q252_index_drift", indexDrift,
    // q252: the oracle re-derives both candidate volumes from scratch —
    // 52-bit md5-slice shingle hashes give the identical rarest-first
    // (df, h) order, and at τ = 0.5 the engine's FP prefix lengths reduce
    // to exact integer forms (probe: sz÷2+1; index: sz−⌈2sz/3⌉+1 via
    // (2sz+2)÷3), so every ni·np/2 term is the same dyadic value in both
    // engines
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(t) - 3),
        |      i -> substr(t, CAST(i AS INT), 5))) AS shset
        |  FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |        FROM documents)
        |  WHERE len(t) >= 5
        |), el AS (
        |  SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 13)) AS BIGINT) AS h
        |  FROM sh, unnest(shset) u(s)
        |  GROUP BY 1, 2
        |), stored AS (
        |  SELECT h, count(*) AS df FROM el WHERE doc_id % 2 = 0 GROUP BY 1
        |), fresh AS (
        |  SELECT h, count(*) AS df FROM el GROUP BY 1
        |), rs AS (
        |  SELECT e.doc_id, e.h,
        |    row_number() OVER (PARTITION BY e.doc_id
        |                       ORDER BY coalesce(s.df, 0), e.h) AS pos,
        |    count(*) OVER (PARTITION BY e.doc_id) AS sz
        |  FROM el e LEFT JOIN stored s USING (h)
        |), rf AS (
        |  SELECT e.doc_id, e.h,
        |    row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.h) AS pos,
        |    count(*) OVER (PARTITION BY e.doc_id) AS sz
        |  FROM el e JOIN fresh f USING (h)
        |), vs AS (
        |  SELECT CAST(coalesce(sum(ni * np), 0) AS DOUBLE) / 2 AS v FROM (
        |    SELECT h, count(*) AS np,
        |      count(*) FILTER (WHERE pos <= sz - ((2 * sz + 2) // 3) + 1) AS ni
        |    FROM rs WHERE pos <= sz // 2 + 1 GROUP BY 1)
        |), vf AS (
        |  SELECT CAST(coalesce(sum(ni * np), 0) AS DOUBLE) / 2 AS v FROM (
        |    SELECT h, count(*) AS np,
        |      count(*) FILTER (WHERE pos <= sz - ((2 * sz + 2) // 3) + 1) AS ni
        |    FROM rf WHERE pos <= sz // 2 + 1 GROUP BY 1)
        |)
        |, fin AS (
        |  SELECT vs.v AS sv, vf.v AS fv,
        |    CASE WHEN vf.v > 0 THEN vs.v / vf.v
        |         WHEN vs.v > 0 THEN CAST('infinity' AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END AS ratio
        |  FROM vs, vf
        |)
        |SELECT round(sv + 1e-9, 4) AS stored_volume,
        |  round(fv + 1e-9, 4) AS fresh_volume,
        |  round(ratio + 1e-9, 4) AS drift_ratio,
        |  CAST(CASE WHEN ratio >= 2.0 THEN 1 ELSE 0 END AS INT)
        |    AS recommend_rebuild
        |FROM fin""".stripMargin,
    barSec = 6.365)

  // q261 — the STANDING-SERVICE CAPSTONE: everything the index tier
  // provides, composed the way a production 100-TB curation service would
  // run it. Built once at service start: the corpus signature index, the
  // frozen-order postings index, and the benchmark BloomIndex (grams +
  // cells). Then two ticks, each O(batch prep + index probe) — nothing
  // corpus- or bench-proportional is rebuilt: stage 2 probes the stored
  // bloom, stage 4 probes the stored postings; after each tick the
  // signature/postings indexes append row-wise and the TRUE df counts are
  // maintained MERGEABLY (mergeDfCounts — old slices never re-read).
  // Finally, BOTH lifecycle monitors read the stored state: the
  // postings-order drift report (q252's machinery, fed the mergeable df
  // so its only corpus-proportional term is the volume measurement) and
  // the bloom saturation report (q258's). Signatures use the portable
  // md5-slice shingle hash (the signatures hash-convention contract) so
  // the oracle re-derives the drift volumes exactly; the accepted set is
  // hash-invariant (distinct-set Jaccard) and equals ONE combined tick by
  // greedy composability — the oracle recomputes it via q237's
  // derivation. Output: 11 (metric, value) rows.
  private def curationService(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, Decontaminate, SimilarityJoin, Pin}
    import graft.functions.Bloom
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val b1 = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)
    val b2 = docs.filter(col("doc_id") >= x90)
    def q = TF.qualityScore(col("text"), Stopwords)
    // the canonical portable 52-bit md5-slice convention — ONE definition
    // (Kmv.hash) shared with every sketch oracle, not re-rolled here
    val mdHash = (sh: Column) => graft.functions.Kmv.hash(sh)
    val (m, k) = (1 << 17, 4) // fixed for oracle replay; production sizes via Bloom.sizeFor
    // ---- the stored index tier, built once at service start ----
    val idx0 = Pin.LocalCheckpoint(
      Curation.signatures(corpus, "doc_id", "text", "lang", shingleHash = mdHash))
    val (freq0raw, posts0raw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq0 = Pin.LocalCheckpoint(freq0raw)
    val posts0 = Pin.LocalCheckpoint(posts0raw)
    val bi0 = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = m, k = k)
    val bi = bi0.copy(
      grams = Pin.LocalCheckpoint(bi0.grams),
      bloomCells = Pin.LocalCheckpoint(bi0.bloomCells))
    // ---- tick 1 ----
    val acc1 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx0, b1, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq0, posts0)),
        benchIdx = Some(bi), shingleHash = mdHash))
    // the named append verb (signatures row-append + frozen-order postings
    // append + mergeable df merge); the merged feed is additionally pinned
    // here because tick 2's merge and the drift monitor both read it
    val (idx1, posts1, freq1raw) = Curation.appendState(
      idx0, posts0, freq0, acc1, "doc_id", "text", "lang",
      frozenFreq = freq0, shingleHash = mdHash)
    val freq1 = Pin.LocalCheckpoint(freq1raw)
    // ---- tick 2 ----
    val acc2 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx1, b2, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq0, posts1)),
        benchIdx = Some(bi), shingleHash = mdHash))
    val app2 = Pin.LocalCheckpoint(
      Curation.signatures(acc2, "doc_id", "text", "lang", shingleHash = mdHash))
    val idx2 = Pin.LocalCheckpoint(idx1.unionByName(app2))
    val freq2 = SimilarityJoin.mergeDfCounts(freq1, SimilarityJoin.dfCounts(app2, "_h"))
    // ---- the two lifecycle monitors over the stored state ----
    val drift = Curation.indexDriftReport(
      idx2, "doc_id", "lang", 0.5, freq0, currentFreq = Some(freq2))
    val sat = Decontaminate.saturationReport(bi) // handle-carried (m, k)
    // ---- 11-row metric report ----
    val accepted = acc1.unionByName(acc2).agg(
      count(lit(1)).cast("double").as("accepted_docs"),
      coalesce(sum(col("doc_id")), lit(0L)).cast("double").as("accepted_id_sum"),
      coalesce(sum(greatest(TF.tokenCount(col("text")), lit(0))), lit(0L))
        .cast("double").as("accepted_toks"))
    accepted.select(expr(
        """stack(3,
          |  'accepted_docs', accepted_docs,
          |  'accepted_id_sum', accepted_id_sum,
          |  'accepted_toks', accepted_toks) AS (metric, value)""".stripMargin))
      .unionByName(drift.select(expr(
        """stack(4,
          |  'drift_stored_volume', stored_volume,
          |  'drift_fresh_volume', fresh_volume,
          |  'drift_ratio', drift_ratio,
          |  'drift_recommend_rebuild', CAST(recommend_rebuild AS DOUBLE))
          |  AS (metric, value)""".stripMargin)))
      .unionByName(sat.select(expr(
        """stack(4,
          |  'bloom_set_bits', CAST(set_bits AS DOUBLE),
          |  'bloom_fill_ratio', fill_ratio,
          |  'bloom_effective_fpp', effective_fpp,
          |  'bloom_recommend_rebuild', CAST(recommend_rebuild AS DOUBLE))
          |  AS (metric, value)""".stripMargin)))
      .select(col("metric"), rnd(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }
  query("q261_curation_service", curationService,
    // q261: three oracle machineries composed — the accepted set is q237's
    // combined-tick derivation (greedy composability: two ticks ≡ one; the
    // CTE chain is shared code with q237/q248), the drift volumes are
    // q252's integer prefix forms over the FINAL index's md5-slice shingle
    // hashes (stored order = corpus-built df with absent elements at df 0,
    // fresh = full-index df; lang is the block key), and the bloom report
    // is q258's bit arithmetic over the benchmark grams at m = 2^17, k = 4
    (curationTickCtes +
      """, accm AS (
        |  SELECT 'accepted_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM acc
        |  UNION ALL
        |  SELECT 'accepted_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc
        |  UNION ALL
        |  SELECT 'accepted_toks', CAST(coalesce(sum(toks), 0) AS DOUBLE) FROM acc
        |), fidx AS (
        |  SELECT doc_id, lang, text FROM corpus
        |  UNION ALL
        |  SELECT s.doc_id, s.lang, s.text FROM s3 s
        |  WHERE s.doc_id IN (SELECT doc_id FROM acc)
        |), fsh AS (
        |  SELECT doc_id, lang,
        |    list_distinct(list_transform(range(1, len(t) - 3),
        |      i -> substr(t, CAST(i AS INT), 5))) AS shset
        |  FROM (SELECT doc_id, lang,
        |          lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM fidx)
        |  WHERE len(t) >= 5
        |), el AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(sh), 1, 13)) AS BIGINT) AS h
        |  FROM fsh, unnest(shset) u(sh)
        |  GROUP BY 1, 2, 3
        |), stored AS (
        |  SELECT h, count(*) AS df FROM el
        |  WHERE doc_id < (SELECT max(doc_id) * 4 // 5 FROM documents)
        |  GROUP BY 1
        |), fresh AS (
        |  SELECT h, count(*) AS df FROM el GROUP BY 1
        |), rs AS (
        |  SELECT e.doc_id, e.lang, e.h,
        |    row_number() OVER (PARTITION BY e.doc_id
        |                       ORDER BY coalesce(s.df, 0), e.h) AS pos,
        |    count(*) OVER (PARTITION BY e.doc_id) AS sz
        |  FROM el e LEFT JOIN stored s USING (h)
        |), rf AS (
        |  SELECT e.doc_id, e.lang, e.h,
        |    row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.h) AS pos,
        |    count(*) OVER (PARTITION BY e.doc_id) AS sz
        |  FROM el e JOIN fresh f USING (h)
        |), vs AS (
        |  SELECT CAST(coalesce(sum(ni * np), 0) AS DOUBLE) / 2 AS v FROM (
        |    SELECT h, lang, count(*) AS np,
        |      count(*) FILTER (WHERE pos <= sz - ((2 * sz + 2) // 3) + 1) AS ni
        |    FROM rs WHERE pos <= sz // 2 + 1 GROUP BY 1, 2)
        |), vf AS (
        |  SELECT CAST(coalesce(sum(ni * np), 0) AS DOUBLE) / 2 AS v FROM (
        |    SELECT h, lang, count(*) AS np,
        |      count(*) FILTER (WHERE pos <= sz - ((2 * sz + 2) // 3) + 1) AS ni
        |    FROM rf WHERE pos <= sz // 2 + 1 GROUP BY 1, 2)
        |), dr AS (
        |  SELECT vs.v AS sv, vf.v AS fv,
        |    CASE WHEN vf.v > 0 THEN vs.v / vf.v
        |         WHEN vs.v > 0 THEN CAST('infinity' AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END AS ratio
        |  FROM vs, vf
        |), driftm AS (
        |  SELECT 'drift_stored_volume' AS metric, sv AS value FROM dr
        |  UNION ALL SELECT 'drift_fresh_volume', fv FROM dr
        |  UNION ALL SELECT 'drift_ratio', ratio FROM dr
        |  UNION ALL SELECT 'drift_recommend_rebuild',
        |    CASE WHEN ratio >= 2.0 THEN 1.0 ELSE 0.0 END FROM dr
        |), bpos AS (
        |  SELECT (CAST(concat('0x', substr(md5(g), 1, 13)) AS BIGINT)
        |        + i * CAST(concat('0x', substr(md5(g), 14, 13)) AS BIGINT))
        |        % 131072 AS p
        |  FROM benchg, unnest(range(0, 4)) t(i)
        |), bcells AS (
        |  SELECT CAST(p // 32 AS INT) AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM bpos GROUP BY 1
        |), bfin AS (
        |  SELECT set_bits, CAST(set_bits AS DOUBLE) / 131072 AS f
        |  FROM (SELECT sum(bit_count(bits)) AS set_bits FROM bcells)
        |), bloomm AS (
        |  SELECT 'bloom_set_bits' AS metric, CAST(set_bits AS DOUBLE) AS value FROM bfin
        |  UNION ALL SELECT 'bloom_fill_ratio', f FROM bfin
        |  UNION ALL SELECT 'bloom_effective_fpp', f * f * f * f FROM bfin
        |  UNION ALL SELECT 'bloom_recommend_rebuild',
        |    CASE WHEN f * f * f * f >= 0.02 THEN 1.0 ELSE 0.0 END FROM bfin
        |)
        |SELECT metric, round(value + 1e-9, 6) AS value
        |FROM (SELECT * FROM accm UNION ALL SELECT * FROM driftm
        |      UNION ALL SELECT * FROM bloomm)
        |ORDER BY metric""".stripMargin),
    // round-10 additions (r10 sf0.1 measurements, BASELINE.md §3i): q261
    // is the standing-service capstone — q248's two-tick indexed loop PLUS
    // the bloom index tier and BOTH lifecycle monitors (the drift report
    // alone is two postings builds, the q252 cost), so it is the heaviest
    // query in the catalog by design
    barSec = 18.994)

  // q264 — the TAKEDOWN TICK (VERDICT r10 item 2): the standing service's
  // single-call delete composed mid-loop. Tick 1 runs the indexed funnel
  // over [x80, x90); then Curation.takedown removes every standing
  // doc_id % 9 == 3 in ONE call — signature index and stored postings
  // anti-joined, the mergeable true-df feed corrected EXACTLY by
  // subtractDfCounts (no permanent overcount), the benchmark BloomIndex
  // rebuilt over its surviving grams — and tick 2 runs over [x90, ∞)
  // against the taken-down state. CurationSpec proves the state equals a
  // fresh build over the survivors; here the ORACLE recomputes both ticks
  // declaratively (the parameterized q237 chain, the takedown folded into
  // tick 2's corpus/bench definitions) plus the state-mass read-offs: the
  // final df-feed mass must equal the recomputed shingle-set mass of the
  // surviving index — the exact-subtraction contract, value-checked.
  private def takedownTick(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, Decontaminate, SimilarityJoin, Pin}
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val b1 = docs.filter(col("doc_id") >= x80 && col("doc_id") < x90)
    val b2 = docs.filter(col("doc_id") >= x90)
    def q = TF.qualityScore(col("text"), Stopwords)
    // ---- standing state, built once (the q261 service-start shape) ----
    val idx0 = Pin.LocalCheckpoint(Curation.signatures(corpus, "doc_id", "text", "lang"))
    val (freq0raw, posts0raw) = Curation.postingsIndex(idx0, "doc_id", "lang")
    val freq0 = Pin.LocalCheckpoint(freq0raw)
    val posts0 = Pin.LocalCheckpoint(posts0raw)
    val bi0 = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = 1 << 17, k = 4)
    val bi = bi0.copy(
      grams = Pin.LocalCheckpoint(bi0.grams),
      bloomCells = Pin.LocalCheckpoint(bi0.bloomCells))
    // ---- tick 1 + state maintenance ----
    val acc1 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx0, b1, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq0, posts0)), benchIdx = Some(bi)))
    // the named append verb (takedown's inverse): signatures row-append,
    // frozen-order postings append, mergeable df merge — one call
    val (idx1, posts1, cur1) = Curation.appendState(
      idx0, posts0, freq0, acc1, "doc_id", "text", "lang", frozenFreq = freq0)
    // ---- the takedown ----
    val removed = docs.filter(col("doc_id") % 9 === 3).select(col("doc_id"))
    val (idx2raw, posts2raw, cur2raw, bi2opt) =
      Curation.takedown(idx1, posts1, cur1, Some(bi), removed, "doc_id")
    val idx2 = Pin.LocalCheckpoint(idx2raw)
    val posts2 = Pin.LocalCheckpoint(posts2raw)
    val cur2 = Pin.LocalCheckpoint(cur2raw)
    val bi2raw = bi2opt.get
    val bi2 = bi2raw.copy(
      grams = Pin.LocalCheckpoint(bi2raw.grams),
      bloomCells = Pin.LocalCheckpoint(bi2raw.bloomCells))
    // ---- tick 2 against the taken-down state ----
    val acc2 = Pin.LocalCheckpoint(
      Curation.tickIndexed(idx2, b2, bench, "doc_id", "text", "lang", quality = q,
        indexPinned = true, corpusPostings = Some((freq0, posts2)), benchIdx = Some(bi2)))
    val app2 = Curation.signatures(acc2, "doc_id", "text", "lang")
    val curF = SimilarityJoin.mergeDfCounts(cur2, SimilarityJoin.dfCounts(app2, "_h"))
    // ---- the postings-rebuild leg, oracle-gated end to end: rebuild the
    // order from the FINAL index, then read the drift monitor against it
    // with the fresh side independently recomputed — the rebuild contract
    // pins drift_ratio at EXACTLY 1.0 (same df multiset → same rarest-first
    // order → identical postings → identical HALF-integer-valued volumes
    // (prefixVolumeCells' _cp1 = n_i·n_p/2 terms are multiples of 0.5 —
    // exactly representable, order-independent summation below 2^52)), so
    // the oracle value-checks the whole two-postings-build machinery
    // against a contract constant; any defect in the rebuilt order reads
    // as ratio ≠ 1 here
    val idxF = Pin.LocalCheckpoint(idx2.unionByName(app2))
    val (rbFreq, _) = Curation.rebuildPostings(idxF, "doc_id", "lang")
    val drift = Curation.indexDriftReport(
      idxF, "doc_id", "lang", 0.5, Pin.LocalCheckpoint(rbFreq))
    // ---- metric report (every read-off oracle-recomputable) ----
    def accMetrics(pfx: String, acc: DataFrame) = acc.agg(
        count(lit(1)).cast("double").as("d"),
        coalesce(sum(col("doc_id")), lit(0L)).cast("double").as("i"))
      .select(expr(s"stack(2, '${pfx}_docs', d, '${pfx}_id_sum', i) AS (metric, value)"))
    accMetrics("acc1", acc1)
      .unionByName(accMetrics("acc2", acc2))
      .unionByName(idx1.join(removed, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).cast("double").as("v"))
        .select(lit("removed_state_docs").as("metric"), col("v").as("value")))
      .unionByName(bi.grams.agg(count(lit(1)).cast("double").as("v"))
        .select(lit("bench_gram_rows_before").as("metric"), col("v").as("value")))
      .unionByName(bi2.grams.agg(count(lit(1)).cast("double").as("v"))
        .select(lit("bench_gram_rows_after").as("metric"), col("v").as("value")))
      .unionByName(idxF.agg(count(lit(1)).cast("double").as("v"))
        .select(lit("final_index_docs").as("metric"), col("v").as("value")))
      .unionByName(curF.agg(coalesce(sum(col("_df")), lit(0L)).cast("double").as("v"))
        .select(lit("final_df_mass").as("metric"), col("v").as("value")))
      .unionByName(drift.select(expr(
        """stack(2,
          |  'post_rebuild_drift_ratio', drift_ratio,
          |  'post_rebuild_recommend', CAST(recommend_rebuild AS DOUBLE))
          |  AS (metric, value)""".stripMargin)))
      .select(col("metric"), rnd(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }
  query("q264_takedown_tick", takedownTick,
    // q264: two parameterized q237 chains with the takedown folded between
    // them — tick 2's corpus is (corpus0 ∪ acc1) minus the removed ids and
    // its bench is bench0 minus the removed ids (benchIndexDelete ≡ fresh
    // build over survivors; postings anti-join ≡ frozen-order build over
    // survivors — both spec-proven, so the declarative fold IS the engine's
    // state). final_df_mass re-derives the subtracted-then-merged df feed
    // as the shingle-set mass of the surviving index — exact subtraction,
    // value-checked.
    {
      val x80 = "(SELECT max(doc_id) * 4 // 5 FROM documents)"
      val x90 = "(SELECT max(doc_id) * 9 // 10 FROM documents)"
      "WITH " + curationTickCtesP(
        sfx = "_t1",
        batchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id >= $x80 AND doc_id < $x90",
        corpusSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 <> 0",
        benchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 = 0") +
      ", " + curationTickCtesP(
        sfx = "_t2",
        batchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id >= $x90",
        corpusSrc =
          s"""SELECT doc_id, lang, text FROM documents
             |  WHERE doc_id < $x80 AND doc_id % 50 <> 0 AND doc_id % 9 <> 3
             |  UNION ALL
             |  SELECT s.doc_id, s.lang, s.text FROM s3_t1 s
             |  WHERE s.doc_id IN (SELECT doc_id FROM acc_t1) AND s.doc_id % 9 <> 3""".stripMargin,
        benchSrc =
          s"""SELECT doc_id, lang, text FROM documents
             |  WHERE doc_id < $x80 AND doc_id % 50 = 0 AND doc_id % 9 <> 3""".stripMargin) +
      """, benchg0 AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 3], ' ') AS g
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |        FROM documents
        |        WHERE doc_id < """.stripMargin + x80 +
      """ AND doc_id % 50 = 0 AND trim(text) <> '') z,
        |    unnest(range(1, len(tk) - 2)) t(i)
        |), dfm AS (
        |  SELECT coalesce(sum(len(s)), 0) AS v FROM (
        |    SELECT s FROM shc_t2
        |    UNION ALL
        |    SELECT s FROM shb_t2 WHERE doc_id IN (SELECT doc_id FROM acc_t2)
        |  )
        |), m AS (
        |  SELECT 'acc1_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM acc_t1
        |  UNION ALL
        |  SELECT 'acc1_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc_t1
        |  UNION ALL
        |  SELECT 'acc2_docs', CAST(count(*) AS DOUBLE) FROM acc_t2
        |  UNION ALL
        |  SELECT 'acc2_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc_t2
        |  UNION ALL
        |  SELECT 'removed_state_docs', CAST(
        |    (SELECT count(*) FROM corpus_t1 WHERE doc_id % 9 = 3)
        |  + (SELECT count(*) FROM acc_t1 WHERE doc_id % 9 = 3) AS DOUBLE)
        |  UNION ALL
        |  SELECT 'bench_gram_rows_before', CAST(count(*) AS DOUBLE) FROM benchg0
        |  UNION ALL
        |  SELECT 'bench_gram_rows_after', CAST(count(*) AS DOUBLE) FROM benchg0
        |    WHERE doc_id % 9 <> 3
        |  UNION ALL
        |  SELECT 'final_index_docs', CAST(
        |    (SELECT count(*) FROM corpus_t2) + (SELECT count(*) FROM acc_t2) AS DOUBLE)
        |  UNION ALL
        |  SELECT 'final_df_mass', CAST(v AS DOUBLE) FROM dfm
        |  -- the rebuild contract constants: a just-rebuilt order measures
        |  -- stored_volume == fresh_volume exactly (block volumes are
        |  -- HALF-integer-valued — n_i*n_p/2 terms, multiples of 0.5, exact
        |  -- and order-independent in double below 2^52 — under the
        |  -- identical df multiset), so the engine's full
        |  -- two-postings-build drift read-off must land on exactly 1.0 / 0
        |  UNION ALL
        |  SELECT 'post_rebuild_drift_ratio', CAST(1.0 AS DOUBLE)
        |  UNION ALL
        |  SELECT 'post_rebuild_recommend', CAST(0.0 AS DOUBLE)
        |)
        |SELECT metric, round(value + 1e-9, 6) AS value FROM m ORDER BY metric""".stripMargin
    },
    // round-11 additions (r11 sf0.1 quiet-box min-of-2, BASELINE.md §3j):
    // q264 is the takedown capstone — a two-tick indexed loop (the q248
    // class) with the single-call takedown folded between the ticks plus
    // the post-rebuild drift read-off (a q252-class monitor pass)
    barSec = 19.376)

  // q266 — STATE INTEGRITY AUDIT (Curation.auditState): the fsck of the
  // index tier. The lifecycle verbs maintain the invariants by
  // construction and the monitors price cost drift — this audits a state
  // that arrived over an operational seam the verbs don't cover (restore,
  // partial write, migration, concurrent writers): every invariant is
  // recomputed EXACTLY and reported as (check, observed violations, ok).
  // The query runs the audit five times: once on a clean standing state
  // (all six checks read 0) and once per seeded corruption — a df count
  // bumped by 1, one doc's postings rows dropped, one signature row
  // duplicated, an out-of-range bloom cell injected — asserting each
  // corruption trips EXACTLY the checks it should, with violation counts
  // the oracle re-derives in closed form: signatures use the portable
  // md5-slice hash and τ = 0.5, so doc X's stored prefix length is
  // SZ//2 + 1 rows (probe form) and its duplicated-signature fresh build
  // emits SZ + 1 (plen over the doubled multiset: 2·SZ − ⌈SZ⌉ + 1) — the
  // dup-state postings diff is their sum, and its df diff is 2·SZ (one
  // row per direction per distinct shingle). Cost shape: each audit pays
  // one postings build + one df recompute over the signature index and
  // one cell build over the gram table (the q252 monitor class) — the
  // operational-cadence layer, never per tick.
  private def stateAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, Decontaminate, Pin}
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 3 === 0)
    val idx = Pin.LocalCheckpoint(Curation.signatures(
      corpus, "doc_id", "text", "lang",
      shingleHash = sh => graft.functions.Kmv.hash(sh)))
    val (freqRaw, postsRaw) = Curation.postingsIndex(idx, "doc_id", "lang")
    val freq = Pin.LocalCheckpoint(freqRaw)
    val posts = Pin.LocalCheckpoint(postsRaw)
    val bi0 = Decontaminate.benchIndex(bench, "doc_id", "text", n = 4, m = 1 << 16, k = 4)
    val bi = bi0.copy(grams = Pin.LocalCheckpoint(bi0.grams),
      bloomCells = Pin.LocalCheckpoint(bi0.bloomCells))
    def audit(tag: String, ix: DataFrame, ps: DataFrame, cf: DataFrame,
        b: Decontaminate.BenchIndex): DataFrame =
      Curation.auditState(ix, ps, freq, cf, Some(b), "doc_id", "lang")
        .select(lit(tag).as("state"), col("check"), col("observed"),
          col("ok").cast("int").as("ok"))
    // doc X for the seeded corruptions: the max-id corpus doc with a
    // non-empty shingle set (bounded driver aggregates — the q264 pattern)
    val x = idx.filter(size(col("_h")) > 0).agg(max(col("doc_id"))).head().getLong(0)
    val hMin = freq.agg(min(col("h"))).head().getLong(0)
    val dfBumped = freq.withColumn("_df",
      when(col("h") === hMin, col("_df") + 1).otherwise(col("_df")))
    val postsDropped = posts.filter(col("doc_id") =!= x)
    val idxDup = idx.unionByName(idx.filter(col("doc_id") === x))
    val wordsB = (bi.m + 31) / 32
    val biInject = bi.copy(bloomCells = bi.bloomCells.unionByName(
      s.range(1).select(lit(wordsB + 5).cast("int").as("word"), lit(1L).as("bits"))))
    audit("a_clean", idx, posts, freq, bi)
      .unionByName(audit("b_df_bump", idx, posts, dfBumped, bi))
      .unionByName(audit("c_postings_drop", idx, postsDropped, freq, bi))
      .unionByName(audit("d_dup_sig", idxDup, posts, freq, bi))
      .unionByName(audit("e_bloom_inject", idx, posts, freq, biInject))
      .orderBy(col("state"), col("check"))
  }
  query("q266_state_audit", stateAudit,
    // q266: the audit's violation counts in closed form. Doc X = the
    // max-id corpus doc with a non-empty shingle set; at τ = 0.5 its
    // stored (probe-form) prefix is SZ//2 + 1 rows and a
    // duplicated-signature fresh build emits SZ + 1 rows over the doubled
    // multiset (2·SZ − ⌈2·SZ·0.5⌉ + 1) with _sz = 2·SZ — every stored/
    // fresh X row differs on _sz, so the dup-state postings diff is their
    // sum and its df diff is one row per direction per distinct shingle
    // (2·SZ). The df bump and the bloom inject each perturb exactly one
    // row (diff 2 with the recompute's counterpart; 1 for the injected
    // cell's two checks). Everything else is the contract constant 0.
      """WITH corp AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id % 50 <> 0 AND doc_id % 3 = 0
        |), xs AS (
        |  SELECT max(doc_id) AS x FROM corp WHERE len(t) >= 5
        |), szx AS (
        |  SELECT count(DISTINCT
        |    CAST(concat('0x', substr(md5(substr(t, CAST(i AS INT), 5)), 1, 13))
        |      AS BIGINT)) AS sz
        |  FROM corp, xs, unnest(range(1, len(t) - 3)) u(i)
        |  WHERE doc_id = x
        |), vals AS (
        |  SELECT s.state, c.chk,
        |    CASE
        |      WHEN s.state = 'b_df_bump' AND c.chk = 'df_feed_exact' THEN 2
        |      WHEN s.state = 'c_postings_drop' AND c.chk = 'postings_exact'
        |        THEN (SELECT sz // 2 + 1 FROM szx)
        |      WHEN s.state = 'd_dup_sig' AND c.chk = 'ids_unique' THEN 1
        |      WHEN s.state = 'd_dup_sig' AND c.chk = 'postings_exact'
        |        THEN (SELECT (sz // 2 + 1) + (sz + 1) FROM szx)
        |      WHEN s.state = 'd_dup_sig' AND c.chk = 'df_feed_exact'
        |        THEN (SELECT 2 * sz FROM szx)
        |      WHEN s.state = 'e_bloom_inject' AND c.chk = 'bench_words_bounded' THEN 1
        |      WHEN s.state = 'e_bloom_inject' AND c.chk = 'bench_cells_exact' THEN 1
        |      ELSE 0 END AS observed
        |  FROM (VALUES ('a_clean'), ('b_df_bump'), ('c_postings_drop'),
        |        ('d_dup_sig'), ('e_bloom_inject')) s(state)
        |  CROSS JOIN (VALUES ('ids_unique'), ('postings_ids_covered'),
        |        ('postings_exact'), ('df_feed_exact'), ('bench_words_bounded'),
        |        ('bench_cells_exact')) c(chk)
        |)
        |SELECT state, chk AS "check", CAST(observed AS BIGINT) AS observed,
        |  CAST(CASE WHEN observed = 0 THEN 1 ELSE 0 END AS INT) AS ok
        |FROM vals ORDER BY state, chk""".stripMargin,
    barSec = 7.604)

  // q267 — the STREAMING curation service (Curation.ServiceState /
  // serviceTick): q261's standing-service capstone as a literal
  // Structured Streaming program. The two q248 batches arrive as a real
  // file-source STREAM driven through writeStream.foreachBatch — each
  // micro-batch runs tickIndexed against the driver-held state handle
  // (stored bloom at stage 2, stored postings at stage 4) and appendState
  // maintains all three corpus halves plus the high-water ingest rank
  // (the monotone-rank guard, the tick contract made executable). The
  // oracle recomputes BOTH per-arrival accepted sets via the chained
  // q237 tick CTEs (micro-batch boundaries ≡ tick boundaries by greedy
  // composability), pins the audit read-offs at the invariant constants
  // (the maintained state must fsck clean — six checks, zero violations),
  // and the high-water rank at max(doc_id).
  private def streamService(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    import s.implicits._
    val docs = t(s, dir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (x80, x90) = (mx * 4 / 5, mx * 9 / 10)
    val bench = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") < x80 && col("doc_id") % 50 =!= 0)
    val state = Curation.serviceState(corpus, bench, "doc_id", "text", "lang")
    // file-source replay, one bounded run per arrival batch sharing a
    // checkpoint (the StreamOpsSpec replay discipline: a free-running
    // trigger could split one arrival's part files across micro-batches —
    // legal for the service, but the oracle pins the two-arrival split)
    val root = java.nio.file.Files.createTempDirectory("graft-q267").toString
    val streamDir = root + "/stream"
    new java.io.File(streamDir).mkdirs()
    // each arrival is staged as EXACTLY ONE part file and published with a
    // single atomic move — required now that ONE standing query spans both
    // arrivals (the r15 lifecycle reuse): a free-running trigger listing
    // the dir mid-publication of a multi-file arrival could split it
    // across micro-batches, and the oracle pins the two-arrival split.
    // One file appears atomically, so a trigger sees an arrival whole or
    // not at all.
    def addBatch(df: DataFrame, n: Int): Unit = {
      val sub = root + s"/b$n"
      // repartition(1), not coalesce(1): coalesce would collapse the whole
      // upstream filter+scan into one task; the explicit exchange keeps the
      // staging scan parallel and only the write single-file
      df.repartition(1).write.mode("overwrite").parquet(sub)
      new java.io.File(sub).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          val tmp = java.nio.file.Paths.get(streamDir, s".b${n}_$i.parquet.tmp")
          java.nio.file.Files.copy(f.toPath, tmp)
          java.nio.file.Files.move(tmp,
            java.nio.file.Paths.get(streamDir, s"b${n}_$i.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    }
    val accs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // ONE streaming query spans both arrivals (r15: a standing service does
    // not restart per arrival, and each extra MicroBatchExecution lifecycle
    // paid query planning + checkpoint resume + state reload). Micro-batch
    // boundaries and batchIds are unchanged: the query starts only after
    // arrival 1 is published (no idle batch 0), and arrival 2's single
    // file is only published after the first processAllAvailable()
    // drained, so batch 0 = arrival 1, batch 1 = arrival 2 exactly as the
    // two-run form.
    try {
      addBatch(docs.filter(col("doc_id") >= x80 && col("doc_id") < x90), 1)
      val q = s.readStream.schema(docs.schema).parquet(streamDir)
        .writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, bid: Long) =>
          // batchId threads through for the at-least-once skip (the
          // serviceTick idempotence contract); the per-arrival aggregate
          // also FORCES the accepted frame's lazy pin, so nothing read
          // after the temp-tree cleanup below still depends on the files.
          // The single-file arrival scans as one partition (single-row-
          // group parquet), so restore scan parallelism before the tick —
          // a round-robin exchange of just the batch, the Engine.table
          // rebalance discipline applied to the micro-batch
          val batch = df.repartition(s.sparkContext.defaultParallelism)
          val acc = Curation.serviceTick(state, batch, "doc_id", "text", "lang",
            quality = TF.qualityScore(col("text"), Stopwords), batchId = Some(bid))
          val r = acc.agg(
            count(lit(1)).as("d"), coalesce(sum(col("doc_id")), lit(0L)).as("i")).head()
          accs += ((r.getLong(0), r.getLong(1))); ()
        }
        .option("checkpointLocation", root + "/ckpt").start()
      try {
        q.processAllAvailable()
        addBatch(docs.filter(col("doc_id") >= x90), 2)
        q.processAllAvailable()
      } finally q.stop()
    } finally {
      // reclaim the whole temp tree (staged parquet, the stream copies,
      // checkpoint state) — the replayStream discipline; q267 can't use
      // its symlink trick because the stream dir outlives two query runs,
      // so the copies are real files and a sweep's min-of-2 would leak
      // 2× the batch bytes per measurement otherwise
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    }
    val audit = Curation.auditState(state.index, state.posts, state.frozenFreq,
      state.currentFreq, Some(state.benchIdx), "doc_id", "lang")
    // ONE evaluation of the audit subtree (r15): the former two separate
    // aggregates each re-ran the full audit — a postings rebuild, a df
    // recompute and a bloom cell rebuild per read — where one two-column
    // aggregate stacked to rows computes it once (the q261 stack pattern).
    val auditRows = audit.agg(
        count(lit(1)).cast("double").as("audit_checks"),
        coalesce(sum(col("observed")), lit(0L)).cast("double").as("audit_violations"))
      .select(expr(
        """stack(2,
          |  'audit_checks', audit_checks,
          |  'audit_violations', audit_violations) AS (metric, value)""".stripMargin))
    Seq(
        ("acc1_docs", accs(0)._1.toDouble), ("acc1_id_sum", accs(0)._2.toDouble),
        ("acc2_docs", accs(1)._1.toDouble), ("acc2_id_sum", accs(1)._2.toDouble),
        ("svc_high_water", state.maxRank.toDouble))
      .toDF("metric", "value")
      .unionByName(auditRows)
      .select(col("metric"), rnd(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }
  query("q267_stream_service", streamService,
    // q267: the two streaming arrivals ≡ the two chained greedy ticks
    // (micro-batch boundaries are tick boundaries by composability — the
    // q237/q248 CTE machinery, chained as in q264 without the takedown);
    // the audit read-offs are the invariant constants (six checks, zero
    // violations — the maintained state must equal a fresh build, which
    // is exactly what auditState recomputes), and the high-water rank is
    // the max ingest id.
    {
      val x80 = "(SELECT max(doc_id) * 4 // 5 FROM documents)"
      val x90 = "(SELECT max(doc_id) * 9 // 10 FROM documents)"
      "WITH " + curationTickCtesP(
        sfx = "_t1",
        batchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id >= $x80 AND doc_id < $x90",
        corpusSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 <> 0",
        benchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 = 0") +
      ", " + curationTickCtesP(
        sfx = "_t2",
        batchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id >= $x90",
        corpusSrc =
          s"""SELECT doc_id, lang, text FROM documents
             |  WHERE doc_id < $x80 AND doc_id % 50 <> 0
             |  UNION ALL
             |  SELECT s.doc_id, s.lang, s.text FROM s3_t1 s
             |  WHERE s.doc_id IN (SELECT doc_id FROM acc_t1)""".stripMargin,
        benchSrc =
          s"SELECT doc_id, lang, text FROM documents WHERE doc_id < $x80 AND doc_id % 50 = 0") +
      """, m AS (
        |  SELECT 'acc1_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM acc_t1
        |  UNION ALL
        |  SELECT 'acc1_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc_t1
        |  UNION ALL
        |  SELECT 'acc2_docs', CAST(count(*) AS DOUBLE) FROM acc_t2
        |  UNION ALL
        |  SELECT 'acc2_id_sum', CAST(coalesce(sum(doc_id), 0) AS DOUBLE) FROM acc_t2
        |  -- the audit constants: a verb-maintained state recomputes clean
        |  UNION ALL
        |  SELECT 'audit_checks', CAST(6 AS DOUBLE)
        |  UNION ALL
        |  SELECT 'audit_violations', CAST(0 AS DOUBLE)
        |  UNION ALL
        |  SELECT 'svc_high_water', CAST((SELECT max(doc_id) FROM documents) AS DOUBLE)
        |)
        |SELECT metric, round(value + 1e-9, 6) AS value FROM m ORDER BY metric""".stripMargin
    },
    // 26.040 at first build; re-floored after the review pass removed
    // serviceState's second benchmark gram scan
    barSec = 19.496)
}
