package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a DECLARATIVE
  * relational sketch — the bounded-memory frequency summary a 100-TB corpus
  * profile needs: the sketch table has exactly depth·width rows no matter
  * how many token instances flow in, estimates never undercount
  * (est ≥ true), and overcount by ≤ εN with probability 1−δ for
  * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.
  *
  * Scale shape: one explode + groupBy — Spark's partial aggregation caps
  * the map-side state at depth·width counters per partition (the same
  * bound a hand-written TypedImperativeAggregate would give), and the
  * exchange carries at most numPartitions·depth·width rows regardless of
  * corpus size. Sketches MERGE by (depth, bucket) sum — per-shard sketches
  * roll up to a corpus sketch without touching the data again.
  *
  * Hashing: the d row-hashes are disjoint 8-hex-char slices of md5(item) —
  * cryptographically mixed, pairwise independent for d ≤ 4, and portable
  * (any engine recomputes the identical buckets from the md5 hex string,
  * which is how the DuckDB oracle re-derives the whole sketch).
  */
object CountMin {

  private def checkParams(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 4,
      s"depth must be in [1, 4] (md5 yields 4 disjoint 32-bit slices): $depth")
    require(width >= 1, s"width must be positive: $width")
  }

  /** Bucket of `item` under row-hash `d` (0-based): slice hex chars
    * [8d+1, 8d+8] of md5(item), parse as unsigned 32-bit, mod width.
    */
  def bucket(item: Column, d: Int, width: Int): Column =
    conv(substring(md5(item), 1 + 8 * d, 8), 16, 10).cast("long") % width

  /** Build the sketch table (groupCols..., d, bucket, cnt) over every
    * row's `item` — depth·width rows at most per group, the whole summary.
    * Runs unchanged on a streaming frame (a running aggregation, complete
    * mode) and under `StreamOps.windowed` (per event-time window, append
    * mode).
    */
  def sketch(
      df: DataFrame,
      item: Column,
      depth: Int,
      width: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    checkParams(depth, width)
    val hashed = TextFunctions.bindOnce(item) { it =>
      array((0 until depth).map(d => bucket(it, d, width)): _*)
    }
    // a NULL item would otherwise emit depth (d, NULL-bucket) junk cells
    // (the array's ELEMENTS go null, not the array, so posexplode keeps them)
    df.where(item.isNotNull)
      .select(groupCols.map(col) :+ posexplode(hashed).as(Seq("d", "bucket")): _*)
      .groupBy((groupCols ++ Seq("d", "bucket")).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two sketch tables built with the SAME (depth, width): cell-wise
    * sum — the linearity that lets per-shard sketches roll up.
    */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("d"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point-estimate the count of each row of `items` (column `itemCol`):
    * min over the depth row-counters, 0 for a never-seen item (all-empty
    * cells read as 0 via the left join). Returns `items` + `est`,
    * ROW-FOR-ROW: duplicate input rows each keep their own output row.
    *
    * Shape: `depth` (≤ 4) broadcast left joins, one per row-hash — each
    * probe column is a pure function of the item value, so the plan is
    * fully DETERMINISTIC (no row tag, no regroup): a retried or speculated
    * upstream task recomputes identical probes, and the items frame never
    * shuffles at all (the earlier explode/regroup form keyed groups on
    * `monotonically_increasing_id`, whose values depend on partition-local
    * row order — a retry hazard flagged in round-6 ADVICE).
    */
  def estimate(
      sketchDf: DataFrame,
      items: DataFrame,
      itemCol: String,
      depth: Int,
      width: Int): DataFrame = {
    checkParams(depth, width)
    val working = (0 until depth).flatMap(d => Seq(s"_cmb$d", s"_cmc$d")).toSet + "est"
    val reserved = working.intersect(items.columns.toSet)
    require(reserved.isEmpty,
      s"estimate's working/output columns clash with items columns: $reserved — rename them first")
    // the cell table is ≤ depth·width rows BY CONSTRUCTION — pin it once so
    // the per-depth broadcast branches read materialized cells instead of
    // re-running the caller's sketch plan (an un-pinned sketchDf re-ran its
    // full input aggregation once per depth: measured 2× on q225 at sf1)
    val cells = sketchDf.select(col("d"), col("bucket"), col("cnt")).localCheckpoint()
    val joined = (0 until depth).foldLeft(items) { (acc, d) =>
      acc
        .withColumn(s"_cmb$d", bucket(col(itemCol), d, width))
        .join(
          broadcast(cells.where(col("d") === d)
            .select(col("bucket").as(s"_cmb$d"), col("cnt").as(s"_cmc$d"))),
          Seq(s"_cmb$d"), "left")
    }
    // a NULL item probes nothing (matches sketch(), which drops NULL items):
    // its est is NULL, not 0 — callers filter or coalesce per their contract
    val est = when(col(itemCol).isNull, lit(null).cast("long"))
      .otherwise(least((0 until depth).map(d => coalesce(col(s"_cmc$d"), lit(0L))): _*))
    joined
      .withColumn("est", est)
      .drop((0 until depth).flatMap(d => Seq(s"_cmb$d", s"_cmc$d")): _*)
  }
}
