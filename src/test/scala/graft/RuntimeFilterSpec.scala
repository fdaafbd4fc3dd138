package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Shared.exitScopedDir

/** The two runtime scan-pruning mechanisms a 100-TB fact join lives on,
  * asserted at the plan level (thresholds lowered so the tiny test inputs
  * qualify — at real scale the defaults engage on their own):
  *
  *  - runtime bloom-filter injection: a selective dimension filter becomes
  *    a bloom filter pushed into the fact side, so fact rows that cannot
  *    join are dropped AT THE SCAN instead of surviving to the join;
  *  - dynamic partition pruning: a partitioned fact table scanned through a
  *    join against a filtered dimension reads only the partitions the
  *    dimension rows name — the mechanism that turns "scan 100 TB" into
  *    "scan the 3 matching day-partitions".
  */
class RuntimeFilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.Sf

  test("selective dim join injects a runtime bloom filter into the fact scan") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // a broadcast join would get its own cheap runtime filter path; force
      // the shuffle-join shape the bloom filter is designed for
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // raw scans (not Engine.table): the injection rule extracts the
      // creation side through Project/Filter only — a Repartition in
      // between (Engine's rebalance) defeats the pattern match
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter") || optimized.contains("BloomFilter"),
        s"no runtime bloom filter in optimized plan:\n$optimized")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("dynamic partition pruning limits a partitioned scan to joined days") {
    val dir = exitScopedDir("dpp")
    try {
      val ev = Engine.table(spark, sf, "events")
        .withColumn("day", to_date(col("ts")))
      graft.sources.Sources.writePartitioned(ev, dir, Seq("day"))
      val fact = spark.read.parquet(dir)
      // DPP requires a SELECTIVE PREDICATE on the pruning side (a limit is
      // not one) — filter to the first 3 days by value
      val cutoff = ev.select(min(col("day"))).collect()(0).getDate(0).toLocalDate.plusDays(2)
      val dim = ev.select(col("day").as("dday")).distinct()
        .filter(col("dday") <= lit(java.sql.Date.valueOf(cutoff)))
      val joined = fact.join(dim, col("day") === col("dday"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
        s"no dynamic partition pruning in plan:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
