package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session factory + table loader for the graft engine.
  *
  * Design notes (SURVEY.md §7.1): everything in this library is expressed on
  * `SparkSession`/`DataFrame`/`Column`/`spark.ml` — no bespoke execution
  * engine. This object pins the session configuration the whole engine
  * assumes (`confs`, in builder order):
  *
  *   - `spark.sql.shuffle.partitions` sized to the local core count, not the
  *     200 default; on a real cluster this would be tuned to ~2-3× total
  *     cores and AQE coalesces the rest.
  *   - `spark.sql.adaptive.enabled=true` — runtime shuffle coalescing +
  *     skew-join splitting, which is the scale story for the 100-TB target
  *     (skewed keys get split without manual salting in the common case).
  *   - `spark.sql.ansi.enabled=false` — pandas-style coercion semantics
  *     (invalid casts → null, div-by-zero → null) per SURVEY.md §2.2 P11.
  *   - `spark.sql.session.timeZone=UTC` — oracle (DuckDB) parity for all
  *     date/timestamp arithmetic.
  *   - `spark.sql.legacy.parquet.nanosAsLong=true` — TESTDATA `events.ts`
  *     has shipped as parquet TIMESTAMP(NANOS), which Spark's reader rejects;
  *     read as a Long of nanoseconds, `table` converts it to µs.
  *   - `spark.sql.parquet.inferTimestampNTZ.enabled=false` — TESTDATA has
  *     also shipped naive TIMESTAMP(MICROS) (isAdjustedToUTC=false), which
  *     Spark 4 reads as TIMESTAMP_NTZ by default, and watermarks and unix_*
  *     reject NTZ. Without the inference naive micros read as plain
  *     TIMESTAMP — with the UTC session zone the values are verbatim,
  *     exactly DuckDB's read.
  *   - `spark.sql.legacy.javaCharsets=true` — Spark 4 limits `encoding`
  *     options and encode/decode to a fixed charset list; the reference's
  *     GBK CSVs (`Sources.csv`) need the JVM's full charset set.
  *   - `spark.ui.enabled=false` — a batch engine serves no web UI, and
  *     concurrent JVMs would race for its port.
  *   - `spark.shuffle.sort.bypassMergeThreshold` and
  *     `spark.sql.codegen.cache.maxEntries` — see `BypassMergeThreshold`
  *     and `CodegenCacheMaxEntries`.
  */
object Engine {

  /** The engine's session confs for `cores` local cores. */
  def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.legacy.javaCharsets" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.shuffle.sort.bypassMergeThreshold" -> BypassMergeThreshold,
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheMaxEntries)

  /** Standard engine session — the one place a session is built, so every
    * entry point runs with the same `confs`. `cores` becomes both the local
    * parallelism and the shuffle partition count (local mode: one JVM, N
    * threads). The confs are set at build time, so they land in the
    * SparkContext's conf and every `newSession()` child starts with them;
    * the object doc says why each one is set.
    */
  def session(appName: String = "graft", cores: Int = 32): SparkSession = {
    val spark = confs(cores)
      .foldLeft(SparkSession.builder().master(s"local[$cores]").appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Shuffle-writer selection (core conf — read only at context build):
    * the default 200 routes every ≤200-partition shuffle through the
    * bypass-merge writer, which opens one file PER
    * REDUCE PARTITION per map task — at the engine's right-sized partition
    * counts (32 local, a few hundred per stage after AQE coalescing at any
    * scale) that is R file creates/closes per task, and thread-dump
    * sampling showed the service-tier queries spending most executor CPU
    * in FileOutputStream.open, not compute (q237: 93→36 s executor CPU,
    * 11.3→8.7 s wall with the serialized writer). Threshold 2 routes
    * everything through the single-spill-file serialized/sort writer —
    * the SAME writer any >200-partition production shuffle already uses,
    * so this only converges small-partition-count behavior with the
    * at-scale path; it is not a local-mode-only tune.
    */
  val BypassMergeThreshold = "2"

  /** Generated-code cache size (static conf — context build only). The
    * default 100 entries is sized for an application running a handful of
    * queries; this engine plans hundreds of distinct generated classes per
    * session (278 declared queries, plus per-tick plan variants in the
    * service loops), so the LRU cache thrashed and janino recompilation ran
    * continuously — thread-dump sampling during q261 put ~11% of RUNNABLE
    * executor samples inside CodeGenerator.doCompile, and raising the cache
    * cut the query's executor CPU from ~50 s to ~18 s and its wall from
    * ~15.6 s to ~8.6 s (3 runs each). Per-JVM working-set tuning —
    * compiled classes live in metaspace regardless of data scale, so the
    * value carries to any cluster size unchanged.
    */
  val CodegenCacheMaxEntries = "1024"

  /** Load one TESTDATA table: `table(spark, dir, "lineitem")` reads
    * `dir/lineitem.parquet`. Plain parquet scan — filters/projections placed
    * on top are pushed into the scan by Catalyst (verified in PlanSpec).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val raw = spark.read.parquet(path)
    // TESTDATA `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    // reader rejects; with `nanosAsLong` it surfaces as a Long of nanoseconds.
    // Truncate ns → µs (same floor semantics as DuckDB's TIMESTAMP_NS → TIMESTAMP
    // cast) so downstream operators see a real TimestampType column.
    val typed = raw.schema.fields.foldLeft(raw) {
      case (df, f) if f.name == "ts" && f.dataType == LongType =>
        // integer `div`, not `/`: double division at ~1.7e18 ns magnitudes
        // (ulp ≈ 256 ns) can land 1 µs off the exact floor(ns/1000) that
        // DuckDB's integer cast computes.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case (df, f) if f.dataType == TimestampNTZType =>
        // naive micros read as NTZ (session built without the engine's
        // inferTimestampNTZ=false conf): reinterpret in the UTC session zone
        // — verbatim values, same as DuckDB's naive read.
        df.withColumn(f.name, col(f.name).cast(TimestampType))
      case (df, _) => df
    }
    if (estimatedScanPartitions(spark, path) < spark.sparkContext.defaultParallelism)
      typed.repartition(spark.sparkContext.defaultParallelism)
    else typed
  }

  /** Estimated split count of a parquet scan, from file-size metadata only —
    * mirrors Spark's byte-based file splitting (total bytes /
    * `spark.sql.files.maxPartitionBytes`) without materializing an RDD plan
    * per table load (`df.rdd.getNumPartitions` re-plans the query; on a real
    * cluster the estimate comes free from the same listing the scan does).
    *
    * Used to rebalance under-partitioned scans: the TESTDATA files are small
    * single-row-group parquet, so Spark reads each table as ONE split and
    * every downstream stage would run on one core; a round-robin repartition
    * (cheap at local scale) restores parallelism. A 100-TB table scans as
    * tens of thousands of splits, the estimate exceeds the parallelism, and
    * the repartition never fires — it never adds a shuffle to a
    * well-partitioned input.
    */
  private def estimatedScanPartitions(spark: SparkSession, path: String): Int = {
    // Hadoop FS API so s3a://, hdfs://, and local paths all stat the same
    // way; on any failure assume the input is well-partitioned (return a
    // large estimate) so the rebalance never fires — wrong-direction errors
    // would add a useless shuffle, this direction only skips an optimization
    val bytes =
      try {
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
        fs.getContentSummary(hp).getLength
      } catch { case _: Exception => Long.MaxValue }
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    math.max(1L, math.min(Int.MaxValue.toLong,
      math.ceil(bytes.toDouble / math.max(maxPart, 1L)).toLong)).toInt
  }
}
