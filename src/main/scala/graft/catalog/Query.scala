package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: everything the driver contract knows about it.
  *
  * @param name      the driver-facing key (`qNN_snake_name`)
  * @param build     the Spark plan over the parquet tables in a directory
  * @param oracleSql the equivalent DuckDB SQL over the same parquet tables.
  *                  Column names and rounding mirror the plan's exactly (the
  *                  driver's compare hashes values after sorting columns by
  *                  name).
  * @param barSec    the standing per-query bench bar at sf0.1, in seconds
  *                  (BASELINE.md §3 = BENCH_r01 at sf0.1): `Bench` flags a
  *                  run above 1.4× of it. q15's bar is the post-fix target
  *                  (its r1 number measured a known defect).
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    barSec: Double)

object Query {

  /** Every catalog query, family by family, each family in definition order. */
  lazy val all: Seq[Query] = Seq(
    RelationalQueries, TextQueries, SimilarityQueries, SketchQueries, CurationQueries,
    DriftQueries, StreamingQueries, IvfQueries, MlStatsQueries).flatMap(_.queries)
}

/** A family of catalog queries: each `query(...)` in the family's body,
  * written right after the query's builder, adds one record.
  */
abstract class Family {
  private val added = Seq.newBuilder[Query]

  protected def query(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracleSql: String,
      barSec: Double): Unit =
    added += Query(name, build, oracleSql, barSec)

  /** This family's records, in definition order. */
  lazy val queries: Seq[Query] = added.result()
}
