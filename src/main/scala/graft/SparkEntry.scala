package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Query
import graft.catalog.RelationalQueries.regionalRevenue

/** Driver contract (SURVEY.md §7): the flagship `entry` query and the
  * catalog keyed by query name.
  *
  * Each query is one `catalog.Query` record (builder, DuckDB oracle SQL and
  * bench bar), written next to its builder in a per-family object under
  * `graft.catalog`. `queries` and `oracleSql` are views over those records.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    regionalRevenue(spark, "/root/testdata/sf0.001")

  /** The catalog by name. Its iteration order is the immutable hash map's,
    * fixed by the set of names, so `Bench` warms up in a stable order. */
  lazy val catalog: Map[String, Query] = Query.all.map(q => q.name -> q).toMap

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (name, q) => name -> q.build }

  lazy val oracleSql: Map[String, String] =
    catalog.map { case (name, q) => name -> q.oracleSql }
}
