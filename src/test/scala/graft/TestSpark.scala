package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  val Cores = 8
  lazy val spark: SparkSession = Engine.session("graft-test", Cores)
  val Sf = "/root/testdata/sf0.001"
}
