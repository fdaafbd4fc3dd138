package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each catalog query is spread over three maps: its builder
  * (`SparkEntry.queries`), its DuckDB oracle (`SparkEntry.oracleSql`) and its
  * bench bar (`Bench.BaselineSec`). A key missing from one of them is a
  * query the oracle never checks or the bench never flags.
  */
class CatalogKeysSpec extends AnyFunSuite {

  test("queries, oracle SQL and bench bars share the same 278 keys") {
    val maps = Seq(
      "SparkEntry.queries" -> SparkEntry.queries.keySet,
      "SparkEntry.oracleSql" -> SparkEntry.oracleSql.keySet,
      "Bench.BaselineSec" -> Bench.BaselineSec.keySet)
    val all = maps.map(_._2).reduce(_ | _)
    val missing = maps.collect {
      case (name, keys) if keys != all => s"$name lacks ${(all -- keys).toSeq.sorted.mkString(", ")}"
    }
    assert(missing.isEmpty, missing.mkString("; "))
    assert(all.size == 278, s"the catalog holds ${all.size} queries")
  }
}
