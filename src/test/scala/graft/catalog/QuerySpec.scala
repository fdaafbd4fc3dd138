package graft
package catalog

import org.scalatest.funsuite.AnyFunSuite

/** Each catalog query is one `Query` record, so the type already makes every
  * query carry a builder, an oracle and a bench bar. What it cannot stop is
  * a second record under a name already taken: the name-keyed views would
  * silently keep only one of the two.
  */
class QuerySpec extends AnyFunSuite {

  test("the records hold 278 distinct names, each with oracle SQL and a bench bar") {
    val names = Query.all.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"names used twice: ${dups.distinct.sorted.mkString(", ")}")
    assert(names.size == 278, s"the catalog holds ${names.size} records")
    val noOracle = Query.all.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"blank oracle SQL: ${noOracle.mkString(", ")}")
    val noBar = Query.all.filterNot(_.barSec > 0).map(_.name)
    assert(noBar.isEmpty, s"no positive bench bar: ${noBar.mkString(", ")}")
  }
}
