package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gated-query list is the one definition of every query: the
  * by-name `queries` and `oracleSql` maps are views of it, so a
  * duplicate name would silently drop an entry from both.
  */
class QueryDefSpec extends AnyFunSuite {
  private val defs = SparkEntry.queryDefs

  test("query names are unique and non-blank, and every oracle is non-blank") {
    val names = defs.map(_.name)
    assert(names.forall(_.trim.nonEmpty), names)
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    val blank = defs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: ${blank.mkString(", ")}")
  }

  test("queries and oracleSql are views of the list with one key set") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == defs.map(_.name).toSet)
    assert(defs.size == 179)
    assert(defs.forall(d => SparkEntry.oracleSql(d.name) == d.oracle))
  }
}
