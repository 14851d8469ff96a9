package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry._

/** The query registry's invariants: [[SparkEntry.specs]] is the only
  * source of truth, and the name-keyed maps the drivers read are exact
  * projections of it (a duplicate name would vanish silently in the
  * `Seq` → `Map` projection).
  */
class RegistrySpec extends AnyFunSuite {
  private val names = specs.map(_.name)

  test("query names are unique") {
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).mkString(", ")}")
  }

  test("every query carries non-blank oracle SQL or a non-blank reason") {
    specs.foreach {
      case QuerySpec(n, _, DuckDb(sql)) => assert(sql.trim.nonEmpty, s"$n: blank oracle SQL")
      case QuerySpec(n, _, NoOracle(why)) => assert(why.trim.nonEmpty, s"$n: blank reason")
    }
  }

  test("queries and oracleSql are projections of specs") {
    assert(queries.keySet == names.toSet)
    assert(oracleSql.keySet.subsetOf(names.toSet))
    assert(oracleSql.keySet == specs.collect { case QuerySpec(n, _, DuckDb(_)) => n }.toSet)
  }
}
