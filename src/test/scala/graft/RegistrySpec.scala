package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's two maps: every query name is defined by
  * exactly one module, and every oracle answers a query. */
class RegistrySpec extends AnyFunSuite {

  test("the inventory has 248 names, each defined by one module") {
    // building the map runs disjointUnion over all module inventories,
    // which throws on a name two modules share
    assert(SparkEntry.queries.size == 248)
  }

  test("every oracle names a query; only agg_approx_distinct has none") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((oracles -- queries).isEmpty, s"oracles without a query: ${oracles -- queries}")
    assert(queries -- oracles == Set("agg_approx_distinct"))
  }

  test("the merge throws on a name two modules share") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.disjointUnion(Seq(Map("a" -> 1, "b" -> 2), Map("b" -> 3))))
    assert(e.getMessage.contains("b"))
    assert(SparkEntry.disjointUnion(Seq(Map("a" -> 1), Map("b" -> 2))) ==
      Map("a" -> 1, "b" -> 2))
  }
}
