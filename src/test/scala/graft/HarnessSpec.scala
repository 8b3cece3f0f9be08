package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query contract's two maps must name the same queries. */
class HarnessSpec extends AnyFunSuite {
  test("every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- queries).isEmpty, "oracles without a query")
    assert(queries.nonEmpty)
  }
}
