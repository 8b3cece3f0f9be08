package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query contract's two maps must name the same queries, and the
  * library surface keeps only what something sets or calls. */
class HarnessSpec extends AnyFunSuite {
  test("every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- queries).isEmpty, "oracles without a query")
    assert(queries.nonEmpty)
  }

  test("op census: no library option is set by nobody and every public " +
    "library def has a main caller (tools/op_census.py --check)") {
    import scala.sys.process._
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val exit = Seq("python3", "tools/op_census.py", "--check")
      .!(ProcessLogger(out += _))
    assert(exit === 0, out.filter(_.startsWith("FAIL")).mkString("\n", "\n", ""))
  }

  test("op census self-test: every FAIL kind trips on a synthetic tree, " +
    "and two values, forwards, literals and harness pins do not " +
    "(tools/test_op_census.py)") {
    import scala.sys.process._
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val exit = Seq("python3", "tools/test_op_census.py")
      .!(ProcessLogger(out += _, out += _))
    assert(exit === 0, out.mkString("\n", "\n", ""))
  }
}
