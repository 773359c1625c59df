package graft

import org.scalatest.funsuite.AnyFunSuite

class QueryRegistrySpec extends AnyFunSuite {

  test("178 uniquely named queries, each with a plan and an oracle") {
    assert(SparkEntry.queries.size === 178)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("a repeated query name fails the registry, naming the duplicate") {
    val q = GraftQuery("q_twice", (s, _) => s.emptyDataFrame, "SELECT 1")
    val other = q.copy(name = "q_once")
    val e = intercept[IllegalArgumentException](
      GraftQuery.byName(Seq(q, other, q)))
    assert(e.getMessage.contains("q_twice"))
    assert(!e.getMessage.contains("q_once"))
  }
}
