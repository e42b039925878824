package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{LlmQueries, PipelineQueries, RelationalQueries, StreamQueries}

/** The registry's key parity: every query has an oracle and every oracle
  * a query, and no two family objects register the same name — a `++`
  * collision in [[SparkEntry.queries]] would silently drop one query.
  */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has exactly one oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty, s"queries without an oracle: ${q.diff(o)}")
    assert(o.diff(q).isEmpty, s"oracles without a query: ${o.diff(q)}")
  }

  test("the four family registries' names are pairwise disjoint") {
    val families = Seq(
      "RelationalQueries" -> RelationalQueries.queries.keySet,
      "PipelineQueries" -> PipelineQueries.queries.keySet,
      "LlmQueries" -> LlmQueries.queries.keySet,
      "StreamQueries" -> StreamQueries.queries.keySet)
    for {
      ((a, ka), i) <- families.zipWithIndex
      (b, kb) <- families.drop(i + 1)
    } assert(ka.intersect(kb).isEmpty, s"$a and $b both register ${ka.intersect(kb)}")
    assert(families.map(_._2.size).sum === SparkEntry.queries.size)
  }
}
