package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QuerySpec

/** What the [[QuerySpec]] type cannot enforce about the registry: the
  * names are distinct (a repeated name would drop a query from the
  * name-keyed maps) and every oracle holds SQL.
  */
class RegistrySpec extends AnyFunSuite {

  test("the registry has 278 distinct names, each with a non-blank oracle") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.size === 278)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.specs.forall(_.oracleSql.trim.nonEmpty))
  }

  test("the registry's construction check rejects a repeated name and a blank oracle") {
    val build: QuerySpec.Q = (s, _) => s.emptyDataFrame
    val a = QuerySpec("q_a", "SELECT 1")(build)
    val b = QuerySpec("q_b", "SELECT 2")(build)
    assert(SparkEntry.checked(Seq(a, b)) === Seq(a, b))
    val repeated = intercept[IllegalArgumentException](
      SparkEntry.checked(Seq(a, b, QuerySpec("q_a", "SELECT 3")(build))))
    assert(repeated.getMessage.contains("q_a"))
    val blank = intercept[IllegalArgumentException](
      SparkEntry.checked(Seq(a, QuerySpec("q_c", "  ")(build))))
    assert(blank.getMessage.contains("q_c"))
  }
}
