package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: each query is registered once, as a [[Query]]
  * carrying its oracle, so an oracle without a query cannot be written.
  * What is left to guard is that no name is registered twice (`.toMap`
  * would silently keep one) and that every query keeps an oracle unless
  * it is one of the two declared no-oracle exemptions. */
class QueryRegistrySpec extends AnyFunSuite {

  test("registry names are distinct") {
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    assert(dups.isEmpty, s"registered more than once: $dups")
  }

  test("every query has an oracle except the two declared exemptions") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle === Set("binary_cdc_chunks", "compression_ratio"))
  }

  test("the driver surface covers the round-13 closing vector and the r14 additions") {
    val all = SparkEntry.queries.keySet
    // the exact surface, so a refactor cannot silently drop a query
    assert(all.size === 361, s"query surface changed to ${all.size}")
    assert(all("pipeline_flagship") && all("pareto_front_3d"))
    assert(SparkEntry.oracleSql.keySet.subsetOf(all))
    assert(SparkEntry.oracleSql.size === all.size - 2)
  }
}
