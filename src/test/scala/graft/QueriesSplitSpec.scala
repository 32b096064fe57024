package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ExtQueries monolith split (r13 verdict #6) is pure mechanical
  * hygiene — this spec is the "identical query map" contract: family
  * maps are pairwise disjoint, their union IS the driver-facing map,
  * and every query key keeps exactly one oracle unless it is one of
  * the two declared no-oracle exemptions. */
class QueriesSplitSpec extends AnyFunSuite {

  private val famQueries = Seq(
    "Text" -> QueriesText.queries.keySet,
    "Dedup" -> QueriesDedup.queries.keySet,
    "Similarity" -> QueriesSimilarity.queries.keySet,
    "Temporal" -> QueriesTemporal.queries.keySet,
    "Core" -> QueriesCore.queries.keySet,
    "Probes" -> QueriesProbes.queries.keySet,
    "Binary" -> QueriesBinary.queries.keySet)

  private val famOracles = Seq(
    QueriesText.oracleSql, QueriesDedup.oracleSql,
    QueriesSimilarity.oracleSql, QueriesTemporal.oracleSql,
    QueriesCore.oracleSql, QueriesProbes.oracleSql,
    QueriesBinary.oracleSql).map(_.keySet)

  test("family query maps are pairwise disjoint") {
    for {
      (na, a) <- famQueries; (nb, b) <- famQueries if na < nb
    } assert((a & b).isEmpty, s"$na ∩ $nb = ${a & b}")
  }

  test("the merged map is exactly the union of the families") {
    assert(famQueries.map(_._2).reduce(_ ++ _) === ExtQueries.queries.keySet)
    assert(famOracles.reduce(_ ++ _) === ExtQueries.oracleSql.keySet)
    assert(famQueries.map(_._2.size).sum === ExtQueries.queries.size)
    assert(famOracles.map(_.size).sum === ExtQueries.oracleSql.size)
  }

  test("each family keeps a query and its oracle together") {
    famQueries.map(_._2).zip(famOracles).foreach { case (q, o) =>
      assert((o -- q).isEmpty, s"orphan oracles: ${o -- q}")
    }
  }

  test("every query has an oracle except the two declared exemptions") {
    val noOracle = ExtQueries.queries.keySet -- ExtQueries.oracleSql.keySet
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
