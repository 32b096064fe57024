package graft

import org.apache.spark.sql.{DataFrame, SparkSession}


/** Extension-surface queries (SURVEY.md §2.12 / north-star): dedup,
  * similarity search, text analysis, window ops, JSON events. Registered in
  * [[SparkEntry.registry]] after the catalog queries; every query but the
  * two declared exemptions has an exact DuckDB oracle built on the shared
  * md5 hash and IEEE-deterministic fold shapes. */
object ExtQueries {

  def registry: Seq[Query] =
    QueriesText.registry ++ QueriesDedup.registry ++ QueriesSimilarity.registry ++
      QueriesTemporal.registry ++ QueriesCore.registry ++ QueriesProbes.registry ++
      QueriesBinary.registry

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap
}
