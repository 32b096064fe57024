package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, the DuckDB oracle that must reproduce its
  * output exactly, and the builder that constructs it from a session and a
  * fixture directory. A query and its oracle are registered together, so
  * neither can exist without the other; `oracle = None` marks a declared
  * exemption, checked on rows only.
  *
  * Oracles use the same column names/aliases and the same ORDER BY as the
  * query. Engine-parity notes: numeric literals use `1eN` (DOUBLE in
  * DuckDB — `100.0` would be DECIMAL); DuckDB regexp_replace needs the 'g'
  * flag to match Spark's replace-all; DuckDB sum(BIGINT) returns HUGEINT so
  * it is cast back to BIGINT; ascending sorts pin NULLS FIRST (Spark's
  * default) and descending NULLS LAST. */
final case class Query(
    name: String,
    oracle: Option[String],
    build: (SparkSession, String) => DataFrame)

object Query {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): Query =
    Query(name, Some(oracle), build)
}
