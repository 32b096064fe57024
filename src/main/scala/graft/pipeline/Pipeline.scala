package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel
import graft.ops.Ops
import graft.probes.Probes

/** Thin fluent façade over the operator catalog, for API parity with the
  * reference's `Pipeline` (reference: `bubbles/pipeline.py::Pipeline` — a
  * node graph executed by an engine). Here the "graph" IS the Catalyst
  * logical plan that DataFrame composition builds, so this class carries
  * zero execution logic: each call wraps the underlying `DataFrame` in a
  * new Pipeline. Only the reference's own verbs are named methods; every
  * other catalog operator is already a `DataFrame => DataFrame` and joins
  * the chain through `via` (e.g. `.via(Dedup.byFingerprint("text", "id"))`),
  * and a column expression through `derive`. `retain` covers the reference
  * engine's materialize-on-fan-out behavior via persist().
  */
final case class Pipeline(df: DataFrame) {
  /** Apply any catalog operator: `Pipeline(df).via(f).result` is `f(df)`. */
  def via(f: DataFrame => DataFrame): Pipeline = Pipeline(f(df))

  def fieldFilter(keep: Seq[String] = Nil, drop: Seq[String] = Nil,
      rename: Map[String, String] = Map.empty): Pipeline =
    via(Ops.fieldFilter(keep, drop, rename))
  def derive(name: String, expr: Column): Pipeline = via(Ops.derive(name, expr))
  def filterByValue(field: String, value: Any, discard: Boolean = false): Pipeline =
    via(Ops.filterByValue(field, value, discard))
  def filterBySet(field: String, values: Seq[Any], discard: Boolean = false): Pipeline =
    via(Ops.filterBySet(field, values, discard))
  def filterByRange(field: String, low: Any, high: Any, discard: Boolean = false): Pipeline =
    via(Ops.filterByRange(field, low, high, discard))
  def filterNotEmpty(field: String): Pipeline = via(Ops.filterNotEmpty(field))
  def filterEmpty(field: String): Pipeline = via(Ops.filterEmpty(field))
  def joinDetails(detail: DataFrame, masterKey: String, detailKey: String,
      joinType: String = "left_outer", broadcastDetail: Boolean = true): Pipeline =
    via(Ops.joinDetails(detail, masterKey, detailKey, joinType, broadcastDetail))
  def aggregate(keys: Seq[String], measures: Seq[(String, String)],
      includeCount: Boolean = true): Pipeline =
    via(Ops.aggregate(keys, measures, includeCount))
  def distinct(keys: Seq[String] = Nil): Pipeline = via(Ops.distinct(keys))
  def sort(keys: Seq[(String, Boolean)]): Pipeline = via(Ops.sort(keys))
  def sample(n: Long, mode: String = "first", fraction: Double = 0.1): Pipeline =
    via(Ops.sample(n, mode, fraction = fraction))
  def append(others: DataFrame*): Pipeline = Pipeline(Ops.append(df +: others))
  def splitDate(field: String, parts: Seq[String] = Seq("year", "month", "day")): Pipeline =
    via(Ops.splitDate(field, parts))
  def stringStrip(fields: String*): Pipeline = via(Ops.stringStrip(fields))
  def textSubstitute(field: String, subs: Seq[(String, String)]): Pipeline =
    via(Ops.textSubstitute(field, subs))
  def emptyToMissing(fields: String*): Pipeline = via(Ops.emptyToMissing(fields))
  def stringToDate(field: String, format: String): Pipeline =
    via(Ops.stringToDate(field, format))
  def threshold(field: String, low: Double, high: Double): Pipeline =
    via(Ops.threshold(field, low, high))
  def countDuplicates(keys: String*): Pipeline = via(Probes.countDuplicates(keys))
  def audit(fields: String*): Pipeline = via(Probes.audit(fields))
  def assertUnique(keys: String*): Pipeline = via(Probes.assertUnique(keys))
  def assertContains(field: String, value: Any): Pipeline =
    via(Probes.assertContains(field, value))
  def assertMissing(field: String, value: Any): Pipeline =
    via(Probes.assertMissing(field, value))

  /** Materialize before fan-out — the reference engine retains a consumable
    * object consumed by more than one downstream node; on Spark that is an
    * explicit persist at the fork point. */
  def retain(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Pipeline =
    Pipeline(df.persist(level))
  def prettyPrint(n: Int = 20): Pipeline = { Ops.prettyPrint(n)(df); this }
  def result: DataFrame = df
}
