package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextOps}
import graft.ops.Ops

/** The flagship end-to-end composition as a reusable chain — ONE
  * function shared by the `pipeline_flagship` oracle row and the
  * ScaleBench growth cell, so the thing measured at scale IS the thing
  * the oracle checks: htmlExtract → NFC normalize → gopher gate →
  * corpus-wide line dedup → incremental fingerprint dedup against a
  * crawl-N index → temperature mix → per-language sequence packing,
  * every step a catalog operator chained on [[Pipeline]] through
  * `via`/`derive`.
  *
  * Input contract: `(doc_id, lang, source, text, page_id)` rows where
  * `text` is RAW HTML (callers wrap fixture text with a synthetic page
  * — the fixtures carry no markup) and `page_id` identifies the page
  * across re-crawls. `historyBelow` splits the id space: docs with
  * `doc_id < historyBelow` are crawl-N history (their cleaned
  * fingerprints form the index), the rest are the new batch the
  * incremental leg dedupes.
  *
  * Scale shape: each fan-out stage (cleaned/lined/deduped feed two
  * consumers each) is localCheckpointed so the chain computes every
  * stage exactly once; all stages are the individually-benchmarked
  * operators — the ScaleBench cell pins that their COMPOSITION stays
  * linear under corpus growth too (seams add joins, not new shuffles
  * per row). */
object Flagship {

  def run(raw: DataFrame, historyBelow: Long = 250L,
      budgetRows: Long = 120L, packBudget: Long = 2048L): DataFrame = {
    val cleaned = Pipeline(raw
        .select(col("doc_id"), col("lang"), col("source"), col("text")))
      .derive("text", TextOps.htmlExtract(col("text")))
      .derive("text", TextOps.normalizeText(col("text")))
      .result.localCheckpoint()
    val passing = TextOps.gopherRules("doc_id", "text")(cleaned)
      .filter(col("passes_gopher") === 1).select("doc_id")
    val toks: Column = split(coalesce(col("text"), lit("")), " ")
    val lined = Pipeline(cleaned).via(Ops.semiJoin(passing, Seq("doc_id")))
      .result
      .select(col("doc_id"), col("lang"), col("source"),
        array_join(transform(
          sequence(lit(0), ceil(size(toks) / lit(8.0)).cast("int") - 1),
          b => array_join(slice(toks, b * lit(8) + 1, lit(8)), " ")),
          "\n").as("text"))
      .localCheckpoint()
    val deduped = Pipeline(lined)
      .via(TextOps.dedupLines("doc_id", "text", minCount = 2)).result
      .join(lined.select("doc_id", "lang", "source"), Seq("doc_id"))
      .localCheckpoint()
    val seen = deduped.filter(col("doc_id") < historyBelow)
      .select(TextOps.fingerprint(col("clean_text")).as("f")).distinct()
    Pipeline(deduped.filter(col("doc_id") >= historyBelow))
      .via(Dedup.incrementalByFingerprint("clean_text", "doc_id", seen))
      .via(TextOps.temperatureMix("doc_id", "source", budgetRows))
      .derive("n_tokens",
        size(split(translate(col("clean_text"), "\n", " "), " "))
          .cast("long"))
      .via(TextOps.packSequences("n_tokens", budget = packBudget,
        shardField = "lang", orderBy = Seq("doc_id")))
      .result
      .select("doc_id", "lang", "source", "n_lines", "n_removed",
        "n_tokens", "bin")
  }
}
