package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import graft.sources.DataStore

/** The shared persistence seam of the incremental-index family — one
  * API over the per-modality states a recurring crawl keeps
  * (reference scope: the `bubbles` store layer holds named objects;
  * the index tables are exactly such objects):
  *
  *  - text (probabilistic): `(id, sig)` MinHash signatures
  *    ([[Dedup.minhashIndexRows]] / [[Dedup.incrementalNearDup]])
  *  - text (EXACT recall): `(id, toks, n)` hash-ordered token sets
  *    ([[Dedup.ssjIndexRows]] / [[Dedup.incrementalSetSimilarity]])
  *  - embeddings: `(id, codes)` int8 quantizations
  *    ([[Dedup.embeddingIndexRows]] / [[Dedup.incrementalEmbeddingDedup]])
  *  - binary/media: `(id, phash)` perceptual hashes
  *    ([[BinaryOps.phashIndexRows]] / [[BinaryOps.incrementalPerceptualDedup]])
  *
  * Before this seam each leg hand-rolled the same four store calls;
  * now the append-survivors loop is ONE call per batch ([[ingest]]),
  * and the legs cannot drift apart in how they persist.
  *
  * The index lives as a named object in any [[DataStore]] (parquet in
  * practice — columnar scans of the tiny signature/code/hash columns).
  * State size is 8-72 B per item EVER ingested, so a 10⁹-item history
  * is a 10-100 GB table: trivially storable, scanned once per batch,
  * and the corpus payload (text/floats/media bytes) is never re-read.
  */
final case class IncrementalIndex private (
    store: DataStore, name: String,
    rowsOf: DataFrame => DataFrame,
    dedupAgainst: (DataFrame, DataFrame) => DataFrame) {

  /** Initialize (or replace) the index from an already-deduplicated
    * corpus: one distributed projection ([[rowsOf]]) written through
    * the store. */
  def create(corpus: DataFrame, replace: Boolean = false): Unit =
    store.create(name, rowsOf(corpus), replace)

  /** The stored index rows — exactly what [[create]]/[[appendSurvivors]]
    * wrote; feed to the leg's incremental dedup directly if driving
    * the loop by hand. */
  def load(): DataFrame = store.getObject(name)

  /** Append a survivor batch's index rows so the NEXT batch dedupes
    * against history ∪ everything kept so far. */
  def appendSurvivors(survivors: DataFrame): Unit =
    store.appendInto(name, rowsOf(survivors))

  /** One call per crawl batch: dedup `batch` against the stored index
    * (each leg's documented candidate join against the index — capped
    * LSH bucket joins for [[minhash]] and [[embedding]], the exact
    * prefix-token equi-join for [[setSimilarity]], capped band-bucket
    * joins for [[perceptual]] — plus its greedy in-batch election),
    * append the survivors' index rows, return the survivors with all
    * batch columns.
    *
    * The survivors are pinned (localCheckpoint) BEFORE the append:
    * the dedup plan reads the index, so a lazy plan evaluated after
    * [[appendSurvivors]] would see the batch's own rows in the index
    * and anti-join everything away. At cluster scale the same
    * discipline holds with the sink instead of a checkpoint: write
    * survivors to their destination table first, then append
    * `rowsOf` of the written-back rows. */
  def ingest(batch: DataFrame): DataFrame = {
    val survivors = dedupAgainst(batch, load()).localCheckpoint()
    appendSurvivors(survivors)
    survivors
  }
}

object IncrementalIndex {

  /** The text leg: MinHash signature index + estimated-Jaccard
    * near-dup gate ([[Dedup.incrementalNearDup]]'s semantics and
    * parameters). */
  def minhash(
      store: DataStore, name: String,
      idField: String, textField: String, threshold: Double,
      numHashes: Int = 8, bands: Int = 4, shingleSize: Int = 3,
      maxBucket: Int = 64): IncrementalIndex =
    IncrementalIndex(store, name,
      Dedup.minhashIndexRows(idField, textField, numHashes, shingleSize),
      (batch, idx) => Dedup.incrementalNearDup(idField, textField, idx,
        threshold, numHashes, bands, shingleSize, maxBucket)(batch))

  /** The embedding leg: int8 code index + quantized-cosine near-dup
    * gate ([[Dedup.incrementalEmbeddingDedup]]'s semantics and
    * parameters — buckets computed ON the stored codes, so history
    * never needs floats). */
  def embedding(
      store: DataStore, name: String,
      idField: String, vecField: String, threshold: Double,
      planes: Int = 6, dim: Int = 64,
      maxBucket: Int = 64): IncrementalIndex =
    IncrementalIndex(store, name,
      Dedup.embeddingIndexRows(idField, vecField),
      (batch, idx) => Dedup.incrementalEmbeddingDedup(idField, vecField, idx,
        threshold, planes, dim, maxBucket)(batch))

  /** The EXACT set-similarity leg: `(id, toks, n, toks_prefix)`
    * token-set index + true-Jaccard gate
    * ([[Dedup.incrementalSetSimilarity]]'s semantics — guaranteed
    * recall at `maxBucket = 0`, the recall-guarantee rung beside the
    * probabilistic [[minhash]] leg; state is the token sets
    * themselves, the price of exactness).
    *
    * The τ_min CONTRACT ([[Dedup.ssjIndexRows]]): the stored
    * `toks_prefix` column is committed at `tauMin`, candidate
    * generation scans ONLY that column (Parquet prunes the wide
    * `toks` out of the candidate stage), and the one stored index
    * serves every query `threshold ≥ tauMin` by slicing the prefix.
    * `threshold < tauMin` fails fast. A pre-r16 3-column index still
    * loads and gates correctly (the prefix derives from `toks` at
    * query time, paying the full-column scan) but cannot be appended
    * with 4-column rows — re-[[IncrementalIndex.create]] to
    * upgrade. */
  def setSimilarity(
      store: DataStore, name: String,
      idField: String, tokensField: String, threshold: Double,
      maxBucket: Int = 0, tauMin: Double = 0.5): IncrementalIndex =
    IncrementalIndex(store, name,
      Dedup.ssjIndexRows(idField, tokensField, tauMin),
      (batch, idx) => Dedup.incrementalSetSimilarity(idField, tokensField,
        idx, threshold, maxBucket, tauMin)(batch))

  /** The binary/media leg: perceptual-hash index + exact
    * popcount-radius gate ([[BinaryOps.incrementalPerceptualDedup]]'s
    * semantics — complete recall at `maxHamming` ≤ 3 by pigeonhole). */
  def perceptual(
      store: DataStore, name: String,
      idField: String, blobField: String, maxHamming: Int = 3,
      maxBucket: Int = 64,
      hash: Column => Column = BinaryOps.aHash60): IncrementalIndex =
    IncrementalIndex(store, name,
      BinaryOps.phashIndexRows(idField, blobField, hash),
      (batch, idx) => BinaryOps.incrementalPerceptualDedup(idField, blobField,
        idx, maxHamming, maxBucket, hash)(batch))
}
