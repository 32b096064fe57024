package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (extension surface,
  * SURVEY.md §2.12): exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: every variant is expressed so that the only shuffles are
  * on dedup/bucket keys with map-side partial aggregation, and candidate
  * generation is LSH-bucketed (never all-pairs) on the 100 TB path. The
  * brute-force pairwise forms exist as oracle baselines and for small
  * blocked groups. Hashing is md5-based so the DuckDB oracle reproduces
  * results bit-for-bit.
  */
object Dedup {

  /** Exact dedup on key columns, keeping per group the row with the
    * minimum tie-break value — deterministic, unlike dropDuplicates.
    * Implemented as a single min aggregation over
    * `(tieBreak-null-flag, tieBreak, whole-row)` structs (partial
    * aggregation on the map side), NOT a window sort: one shuffle of one
    * struct per distinct key.
    *
    * The ordering key is a struct, not the bare tie-break: min_by SKIPS
    * rows whose ordering value is NULL, so a group whose tie-breaks are
    * all NULL would come back as one fabricated all-NULL row (the
    * group's real data silently dropped). A struct is never NULL even
    * when its fields are, so every row participates: the null flag keeps
    * min_by's prefer-non-null semantics, and the row's JSON form breaks
    * remaining ties deterministically (JSON, not the row struct itself,
    * so frames with unorderable column types like maps still work).
    *
    * MAP-column caveat: to_json serializes map entries in the map's
    * internal order, which is NOT canonical — two rows whose maps are
    * equal as key→value sets can serialize differently, so for frames
    * where tied rows differ only in map entry ORDER the winner is
    * deterministic per serialized form, not per logical map value.
    * Canonicalize upstream (e.g. map_entries + array_sort into a
    * struct array) if that distinction matters; non-map frames are
    * fully deterministic. */
  def exact(keys: Seq[String], tieBreak: String)(df: DataFrame): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(all, struct(col(tieBreak).isNull, col(tieBreak),
        to_json(all))).as("__row"))
      .select("__row.*")
  }

  /** Exact content dedup via md5 fingerprint of normalized text. */
  def byFingerprint(textField: String, tieBreak: String)(df: DataFrame): DataFrame =
    exact(Seq("__fp"), tieBreak)(
      df.withColumn("__fp", TextOps.fingerprint(col(textField))))
      .drop("__fp")

  /** Exact URL dedup on the CANONICAL form ([[TextOps.canonicalUrl]]:
    * case-folded scheme/host, fragment/default-port/tracking-param/
    * trailing-slash noise stripped) — the crawl-frontier dedup that
    * plain exact-URL dedup misses: the same page fetched as
    * `HTTP://Example.com:80/a/?utm_source=x` and `http://example.com/a`
    * collapses to one row. Min-tie-break keeper election via [[exact]];
    * the canonical key stays in the output as `canonical_url` (it is
    * the redirect-map key downstream re-pointing needs). One pure
    * canonicalization projection + one hash-agg — the [[byFingerprint]]
    * cost shape. */
  def byCanonicalUrl(urlField: String, tieBreak: String)(df: DataFrame): DataFrame =
    exact(Seq("canonical_url"), tieBreak)(
      df.withColumn("canonical_url", TextOps.canonicalUrl(col(urlField))))

  /** Duplicate PROVENANCE map: one row per dropped duplicate,
    * `(dup_id, kept_id)` — the redirect table a dedup pass should emit
    * alongside its survivors, so downstream references (citations,
    * labels, URL maps) re-point to the canonical document instead of
    * dangling. Winner per key group = the smallest id, matching
    * [[exact]]'s min-id election when id is the tie-break.
    *
    * Scale shape: the (keys, id) projection materializes once
    * (localCheckpoint), winners are one min hash-agg over it, and the
    * map is an equi-join of the two — digest-sized rows only, no text
    * shuffles, no per-group collect (heavy-duplication keys cost join
    * fan-out, not driver memory). Keys must be non-null: a NULL key
    * groups in the aggregation but vanishes from the null-unsafe
    * equi-join, so null-keyed rows get no map rows (fingerprints and
    * digests are never null; coalesce other keys upstream). */
  def duplicateMap(keys: Seq[String], idField: String)(df: DataFrame): DataFrame = {
    val slim = df.select((keys :+ idField).map(col): _*).localCheckpoint()
    val winners = slim.groupBy(keys.map(col): _*)
      .agg(min(col(idField)).as("kept_id"))
    slim.join(winners, keys)
      .filter(col(idField) =!= col("kept_id"))
      .select(col(idField).as("dup_id"), col("kept_id"))
  }

  /** [[duplicateMap]] keyed by the normalized-text fingerprint. */
  def duplicateMapByFingerprint(
      textField: String, idField: String)(df: DataFrame): DataFrame =
    duplicateMap(Seq("__fp"), idField)(
      df.withColumn("__fp", TextOps.fingerprint(col(textField))))

  /** Incremental dedup — the shape every recurring ingest (crawl N+1)
    * runs: drop batch rows whose content fingerprint already exists in
    * `seen` (the historical index), then dedup within the batch itself.
    *
    * Scale design: the historical state is fingerprints ONLY (16 bytes
    * per document ever seen — the corpus itself is never re-read), the
    * membership test is one left_anti equi-join shuffling digests (both
    * sides uniformly distributed by construction; AQE broadcasts the
    * index when it fits), and the in-batch pass is [[exact]]'s single
    * min_by hash-agg. Append the survivors' fingerprints to the index
    * and the next batch runs against it.
    *
    * @param seen one fingerprint column (any name), e.g. a previous
    *             run's `fingerprint` output or a dedicated index table */
  def incrementalByFingerprint(
      textField: String, tieBreak: String, seen: DataFrame)(
      batch: DataFrame): DataFrame = {
    // a multi-column frame here would silently join against whatever
    // happens to be first (e.g. an id column) and dedup nothing
    require(seen.columns.length == 1,
      s"seen must be a single fingerprint column, got ${seen.columns.mkString(", ")}")
    val indexed = seen.select(col(seen.columns.head).as("__fp"))
    val fresh = batch
      .withColumn("__fp", TextOps.fingerprint(col(textField)))
      .join(indexed, Seq("__fp"), "left_anti")
    exact(Seq("__fp"), tieBreak)(fresh).drop("__fp")
  }

  /** [[incrementalByFingerprint]] with a bloom-filter fast path — the
    * shape for recurring ingest when the historical index dwarfs every
    * batch. Semantics are IDENTICAL to the plain anti-join (the oracle
    * is shared): the bloom sketch of the index is built once (one
    * aggregation; `might_contain` returning false proves absence), rows
    * the sketch clears skip the join entirely, and only the "maybe
    * duplicate" residue — true dups plus an fpp-bounded sliver of new
    * docs — pays the anti-join shuffle. With fpp = 3% a batch that is
    * mostly new shrinks the join's probe side ~30×.
    *
    * Scale accounting (documented, not hidden): the sketch materializes
    * on the driver and ships as a plan literal, exactly like Spark's own
    * injected runtime filters — bits = −n·ln(fpp)/ln²2, so 10⁹ index
    * entries at 3% cost ~0.9 GiB. Two knobs bound the sketch:
    *  - the session confs `spark.sql.optimizer.runtime.bloomFilter
    *    .maxNumItems`/`.maxNumBits` (defaults 4M / 64M bits ≈ 8 MiB ≈
    *    9.3M entries at 3%) — [[graft.functions.GraftFunctions
    *    .bloomFilterAgg]] REFUSES requests above them rather than let
    *    `BloomFilterAggregate` silently clamp and saturate, so going to
    *    10⁹ entries means raising both confs first;
    *  - the driver's memory for the materialized literal. Size
    *    `expectedItems`/`fpp` to both, or shard the index and union.
    * Exactness never depends on the sketch: an UNDER-ESTIMATED
    * `expectedItems` (more distinct entries arrive than declared) only
    * degrades the prefilter's selectivity — false positives rise and
    * the anti-join still decides. */
  def incrementalByFingerprintBloom(
      textField: String, tieBreak: String, seen: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.03)(
      batch: DataFrame): DataFrame = {
    require(seen.columns.length == 1,
      s"seen must be a single fingerprint column, got ${seen.columns.mkString(", ")}")
    val indexed = seen.select(col(seen.columns.head).as("__fp"))
    val fns = graft.functions.GraftFunctions
    // one-row driver action by design: the sketch IS the compressed
    // index (driver-sized is the point); not a per-row collect
    val bloomRow = indexed.select(fns.bloomFilterAgg(
      xxhash64(col("__fp")), expectedItems, fpp).as("bf")).head()
    val fresh = batch.withColumn("__fp", TextOps.fingerprint(col(textField)))
    val deduped =
      if (bloomRow.isNullAt(0)) fresh // empty index: everything is new
      else {
        val maybe = fns.bloomMightContain(
          bloomRow.getAs[Array[Byte]](0), xxhash64(col("__fp")))
        fresh.filter(!maybe).unionByName(
          fresh.filter(maybe).join(indexed, Seq("__fp"), "left_anti"))
      }
    exact(Seq("__fp"), tieBreak)(deduped).drop("__fp")
  }

  /** Near-dup signature index rows for a corpus: `(id, sig)`, one row
    * per document, `sig` the MinHash signature ([[minhashSignature]]).
    * This is the PERSISTED STATE of the incremental near-dup story —
    * the fuzzy analog of [[incrementalByFingerprint]]'s fingerprint
    * column: ~8·numHashes + id bytes per document ever ingested (72 B
    * per doc at the default 8 hashes — 10⁹ historical docs is a ~70 GB
    * table, trivially storable; the corpus text is never re-read).
    * Write these rows to the index table after ingesting a corpus, and
    * after each [[incrementalNearDup]] batch append the SURVIVORS' rows
    * (this same function on the surviving batch) so the next batch
    * dedupes against history ∪ everything kept so far.
    *
    * `useOph = true` builds the signatures with one-permutation hashing
    * ([[minhashSignatureOph]]: O(shingles + k) digests instead of the
    * classic O(shingles·k/4)) — the affordability argument that makes
    * k = 128 signatures viable now reaches the persisted-index path,
    * not just the batch pair op. The index and EVERY batch deduped
    * against it must use the same family: classic and OPH signatures
    * of the same text are different arrays, and mixing them silently
    * zeroes the match estimator. */
  def minhashIndexRows(
      idField: String, textField: String,
      numHashes: Int = 8, shingleSize: Int = 3,
      useOph: Boolean = false)(df: DataFrame): DataFrame = {
    val sig =
      if (useOph) minhashSignatureOph(col(textField), numHashes, shingleSize)
      else minhashSignature(col(textField), numHashes, shingleSize)
    df.select(col(idField).as("id"), sig.as("sig"))
  }

  /** Incremental NEAR-dup dedup against a persisted signature index —
    * the missing half of the incremental story: a recurring crawl must
    * drop each new batch's near-duplicates of the ACCUMULATED corpus,
    * not just byte-identical re-fetches ([[incrementalByFingerprint]]).
    * The history participates as MinHash signatures only
    * ([[minhashIndexRows]]) — the index IS the state, no historical
    * text is ever re-read.
    *
    * A batch document is dropped when its ESTIMATED Jaccard — matching
    * signature slots / numHashes, the textbook MinHash estimator, one
    * integer count over another so it is exact cross-engine — reaches
    * `threshold` against (a) any index document sharing a band bucket,
    * or (b) any SMALLER-id batch document sharing a band bucket (the
    * greedy in-batch election: a doc with any smaller near-dup
    * neighbor loses, no transitive closure — a signature index cannot
    * support exact-Jaccard verify, so the criterion is uniformly the
    * estimator on BOTH legs rather than exact in-batch and estimated
    * against history). Estimate granularity is 1/numHashes; raise
    * numHashes for finer thresholds. Survivors return with all batch
    * columns; append their [[minhashIndexRows]] to the index for the
    * next batch.
    *
    * Scale shape: the batch's shingle+signature projection computes
    * ONCE (localCheckpoint); candidates arrive from band-bucket joins
    * with the [[crossCorpusNearDuplicates]] per-side cap (never
    * all-pairs, index×batch only on the cross leg); the verify legs
    * join signatures (8 longs), not text; and the index side is one
    * scan of a stored table per batch. Shingle-free docs carry the
    * sentinel signature and estimate 1.0 against each other — cap and
    * threshold behavior identical to the live-corpus LSH ops.
    * `useOph = true` computes the BATCH signatures with one-permutation
    * hashing (O(shingles + k) — the 100 TB ingest path; pass the same
    * flag to [[minhashIndexRows]] when building/appending the index:
    * the two families must never mix within one index). */
  def incrementalNearDup(
      idField: String, textField: String, index: DataFrame,
      threshold: Double, numHashes: Int = 8, bands: Int = 4,
      shingleSize: Int = 3, maxBucket: Int = 64,
      useOph: Boolean = false)(batch: DataFrame): DataFrame = {
    require(index.columns.length == 2,
      s"index must be (id, signature) rows, got ${index.columns.mkString(", ")}")
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val idxSigs = index.select(col(index.columns(0)).as("__id"),
      col(index.columns(1)).as("__sig"))
    val batchSig =
      if (useOph) minhashSignatureOph(col(textField), numHashes, shingleSize)
      else minhashSignature(col(textField), numHashes, shingleSize)
    val batchSigs = batch.select(col(idField).as("__id"),
      batchSig.as("__sig"))
      .localCheckpoint()
    def est(sa: Column, sb: Column): Column =
      size(filter(zip_with(sa, sb, (x, y) => x === y), m => m))
        .cast("double") / numHashes
    def buckets(d: DataFrame, out: String, minSize: Int) =
      bandedBucketsOfSigs(d, numHashes, bands)
        .groupBy(col("__band"), col("__bucket"))
        .agg(collect_list(col("__id")).as(out))
        .filter(size(col(out)).between(minSize, maxBucket))
    // history × batch candidates (per-side cap, disjoint id spaces
    // expected — id collisions are dropped defensively, as in
    // crossCorpusNearDuplicates)
    val crossCands = buckets(idxSigs, "__la", minSize = 1)
      .join(buckets(batchSigs, "__lb", minSize = 1), Seq("__band", "__bucket"))
      .select(explode(flatten(transform(col("__la"), x =>
        transform(col("__lb"), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    // in-batch candidates: ordered pairs, smaller id survives
    val inCands = buckets(batchSigs, "__ids", minSize = 2)
      .select(explode(flatten(transform(col("__ids"), x =>
        transform(filter(col("__ids"), y => x < y), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()
    def losers(cands: DataFrame, aSigs: DataFrame) = cands
      .join(aSigs.select(col("__id").as("id_a"), col("__sig").as("__siga")),
        "id_a")
      .join(batchSigs.select(col("__id").as("id_b"), col("__sig").as("__sigb")),
        "id_b")
      .filter(est(col("__siga"), col("__sigb")) >= threshold)
      .select(col("id_b"))
    val dups = losers(crossCands, idxSigs)
      .unionByName(losers(inCands, batchSigs))
      .distinct()
    batch.join(dups, batch(idField) === dups("id_b"), "left_anti")
  }

  /** Embedding near-dup index rows for a corpus: `(id, codes)`, one row
    * per vector, `codes` the int8 quantization
    * ([[Similarity.quantizeInt8]]) — the EMBEDDING analog of
    * [[minhashIndexRows]]: dim bytes + id per vector ever ingested (a
    * 4× compression of the float32 vector; 10⁹ historical 1024-dim
    * vectors is a ~1 TB table — storable, and the original vectors are
    * never re-read). Write these rows after ingesting a corpus; after
    * each [[incrementalEmbeddingDedup]] batch, append the SURVIVORS'
    * rows (this same function on the surviving batch) so the next
    * batch dedupes against history ∪ everything kept so far. */
  def embeddingIndexRows(
      idField: String, vecField: String)(df: DataFrame): DataFrame =
    df.select(col(idField).as("id"),
      Similarity.quantizeInt8(col(vecField)).as("codes"))

  /** Incremental EMBEDDING near-dup dedup against a persisted int8
    * index — the semantic-dedup half of the recurring-crawl story
    * ([[incrementalNearDup]] covers text): each new batch drops its
    * near-duplicates of the ACCUMULATED corpus, with history
    * participating as stored `(id, codes)` rows only
    * ([[embeddingIndexRows]]) — no historical vector is ever re-read.
    *
    * A batch vector is dropped when its QUANTIZED cosine
    * ([[Similarity.quantizedCosine]] — integer dot/norms over the int8
    * codes, one IEEE division, exact cross-engine; equals the cosine
    * of the dequantized vectors, a deterministic rounding
    * perturbation of the float cosine) reaches `threshold` against
    * (a) any index vector sharing a sign-LSH bucket, or (b) any
    * SMALLER-id batch vector sharing a bucket (the same greedy
    * in-batch election as [[incrementalNearDup]]; a codes index
    * cannot support float-exact verify, so the criterion is uniformly
    * the quantized cosine on BOTH legs). Buckets are computed ON THE
    * CODES ([[Similarity.lshBucket]] — quantization preserves element
    * signs and the bucket is a function of the stored state alone, so
    * history never needs floats even for candidate generation).
    * Survivors return with all batch columns; append their
    * [[embeddingIndexRows]] to the index for the next batch.
    *
    * Scale shape: the batch's quantization computes ONCE
    * (localCheckpoint); candidates arrive from capped bucket joins
    * (never all-pairs, index×batch only on the cross leg); the verify
    * legs join codes (dim bytes), not vectors; the index side is one
    * scan of a stored table per batch. */
  def incrementalEmbeddingDedup(
      idField: String, vecField: String, index: DataFrame,
      threshold: Double, planes: Int = 6, dim: Int = 64,
      maxBucket: Int = 64)(batch: DataFrame): DataFrame = {
    require(index.columns.length == 2,
      s"index must be (id, codes) rows, got ${index.columns.mkString(", ")}")
    require(threshold > -1 && threshold <= 1,
      s"threshold must be in (-1, 1], got $threshold")
    val idxCodes = index.select(col(index.columns(0)).as("__id"),
      col(index.columns(1)).as("__c"))
    val batchCodes = batch.select(col(idField).as("__id"),
      Similarity.quantizeInt8(col(vecField)).as("__c"))
      .localCheckpoint()
    def buckets(d: DataFrame, out: String, minSize: Int) = d
      .withColumn("__bucket", Similarity.lshBucket(col("__c"), planes, dim))
      .groupBy("__bucket")
      .agg(collect_list(col("__id")).as(out))
      .filter(size(col(out)).between(minSize, maxBucket))
    // history × batch candidates (per-side cap; disjoint id spaces
    // expected — id collisions dropped defensively, as in
    // crossCorpusNearDuplicates)
    val crossCands = buckets(idxCodes, "__la", minSize = 1)
      .join(buckets(batchCodes, "__lb", minSize = 1), Seq("__bucket"))
      .select(explode(flatten(transform(col("__la"), x =>
        transform(col("__lb"), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    // in-batch candidates: ordered pairs, smaller id survives
    val inCands = buckets(batchCodes, "__ids", minSize = 2)
      .select(explode(flatten(transform(col("__ids"), x =>
        transform(filter(col("__ids"), y => x < y), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()
    def losers(cands: DataFrame, aCodes: DataFrame) = cands
      .join(aCodes.select(col("__id").as("id_a"), col("__c").as("__ca")),
        "id_a")
      .join(batchCodes.select(col("__id").as("id_b"), col("__c").as("__cb")),
        "id_b")
      .filter(Similarity.quantizedCosine(col("__ca"), col("__cb")) >= threshold)
      .select(col("id_b"))
    val dups = losers(crossCands, idxCodes)
      .unionByName(losers(inCands, batchCodes))
      .distinct()
    batch.join(dups, batch(idField) === dups("id_b"), "left_anti")
  }

  /** MinHash signature over word n-gram shingles, computed in a SINGLE
    * fold over the shingle array: the accumulator is the array of running
    * minima, and each shingle contributes `numHashes` 32-bit hash values
    * carved out of ceil(numHashes/4) md5 digests (md5 = 32 hex chars =
    * four 8-hex words). One md5 per (shingle, digest) instead of one per
    * (shingle, hash) — 4× fewer digest evaluations than the per-hash
    * form, and no reliance on Catalyst CSE across separate lambda
    * functions. One projection, no shuffle. Shingle-free docs yield a
    * signature of Long.MaxValue sentinels (mirrored by coalesce in the
    * oracle). */
  def minhashSignature(text: Column, numHashes: Int, shingleSize: Int): Column =
    graft.functions.GraftFunctions.minhashSignature(
      TextOps.shingles(text, shingleSize), numHashes)

  /** Higher-order-function form of [[minhashSignature]] — the executable
    * specification the native kernel is tested against
    * (HashExpressionsSpec). */
  def minhashSignatureHof(text: Column, numHashes: Int, shingleSize: Int): Column = {
    val nDigests = (numHashes + 3) / 4
    val sh = TextOps.shingles(text, shingleSize)
    aggregate(
      sh,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, t) => {
        val hex = concat((0 until nDigests).map(d =>
          md5(concat_ws("|", lit(d), t))): _*)
        // bind the concatenated digest: referenced inside the zip_with
        // lambda it would otherwise be re-hashed once PER SIGNATURE SLOT
        // (numHashes×), not once per shingle — no CSE across HOF lambdas
        graft.functions.GraftFunctions.bind(hex) { h =>
          zip_with(acc, sequence(lit(0), lit(numHashes - 1)), (m, i) =>
            least(m, conv(
              call_function("substring", h, i * lit(8) + lit(1), lit(8)),
              16, 10).cast("long")))
        }
      })
  }

  /** One-permutation-hashing MinHash signature of `text` (see
    * [[graft.functions.MinHashSignatureOph]]): one md5 per shingle,
    * second digest word routes to a slot, per-slot min, right-circular
    * densification of empty slots. */
  def minhashSignatureOph(text: Column, numHashes: Int, shingleSize: Int): Column =
    graft.functions.GraftFunctions.minhashSignatureOph(
      TextOps.shingles(text, shingleSize), numHashes)

  /** Higher-order-function form of [[minhashSignatureOph]] — the
    * executable specification the native kernel is tested against
    * (HashExpressionsSpec): per-slot mins via one filtered fold per
    * slot, then densification as "first non-sentinel value scanning
    * right circularly". O(k²·|shingles|) — spec only. */
  def minhashSignatureOphHof(text: Column, numHashes: Int, shingleSize: Int): Column = {
    import graft.functions.GraftFunctions.bind
    val k = numHashes
    def word(t: Column, from: Int): Column =
      conv(substring(md5(t), from, 8), 16, 10).cast("long")
    val raw = bind(TextOps.shingles(text, shingleSize)) { sh =>
      transform(sequence(lit(0), lit(k - 1)), j =>
        coalesce(
          array_min(transform(
            filter(sh, t => word(t, 9) % k === j.cast("long")),
            t => word(t, 1))),
          lit(Long.MaxValue)))
    }
    bind(raw) { r =>
      transform(sequence(lit(0), lit(k - 1)), j =>
        coalesce(
          // get() (0-based) is NULL on an empty array where ANSI
          // element_at raises — all-sentinel signatures reach here
          get(
            filter(
              transform(sequence(lit(0), lit(k - 1)),
                t => element_at(r, ((j + t) % k + 1).cast("int"))),
              v => v =!= Long.MaxValue),
            lit(0)),
          lit(Long.MaxValue)))
    }
  }

  /** LSH candidate pairs from MinHash signatures: split the signature
    * into `bands`, bucket docs by (band index, band hash), emit distinct
    * id pairs sharing any bucket. The shuffle key is the band bucket —
    * with b bands of r rows, collision probability is 1-(1-s^r)^b for
    * true similarity s, and no all-pairs comparison ever happens.
    * `maxBucket` caps degenerate buckets (shingle-free or boilerplate
    * docs) to bound worst-case skew — the capped buckets are dropped, a
    * deliberate recall/robustness trade documented for the oracle. */
  def minhashLshPairs(
      idField: String,
      textField: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      maxBucket: Int = 64)(df: DataFrame): DataFrame =
    lshPairsFromShingles(
      df.select(col(idField).as("__id"),
        TextOps.shingles(col(textField), shingleSize).as("__sh")),
      numHashes, bands, maxBucket)

  /** [[minhashLshPairs]] over an already-computed `(__id, __sh)` shingle
    * frame — the shared entry point that lets [[minhashNearDuplicates]]
    * materialize the shingle projection ONCE and reuse it for candidate
    * generation and both verify joins (shingling is the dominant cost of
    * the whole pipeline; recomputing it per consumer tripled it). */
  /** (__id, __band, __bucket) for a (__id, __sh) projection: the MinHash
    * signature sliced into `bands` equal bands, each band's slice folded
    * to one md5 bucket key. Shared by the in-corpus and cross-corpus LSH
    * paths — identical banding is what makes their candidate sets
    * comparable. */
  private def bandedBuckets(
      docs: DataFrame, numHashes: Int, bands: Int,
      sigFn: (Column, Int) => Column =
        graft.functions.GraftFunctions.minhashSignature): DataFrame =
    bandedBucketsOfSigs(
      docs.select(col("__id"), sigFn(col("__sh"), numHashes).as("__sig")),
      numHashes, bands)

  /** Banding over an ALREADY-COMPUTED `(__id, __sig)` signature frame —
    * the entry point for signatures read back from a persisted index
    * ([[incrementalNearDup]], and the streaming form in
    * [[graft.streaming.Streaming.streamingIncrementalNearDup]]), where
    * no shingle projection exists to derive them from. Identical band
    * keys to [[bandedBuckets]] (which now routes through here), so
    * live-corpus and index-side candidate sets stay comparable. */
  private[graft] def bandedBucketsOfSigs(
      sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigs
      .select(col("__id"), posexplode(
        array((0 until bands).map(b =>
          md5(concat_ws(",", slice(col("__sig"), b * rows + 1, rows)))): _*)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
  }

  private def lshPairsFromShingles(
      docs: DataFrame,
      numHashes: Int,
      bands: Int,
      maxBucket: Int,
      sigFn: (Column, Int) => Column =
        graft.functions.GraftFunctions.minhashSignature): DataFrame = {
    val banded = bandedBuckets(docs, numHashes, bands, sigFn)
    // One hash-agg collects each bucket's ids, the cap drops degenerate
    // buckets, and ordered pairs are generated bucket-locally from the
    // collected list. Compared to the previous self-join on the bucket
    // key this computes the signature pipeline ONCE (a self-join's two
    // branches each recompute their input) and shuffles once. Memory per
    // group is bounded by the same skew exposure the windowed count had
    // (a hot bucket concentrates on one reducer before the cap drops
    // it); the cap itself is the mitigation, as before.
    banded.groupBy(col("__band"), col("__bucket"))
      .agg(collect_list(col("__id")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucket))
      .select(explode(flatten(transform(col("__ids"), x =>
        transform(filter(col("__ids"), y => x < y), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs verified with exact n-gram Jaccard ≥
    * threshold. The verify join re-reads only candidate docs.
    *
    * The `(id, shingles)` projection is materialized ONCE
    * (`localCheckpoint` — executor blocks, freed when the frame is
    * GC'd) and feeds candidate generation AND both verify sides: the
    * shingle computation (tokenize + n-token windows + array_distinct,
    * the dominant cost) would otherwise run three times, once per
    * consumer, because Catalyst does not share subtrees across join
    * branches. At 100 TB the materialized form is the id plus the
    * shingle array — the corpus text itself is scanned exactly once. */
  def minhashNearDuplicates(
      idField: String,
      textField: String,
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3)(df: DataFrame): DataFrame =
    nearDuplicatesWithSig(idField, textField, threshold, numHashes, bands,
      shingleSize, graft.functions.GraftFunctions.minhashSignature)(df)

  /** [[minhashNearDuplicates]] with ONE-PERMUTATION-HASHING signatures
    * ([[graft.functions.MinHashSignatureOph]]): one md5 per shingle
    * instead of ⌈numHashes/4⌉ — the signature pass that stays affordable
    * at k = 128+ when sketching runs at corpus scale. Candidate recall
    * differs slightly from the classic kernel (a different, also
    * consistent estimator feeding the same band geometry); the exact
    * Jaccard verify is identical, so emitted pairs are still
    * true-Jaccard-thresholded — the operating-point note the oracle
    * mirrors. Defaults to a wider signature (numHashes = 16) because
    * that is precisely the regime OPH exists for. */
  def minhashNearDuplicatesOph(
      idField: String,
      textField: String,
      threshold: Double,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3)(df: DataFrame): DataFrame =
    nearDuplicatesWithSig(idField, textField, threshold, numHashes, bands,
      shingleSize, graft.functions.GraftFunctions.minhashSignatureOph)(df)

  private def nearDuplicatesWithSig(
      idField: String,
      textField: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      sigFn: (Column, Int) => Column)(df: DataFrame): DataFrame = {
    val docs = df.select(col(idField).as("__id"),
      TextOps.shingles(col(textField), shingleSize).as("__sh"))
      .localCheckpoint()
    val cands = lshPairsFromShingles(docs, numHashes, bands, maxBucket = 64,
      sigFn)
    cands
      .join(docs.select(col("__id").as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(docs.select(col("__id").as("id_b"), col("__sh").as("__shb")), "id_b")
      // size-ratio prefilter IMPLIED by the threshold: J(A,B) >= t forces
      // t <= |A|/|B| <= 1/t, so size comparisons (O(1)) discard pairs the
      // exact set intersection (O(n)) would reject anyway — result set
      // identical, oracle unchanged. INVARIANT: the bound holds for
      // DISTINCT-set sizes, and raw array sizes qualify only because
      // TextOps.shingles array_distincts its output; do not reuse this
      // filter on non-deduplicated arrays
      .filter(size(col("__sha")).cast("double") >= size(col("__shb")) * threshold &&
        size(col("__shb")).cast("double") >= size(col("__sha")) * threshold)
      .withColumn("jaccard", TextOps.jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus MinHash-LSH near-dup pairs: candidates are (left,
    * right) documents sharing a band bucket, verified with exact n-gram
    * Jaccard ≥ threshold — the fuzzy companion to
    * [[incrementalByFingerprint]] (dedup a new crawl against a reference
    * corpus when byte-identity is too strict) and the near-dup form of
    * benchmark decontamination. Never compares within a side, so it is
    * NOT minhashNearDuplicates on the union: |L|·|R| bucket collisions
    * bound the work, and each side's own duplicates are invisible.
    *
    * Same banding as [[minhashNearDuplicates]] ([[bandedBuckets]]);
    * each side's bucket membership is collected separately and the
    * skew cap applies PER SIDE (a bucket contributes pairs only when
    * both sides hold ≤ maxBucket members — mirrored in the oracle).
    * Both shingle projections materialize once (localCheckpoint) and
    * feed candidate generation plus their verify side, so each corpus'
    * text is scanned exactly once.
    *
    * The two sides are expected to be DISJOINT id spaces (a crawl vs a
    * reference corpus). A document present on both sides would otherwise
    * surface as a trivial self-pair with jaccard 1.0, so id_a == id_b
    * candidates are dropped defensively before the verify join; distinct
    * documents that happen to share an id across sides are therefore not
    * comparable — re-key one side first. */
  def crossCorpusNearDuplicates(
      idField: String,
      textField: String,
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      maxBucket: Int = 64)(left: DataFrame, right: DataFrame): DataFrame = {
    def proj(d: DataFrame) = d.select(col(idField).as("__id"),
      TextOps.shingles(col(textField), shingleSize).as("__sh"))
      .localCheckpoint()
    val dl = proj(left); val dr = proj(right)
    def buckets(d: DataFrame, out: String) =
      bandedBuckets(d, numHashes, bands)
        .groupBy(col("__band"), col("__bucket"))
        .agg(collect_list(col("__id")).as(out))
        .filter(size(col(out)).between(1, maxBucket))
    val cands = buckets(dl, "__la")
      .join(buckets(dr, "__lb"), Seq("__band", "__bucket"))
      .select(explode(flatten(transform(col("__la"), x =>
        transform(col("__lb"), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    cands
      .join(dl.select(col("__id").as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(dr.select(col("__id").as("id_b"), col("__sh").as("__shb")), "id_b")
      // same DISTINCT-size prefilter as minhashNearDuplicates (see the
      // invariant there: only valid because shingles() array_distincts)
      .filter(size(col("__sha")).cast("double") >= size(col("__shb")) * threshold &&
        size(col("__shb")).cast("double") >= size(col("__sha")) * threshold)
      .withColumn("jaccard", TextOps.jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Brute-force n-gram Jaccard pairs within a blocking key. All-pairs
    * inside each block — O(n²/|blocks|) compares and a |blocks|-key
    * shuffle, quadratic and skew-prone at scale. Exists ONLY as the
    * exact-recall baseline for unit tests of [[minhashNearDuplicates]]
    * (which is the shipped n-gram Jaccard path: LSH candidates + exact
    * Jaccard verify); never ship this form against a corpus. */
  def ngramJaccardPairs(
      idField: String,
      textField: String,
      blockField: String,
      threshold: Double,
      shingleSize: Int = 3)(df: DataFrame): DataFrame = {
    val docs = df.select(col(blockField).as("__blk"), col(idField),
      TextOps.shingles(col(textField), shingleSize).as("__sh"))
    val a = docs.select(col("__blk"), col(idField).as("id_a"), col("__sh").as("__sha"))
    val b = docs.select(col("__blk"), col(idField).as("id_b"), col("__sh").as("__shb"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", TextOps.jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** LSH operating-point evaluation: for each `(numHashes, bands)`
    * config, recall and candidate efficiency of the MinHash-LSH pipeline
    * ([[minhashNearDuplicates]]) against EXACT ground truth on the same
    * frame — the tuning table every dedup deployment reads before
    * committing a band geometry to a corpus-scale run.
    *
    * Ground truth is exact without going all-pairs: any pair with
    * J(A,B) ≥ t > 0 shares at least one shingle, so candidates from an
    * inverted shingle index (a self-equi-join on the exploded shingle)
    * form a SUPERSET of every true pair; the exact-Jaccard verify then
    * keeps precisely the true set. The join is UNCAPPED — a bucket cap
    * would silently delete truth — which is the one quadratic exposure
    * here: a stop-shingle's posting list is an n² hot key (the join
    * spills rather than OOMs, but the work is real), so this harness is
    * for SAMPLES (≤ ~10⁴ docs), never the corpus. Per-config candidate
    * counts reuse the production
    * [[lshPairsFromShingles]] path verbatim (same banding, same
    * `maxBucket` skew cap), so the measured operating point is the one
    * the shipped pipeline actually runs.
    *
    * Output, one row per config ordered (num_hashes, bands):
    * `truth_pairs`, `candidate_pairs` (post-cap, pre-verify),
    * `verified_pairs` (= true positives: the verify stage makes emitted
    * pairs a subset of truth), `recall` = verified/truth, and
    * `candidate_precision` = verified/candidates (the fraction of
    * verify-join work that paid off). Counts are exact integers; the two
    * ratios are single IEEE divisions, so results hash-match across
    * engines. All configs share ONE shingle projection
    * (localCheckpoint) and ONE verify join over the tagged candidate
    * union. */
  def lshRecallEval(
      idField: String,
      textField: String,
      threshold: Double,
      configs: Seq[(Int, Int)],
      shingleSize: Int = 3,
      maxBucket: Int = 64)(df: DataFrame): DataFrame = {
    require(threshold > 0.0, "exact truth via shared shingles needs t > 0")
    require(configs.nonEmpty, "at least one (numHashes, bands) config")
    require(configs.distinct.length == configs.length, "duplicate configs")
    val docs = df.select(col(idField).as("__id"),
      TextOps.shingles(col(textField), shingleSize).as("__sh"))
      .localCheckpoint()
    def verified(pairs: DataFrame): DataFrame = pairs
      .join(docs.select(col("__id").as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(docs.select(col("__id").as("id_b"), col("__sh").as("__shb")), "id_b")
      .withColumn("__j", TextOps.jaccard(col("__sha"), col("__shb")))
    val ex = docs.select(col("__id"), explode(col("__sh")).as("__t"))
    val truth = verified(
      ex.select(col("__id").as("id_a"), col("__t"))
        .join(ex.select(col("__id").as("id_b"), col("__t")), "__t")
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct())
      .filter(col("__j") >= threshold)
      .agg(count(lit(1)).as("__truth"))
    val tagged = configs.map { case (h, b) =>
      lshPairsFromShingles(docs, h, b, maxBucket)
        .withColumn("num_hashes", lit(h))
        .withColumn("bands", lit(b))
    }.reduce(_.unionByName(_))
    verified(tagged)
      .groupBy(col("num_hashes"), col("bands"))
      .agg(
        count(lit(1)).as("candidate_pairs"),
        count(when(col("__j") >= threshold, 1)).as("verified_pairs"))
      // one-row truth total rides a broadcast into every config row
      .crossJoin(broadcast(truth))
      .select(
        col("num_hashes"), col("bands"), col("__truth").as("truth_pairs"),
        col("candidate_pairs"), col("verified_pairs"),
        when(col("__truth") === 0, lit(null).cast("double"))
          .otherwise(col("verified_pairs").cast("double") / col("__truth"))
          .as("recall"),
        when(col("candidate_pairs") === 0, lit(null).cast("double"))
          .otherwise(col("verified_pairs").cast("double") /
            col("candidate_pairs"))
          .as("candidate_precision"))
      .orderBy("num_hashes", "bands")
  }

  /** 60-bit SimHash over whitespace tokens (60 = 15 md5 hex chars, the
    * widest that stays inside a signed 64-bit long in both engines).
    * Bit b of the fingerprint is the sign of the vote sum over token
    * hashes' bit b. Computed in a SINGLE fold over the token array: the
    * accumulator is the array of 60 vote counters, so each token's md5 is
    * evaluated exactly once (the previous per-bit-fold form re-hashed
    * every token 60 times — Catalyst does not CSE across separate
    * higher-order lambdas). Shifts stay in exact long arithmetic
    * (pow() doubles would corrupt bits past the 53-bit mantissa).
    * One projection, no shuffle. */
  def simhash(text: Column): Column =
    graft.functions.GraftFunctions.simhash60(TextOps.tokenSet(text))

  /** Higher-order-function form of [[simhash]] — the executable
    * specification the native kernel is tested against. */
  def simhashHof(text: Column): Column = {
    val hashes = transform(TextOps.tokenSet(text),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), 60),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(59)), (v, b) =>
        v + when(call_function("shiftright", h, b)
          .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(59)), (v, b) =>
        when(v >= 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash near-dup pairs: bucket by the top `prefixBits` bits (cheap
    * LSH), then verify hamming distance ≤ maxHamming within buckets.
    *
    * Pair generation is the same capped collect_list shape as
    * [[minhashLshPairs]] — one hash-agg collects each bucket's (id, sig)
    * structs, `maxBucket` drops degenerate buckets, and ordered pairs
    * come out bucket-locally. The previous bucket self-join had no cap:
    * one boilerplate-heavy prefix bucket (all-identical headers, empty
    * docs) put O(n²) pairs on a single reducer at 100×. The cap is a
    * deliberate recall/robustness trade mirrored exactly in the oracle. */
  def simhashNearDuplicates(
      idField: String,
      textField: String,
      maxHamming: Int = 3,
      prefixBits: Int = 16,
      maxBucket: Int = 64)(df: DataFrame): DataFrame = {
    val bucketed = df
      .select(col(idField).as("__id"), simhash(col(textField)).as("__sig"))
      .withColumn("__bucket", shiftright(col("__sig"), 60 - prefixBits))
    bucketed.groupBy("__bucket")
      .agg(collect_list(struct(col("__id"), col("__sig"))).as("__docs"))
      .filter(size(col("__docs")).between(2, maxBucket))
      .select(explode(flatten(transform(col("__docs"), x =>
        transform(filter(col("__docs"), y => x("__id") < y("__id")), y =>
          struct(x("__id").as("id_a"), y("__id").as("id_b"),
            bit_count(x("__sig").bitwiseXOR(y("__sig"))).as("hamming"))))))
        .as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"),
        col("__p.hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** MOSS-style near-dup pairs: documents sharing at least `minShared`
    * winnowing fingerprints ([[TextOps.winnowFingerprints]]). The
    * character-gram complement to token-set MinHash: winnowing guarantees
    * a shared fingerprint for any shared substring of length ≥ k+w−1, so
    * this catches copied PASSAGES inside otherwise-different documents —
    * the plagiarism/boilerplate case where whole-document Jaccard stays
    * low and MinHash-LSH never buckets the pair.
    *
    * Same capped-bucket shape as every shipped near-dup path: explode to
    * (fingerprint, id), one hash-agg collects each fingerprint's ids,
    * `maxBucket` drops degenerate fingerprints (ubiquitous boilerplate
    * grams — exactly the ones that would pair everything with
    * everything), bucket-local ordered pairs, then one count-agg keyed on
    * the pair. Never all-pairs; shuffle keys are 32-bit fingerprints. */
  def winnowOverlapPairs(
      idField: String,
      textField: String,
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 2,
      maxBucket: Int = 64)(df: DataFrame): DataFrame = {
    df.select(col(idField).as("__id"),
        TextOps.winnowFingerprints(col(textField), k, w).as("__fps"))
      // size prefilter IMPLIED by minShared: a pair's shared count is at
      // most the smaller doc's TOTAL fingerprint count, so a doc carrying
      // < minShared fingerprints can never appear in a surviving pair —
      // drop it BEFORE the explode+shuffle (O(1) per doc vs its share of
      // O(bucket²) pair explosion). Documented consequence, mirrored in
      // the oracle: the maxBucket cap counts PAIR-ELIGIBLE docs, so a
      // bucket pushed over the cap only by sub-floor docs still pairs.
      // The 1-element-array explode is a deliberate BARRIER: Catalyst
      // pushes the size() filter through the defining Project by alias
      // substitution, which would evaluate the winnow kernel twice per
      // row (filter + explode); a Generate output attribute is never
      // substituted, so the kernel runs exactly once.
      .select(col("__id"), explode(array(col("__fps"))).as("__fps"))
      .filter(size(col("__fps")) >= minShared)
      .select(col("__id"), explode(col("__fps")).as("__fp"))
      .groupBy("__fp")
      .agg(collect_list(col("__id")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucket))
      .select(explode(flatten(transform(col("__ids"), x =>
        transform(filter(col("__ids"), y => x < y), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .groupBy(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** ASYMMETRIC containment near-dup pairs: C(A→B) = |G_A ∩ G_B| /
    * |G_A| over distinct n-gram sets — the quote/subset detector the
    * symmetric Jaccard family structurally misses. A short document
    * wholly quoted inside a long one has containment 1.0 but Jaccard
    * |G_B|/|G_A| ≈ 0, so MinHash bands rarely collide on it; training
    * corpora are full of exactly this shape (articles embedding press
    * releases, books embedding poems, licenses embedded everywhere).
    * Emits both directions (`containment_a`, `containment_b`) plus the
    * shared count; a pair survives when EITHER direction reaches
    * `threshold`. Integer gram counts, two final divisions — exact
    * cross-engine.
    *
    * Candidates come from the gram digests THEMSELVES (per-gram doc
    * buckets), not MinHash bands — the only blocking that preserves
    * asymmetric recall. `maxDf` drops grams present in more than that
    * many documents before pair explosion (the skew guard); shared
    * counts for pairs relying on such boilerplate grams undercount — a
    * documented recall trade mirrored by the oracle, and the right one
    * at scale (ubiquitous grams are precisely the ones that would
    * explode the pair space while carrying no containment signal).
    *
    * Scale shape: one gram projection (localCheckpoint — totals and
    * buckets are its two consumers); 16-byte digests shuffle, never
    * gram strings; per-gram fan-out bounded by maxDf²; totals join
    * back on pair ids. Never all-pairs.
    *
    * `gramFraction < 1` is the 100 TB mode, same deterministic
    * leading-32-bit digest subspace as
    * [[TextOps.sourceOverlap]](gramFraction): numerator and BOTH
    * denominators restrict to the same subspace, so each containment
    * is a consistent estimator of the true ratio while the gram
    * shuffle — the whole cost — shrinks by the factor BEFORE any
    * aggregation. `shared_grams` scales by ~f; reruns and the oracle
    * see the identical subspace. */
  def containmentPairs(
      idField: String, textField: String, n: Int = 8,
      threshold: Double = 0.5, maxDf: Int = 64,
      gramFraction: Double = 1.0)(df: DataFrame): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(gramFraction > 0 && gramFraction <= 1,
      s"gramFraction must be in (0, 1], got $gramFraction")
    val hashed = df.select(col(idField).as("__id"),
        explode(TextOps.shingles(col(textField), n)).as("__g"))
      .select(col("__id"), md5(col("__g")).as("__h"))
    val grams = (if (gramFraction >= 1.0) hashed
      else hashed.filter(
        conv(substring(col("__h"), 1, 8), 16, 10).cast("long")
          < (gramFraction * 4294967296.0).toLong))
      .localCheckpoint()
    val totals = grams.groupBy("__id").agg(count(lit(1)).as("__n"))
    val pairCounts = grams.groupBy("__h")
      .agg(collect_list(col("__id")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxDf))
      .select(explode(flatten(transform(col("__ids"), x =>
        transform(filter(col("__ids"), y => x < y), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .groupBy(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared_grams"))
    pairCounts
      .join(totals.select(col("__id").as("id_a"), col("__n").as("__na")),
        "id_a")
      .join(totals.select(col("__id").as("id_b"), col("__n").as("__nb")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("shared_grams"),
        (col("shared_grams").cast("double") / col("__na"))
          .as("containment_a"),
        (col("shared_grams").cast("double") / col("__nb"))
          .as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= threshold)
  }

  /** Distinct n-gram digest rows of a reference corpus: `(gram)`, the
    * PERSISTED STATE of the containment story — store these 16 B rows
    * (any [[graft.sources.DataStore]]) for the eval/benchmark/reference
    * side, and gate later batches or streams against them
    * ([[graft.streaming.Streaming.streamingContainmentGate]]) without
    * ever re-reading the reference text. Deduplicated across the whole
    * corpus: containment against a SET of reference grams needs no
    * per-document attribution (use [[containmentPairs]] when it does). */
  def gramIndexRows(textField: String, n: Int = 8)(df: DataFrame): DataFrame =
    df.select(explode(TextOps.shingles(col(textField), n)).as("__g"))
      .select(md5(col("__g")).as("gram"))
      .distinct()

  /** Fuzzy key pairs at edit distance ≤ 1 via DELETION-NEIGHBORHOOD
    * blocking — the entity-resolution primitive (near-identical names,
    * ids with one typo) expressed without any all-pairs comparison: two
    * strings within one edit (substitution, insertion or deletion)
    * always share a member of each other's {self} ∪ {delete-one-char}
    * variant set, so bucketing on the distinct variants yields a
    * complete candidate set and `levenshtein ≤ 1` verifies exactly.
    *
    * Same capped-bucket shape as every near-dup path: explode to
    * (variant, id, key), one hash-agg collects each variant's docs,
    * `maxBucket` drops degenerate variants (e.g. mass-deleting from a
    * constant prefix), bucket-local ordered pairs, pair-level dedup
    * BEFORE the levenshtein verify. Cost: (len+1) variant rows per key
    * — keys are short strings by contract (names, ids, titles), not
    * documents. NULL keys produce no pairs. */
  def fuzzyKeyPairs(
      idField: String,
      keyField: String,
      maxBucket: Int = 64)(df: DataFrame): DataFrame =
    del1CandidatePairs(idField, keyField, maxBucket)(df)
      .filter(levenshtein(col("key_a"), col("key_b")) <= 1)

  /** [[fuzzyKeyPairs]]' candidate generator, shared with the
    * Jaro–Winkler scorer: distinct del-1-blocked ordered id pairs with
    * both keys attached, BEFORE any verify predicate. */
  /** {key} ∪ del-1 neighborhood, deduplicated (repeated chars collapse:
    * "aa" yields "a" twice); empty keys guard the sequence(1, 0)
    * DESCENDING trap exactly like TextOps.shingles. */
  private def del1Variants(key: Column): Column =
    array_distinct(concat(
      array(key),
      when(length(key) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(key)), i =>
          concat(
            call_function("substring", key, lit(1), i - 1),
            call_function("substring", key, i + 1, length(key)))))))

  private def del1CandidatePairs(
      idField: String,
      keyField: String,
      maxBucket: Int)(df: DataFrame): DataFrame = {
    val variants = del1Variants(col("__key"))
    df.select(col(idField).as("__id"), col(keyField).as("__key"))
      .filter(col("__key").isNotNull)
      .select(col("__id"), col("__key"), explode(variants).as("__var"))
      .groupBy("__var")
      .agg(collect_list(struct(col("__id"), col("__key"))).as("__docs"))
      .filter(size(col("__docs")).between(2, maxBucket))
      .select(explode(flatten(transform(col("__docs"), x =>
        transform(filter(col("__docs"), y => x("__id") < y("__id")), y =>
          struct(x("__id").as("id_a"), x("__key").as("key_a"),
            y("__id").as("id_b"), y("__key").as("key_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"),
        col("__p.key_a").as("key_a"), col("__p.key_b").as("key_b"))
      // dedup on the id pair alone — keys are functions of the ids, so
      // any surviving row carries THE keys (deterministic despite
      // first()-style selection) and the aggregate compares two longs
      // instead of two longs + two strings
      .dropDuplicates("id_a", "id_b")
  }

  /** Record-linkage pairs scored with Jaro–Winkler: the same del-1
    * blocked candidate set as [[fuzzyKeyPairs]] (complete for edit
    * distance ≤ 1 — the typo neighborhood entity resolution mostly
    * lives in), but verified with the GRADED prefix-weighted similarity
    * instead of Levenshtein's binary gate, so callers rank or threshold
    * matches (`jw ≥ minJw`) rather than accept everything within one
    * edit. The scorer is the native [[graft.functions.JaroWinkler]]
    * kernel — bit-identical to DuckDB's `jaro_winkler_similarity`, so
    * the float threshold is oracle-safe. Output:
    * `(id_a, id_b, jw)`. For wider-radius candidate generation swap the
    * blocking, not the scorer ([[minhashNearDuplicates]] on character
    * shingles is the scale path for radius ≥ 2). */
  def jaroWinklerPairs(
      idField: String,
      keyField: String,
      minJw: Double,
      maxBucket: Int = 64)(df: DataFrame): DataFrame =
    del1CandidatePairs(idField, keyField, maxBucket)(df)
      .withColumn("jw",
        graft.functions.GraftFunctions.jaroWinkler(col("key_a"), col("key_b")))
      .filter(col("jw") >= minJw)
      .select("id_a", "id_b", "jw")

  /** Phonetic record linkage — soundex blocking + Jaro–Winkler verify:
    * the classic genealogy/CRM recipe for names that SOUND alike but
    * are spelled beyond one edit apart ("Czarkowski"/"Tsarkovsky"),
    * where [[fuzzyKeyPairs]]' del-1 neighborhood is structurally blind.
    * Keys are cleaned to letters only (uppercased; embedded punctuation
    * and digits dropped — "O'Brien" blocks as OBRIEN) and bucketed by
    * the engine-native `soundex()` (American Soundex: first letter +
    * 3 digits, H/W transparent, vowels separate — pinned bit-for-bit
    * against the hand-built oracle mirror in the spec); candidate
    * pairs form only INSIDE a code bucket, are capped at `maxBucket`
    * members (degenerate codes drop whole, the LSH-family skew guard),
    * and verify with the graded native [[graft.functions.JaroWinkler]]
    * kernel at `minJw`+. Pairs with IDENTICAL keys are excluded — same
    * spelling is [[exactDuplicates]]' jurisdiction; this op exists for
    * different spellings. Letterless/NULL keys never block.
    *
    * Scale shape: one hash-agg keyed by the 4-char code collecting
    * each bucket, then bucket-local pair explosion — candidates never
    * all-pairs, per-task work bounded by `maxBucket²`. Output:
    * `id_a, id_b, key_a, key_b, jw`. */
  def phoneticKeyPairs(
      idField: String,
      keyField: String,
      minJw: Double,
      maxBucket: Int = 64)(df: DataFrame): DataFrame = {
    require(minJw >= 0.0 && minJw <= 1.0, s"minJw must be in [0,1], got $minJw")
    val clean = upper(regexp_replace(col("__key"), "[^A-Za-z]", ""))
    df.select(col(idField).as("__id"), col(keyField).as("__key"))
      .filter(col("__key").isNotNull)
      .withColumn("__code", when(length(clean) > 0, soundex(clean)))
      .filter(col("__code").isNotNull)
      .groupBy("__code")
      .agg(collect_list(struct(col("__id"), col("__key"))).as("__docs"))
      .filter(size(col("__docs")).between(2, maxBucket))
      .select(explode(flatten(transform(col("__docs"), x =>
        transform(filter(col("__docs"), y =>
          x("__id") < y("__id") && x("__key") =!= y("__key")), y =>
          struct(x("__id").as("id_a"), x("__key").as("key_a"),
            y("__id").as("id_b"), y("__key").as("key_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"),
        col("__p.key_a").as("key_a"), col("__p.key_b").as("key_b"))
      .withColumn("jw",
        graft.functions.GraftFunctions.jaroWinkler(col("key_a"), col("key_b")))
      .filter(col("jw") >= minJw)
  }

  /** Cross-TABLE fuzzy key join — classic record linkage between two
    * catalogs (CRM export vs master table, crawl byline vs author
    * registry): for every (left, right) pair whose keys share a del-1
    * blocking variant, the native Jaro–Winkler score, kept at
    * `minJw`+. Same blocking/cap machinery as [[fuzzyKeyPairs]], but
    * candidates only ever SPAN the two sides (the
    * [[crossCorpusNearDuplicates]] discipline) — within-side pairs
    * never materialize, and ids live in separate namespaces so
    * left_id = right_id is a legitimate match, not a self-pair.
    * `maxBucket` caps the COMBINED bucket population before pair
    * explosion. Output: `left_id, right_id, key_left, key_right, jw`.
    * Radius ≥ 2 linkage swaps the blocking for character-shingle
    * MinHash, not the scorer. */
  /** EXACT Jaccard similarity join via prefix filtering (the
    * SSJoin/PPJoin family) — the zero-recall-loss alternative to
    * [[minhashLshPairs]]: every pair of token sets with
    * `jaccard ≥ threshold` is returned, no probabilistic banding, no
    * missed pairs. The scale trick is the PREFIX FILTER: order the
    * vocabulary by (document frequency asc, token asc) — rarest
    * first — sort each document's tokens by that order, and keep only
    * its first `|T| − ⌈τ·|T|⌉ + 1` tokens as its prefix. Two sets
    * with Jaccard ≥ τ MUST share a prefix token (pigeonhole: fewer
    * prefix tokens than the overlap the threshold forces), so
    * candidates form only inside prefix-token buckets — and because
    * prefixes hold each document's RAREST tokens, bucket sizes track
    * the df of rare tokens, not corpus size. Candidates then pass the
    * length-compatibility filter (`τ·max(|a|,|b|) ≤ min(|a|,|b|)`,
    * epsilon-guarded OUTWARD so float τ·n never prunes a true pair)
    * and verify with the one-pass native [[TextOps.jaccard]] kernel —
    * counts are integers, `jaccard` one exact division, so the
    * threshold is oracle-safe.
    *
    * Contract: `tokensField` is an `array<string>` treated as a SET
    * (de-duplicated internally); NULL or empty sets produce no pairs
    * (Jaccard undefined). The brute-force O(n²) frame never exists;
    * cost is Σ_buckets |bucket|² over prefix buckets plus one
    * df-ranking join. A corpus that is mostly mutual near-duplicates
    * degrades toward its true output size (which is itself quadratic
    * in that case — the OUTPUT, not the algorithm, is the bound).
    *
    * On top of the prefix filter rides PPJoin's POSITIONAL filter
    * (zero recall loss, large constant cut at low τ where prefixes
    * are long): both docs' tokens are sorted by the SAME global
    * (df, token) order, so at a shared token sitting at 1-based
    * positions (i, j) the overlap splits into tokens BELOW it (≤
    * min(i−1, j−1) shared — fewer elements on either side), the token
    * itself, and tokens ABOVE it (≤ min(n_a−i, n_b−j)); the candidate
    * survives the bucket only when `min(i,j) + min(n_a−i, n_b−j)`
    * reaches the Jaccard-implied overlap floor
    * `⌈τ/(1+τ)·(n_a+n_b)⌉`. The bound holds at EVERY shared token
    * (not just the first), so per-bucket pruning before the
    * cross-bucket dedup is provably complete: a qualifying pair's
    * true overlap is ≤ the bound in every bucket it lands in, hence
    * every one of its buckets keeps it. Both ceils carry the 1e-9
    * DOWN-guard so float rounding can only weaken the prune, never
    * lose a true pair. Output: `id_a, id_b, jaccard`. */
  def setSimilarityJoin(
      idField: String, tokensField: String, threshold: Double)(
      df: DataFrame): DataFrame = {
    val base = ssjBase(idField, tokensField, threshold)(df)
    // the candidate frame feeds TWO verify joins (id_a, then id_b) and
    // the planner broadcasts it into both — the second broadcast's
    // build subtree contains the first, so the whole prefix-bucket
    // pair-generation stage executed TWICE (measured: 2 × ~6 s of the
    // 14 s sf0.1 cell). Pinning the candidate pairs — bounded by the
    // filtered candidate count, the op's honest output class, never
    // corpus-sized — runs it once; pairs are bit-identical.
    ssjCandidates(base, threshold, positional = true).localCheckpoint()
      .join(base.select(col("__id").as("id_a"), col("__toks").as("__ta")),
        "id_a")
      .join(base.select(col("__id").as("id_b"), col("__toks").as("__tb")),
        "id_b")
      .withColumn("jaccard", TextOps.jaccard(col("__ta"), col("__tb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The SSJoin corpus projection: distinct token sets, empty/NULL
    * dropped, pinned once (feeds df-ranking, prefixes, AND the
    * verify). */
  private[graft] def ssjBase(
      idField: String, tokensField: String, threshold: Double)(
      df: DataFrame): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    df.select(col(idField).as("__id"),
        array_distinct(col(tokensField)).as("__toks"))
      .filter(col("__toks").isNotNull && size(col("__toks")) > 0)
      .localCheckpoint()
  }

  /** Prefix-bucket candidate pairs over an [[ssjBase]] frame —
    * length-filtered, positionally filtered when `positional`, deduped
    * across buckets. Exposed separately so the scale harness can
    * measure the positional filter's candidate cut directly. */
  private[graft] def ssjCandidates(
      base: DataFrame, threshold: Double,
      positional: Boolean): DataFrame = {
    val tok = base.select(col("__id"), explode(col("__toks")).as("__t"))
    val dfreq = tok.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    // each doc's tokens in rarest-first (df, token) order; n = |T|
    val ordered = tok.join(dfreq, "__t")
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__t"))))
        .as("__st"))
      .withColumn("__n", size(col("__st")))
    // prefix length n − ⌈τ·n⌉ + 1; the 1e-9 guard pulls a float τ·n
    // that landed an ulp ABOVE an integer back down, so ceil never
    // overshoots and the prefix never shrinks below the completeness
    // bound (an over-long prefix only adds candidates)
    val p = (col("__n") -
      ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1).cast("int")
    // posexplode: __p = the token's 1-based position in the FULL
    // rarest-first order (prefix positions ARE global positions —
    // the prefix is a prefix)
    val prefixes = ordered
      .select(col("__id"), col("__n"),
        posexplode(slice(col("__st"), lit(1), greatest(p, lit(1)))))
      .select(col("__id"), col("__n"), (col("pos") + 1).as("__p"),
        col("col").as("__pt"))
    // overlap floor o ≥ τ·(n_a+n_b)/(1+τ), down-guarded ceil
    val tau = threshold / (1.0 + threshold)
    def posOk(x: Column, y: Column): Column =
      if (!positional) lit(true)
      else (least(x("__p"), y("__p")) +
        least(x("__n") - x("__p"), y("__n") - y("__p"))) >=
        ceil(lit(tau) * (x("__n") + y("__n")) - lit(1e-9))
    prefixes
      // explicit-count hash partitioning: the groupBy would exchange by
      // __pt anyway, but AQE coalesces that exchange to a handful of
      // partitions at bench scale and the bucket pair-generation above
      // it (the op's quadratic-in-bucket stage) ran on 2-4 tasks
      // (measured ~6 s). A REPARTITION_BY_NUM exchange is exempt from
      // coalescing and satisfies the aggregation's distribution — same
      // shuffle count, full-width stage; the count tracks the session's
      // cores (scale-adaptive).
      .repartition(base.sparkSession.sparkContext.defaultParallelism,
        col("__pt"))
      .groupBy(col("__pt"))
      .agg(collect_list(struct(col("__id"), col("__n"), col("__p")))
        .as("__docs"))
      .filter(size(col("__docs")) >= 2)
      .select(explode(flatten(transform(col("__docs"), x =>
        transform(filter(col("__docs"), y =>
          x("__id") < y("__id") &&
            least(x("__n"), y("__n")).cast("double") >=
              lit(threshold) * greatest(x("__n"), y("__n")) - lit(1e-9) &&
            posOk(x, y)),
          y => struct(x("__id").as("id_a"), y("__id").as("id_b"))))))
        .as("__c"))
      .select(col("__c.id_a").as("id_a"), col("__c.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Fellegi–Sunter match scoring — the probabilistic-record-linkage
    * decision layer the blocked candidate generators
    * ([[fuzzyKeyPairs]], [[jaroWinklerPairs]], [[phoneticKeyPairs]],
    * [[fuzzyJoin]]) feed: each field comparison contributes its
    * log-likelihood-ratio weight — `log₂(m/u)` on agreement,
    * `log₂((1−m)/(1−u))` on disagreement, where `m` = P(agree | same
    * entity) and `u` = P(agree | different entities) — and the summed
    * score lands in match / possible / non_match by the two
    * thresholds. The 1969 framework every production linkage system
    * (Splink, the census linkers) still runs on; m/u come from domain
    * knowledge or an EM fit, both supplied here as parameters.
    *
    * Each comparison is `(name, agreement, m, u)` — `agreement` any
    * Boolean Column over the pair row (equality, `levenshtein ≤ 1`,
    * `abs(a−b) < tol`…). A NULL agreement contributes 0 (a missing
    * comparison carries no evidence either way — the standard
    * convention; neither reward nor penalty). Weights are computed
    * DRIVER-side in Scala (`log` of plain constants) and embedded as
    * literals, so the per-row work is a fixed when-chain summed in
    * comparison order — a pure zero-shuffle projection, exactly
    * reproducible (the one float sum is a FIXED-ARITY left chain, not
    * a data-ordered fold).
    *
    * Scale: O(pairs) rows × O(fields) literals, no shuffle, no state —
    * the candidate generator owns all the scale risk. Output: the
    * input pair columns + `fs_score, fs_decision`. */
  def fellegiSunter(
      comparisons: Seq[(String, Column, Double, Double)],
      upperThreshold: Double, lowerThreshold: Double)(
      pairs: DataFrame): DataFrame = {
    require(comparisons.nonEmpty, "at least one field comparison")
    require(comparisons.map(_._1).distinct.size == comparisons.size,
      "duplicate comparison names")
    require(upperThreshold >= lowerThreshold,
      s"upper ($upperThreshold) must be >= lower ($lowerThreshold)")
    comparisons.foreach { case (n, _, m, u) =>
      require(m > 0.0 && m < 1.0 && u > 0.0 && u < 1.0,
        s"comparison '$n': m and u must be in (0, 1), got m=$m u=$u")
      require(m > u,
        s"comparison '$n': m must exceed u (agreement must be " +
          s"evidence FOR a match), got m=$m u=$u")
    }
    val score = comparisons.map { case (_, agree, m, u) =>
      val wAgree = math.log(m / u) / math.log(2.0)
      val wDisagree = math.log((1.0 - m) / (1.0 - u)) / math.log(2.0)
      when(agree.isNull, lit(0.0))
        .when(agree, lit(wAgree))
        .otherwise(lit(wDisagree))
    }.reduce(_ + _)
    pairs
      .withColumn("fs_score", score)
      .withColumn("fs_decision",
        when(col("fs_score") >= upperThreshold, lit("match"))
          .when(col("fs_score") <= lowerThreshold, lit("non_match"))
          .otherwise(lit("possible")))
  }

  /** Exact-SSJoin index rows for a corpus: `(id, toks, n)` — the token
    * sets that make the EXACT rung of the dedup family incremental
    * (the [[minhashIndexRows]] doctrine applied to
    * [[setSimilarityJoin]]). `toks` is the de-duplicated token array
    * sorted by the UNIVERSAL `(xxhash64(token), token)` order — not
    * the batch op's df-rarest-first order, deliberately: document
    * frequencies drift as the corpus grows, and prefix-filter
    * completeness requires both sides of every future batch to agree
    * on ONE total order; a content-hash order is fixed forever and
    * needs no cross-batch statistics. (The cost is losing the
    * rarest-first bucket-size heuristic, not correctness — hash order
    * is a valid total order, so the pigeonhole argument is intact.)
    * The FULL sorted array is stored (the exact verify needs whole
    * sets) PLUS a `toks_prefix` projection: the committed-`tauMin`
    * prefix `slice(toks, 1, n − ⌈tauMin·n⌉ + 1)`. Candidate
    * generation only ever needs the τ-prefix, and Parquet cannot
    * project an array SLICE — without the dedicated column every
    * batch's candidate stage scans the full corpus-text-sized token
    * column (the r15 100-TB watch item). With it, the candidate scan
    * reads only the prefix column (~the prefix fraction of the index
    * bytes; at τ_min = 0.5 about a third for large sets) and the wide
    * `toks` column is joined ONLY for the verify of actual
    * candidates. The τ_min CONTRACT: one stored index serves every
    * query threshold τ ≥ `tauMin` (the needed τ-prefix is a prefix of
    * the stored one — slice at query time); a τ below `tauMin` needs
    * the index re-created. State is the token sets themselves (the
    * only state from which EXACT Jaccard against history is
    * answerable without re-reading text); for 3-gram shingles that is
    * ~same order as the text — the price of the zero-recall-loss
    * guarantee, vs 72 B for the probabilistic [[minhashIndexRows]]
    * rung. */
  def ssjIndexRows(idField: String, tokensField: String,
      tauMin: Double = 0.5)(df: DataFrame): DataFrame = {
    require(tauMin > 0.0 && tauMin <= 1.0,
      s"tauMin must be in (0, 1], got $tauMin")
    df.select(col(idField).as("id"),
        hashOrdered(array_distinct(col(tokensField))).as("toks"))
      .filter(col("toks").isNotNull && size(col("toks")) > 0)
      .withColumn("n", size(col("toks")))
      .withColumn("toks_prefix",
        slice(col("toks"), lit(1), greatest((col("n") -
          ceil(lit(tauMin) * col("n") - lit(1e-9)) + 1).cast("int"),
          lit(1))))
  }

  /** Tokens sorted by `(xxhash64(token), token)` — the fixed universal
    * total order the incremental exact-SSJoin legs share. */
  private[graft] def hashOrdered(toks: Column): Column =
    transform(sort_array(transform(toks,
      t => struct(xxhash64(t).as("h"), t.as("t")))), s => s("t"))

  /** Incremental EXACT set-similarity dedup against a persisted
    * [[ssjIndexRows]] index — the recall-guaranteed rung of the
    * incremental family ([[incrementalNearDup]] estimates Jaccard from
    * MinHash signatures; this op computes it exactly, so a qualifying
    * duplicate can never slip through a band split). A batch document
    * is dropped when its TRUE Jaccard reaches `threshold` against (a)
    * any index document sharing a prefix token, or (b) any
    * SMALLER-id batch document sharing one (the greedy in-batch
    * election, [[incrementalNearDup]]'s convention). Survivors return
    * with all batch columns; append their [[ssjIndexRows]] to the
    * index for the next batch.
    *
    * Candidates are a flat equi-join on the prefix token: the index's
    * posexploded τ-prefix rows `(token, id, n, position)` probe the
    * batch's (broadcast — the batch is the small side), and the same
    * batch rows self-join for the in-batch leg. The length filter
    * (`τ·max(n_a,n_b) ≤ min(n_a,n_b)`) and PPJoin's positional filter
    * at the shared token (`min(i,j) + min(n_a−i, n_b−j)` reaches the
    * overlap floor `α = ⌈τ/(1+τ)·(n_a+n_b)⌉`, see
    * [[setSimilarityJoin]]) are plain join conditions. The rows then
    * group per pair, and with `maxBucket = 0` (default) the pair
    * survives only under PPJoin's ACCUMULATED overlap bound (Xiao et
    * al., WWW 2008): `c + min(n_a − max i, n_b − max j) ≥ α`, where `c`
    * counts the pair's shared prefix tokens and `(max i, max j)` is the
    * last of them. Why it is complete: both arrays are sorted by the
    * one universal hash order, so a shared token lies below the last
    * shared prefix token in `a` exactly when it does in `b`; every
    * shared token below it therefore sits inside BOTH prefixes and is
    * counted in `c`, and at most `min(n_a − max i, n_b − max j)` shared
    * tokens lie above it. A pair with true overlap ≥ α also passes the
    * positional filter at EVERY shared token (the per-token bound is
    * the same argument with `c ≤ min(i, j)`), so the filter never
    * drops one of its rows, `c` is exact for it, and the bound keeps
    * it. All ceils carry the 1e-9 DOWN-guard, so float rounding only
    * weakens a prune. Surviving pairs verify with the one-pass native
    * [[TextOps.jaccard]] kernel — counts are integers and the ratio one
    * division, the same double `|A∩B| / (|A|+|B|−|A∩B|)` gives.
    *
    * The candidate join reads the index's `toks_prefix` COLUMN, never
    * the wide `toks` one: the candidate-stage scan of a Parquet-backed
    * index reads only (id, n, toks_prefix) (column pruning — verified
    * in the spec's ReadSchema assertion), and the full token arrays
    * are joined back ONLY for the exact verify of actual candidates —
    * two reads of the index by design, one narrow and one wide.
    * `threshold` must be ≥ the index's committed `tauMin` (the
    * [[ssjIndexRows]] contract; enforced here via the `indexTauMin`
    * parameter — the stored prefix must cover the τ-prefix or recall
    * silently breaks, so a violating call fails fast instead). A
    * legacy 3-column `(id, toks, n)` index still works — the prefix
    * derives from `toks` at query time, paying the full-column scan.
    *
    * With `maxBucket = 0` recall is GUARANTEED — the point of the
    * exact rung. A positive cap is the production knob for adversarial
    * corpora (a pile of near-identical docs collapsing onto one token):
    * a prefix token shared by more than `maxBucket` documents on either
    * side forms no candidates, and the pair is kept when the length
    * and positional filters pass at any remaining shared token (the
    * accumulated bound would undercount `c` over the dropped tokens).
    * That trades the guarantee for bounded work, documented exactly
    * like the probabilistic legs' caps.
    *
    * Cost per batch: one prefix-column scan of the stored index, one
    * broadcast probe emitting a row per (index doc, batch doc, shared
    * prefix token) that passes the filters, one partially aggregated
    * shuffle of those rows to pairs, the same for the batch against
    * itself, and one verify join of the surviving pairs with the full
    * token arrays — never batch×history all-pairs. */
  def incrementalSetSimilarity(
      idField: String, tokensField: String, index: DataFrame,
      threshold: Double, maxBucket: Int = 0,
      indexTauMin: Double = 0.5)(batch: DataFrame): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxBucket >= 0, s"maxBucket must be >= 0, got $maxBucket")
    require(index.columns.length == 3 || index.columns.length == 4,
      "index must be (id, toks, n[, toks_prefix]) rows, got " +
        index.columns.mkString(", "))
    // the tauMin contract binds only the 4-column format: a legacy
    // 3-column index's "prefix" IS the full token column, which covers
    // every tau (the streaming twin's exemption, mirrored)
    require(index.columns.length == 3 || threshold >= indexTauMin - 1e-12,
      s"threshold ($threshold) must be >= the index's committed tauMin " +
        s"($indexTauMin): the stored prefix only covers tau >= tauMin")
    // the narrow candidate-stage projection: (id, n, prefix) — for the
    // 4-column format this prunes the wide `toks` column out of the
    // scan entirely; legacy 3-column indexes fall back to slicing it
    val idxNarrow =
      if (index.columns.length == 4)
        index.select(col(index.columns(0)).as("__id"),
          col(index.columns(2)).as("__n"),
          col(index.columns(3)).as("__pre"))
      else
        index.select(col(index.columns(0)).as("__id"),
          col(index.columns(2)).as("__n"),
          col(index.columns(1)).as("__pre"))
    val idxWide = index.select(col(index.columns(0)).as("__id"),
      col(index.columns(1)).as("__toks"))
    // batch-side commit at min(threshold, tauMin): with a 4-column
    // index threshold >= tauMin so this is tauMin unchanged; in the
    // legacy-below-tauMin case the batch prefix must itself cover the
    // smaller tau or recall silently breaks
    val batchRows = ssjIndexRows(idField, tokensField,
      math.min(threshold, indexTauMin))(batch)
      .select(col("id").as("__id"), col("toks").as("__toks"),
        col("n").as("__n"), col("toks_prefix").as("__pre"))
      .localCheckpoint()
    val p = (col("__n") -
      ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1).cast("int")
    // one row per (prefix token, doc); with a cap, tokens held by more
    // than maxBucket docs of this side are dropped
    def prefixes(d: DataFrame) = {
      val rows = d
        .select(col("__id"), col("__n"),
          posexplode(slice(col("__pre"), lit(1), greatest(p, lit(1)))))
        .select(col("__id"), col("__n"), (col("pos") + 1).as("__p"),
          col("col").as("__pt"))
      if (maxBucket == 0) rows
      else rows.join(rows.groupBy(col("__pt")).count()
        .filter(col("count") <= maxBucket), Seq("__pt"), "left_semi")
    }
    def side(rows: DataFrame, s: String) = rows.select(
      col("__pt").as(s"__pt$s"), col("__id").as(s"id_$s"),
      col("__n").as(s"__n$s"), col("__p").as(s"__p$s"))
    val (na, nb, pa, pb) =
      (col("__na"), col("__nb"), col("__pa"), col("__pb"))
    // the Jaccard-implied overlap floor α, down-guarded ceil
    val alpha = ceil(lit(threshold / (1.0 + threshold)) * (na + nb) -
      lit(1e-9))
    // the b side is always the batch, broadcast into the join
    def candidates(a: DataFrame, b: DataFrame, idOk: Column) = {
      val rows = side(a, "a").join(broadcast(side(b, "b")),
        col("__pta") === col("__ptb") && idOk &&
        least(na, nb).cast("double") >=
          lit(threshold) * greatest(na, nb) - lit(1e-9) &&
        least(pa, pb) + least(na - pa, nb - pb) >= alpha)
      if (maxBucket > 0) rows.select("id_a", "id_b").distinct()
      // __pa/__pb become the positions of the LAST shared prefix token
      else rows.groupBy(col("id_a"), na, col("id_b"), nb)
        .agg(count(lit(1)).as("__c"), max(pa).as("__pa"),
          max(pb).as("__pb"))
        .filter(col("__c") + least(na - pa, nb - pb) >= alpha)
        .select("id_a", "id_b")
    }
    val batchPre = prefixes(batchRows)
    // history × batch (id collisions dropped defensively — disjoint id
    // spaces expected, the incrementalNearDup convention), then the
    // in-batch leg: ordered pairs, smaller id survives
    val crossCands = candidates(prefixes(idxNarrow), batchPre,
      col("id_a") =!= col("id_b"))
    val inCands = candidates(batchPre, batchPre, col("id_a") < col("id_b"))
    def losers(cands: DataFrame, aSide: DataFrame) = cands
      .join(aSide.select(col("__id").as("id_a"), col("__toks").as("__ta")),
        "id_a")
      .join(batchRows.select(col("__id").as("id_b"),
        col("__toks").as("__tb")), "id_b")
      .filter(TextOps.jaccard(col("__ta"), col("__tb")) >= threshold)
      .select(col("id_b"))
    // NOT pinned (r20): the anti-join's broadcast of `dups` is one
    // BroadcastExchange node, materialized once even when a caller's
    // closing range-sort samples the plan — only the cheap batch-side
    // probe re-executes. Pinning the candidate legs individually was
    // measured SLOWER (the legs' broadcast builds overlap when left
    // lazy; eager pins serialize them), and an op-level pin of `dups`
    // hides the index scans from plan introspection (DedupSpec's
    // ReadSchema pruning assertion) for no measured win.
    val dups = losers(crossCands, idxWide)
      .unionByName(losers(inCands, batchRows))
      .distinct()
    batch.join(dups, batch(idField) === dups("id_b"), "left_anti")
  }

  /** Unsupervised EM estimation of the Fellegi–Sunter parameters — the
    * trainer [[fellegiSunter]] was missing (its m/u were hand-supplied;
    * the standard linkage stacks fit them with exactly this EM over the
    * comparison-vector frame). The latent variable is "same entity":
    * each candidate pair's agreement pattern γ ∈ {agree, disagree,
    * missing}^f is scored under the current (λ, m, u); the E-step
    * posterior w = λ·Π t_m / (λ·Π t_m + (1−λ)·Π t_u) re-weights every
    * pattern, and the M-step re-estimates λ = Σcw/Σc,
    * m_f = Σ_{γ_f=1} cw / Σ_{γ_f≠missing} cw (u_f the (1−w) analog).
    * A missing comparison contributes factor 1 to both likelihoods and
    * is excluded from its field's M-step denominators — the
    * [[fellegiSunter]] no-evidence convention, carried through the fit.
    *
    * Distributed as the [[graft.ops.Ops.bradleyTerry]] iteration shape:
    * the pair frame collapses ONCE to ≤ 3^f pattern-count rows (one
    * hash-agg — the only corpus-sized pass), then each EM round is one
    * broadcast of the 1-row parameter frame + one hash-agg over the
    * pattern rows. Float determinism: the per-pattern likelihood is a
    * fixed-arity multiply chain in comparison order, and every M-step
    * sum is an order-pinned fold keyed by the pattern string — the
    * whole fit is replayable as unrolled SQL, so it carries a real
    * oracle row, not an exemption. Estimates clamp into
    * [1e-6, 1−1e-6] (the standard EM guard against absorbing 0/1
    * states); a comparison with NO observed non-missing value keeps
    * its previous estimate (unidentifiable). EM finds a local optimum:
    * `initialM > initialU` breaks the match/non-match label symmetry
    * toward the conventional mode, and callers with domain knowledge
    * should seed closer. Output: one row per comparison —
    * `comparison, m, u, lambda` (λ repeated; it is a property of the
    * fit). Feed the zip of names and fitted (m, u) straight back into
    * [[fellegiSunter]] — or call [[fellegiSunterAuto]]. */
  def fellegiSunterFit(
      comparisons: Seq[(String, Column)],
      iterations: Int = 5,
      initialLambda: Double = 0.1,
      initialM: Double = 0.9,
      initialU: Double = 0.1)(pairs: DataFrame): DataFrame = {
    require(comparisons.nonEmpty, "at least one field comparison")
    require(comparisons.size <= 8,
      s"at most 8 comparisons (3^f pattern space), got ${comparisons.size}")
    require(comparisons.map(_._1).distinct.size == comparisons.size,
      "duplicate comparison names")
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(initialLambda > 0.0 && initialLambda < 1.0,
      s"initialLambda must be in (0, 1), got $initialLambda")
    require(initialM > 0.0 && initialM < 1.0 &&
      initialU > 0.0 && initialU < 1.0 && initialM > initialU,
      s"need 0 < initialU < initialM < 1, got m=$initialM u=$initialU")
    val f = comparisons.size
    val idx = 0 until f
    // agreement patterns: 1 agree / 0 disagree / -1 missing, counted once
    val gammas = comparisons.zipWithIndex.map { case ((_, agree), i) =>
      when(agree.isNull, lit(-1)).when(agree, lit(1)).otherwise(lit(0))
        .as(s"__g$i")
    }
    val pat = pairs.select(gammas: _*)
      .groupBy(idx.map(i => col(s"__g$i")): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__key",
        concat_ws(",", idx.map(i => col(s"__g$i")): _*))
      .localCheckpoint()
    val init = pat.sparkSession.range(1).select(
      lit(initialLambda).as("__lambda") +:
        idx.flatMap(i => Seq(lit(initialM).as(s"__m$i"),
          lit(initialU).as(s"__u$i"))): _*)
    def pinned(term: Column) = org.apache.spark.sql.functions.aggregate(
      sort_array(collect_list(struct(col("__key").as("__k"),
        term.as("__t")))),
      lit(0.0), (acc, x) => acc + x.getField("__t"))
    val eps = lit(1e-6)
    val epsHi = lit(1.0) - lit(1e-6)
    def clamp(c: Column) = least(greatest(c, eps), epsHi)
    def round(params: DataFrame): DataFrame = {
      val joined = pat.crossJoin(broadcast(params))
      val pm = idx.map(i => when(col(s"__g$i") === 1, col(s"__m$i"))
        .when(col(s"__g$i") === 0, lit(1.0) - col(s"__m$i"))
        .otherwise(lit(1.0))).reduce(_ * _)
      val pu = idx.map(i => when(col(s"__g$i") === 1, col(s"__u$i"))
        .when(col(s"__g$i") === 0, lit(1.0) - col(s"__u$i"))
        .otherwise(lit(1.0))).reduce(_ * _)
      val e = joined.withColumn("__w",
        (col("__lambda") * pm) /
          (col("__lambda") * pm + (lit(1.0) - col("__lambda")) * pu))
      val aggs =
        pinned(col("__c") * col("__w")).as("__sw") +:
          pinned(col("__c").cast("double")).as("__sc") +:
          (idx.flatMap { i => Seq(
            pinned(when(col(s"__g$i") === 1, col("__c") * col("__w"))
              .otherwise(lit(0.0))).as(s"__mw$i"),
            pinned(when(col(s"__g$i") =!= -1, col("__c") * col("__w"))
              .otherwise(lit(0.0))).as(s"__md$i"),
            pinned(when(col(s"__g$i") === 1,
              col("__c") * (lit(1.0) - col("__w")))
              .otherwise(lit(0.0))).as(s"__uw$i"),
            pinned(when(col(s"__g$i") =!= -1,
              col("__c") * (lit(1.0) - col("__w")))
              .otherwise(lit(0.0))).as(s"__ud$i"),
            // the 1-row params frame rides the crossJoin: min() recovers
            // each previous estimate for the unidentifiable fallback
            min(col(s"__m$i")).as(s"__om$i"),
            min(col(s"__u$i")).as(s"__ou$i"))
          } :+ min(col("__lambda")).as("__ol"))
      e.groupBy().agg(aggs.head, aggs.tail: _*)
        .select(
          when(col("__sc") > 0.0, clamp(col("__sw") / col("__sc")))
            .otherwise(col("__ol")).as("__lambda") +:
            idx.flatMap(i => Seq(
              when(col(s"__md$i") > 0.0,
                clamp(col(s"__mw$i") / col(s"__md$i")))
                .otherwise(col(s"__om$i")).as(s"__m$i"),
              when(col(s"__ud$i") > 0.0,
                clamp(col(s"__uw$i") / col(s"__ud$i")))
                .otherwise(col(s"__ou$i")).as(s"__u$i"))): _*)
    }
    // Ops.pinIterationState, not a bare localCheckpoint: checkpoint
    // stats propagation would compound the pat×params size estimate
    // across rounds (linear digit growth here, but the 1-row frame
    // makes the reset free — the bradleyTerry doctrine)
    val fitted = (1 to iterations).foldLeft(init) { (p, _) =>
      graft.ops.Ops.pinIterationState(round(p))
    }
    fitted.select(explode(array(comparisons.zipWithIndex.map {
      case ((name, _), i) => struct(lit(name).as("comparison"),
        col(s"__m$i").as("m"), col(s"__u$i").as("u"),
        col("__lambda").as("lambda"))
    }: _*)).as("__r"))
      .select(col("__r.comparison").as("comparison"), col("__r.m").as("m"),
        col("__r.u").as("u"), col("__r.lambda").as("lambda"))
  }

  /** Fit-then-score convenience: [[fellegiSunterFit]] estimates (m, u)
    * from the pairs themselves, then [[fellegiSunter]] scores with the
    * fitted weights. The fit collects exactly `f` parameter rows to the
    * driver (a bounded seam — the weights must become literals for the
    * scorer's zero-shuffle projection); the pairs frame itself is
    * never collected. If the fit lands at m ≤ u for some comparison,
    * agreement on that field anti-correlates with the latent class —
    * the comparison is broken or inverted, and the scorer's m > u
    * guard fires rather than silently scoring with a flipped weight. */
  def fellegiSunterAuto(
      comparisons: Seq[(String, Column)],
      upperThreshold: Double, lowerThreshold: Double,
      iterations: Int = 5,
      initialLambda: Double = 0.1,
      initialM: Double = 0.9,
      initialU: Double = 0.1)(pairs: DataFrame): DataFrame = {
    val (scored, _) = fitScoredComparisons(comparisons, iterations,
      initialLambda, initialM, initialU)(pairs)
    fellegiSunter(scored, upperThreshold, lowerThreshold)(pairs)
  }

  /** The shared fit-collect plumbing of [[fellegiSunterAuto]] /
    * [[fellegiSunterAutoTuned]]: run the EM fit, pull the <= f+1
    * bounded parameter rows, zip the fitted (m, u) back onto the
    * comparisons, and return the fitted lambda beside them. */
  private def fitScoredComparisons(
      comparisons: Seq[(String, Column)], iterations: Int,
      initialLambda: Double, initialM: Double, initialU: Double)(
      pairs: DataFrame): (Seq[(String, Column, Double, Double)], Double) = {
    val fitRows = fellegiSunterFit(comparisons, iterations, initialLambda,
      initialM, initialU)(pairs).collect()
    val fitted = fitRows
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val scored = comparisons.map { case (name, agree) =>
      val (m, u) = fitted(name)
      (name, agree, m, u)
    }
    (scored, fitRows.head.getDouble(3))
  }

  /** Decision thresholds DERIVED from the fitted model instead of
    * hand-supplied — the gap [[fellegiSunterAuto]] left (it fits m/u
    * but still asks for upper/lower scores). Under the fitted model
    * the match posterior of a pattern with score s (in
    * [[fellegiSunter]]'s log₂ units, so the likelihood ratio is
    * R = 2^s) is `P(M|s) = λ·2^s / (λ·2^s + 1 − λ)` — strictly
    * monotone in s, so "posterior ≥ p" inverts in closed form:
    * `s(p) = log₂(p/(1−p)) + log₂((1−λ)/λ)`. Returns
    * `(s(upperPosterior), s(lowerPosterior))`: score ≥ the upper ⇒
    * posterior ≥ `upperPosterior`, so the expected precision of the
    * `match` decision is AT LEAST `upperPosterior` under the fitted
    * model (every accepted pair clears the floor — the
    * probability_two_random_records_match doctrine of the production
    * linkage stacks); symmetrically score ≤ the lower ⇒ posterior ≤
    * `lowerPosterior` (non-match purity). Model-based, not oracle:
    * real precision inherits the fit's conditional-independence
    * assumption — the standard caveat, stated. Pure driver-side
    * arithmetic; feed the pair straight into [[fellegiSunter]] /
    * [[fellegiSunterAuto]]. */
  def fellegiSunterThresholds(
      lambda: Double,
      upperPosterior: Double = 0.99,
      lowerPosterior: Double = 0.01): (Double, Double) = {
    require(lambda > 0.0 && lambda < 1.0,
      s"lambda must be in (0, 1), got $lambda")
    require(upperPosterior > 0.0 && upperPosterior < 1.0 &&
      lowerPosterior > 0.0 && lowerPosterior < 1.0 &&
      upperPosterior > lowerPosterior,
      s"need 0 < lowerPosterior < upperPosterior < 1, got " +
        s"lower=$lowerPosterior upper=$upperPosterior")
    def score(p: Double): Double =
      (math.log(p / (1.0 - p)) + math.log((1.0 - lambda) / lambda)) /
        math.log(2.0)
    (score(upperPosterior), score(lowerPosterior))
  }

  /** The fully closed loop: EM fit → posterior-derived thresholds →
    * scored decisions, no hand-supplied numbers anywhere. Fits
    * (λ, m, u) with [[fellegiSunterFit]], converts the target
    * posteriors to score thresholds with [[fellegiSunterThresholds]]
    * (using the FITTED λ), and scores with the unchanged
    * [[fellegiSunter]]. The fit's f-row collect is the only driver
    * seam, as in [[fellegiSunterAuto]]. */
  def fellegiSunterAutoTuned(
      comparisons: Seq[(String, Column)],
      upperPosterior: Double = 0.99,
      lowerPosterior: Double = 0.01,
      iterations: Int = 5,
      initialLambda: Double = 0.1,
      initialM: Double = 0.9,
      initialU: Double = 0.1)(pairs: DataFrame): DataFrame = {
    val (scored, lambda) = fitScoredComparisons(comparisons, iterations,
      initialLambda, initialM, initialU)(pairs)
    val (upper, lower) =
      fellegiSunterThresholds(lambda, upperPosterior, lowerPosterior)
    fellegiSunter(scored, upper, lower)(pairs)
  }

  def fuzzyJoin(
      right: DataFrame,
      leftId: String, leftKey: String,
      rightId: String, rightKey: String,
      minJw: Double,
      maxBucket: Int = 64)(left: DataFrame): DataFrame = {
    require(minJw >= 0.0 && minJw <= 1.0, s"minJw must be in [0,1], got $minJw")
    val l = left.select(lit(0).as("__side"),
      col(leftId).as("__id"), col(leftKey).as("__key"))
    val r = right.select(lit(1).as("__side"),
      col(rightId).as("__id"), col(rightKey).as("__key"))
    l.unionByName(r)
      .filter(col("__key").isNotNull)
      .select(col("__side"), col("__id"), col("__key"),
        explode(del1Variants(col("__key"))).as("__var"))
      .groupBy("__var")
      .agg(collect_list(struct(col("__side"), col("__id"), col("__key")))
        .as("__docs"))
      .filter(size(col("__docs")).between(2, maxBucket))
      .select(explode(flatten(transform(
        filter(col("__docs"), x => x("__side") === 0), x =>
          transform(filter(col("__docs"), y => y("__side") === 1), y =>
            struct(x("__id").as("left_id"), x("__key").as("key_left"),
              y("__id").as("right_id"), y("__key").as("key_right"))))))
        .as("__p"))
      .select(col("__p.left_id").as("left_id"),
        col("__p.right_id").as("right_id"),
        col("__p.key_left").as("key_left"),
        col("__p.key_right").as("key_right"))
      .dropDuplicates("left_id", "right_id")
      .withColumn("jw", graft.functions.GraftFunctions
        .jaroWinkler(col("key_left"), col("key_right")))
      .filter(col("jw") >= minJw)
  }

  /** Embedding near-dup pairs at scale: sign-LSH bucketing
    * ([[Similarity.lshBucket]]) generates candidates — the shuffle key is
    * the bucket, so cost is corpus-linear with bucket-local pair
    * generation — then exact cosine ≥ threshold verifies each candidate.
    *
    * Scale hardening, both mirrored exactly in the oracle:
    *  - `maxBucket` caps degenerate buckets (a pile of zero/duplicate
    *    vectors collapses into one bucket; uncapped, that is O(n²) pairs
    *    on one reducer) with the same collect_list + between(2, cap)
    *    pair generation as [[minhashLshPairs]].
    *  - `tables` > 1 unions independent plane sets (disjoint hyperplanes
    *    via planeOffset) to recover pairs a single table's cuts split —
    *    the standard LSH recall fix. One scan computes every table's
    *    bucket (posexplode); candidate pairs are deduplicated BEFORE the
    *    cosine verify so each pair is scored once. */
  def embeddingNearDuplicates(
      idField: String,
      vecField: String,
      threshold: Double,
      planes: Int = 6,
      dim: Int = 64,
      maxBucket: Int = 64,
      tables: Int = 1)(df: DataFrame): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    val buckets = array((0 until tables).map(t =>
      Similarity.lshBucket(col("__v"), planes, dim, t * planes)): _*)
    val bucketed = df
      .select(col(idField).as("__id"), col(vecField).as("__v"))
      .select(col("__id"), col("__v"), posexplode(buckets))
      .withColumnRenamed("pos", "__t").withColumnRenamed("col", "__bucket")
    val pairs = bucketed.groupBy("__t", "__bucket")
      .agg(collect_list(struct(col("__id"), col("__v"))).as("__docs"))
      .filter(size(col("__docs")).between(2, maxBucket))
      .select(explode(flatten(transform(col("__docs"), x =>
        transform(filter(col("__docs"), y => x("__id") < y("__id")), y =>
          struct(x("__id").as("id_a"), y("__id").as("id_b"),
            x("__v").as("va"), y("__v").as("vb")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"),
        col("__p.va").as("__va"), col("__p.vb").as("__vb"))
    val cands =
      if (tables == 1) pairs else pairs.dropDuplicates("id_a", "id_b")
    cands
      .withColumn("cosine", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Cross-corpus EMBEDDING contamination pairs — the semantic rung of
    * the decontamination family: [[graft.ext.TextOps.decontaminate]]
    * catches verbatim n-gram overlap, [[crossCorpusNearDuplicates]]
    * catches lexical near-copies, but a PARAPHRASED benchmark item
    * shares almost no grams with its source and sails through both.
    * Here contamination is cosine ≥ `threshold` between a corpus
    * embedding and an eval-set embedding: sign-LSH buckets
    * ([[Similarity.lshBucket]], the [[embeddingNearDuplicates]]
    * geometry) generate candidates that only ever SPAN the two sides —
    * never corpus×corpus, so work is bounded by cross-side bucket
    * collisions, not the corpus' own duplicate structure — then exact
    * cosine verifies each candidate.
    *
    * Scale hardening mirrored in the oracle: the `maxBucket` cap
    * applies PER SIDE (a degenerate eval bucket cannot drag the whole
    * corpus into one reducer and vice versa); `tables` > 1 unions
    * independent plane sets with pair dedup BEFORE the cosine verify —
    * the standard LSH recall lever, each pair scored once. Both sides'
    * vectors ride the bucket structs, so neither corpus is re-joined
    * for the verify. Probabilistic recall by design (an LSH candidate
    * criterion, like every near-dup leg); raise `tables` to close
    * recall, measured by the [[lshRecallEval]] doctrine.
    *
    * Output: `(doc_id, eval_id, cosine)` — one row per contaminated
    * (corpus, eval) pair above threshold. Feed [[semanticDecontaminate]]
    * to drop the flagged corpus rows, or keep the pairs as the audit
    * trail ([[graft.ext.TextOps.contaminationReport]]'s semantic
    * sibling). */
  def semanticContaminationPairs(
      idField: String,
      vecField: String,
      threshold: Double,
      planes: Int = 6,
      dim: Int = 64,
      maxBucket: Int = 64,
      tables: Int = 1)(corpus: DataFrame, eval: DataFrame): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    // the streaming twin's guard surface, mirrored: a maxBucket of 0
    // (or a threshold outside cosine's range) would silently emit zero
    // candidates instead of failing fast
    require(threshold > -1 && threshold <= 1,
      s"threshold must be in (-1, 1], got $threshold")
    require(planes >= 1, s"planes must be >= 1, got $planes")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    def bucketed(d: DataFrame, out: String) = {
      val buckets = array((0 until tables).map(t =>
        Similarity.lshBucket(col("__v"), planes, dim, t * planes)): _*)
      d.select(col(idField).as("__id"), col(vecField).as("__v"))
        .select(col("__id"), col("__v"), posexplode(buckets))
        .withColumnRenamed("pos", "__t")
        .withColumnRenamed("col", "__bucket")
        .groupBy(col("__t"), col("__bucket"))
        .agg(collect_list(struct(col("__id"), col("__v"))).as(out))
        .filter(size(col(out)).between(1, maxBucket))
    }
    val pairs = bucketed(corpus, "__lc")
      .join(bucketed(eval, "__le"), Seq("__t", "__bucket"))
      .select(explode(flatten(transform(col("__lc"), x =>
        transform(col("__le"), y =>
          struct(x("__id").as("doc_id"), y("__id").as("eval_id"),
            x("__v").as("va"), y("__v").as("vb")))))).as("__p"))
      .select(col("__p.doc_id").as("doc_id"),
        col("__p.eval_id").as("eval_id"),
        col("__p.va").as("__va"), col("__p.vb").as("__vb"))
    val cands =
      if (tables == 1) pairs else pairs.dropDuplicates("doc_id", "eval_id")
    cands
      .withColumn("cosine", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("doc_id", "eval_id", "cosine")
  }

  /** Semantic decontamination — drop every corpus row whose embedding
    * is cosine-≥-`threshold` close to ANY eval-set embedding (the
    * [[semanticContaminationPairs]] criterion); survivors keep all
    * their columns. The left_anti rides the pair frame's distinct
    * doc ids, so the corpus is scanned once for bucketing and once for
    * the anti-join — never joined per eval row. */
  def semanticDecontaminate(
      idField: String,
      vecField: String,
      threshold: Double,
      planes: Int = 6,
      dim: Int = 64,
      maxBucket: Int = 64,
      tables: Int = 1)(corpus: DataFrame, eval: DataFrame): DataFrame = {
    val flagged = semanticContaminationPairs(idField, vecField, threshold,
      planes, dim, maxBucket, tables)(corpus, eval)
      .select(col("doc_id").as("__flagged"))
      .distinct()
    corpus.join(flagged, corpus(idField) === col("__flagged"), "left_anti")
  }

  /** Connected components of an undirected near-dup pair graph by
    * iterative min-label propagation: every node starts labeled with its
    * own id; each round every node takes the minimum label among itself
    * and its neighbors; at fixpoint a node's label is the minimum id of
    * its component — the canonical cluster representative.
    *
    * This is the step that turns pairwise near-dup output into "keep one
    * document per duplicate CLUSTER" (pairs alone can't: near-dup is not
    * transitive). Rounds needed = component diameter (small for dup
    * clusters); each round is ONE shuffled aggregation over
    * |edges|+|nodes| rows. Convergence detection rides inside that same
    * aggregation: each node's own current label travels with the
    * neighbor contributions (tagged via a null-able second column, so
    * `min` recovers it for free), and the round's changed-node test is a
    * filter over the already-materialized result — no separate
    * join-and-recompute job per round, which halved the per-round job
    * count vs the previous form. Checkpointing cuts the lineage so plan
    * size stays constant.
    *
    * Durability: `localCheckpoint` stores blocks on executors only — the
    * right default on a healthy cluster (no DFS round-trip), but one
    * lost executor kills the query mid-iteration. For long cluster-scale
    * runs pass `checkpointDir` and each round materializes as parquet
    * under a per-call unique subdirectory instead (NOT via
    * `sc.setCheckpointDir`, which is session-global and racy across
    * concurrent callers): superseded rounds are deleted as soon as the
    * next round lands, so storage is bounded at two rounds, and the
    * final round's files back the returned frame — the caller deletes
    * the subdirectory (returned nowhere, it is under their
    * `checkpointDir`) after consuming the result. The result is a pure
    * function of the pair set, so the DuckDB oracle reproduces it with a
    * recursive CTE.
    *
    * @param pairs `(id_a, id_b)` undirected edges
    * @param nodes one `id` column; superset of pair endpoints (nodes
    *              without pairs become singleton clusters)
    * @param checkpointDir durable-materialization location (HDFS/S3/
    *              local path); None = executor-local checkpoints */
  def connectedComponents(
      pairs: DataFrame,
      nodes: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = nodes.sparkSession
    val mat = new Materializer(spark, checkpointDir, "graft-cc")
    val edges = mat.keep(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      "edges")
    var labels = mat.round(nodes.select(col(nodes.columns.head).as("node"),
      col(nodes.columns.head).as("lbl")))
    var converged = false
    while (!converged) {
      // neighbor contributions carry own=null; the node's own row carries
      // own=lbl. min(own) ignores nulls -> each node's previous label is
      // recovered in the SAME aggregation that computes the new minimum,
      // so convergence needs no join against the previous round.
      val next = mat.round(
        edges
          .join(labels.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), col("lbl"),
            lit(null).cast("long").as("__own"))
          .unionByName(labels.select(col("node"), col("lbl"),
            col("lbl").as("__own")))
          .groupBy("node")
          .agg(min("lbl").as("lbl"), min("__own").as("__prev")))
      // reads the materialized blocks/files just written — a cheap scan,
      // not a recompute; limit(1) short-circuits on the first change
      converged = next.filter(col("lbl") < col("__prev")).limit(1).isEmpty
      labels = next.select("node", "lbl")
    }
    mat.finish()
    labels
  }

  /** Round-materialization for the iterative graph algorithms.
    *
    * Local mode (`dir = None`): `localCheckpoint` — executor-memory
    * blocks, no DFS round-trip, the right default on a healthy cluster.
    * Durable mode: each round writes parquet under
    * `<dir>/<tag>-<uuid>/` — a PER-CALL unique path, so concurrent
    * callers never clobber each other and nothing touches the
    * session-global `sc.setCheckpointDir`. The previous round's files
    * are deleted as soon as the next round is on disk (storage bounded
    * at two rounds + pinned frames); [[finish]] removes everything
    * except what the returned frame still reads. */
  private final class Materializer(
      spark: org.apache.spark.sql.SparkSession,
      dir: Option[String],
      tag: String) {
    private val runDir = dir.map(d => s"$d/$tag-${java.util.UUID.randomUUID}")
    private var seq = 0
    private var previous: Option[String] = None
    private var current: Option[String] = None

    private def delete(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
      ()
    }
    private def write(df: DataFrame, p: String): DataFrame = {
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    /** Materialize a frame pinned for the whole run (e.g. the edge set). */
    def keep(df: DataFrame, name: String): DataFrame = runDir match {
      case None => df.localCheckpoint()
      case Some(rd) => write(df, s"$rd/$name")
    }
    /** Materialize one iteration; the round before last is deleted. */
    def round(df: DataFrame): DataFrame = runDir match {
      case None => df.localCheckpoint()
      case Some(rd) =>
        seq += 1
        val out = write(df, s"$rd/round-$seq")
        previous.foreach(delete)
        previous = current
        current = Some(s"$rd/round-$seq")
        out
    }
    /** Drop every round except the last, which backs the returned frame —
      * the caller removes the run directory after consuming the result. */
    def finish(): Unit = previous.foreach { p => delete(p); previous = None }
  }

  /** Connected components via alternating large-star / small-star
    * contraction — same contract as [[connectedComponents]]
    * (node → component-minimum label), different round complexity:
    * O(log n) alternation rounds instead of rounds = component DIAMETER.
    *
    * Label propagation is the right default for near-dup clusters (tiny
    * diameter, one cheap aggregation per round). This is the variant you
    * switch to when components can be long chains — reference graphs,
    * link graphs, session stitching — where diameter-many rounds at
    * cluster scale means hundreds of shuffles. Per round:
    *  - **large-star**: every node u links its LARGER neighbors to
    *    m(u) = min(Γ(u) ∪ u) — long chains fold toward local minima;
    *  - **small-star**: every node u re-links its smaller neighbors and
    *    itself to its minimum smaller neighbor — stars flatten.
    * The fixed point is the star forest rooting every node at its
    * component minimum. Edges stay canonical `(big, small)` so each
    * round is two aggregate+join passes over |E| rows, keys uniformly
    * hashed; the change test is one count plus a left_anti probe of the
    * (already materialized) new edge set. Deterministic: min-based, no
    * tie-breaks.
    *
    * @param pairs `(id_a, id_b)` undirected edges
    * @param nodes one `id` column; superset of pair endpoints
    * @param checkpointDir as in [[connectedComponents]] */
  def connectedComponentsStar(
      pairs: DataFrame,
      nodes: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = nodes.sparkSession
    val mat = new Materializer(spark, checkpointDir, "graft-ccstar")

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("big").as("x"), col("small").as("y"))
        .unionByName(e.select(col("small").as("x"), col("big").as("y")))
      val m = nbrs.groupBy("x").agg(min("y").as("__mn"))
        .select(col("x"), least(col("__mn"), col("x")).as("__m"))
      nbrs.join(m, "x").filter(col("y") > col("x"))
        .select(col("y").as("big"), col("__m").as("small")).distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges: node x's strictly-smaller neighbors are exactly
      // the rows with big = x
      val m = e.groupBy("big").agg(min("small").as("__m"))
      e.join(m, "big")
        .select(col("small").as("node"), col("__m"))
        .unionByName(m.select(col("big").as("node"), col("__m")))
        .filter(col("node") =!= col("__m"))
        .select(col("node").as("big"), col("__m").as("small")).distinct()
    }

    var edges = mat.round(pairs
      .select(greatest(col("id_a"), col("id_b")).as("big"),
        least(col("id_a"), col("id_b")).as("small"))
      .filter(col("big") =!= col("small")).distinct())
    var converged = edges.isEmpty
    while (!converged) {
      val next = mat.round(smallStar(largeStar(edges)))
      // set equality on the materialized rounds: equal cardinality plus
      // an empty one-way anti-join (both sides are distinct by
      // construction); limit(1) short-circuits on the first difference
      converged = next.count() == edges.count() &&
        next.join(edges, Seq("big", "small"), "left_anti").limit(1).isEmpty
      edges = next
    }
    mat.finish()
    nodes.select(col(nodes.columns.head).as("node"))
      .join(edges.select(col("big").as("node"), col("small").as("__lbl")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__lbl"), col("node")).as("lbl"))
  }

  /** One row per near-dup cluster: connected components over the LSH
    * near-dup pairs, keeping the minimum-id document per cluster.
    * `algorithm`: "labelprop" ([[connectedComponents]] — default; dup
    * clusters have tiny diameter, one cheap aggregation per round) or
    * "star" ([[connectedComponentsStar]] — O(log n) rounds when
    * components can be long chains). */
  def clusterDedup(
      idField: String,
      textField: String,
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      algorithm: String = "labelprop")(df: DataFrame): DataFrame = {
    val pairs = minhashNearDuplicates(idField, textField, threshold,
      numHashes, bands, shingleSize)(df).select("id_a", "id_b")
    val nodes = df.select(col(idField))
    val comps = algorithm match {
      case "labelprop" => connectedComponents(pairs, nodes)
      case "star"      => connectedComponentsStar(pairs, nodes)
      case other => throw new IllegalArgumentException(
        s"unknown CC algorithm: $other (labelprop | star)")
    }
    df.join(comps, df(idField) === comps("node"))
      .filter(col("node") === col("lbl"))
      .drop("node", "lbl")
  }

  /** Semantic dedup (the SemDeDup shape): one survivor per cluster of
    * embedding-near-duplicate vectors — paraphrases and re-renderings
    * that no lexical dedup catches. Composition of the two pieces this
    * library already ships: [[embeddingNearDuplicates]] generates the
    * near-dup pair graph (sign-LSH buckets + exact-cosine verify, never
    * all-pairs) and [[connectedComponents]] closes it into clusters
    * (cosine-above-threshold is not transitive, so pairs alone cannot
    * elect one keeper per duplicate GROUP). The minimum-id row of each
    * component survives; singletons (no near-dup) survive untouched.
    *
    * Scale shape: inherits both parents' — LSH candidate generation
    * shuffles bucket keys with capped degenerate buckets, and each CC
    * round is one aggregation over |pairs|+|nodes| rows with rounds =
    * component diameter (tiny for dup clusters). Nothing new
    * materializes beyond the pair set, which for a threshold worth
    * deduping at is FAR smaller than the corpus. */
  def semanticDedup(
      idField: String,
      vecField: String,
      threshold: Double,
      planes: Int = 6,
      dim: Int = 64,
      maxBucket: Int = 64,
      tables: Int = 1,
      checkpointDir: Option[String] = None)(df: DataFrame): DataFrame = {
    val pairs = embeddingNearDuplicates(idField, vecField, threshold,
      planes, dim, maxBucket, tables)(df).select("id_a", "id_b")
    val comps = connectedComponents(pairs, df.select(col(idField)),
      checkpointDir)
    df.join(comps, df(idField) === comps("node"))
      .filter(col("node") === col("lbl"))
      .drop("node", "lbl")
  }

  /** [[clusterDedup]] with QUALITY-weighted canonical election: per
    * near-dup cluster keep the highest-`quality` row (ties → minimum id)
    * instead of the minimum-id row — the keeper policy production
    * pipelines actually want (of N near-identical crawls of a page, keep
    * the cleanest, not the one that happened to get the smallest id).
    * Appends `cluster_size` (rows in the keeper's cluster; 1 = was never
    * a duplicate) so downstream mixing can weight by how duplicated a
    * surviving document was.
    *
    * The election is ONE min_by hash-aggregation over
    * `(quality-null-flag, -quality, id, row)` — partial aggregation
    * map-side, one struct per cluster shuffles, no per-cluster window
    * sort. A NULL quality row LOSES to any real candidate (the null
    * flag sorts it last — the same struct pattern as [[exact]]; the
    * bare `-quality` form would let NULL sort first and win), and a
    * NaN quality loses too (NaN is the greatest double in Spark's
    * ordering, so `-NaN` sorts after every real negation). Rows keep
    * deterministic min-id election within each flag class.
    *
    * @param quality a numeric Column evaluated against `df`
    *                (e.g. `TextOps.qualityScore(col("text"))`);
    *                NULL/NaN values lose elections, never win them */
  def clusterDedupByQuality(
      idField: String,
      textField: String,
      quality: Column,
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      checkpointDir: Option[String] = None)(df: DataFrame): DataFrame = {
    val pairs = minhashNearDuplicates(idField, textField, threshold,
      numHashes, bands, shingleSize)(df).select("id_a", "id_b")
    val comps = connectedComponents(pairs, df.select(col(idField)),
      checkpointDir)
    val all = struct(df.columns.map(col): _*)
    df.join(comps, df(idField) === comps("node"))
      .groupBy(col("lbl"))
      .agg(
        min_by(all, struct(quality.isNull, negate(quality), col(idField)))
          .as("__row"),
        count(lit(1)).as("cluster_size"))
      .select(col("__row.*"), col("cluster_size"))
  }

  /** Leakage-safe train/val/test split: route every document of a
    * near-dup CLUSTER to the same split by hashing the cluster
    * representative instead of the document id. Per-document hash
    * splitting ([[graft.ext.TextOps.hashSplit]]) silently leaks when the
    * corpus has near-duplicates — two 95%-identical crawls land in train
    * and test with probability 2·p·(1−p) each, and the eval set stops
    * measuring generalization. Closing the near-dup graph first
    * ([[connectedComponents]]) and hashing the component label makes
    * straddling impossible BY CONSTRUCTION while keeping the split
    * deterministic, rerun-stable, and oracle-reproducible.
    *
    * Returns every input row + `cluster_rep` (the component's minimum
    * id) + `split`. Singletons hash their own id — identical routing to
    * plain hashSplit for the non-duplicated bulk of the corpus. */
  def clusterSafeSplit(
      idField: String,
      textField: String,
      splits: Seq[(String, Double)],
      threshold: Double,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      salt: String = "",
      checkpointDir: Option[String] = None)(df: DataFrame): DataFrame = {
    val pairs = minhashNearDuplicates(idField, textField, threshold,
      numHashes, bands, shingleSize)(df).select("id_a", "id_b")
    val comps = connectedComponents(pairs, df.select(col(idField)),
      checkpointDir)
    df.join(comps, df(idField) === comps("node"))
      .withColumn("split",
        TextOps.hashSplit(col("lbl"), splits, salt = salt))
      .drop("node")
      .withColumnRenamed("lbl", "cluster_rep")
  }

  /** All-pairs embedding near-dup — O(n²) cartesian product. Exists ONLY
    * as the exact-recall baseline for unit tests of
    * [[embeddingNearDuplicates]]; never ship it against a corpus. */
  def embeddingNearDuplicatesBrute(
      idField: String,
      vecField: String,
      threshold: Double)(df: DataFrame): DataFrame = {
    val docs = df.select(col(idField), col(vecField))
    val a = docs.select(col(idField).as("id_a"), col(vecField).as("__va"))
    val b = docs.select(col(idField).as("id_b"), col(vecField).as("__vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
