package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Entry points for graft's native Catalyst expressions.
  *
  * Three ways in, mirroring how Spark's own functions surface:
  *  - [[GraftFunctions.cosine]]: Column API, no registration needed —
  *    builds the expression node directly.
  *  - [[GraftFunctions.register]]: installs `graft_cosine` into an
  *    existing session's function registry for `spark.sql(...)` use.
  *  - [[GraftExtensions]]: `SparkSessionExtensions` injector for
  *    cluster-wide installation via
  *    `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  /** Extract a literal Int argument of a SQL-registered kernel (the
    * structural parameters — hash counts, gram sizes, chunk bounds —
    * must be constants: they shape the expression, not the data). */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def arity(fn: String, children: Seq[Expression], n: Int): Unit =
    require(children.length == n, s"$fn expects exactly $n arguments")

  private def litStr(e: Expression, fn: String, arg: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a string literal, got $other")
  }

  /** Parse a foldable `array<string>` of 'left right' merge entries
    * (the SQL-surface form of a BPE merge table — it must be foldable
    * because it shapes the expression, not the data). Shared by the
    * graft_bpe_count / graft_bpe_tokenize builders. */
  private def parseMerges(fn: String, m: Expression): Seq[(String, String)] = {
    require(m.foldable &&
        m.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
      s"$fn: merges must be a foldable array of 'left right' strings")
    val arr = m.eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    require(arr != null, s"$fn: merges must not be null")
    (0 until arr.numElements()).map { i =>
      val u = arr.getUTF8String(i)
      require(u != null, s"$fn: merge entries must not be null")
      val s = u.toString
      val sp = s.indexOf(' ')
      require(sp > 0 && sp < s.length - 1,
        s"$fn: merge '$s' must be 'left right'")
      (s.substring(0, sp), s.substring(sp + 1))
    }
  }

  /** Parse a foldable `array<string>` of 'gram weight' entries (the
    * SQL-surface form of a [[LinearTextScore]] weight table; the gram
    * may contain spaces, the integer weight follows the LAST one). */
  private def parseWeights(fn: String, m: Expression): Seq[(String, Long)] = {
    require(m.foldable &&
        m.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
      s"$fn: weights must be a foldable array of 'gram weight' strings")
    val arr = m.eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    require(arr != null, s"$fn: weights must not be null")
    (0 until arr.numElements()).map { i =>
      val u = arr.getUTF8String(i)
      require(u != null, s"$fn: weight entries must not be null")
      val s = u.toString
      val sp = s.lastIndexOf(' ')
      require(sp > 0 && sp < s.length - 1,
        s"$fn: weight entry '$s' must be 'gram weight'")
      val w = try s.substring(sp + 1).toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$fn: weight in '$s' is not an integer")
      }
      (s.substring(0, sp), w)
    }
  }

  /** Every SQL-registrable native kernel: name -> (info, builder).
    * Structural Int parameters arrive as literals in SQL. */
  private[functions] val sqlFunctions: Seq[
      (String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      { children: Seq[Expression] =>
        arity("graft_cosine", children, 2)
        CosineSimilarity(children.head, children(1)) }),
    ("graft_minhash",
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      { children: Seq[Expression] =>
        arity("graft_minhash", children, 2)
        MinHashSignature(children.head,
          litInt(children(1), "graft_minhash", "numHashes")) }),
    ("graft_minhash_oph",
      new ExpressionInfo(classOf[MinHashSignatureOph].getName, "graft_minhash_oph"),
      { children: Seq[Expression] =>
        arity("graft_minhash_oph", children, 2)
        MinHashSignatureOph(children.head,
          litInt(children(1), "graft_minhash_oph", "numHashes")) }),
    ("graft_simhash",
      new ExpressionInfo(classOf[SimHash60].getName, "graft_simhash"),
      { children: Seq[Expression] =>
        arity("graft_simhash", children, 1)
        SimHash60(children.head) }),
    ("graft_jaro_winkler",
      new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      { children: Seq[Expression] =>
        arity("graft_jaro_winkler", children, 2)
        JaroWinkler(children.head, children(1)) }),
    ("graft_jaccard",
      new ExpressionInfo(classOf[ArrayJaccard].getName, "graft_jaccard"),
      { children: Seq[Expression] =>
        arity("graft_jaccard", children, 2)
        ArrayJaccard(children.head, children(1)) }),
    ("graft_normalize",
      new ExpressionInfo(classOf[NormalizeText].getName, "graft_normalize"),
      { children: Seq[Expression] =>
        arity("graft_normalize", children, 2)
        NormalizeText(children.head,
          litStr(children(1), "graft_normalize", "form")) }),
    ("graft_strip_accents",
      new ExpressionInfo(classOf[StripAccents].getName, "graft_strip_accents"),
      { children: Seq[Expression] =>
        arity("graft_strip_accents", children, 1)
        StripAccents(children.head) }),
    ("graft_sign_sketch",
      new ExpressionInfo(classOf[SignSketch64].getName, "graft_sign_sketch"),
      { children: Seq[Expression] =>
        arity("graft_sign_sketch", children, 2)
        SignSketch64(children.head,
          litInt(children(1), "graft_sign_sketch", "dim")) }),
    ("graft_sign_sketch_wide",
      new ExpressionInfo(classOf[SignSketchWide].getName, "graft_sign_sketch_wide"),
      { children: Seq[Expression] =>
        arity("graft_sign_sketch_wide", children, 2)
        SignSketchWide(children.head,
          litInt(children(1), "graft_sign_sketch_wide", "dim")) }),
    ("graft_hamming_words",
      new ExpressionInfo(classOf[HammingWords].getName, "graft_hamming_words"),
      { children: Seq[Expression] =>
        arity("graft_hamming_words", children, 2)
        HammingWords(children.head, children(1)) }),
    ("graft_pq_encode",
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      { children: Seq[Expression] =>
        arity("graft_pq_encode", children, 3)
        PqEncode(children.head, children(1),
          litInt(children(2), "graft_pq_encode", "m")) }),
    ("graft_pq_adc",
      new ExpressionInfo(classOf[PqAdcScore].getName, "graft_pq_adc"),
      { children: Seq[Expression] =>
        arity("graft_pq_adc", children, 2)
        PqAdcScore(children.head, children(1)) }),
    ("graft_ahash60",
      new ExpressionInfo(classOf[PerceptualHash60].getName, "graft_ahash60"),
      { children: Seq[Expression] =>
        arity("graft_ahash60", children, 1)
        PerceptualHash60(children.head, dHash = false) }),
    ("graft_dhash60",
      new ExpressionInfo(classOf[PerceptualHash60].getName, "graft_dhash60"),
      { children: Seq[Expression] =>
        arity("graft_dhash60", children, 1)
        PerceptualHash60(children.head, dHash = true) }),
    ("graft_winnow",
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "graft_winnow"),
      { children: Seq[Expression] =>
        arity("graft_winnow", children, 3)
        WinnowFingerprints(children.head,
          litInt(children(1), "graft_winnow", "k"),
          litInt(children(2), "graft_winnow", "w")) }),
    ("graft_cdc_chunks",
      new ExpressionInfo(classOf[CdcChunkFingerprints].getName, "graft_cdc_chunks"),
      { children: Seq[Expression] =>
        arity("graft_cdc_chunks", children, 4)
        CdcChunkFingerprints(children.head,
          litInt(children(1), "graft_cdc_chunks", "minBytes"),
          litInt(children(2), "graft_cdc_chunks", "avgBits"),
          litInt(children(3), "graft_cdc_chunks", "maxBytes")) }),
    // Spark's internal runtime-filter bloom pair, surfaced for SQL: the
    // analyzer wraps a returned AggregateFunction itself, so the builder
    // hands back the bare aggregate. NOTE this raw (hashed, items, bits)
    // form inherits BloomFilterAggregate's silent clamp at the
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems/.maxNumBits
    // session caps; [[bloomFilterAgg]] is the validated surface that
    // refuses over-cap sizings instead
    ("graft_bloom_agg",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      { children: Seq[Expression] =>
        arity("graft_bloom_agg", children, 3)
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2)) }),
    // theta-sketch set-algebra surface (the analyzer wraps returned
    // AggregateFunctions itself, the bloom precedent)
    ("graft_theta_agg",
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "graft_theta_agg"),
      { children: Seq[Expression] =>
        arity("graft_theta_agg", children, 2)
        ThetaSketchAgg(children.head,
          litInt(children(1), "graft_theta_agg", "nominalEntries")) }),
    ("graft_theta_union",
      new ExpressionInfo(classOf[ThetaUnionAgg].getName, "graft_theta_union"),
      { children: Seq[Expression] =>
        arity("graft_theta_union", children, 2)
        ThetaUnionAgg(children.head,
          litInt(children(1), "graft_theta_union", "nominalEntries")) }),
    ("graft_theta_estimate",
      new ExpressionInfo(classOf[ThetaEstimate].getName, "graft_theta_estimate"),
      { children: Seq[Expression] =>
        arity("graft_theta_estimate", children, 1)
        ThetaEstimate(children.head) }),
    ("graft_theta_intersect",
      new ExpressionInfo(
        classOf[ThetaSetOpEstimate].getName, "graft_theta_intersect"),
      { children: Seq[Expression] =>
        arity("graft_theta_intersect", children, 2)
        ThetaSetOpEstimate(children.head, children(1), "intersect") }),
    ("graft_theta_diff",
      new ExpressionInfo(
        classOf[ThetaSetOpEstimate].getName, "graft_theta_diff"),
      { children: Seq[Expression] =>
        arity("graft_theta_diff", children, 2)
        ThetaSetOpEstimate(children.head, children(1), "diff") }),
    // KLL quantile-sketch trio — the mergeable quantile state (the
    // analyzer wraps returned AggregateFunctions itself, the bloom
    // precedent above)
    ("graft_kll_agg",
      new ExpressionInfo(classOf[KllSketchAgg].getName, "graft_kll_agg"),
      { children: Seq[Expression] =>
        arity("graft_kll_agg", children, 2)
        KllSketchAgg(children.head,
          litInt(children(1), "graft_kll_agg", "k")) }),
    ("graft_kll_merge",
      new ExpressionInfo(classOf[KllMergeAgg].getName, "graft_kll_merge"),
      { children: Seq[Expression] =>
        arity("graft_kll_merge", children, 2)
        KllMergeAgg(children.head,
          litInt(children(1), "graft_kll_merge", "k")) }),
    ("graft_kll_quantile",
      new ExpressionInfo(
        classOf[KllSketchQuantile].getName, "graft_kll_quantile"),
      { children: Seq[Expression] =>
        arity("graft_kll_quantile", children, 2)
        KllSketchQuantile(children.head, children(1)) }),
    // CMS frequency trio — the mergeable point-frequency state
    ("graft_cms_agg",
      new ExpressionInfo(classOf[CmsAgg].getName, "graft_cms_agg"),
      { children: Seq[Expression] =>
        arity("graft_cms_agg", children, 4)
        CmsAgg(children.head,
          litInt(children(1), "graft_cms_agg", "depth"),
          litInt(children(2), "graft_cms_agg", "width"),
          litInt(children(3), "graft_cms_agg", "seed")) }),
    ("graft_cms_merge",
      new ExpressionInfo(classOf[CmsMergeAgg].getName, "graft_cms_merge"),
      { children: Seq[Expression] =>
        arity("graft_cms_merge", children, 4)
        CmsMergeAgg(children.head,
          litInt(children(1), "graft_cms_merge", "depth"),
          litInt(children(2), "graft_cms_merge", "width"),
          litInt(children(3), "graft_cms_merge", "seed")) }),
    ("graft_cms_estimate",
      new ExpressionInfo(classOf[CmsEstimate].getName, "graft_cms_estimate"),
      { children: Seq[Expression] =>
        arity("graft_cms_estimate", children, 2)
        CmsEstimate(children.head, children(1)) }),
    ("graft_deflate_size",
      new ExpressionInfo(classOf[DeflateSize].getName, "graft_deflate_size"),
      { children: Seq[Expression] =>
        arity("graft_deflate_size", children, 2)
        DeflateSize(children.head,
          litInt(children(1), "graft_deflate_size", "level")) }),
    ("graft_media_meta",
      new ExpressionInfo(
        classOf[MediaHeaderMeta].getName, "graft_media_meta"),
      { children: Seq[Expression] =>
        arity("graft_media_meta", children, 1)
        MediaHeaderMeta(children.head) }),
    ("graft_wav_stats",
      new ExpressionInfo(
        classOf[WavPcmStats].getName, "graft_wav_stats"),
      { children: Seq[Expression] =>
        arity("graft_wav_stats", children, 1)
        WavPcmStats(children.head) }),
    ("graft_zip_entries",
      new ExpressionInfo(
        classOf[ZipEntries].getName, "graft_zip_entries"),
      { children: Seq[Expression] =>
        arity("graft_zip_entries", children, 1)
        ZipEntries(children.head) }),
    ("graft_warc_records",
      new ExpressionInfo(
        classOf[WarcRecords].getName, "graft_warc_records"),
      { children: Seq[Expression] =>
        arity("graft_warc_records", children, 1)
        WarcRecords(children.head) }),
    ("graft_tar_entries",
      new ExpressionInfo(
        classOf[TarEntries].getName, "graft_tar_entries"),
      { children: Seq[Expression] =>
        arity("graft_tar_entries", children, 1)
        TarEntries(children.head) }),
    ("graft_fwht_rotate",
      new ExpressionInfo(
        classOf[FwhtRotate].getName, "graft_fwht_rotate"),
      { children: Seq[Expression] =>
        arity("graft_fwht_rotate", children, 3)
        FwhtRotate(children.head,
          litInt(children(1), "graft_fwht_rotate", "dim"),
          litInt(children(2), "graft_fwht_rotate", "seed")) }),
    // weight entries are 'gram weight' strings (gram may contain
    // spaces; the weight is everything after the LAST space) and must
    // be foldable — the model shapes the expression, not the data
    ("graft_linear_score",
      new ExpressionInfo(
        classOf[LinearTextScore].getName, "graft_linear_score"),
      { children: Seq[Expression] =>
        arity("graft_linear_score", children, 3)
        LinearTextScore(children.head,
          parseWeights("graft_linear_score", children(1)),
          litInt(children(2), "graft_linear_score", "maxN")) }),
    // the merge table must be foldable — it shapes the expression (a
    // hash map built once), not the data; elements are 'left right'
    ("graft_bpe_count",
      new ExpressionInfo(classOf[BpeTokenCount].getName, "graft_bpe_count"),
      { children: Seq[Expression] =>
        arity("graft_bpe_count", children, 2)
        BpeTokenCount(children.head,
          parseMerges("graft_bpe_count", children(1))) }),
    ("graft_bpe_tokenize",
      new ExpressionInfo(classOf[BpeTokenize].getName, "graft_bpe_tokenize"),
      { children: Seq[Expression] =>
        arity("graft_bpe_tokenize", children, 2)
        BpeTokenize(children.head,
          parseMerges("graft_bpe_tokenize", children(1))) }),
    // a binary-LITERAL sketch takes Spark's BloomFilterMightContain
    // (whose codegen is correct for that shape — the Scala path,
    // [[bloomMightContain]], always ships literals); any other sketch
    // shape (the documented scalar-subquery form) takes
    // [[GraftMightContain]], whose interpreted probe is DELIBERATE —
    // BloomFilterMightContain's doGenCode emits invalid Java for a
    // user-written subquery child and falls back with two
    // `ERROR CodeGenerator` lines per query (see GraftMightContain)
    ("graft_might_contain",
      new ExpressionInfo(
        classOf[GraftMightContain].getName, "graft_might_contain"),
      { children: Seq[Expression] =>
        arity("graft_might_contain", children, 2)
        children.head match {
          case lit: org.apache.spark.sql.catalyst.expressions.Literal =>
            org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
              lit, children(1))
          case other => GraftMightContain(other, children(1))
        } }),
    ("graft_mmr_select",
      new ExpressionInfo(classOf[MmrSelect].getName, "graft_mmr_select"),
      { children: Seq[Expression] =>
        arity("graft_mmr_select", children, 5)
        MmrSelect(children.head, children(1), children(2),
          litInt(children(3), "graft_mmr_select", "k"),
          litDouble(children(4), "graft_mmr_select", "lambda")) }))

  /** Extract a literal Double argument (accepts the SQL parser's
    * DECIMAL literals too — `0.7` parses as DECIMAL(1,1)). */
  private def litDouble(e: Expression, fn: String, arg: String): Double =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) =>
        v
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a numeric literal, got $other")
    }

  /** Native codegen cosine similarity over two `array<float>` columns. */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** Native MMR greedy diversity re-rank over a per-query pool (see
    * [[MmrSelect]]): three parallel arrays (ids, relevances, vectors)
    * in (rel desc, id asc) order → selection-ordered
    * `array<struct<item_id, cosine, mmr>>`. */
  def mmrSelect(
      ids: Column, rels: Column, vecs: Column,
      k: Int, lambda: Double): Column =
    Bridge.column(MmrSelect(Bridge.expression(ids), Bridge.expression(rels),
      Bridge.expression(vecs), k, lambda))

  /** Native MinHash signature over a shingle array (see
    * [[MinHashSignature]]). */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(shingles), numHashes))

  /** Native distinct shingle strings (see [[ShingleStrings]]). */
  def shingleStrings(tokens: Column, n: Int,
      distinct: Boolean = true): Column =
    Bridge.column(ShingleStrings(Bridge.expression(tokens), n, distinct))

  /** Native multi-width positioned gram digests (see [[GramStructs]]).
    * Structural-parameter kernel used inside operators (not
    * SQL-registered — its output is an internal struct stream, not a
    * user-facing scalar). */
  def gramStructs(tokens: Column, ns: Seq[Int], gcNs: Seq[Int]): Column =
    Bridge.column(GramStructs(Bridge.expression(tokens), ns, gcNs))

  /** Native Unicode normalization (see [[NormalizeText]]). */
  def normalizeText(text: Column, form: String = "NFC"): Column =
    Bridge.column(NormalizeText(Bridge.expression(text), form))

  /** Native accent/diacritic stripping (see [[StripAccents]]). */
  def stripAccents(text: Column): Column =
    Bridge.column(StripAccents(Bridge.expression(text)))

  /** Native one-permutation-hashing MinHash signature (see
    * [[MinHashSignatureOph]]). */
  def minhashSignatureOph(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignatureOph(Bridge.expression(shingles), numHashes))

  /** Native distinct-element Jaccard over two string arrays (see
    * [[ArrayJaccard]]). */
  def arrayJaccard(a: Column, b: Column): Column =
    Bridge.column(ArrayJaccard(Bridge.expression(a), Bridge.expression(b)))

  /** Native early-terminating `jaccard(a, b) >= threshold` over two
    * distinct hash-ordered arrays (see [[HashOrderedJaccardAtLeast]]). */
  def hashOrderedJaccardAtLeast(a: Column, b: Column,
      threshold: Double): Column =
    Bridge.column(HashOrderedJaccardAtLeast(Bridge.expression(a),
      Bridge.expression(b), threshold))

  /** Native Jaro–Winkler similarity between two strings (see
    * [[JaroWinkler]]). */
  def jaroWinkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(a), Bridge.expression(b)))

  /** Native 64-bit sign sketch over a numeric array (see
    * [[SignSketch64]]). */
  def signSketch64(vec: Column, dim: Int): Column =
    Bridge.column(SignSketch64(Bridge.expression(vec), dim))

  /** Native multi-word sign sketch over a numeric array — ⌈dim/64⌉
    * BIGINT words (see [[SignSketchWide]]). */
  def signSketchWide(vec: Column, dim: Int): Column =
    Bridge.column(SignSketchWide(Bridge.expression(vec), dim))

  /** Native summed-popcount Hamming distance between two multi-word
    * sign sketches (see [[HammingWords]]). */
  def hammingWords(a: Column, b: Column): Column =
    Bridge.column(HammingWords(Bridge.expression(a), Bridge.expression(b)))

  /** Native product-quantization encoder: per-subspace squared-L2
    * argmin positions against an id-sorted centroid-vector array (see
    * [[PqEncode]]). */
  def pqEncode(vec: Column, cents: Column, m: Int): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), Bridge.expression(cents), m))

  /** Native ADC score: Σ over subspaces of `lut[s][codes[s]]` (see
    * [[PqAdcScore]]). */
  def pqAdcScore(codes: Column, lut: Column): Column =
    Bridge.column(PqAdcScore(Bridge.expression(codes), Bridge.expression(lut)))

  /** Native 60-bit perceptual blob hash — aHash mean test or dHash
    * gradient test (see [[PerceptualHash60]]). */
  def perceptualHash60(blob: Column, dHash: Boolean): Column =
    Bridge.column(PerceptualHash60(Bridge.expression(blob), dHash))

  /** Native 60-bit SimHash over a token array (see [[SimHash60]]). */
  def simhash60(tokens: Column): Column =
    Bridge.column(SimHash60(Bridge.expression(tokens)))

  /** Native winnowing fingerprints over a string (see
    * [[WinnowFingerprints]]). */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    Bridge.column(WinnowFingerprints(Bridge.expression(text), k, w))

  /** Native content-defined chunk fingerprints over a blob (see
    * [[CdcChunkFingerprints]]). */
  def cdcChunkFingerprints(
      blob: Column, minBytes: Int, avgBits: Int, maxBytes: Int): Column =
    Bridge.column(CdcChunkFingerprints(
      Bridge.expression(blob), minBytes, avgBits, maxBytes))

  /** Native greedy-BPE token count over whitespace words (see
    * [[BpeTokenCount]]; requires a rank-consistent merge table). */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeTokenCount(Bridge.expression(text), merges))

  /** Native greedy-BPE tokenizer emitting marker-prefixed pieces (see
    * [[BpeTokenize]]; same merge engine as [[bpeTokenCount]]). */
  def bpeTokenize(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeTokenize(Bridge.expression(text), merges))

  /** The word-initial piece marker [[BpeTokenize]] emits (the
    * SentencePiece `▁`) — exposed so detokenizers and oracles share
    * the one definition. */
  def bpeMarker: String = BpeKernel.Marker

  /** DEFLATE-compressed size of a blob at a fixed level (see
    * [[DeflateSize]]) — the compression-ratio quality primitive. */
  def deflateSize(blob: Column, level: Int = 6): Column =
    Bridge.column(DeflateSize(Bridge.expression(blob), level))

  /** Decode-free media header metadata over a blob (see
    * [[MediaHeaderMeta]]): `struct(format, width, height, channels,
    * sample_rate)`. */
  def mediaMeta(blob: Column): Column =
    Bridge.column(MediaHeaderMeta(Bridge.expression(blob)))

  /** PCM-16 waveform statistics from WAV bytes (see [[WavPcmStats]]):
    * `struct(n_samples, peak, sum_sq, rms)`; NULL for anything that is
    * not a readable PCM-16 WAV. */
  def wavStats(blob: Column): Column =
    Bridge.column(WavPcmStats(Bridge.expression(blob)))

  /** Deterministic structured rotation H·D/√d over an `array<float>`
    * (see [[FwhtRotate]]): the PQ-decorrelation preprocessing. */
  def fwhtRotate(vec: Column, dim: Int, seed: Int = 0): Column =
    Bridge.column(FwhtRotate(Bridge.expression(vec), dim, seed))

  /** ZIP central-directory listing over archive bytes (see
    * [[ZipEntries]]): `array<struct<name, compressed, uncompressed,
    * local_offset>>`, NULL when unreadable. */
  def zipEntries(blob: Column): Column =
    Bridge.column(ZipEntries(Bridge.expression(blob)))

  /** WARC record listing over uncompressed shard bytes (see
    * [[WarcRecords]]): `array<struct<rec_type, target_uri,
    * content_length, offset>>`, NULL when unreadable. */
  def warcRecords(blob: Column): Column =
    Bridge.column(WarcRecords(Bridge.expression(blob)))

  /** USTAR member listing over tarball bytes (see [[TarEntries]]):
    * `array<struct<name, size, typeflag, offset>>`, NULL when
    * unreadable. */
  def tarEntries(blob: Column): Column =
    Bridge.column(TarEntries(Bridge.expression(blob)))

  /** Native linear n-gram classifier statistics over a token array
    * (see [[LinearTextScore]]): `struct(w_sum, n_grams)` with the
    * integer-quantized model riding in the expression. */
  def linearTextScore(
      tokens: Column, weights: Seq[(String, Long)], maxN: Int): Column =
    Bridge.column(LinearTextScore(Bridge.expression(tokens), weights, maxN))

  /** KLL quantile-sketch aggregate over a DOUBLE column: one ~2.4 KB
    * (at k = 200) binary sketch per group — the mergeable QUANTILE
    * state next to the additive ([[graft.ops.Ops.aggregateState]]) and
    * distinct-count (`aggregateStateHll`) legs. Exact order statistics
    * while a group has seen ≤ k values; the DataSketches ~1.65%
    * rank-error band beyond (see [[KllSketchAgg]]). */
  def kllAgg(value: Column, k: Int = 200): Column =
    Bridge.column(KllSketchAgg(Bridge.expression(value), k)
      .toAggregateExpression())

  /** Fold serialized KLL sketches (the bytes [[kllAgg]] produced) into
    * one — the maintenance merge. */
  def kllMerge(sketch: Column, k: Int = 200): Column =
    Bridge.column(KllMergeAgg(Bridge.expression(sketch), k)
      .toAggregateExpression())

  /** Quantile query against a serialized KLL sketch (rank ∈ [0, 1];
    * empty/NULL sketch → NULL). */
  def kllQuantile(sketch: Column, rank: Column): Column =
    Bridge.column(KllSketchQuantile(
      Bridge.expression(sketch), Bridge.expression(rank)))

  /** Count–min-sketch aggregate over a BIGINT or STRING column: one
    * depth×width counter matrix per group — the mergeable
    * point-frequency state (see [[CmsAgg]]). Estimates never
    * undercount; exact in the collision-free regime. */
  def cmsAgg(value: Column,
      depth: Int = 5, width: Int = 4096, seed: Int = 1): Column =
    Bridge.column(CmsAgg(Bridge.expression(value), depth, width, seed)
      .toAggregateExpression())

  /** Fold serialized count–min sketches (the bytes [[cmsAgg]]
    * produced) into one — the maintenance merge (element-wise counter
    * addition; shapes must match). */
  def cmsMerge(sketch: Column,
      depth: Int = 5, width: Int = 4096, seed: Int = 1): Column =
    Bridge.column(CmsMergeAgg(Bridge.expression(sketch), depth, width, seed)
      .toAggregateExpression())

  /** Point-frequency query against a serialized count–min sketch
    * (BIGINT or STRING key, same identity the sketch was built with;
    * NULL sketch/key → NULL). */
  def cmsEstimate(sketch: Column, key: Column): Column =
    Bridge.column(CmsEstimate(
      Bridge.expression(sketch), Bridge.expression(key)))

  /** Theta-sketch aggregate over a BIGINT or STRING column: one binary
    * compact sketch per group — the set-algebra distinct state (see
    * [[ThetaSketchAgg]]). */
  def thetaAgg(value: Column, nominalEntries: Int = 4096): Column =
    Bridge.column(ThetaSketchAgg(Bridge.expression(value), nominalEntries)
      .toAggregateExpression())

  /** Fold serialized theta sketches (the bytes [[thetaAgg]] produced)
    * into one union — the maintenance merge. */
  def thetaUnion(sketch: Column, nominalEntries: Int = 4096): Column =
    Bridge.column(ThetaUnionAgg(Bridge.expression(sketch), nominalEntries)
      .toAggregateExpression())

  /** Rounded distinct estimate of a serialized theta sketch (exact in
    * the pre-capacity regime). */
  def thetaEstimate(sketch: Column): Column =
    Bridge.column(ThetaEstimate(Bridge.expression(sketch)))

  /** |A ∩ B| estimate over two serialized theta sketches. */
  def thetaIntersect(a: Column, b: Column): Column =
    Bridge.column(ThetaSetOpEstimate(
      Bridge.expression(a), Bridge.expression(b), "intersect"))

  /** |A \ B| estimate over two serialized theta sketches. */
  def thetaDiff(a: Column, b: Column): Column =
    Bridge.column(ThetaSetOpEstimate(
      Bridge.expression(a), Bridge.expression(b), "diff"))

  /** Bloom-filter aggregate over a PRE-HASHED long column (use
    * `xxhash64(col)` — the insert primitive is putLong, so build and
    * probe must hash identically): one binary sketch row sized by
    * Spark's own optimal-bits formula for (expectedItems, fpp). This is
    * Spark's internal runtime-filter aggregate
    * (`BloomFilterAggregate`), surfaced because the SQL registry keeps
    * it private.
    *
    * SIZE CAPS: `BloomFilterAggregate` silently clamps its arguments to
    * the session confs `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems` / `.maxNumBits` (defaults 4M items / 64M bits ≈
    * 8 MiB). A clamped sketch stays *correct* but saturates — the
    * false-positive rate climbs toward 1 and the prefilter silently
    * stops filtering — so instead of inheriting that foot-gun this
    * builder REFUSES requests above the caps. To build a bigger sketch,
    * raise both confs on the session first (they exist to bound what
    * Spark's own injected runtime filters broadcast; a deliberate
    * index sketch may legitimately be much larger).
    *
    * The caps are read the same way `BloomFilterAggregate` itself reads
    * them — `SQLConf.get`, which resolves to the active session's conf
    * when one exists and to the compiled defaults otherwise — so this
    * stays a session-free Column builder. The check runs at
    * Column-construction time only: lowering the caps (or executing on
    * a different session with lower caps) AFTER building the Column
    * reintroduces the aggregate's own clamp-and-saturate behavior,
    * because the aggregate re-reads the confs lazily at execution. */
  def bloomFilterAgg(hashed: Column, expectedItems: Long, fpp: Double): Column = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val bits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val maxItems =
      conf.getConf(org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)
    val maxBits =
      conf.getConf(org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)
    require(expectedItems <= maxItems && bits <= maxBits,
      s"bloom sketch for $expectedItems items at fpp=$fpp needs $bits bits, " +
        s"over the session caps (maxNumItems=$maxItems, maxNumBits=$maxBits); " +
        "BloomFilterAggregate would silently clamp and saturate. Raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/.maxNumBits " +
        "before building the plan.")
    Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        Bridge.expression(hashed),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(bits))
        .toAggregateExpression())
  }

  /** Membership probe against a serialized bloom sketch (the bytes
    * [[bloomFilterAgg]] produced): true = maybe present, false =
    * DEFINITELY absent. The sketch ships as a foldable binary literal —
    * the form `BloomFilterMightContain` accepts — and is broadcast with
    * the plan exactly like Spark's own injected runtime filters. */
  def bloomMightContain(bloom: Array[Byte], hashed: Column): Column =
    Bridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloom, org.apache.spark.sql.types.BinaryType),
        Bridge.expression(hashed)))

  /** Evaluate `c` ONCE per row and hand it to `f` as a bound lambda
    * variable (via a one-element array + transform + element_at).
    *
    * Catalyst performs no common-subexpression elimination across
    * higher-order-function lambdas: an expression subtree referenced N
    * times inside a lambda body is evaluated N times per row (and a
    * subtree referenced inside a lambda that iterates M elements is
    * evaluated M times). Wrapping the subtree with `bind` turns those
    * references into bound-variable reads. Use it whenever an expensive
    * expression (a hash array, a tokenization) feeds a transform/
    * aggregate/zip_with body. */
  def bind(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** The shared deterministic 32-bit content hash: unsigned value of the
    * first 8 hex chars of md5(salt || key) — the single definition behind
    * every hash-keyed sampler/splitter ([[graft.ops.Ops.sampleHash]],
    * `sampleStratifiedHash`, `TextOps.hashSplit`) and their oracle
    * mirrors; cutoff = fraction · 2³². Runs on the native [[Md5Prefix32]]
    * kernel (digest bytes straight to a 32-bit word) instead of the
    * original `conv(substring(md5(concat(…)),1,8),16,10)` chain — the hex
    * string materialization + `conv`'s per-row BigInteger parse were the
    * dominant cost of the resampling ops (bootstrapCI/permutationTest pay
    * one hash per (row, rep)); bit-parity with the builtin-expression
    * form is spec-pinned in HashExpressionsSpec. */
  def md5Prefix32(key: Column, salt: String = ""): Column =
    Bridge.column(Md5Prefix32(
      Bridge.expression(key.cast("string")), salt))

  /** Register every native kernel for SQL use in this session
    * (idempotent): graft_cosine, graft_minhash, graft_simhash,
    * graft_jaccard, graft_winnow, graft_cdc_chunks, graft_bpe_count,
    * and the bloom pair graft_bloom_agg / graft_might_contain. */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, info, builder) =>
      Bridge.registerFunction(spark, name, info, builder)
    }
}

/** `spark.sql.extensions` injector: registers graft's native functions
  * at session build on every node of a cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}
