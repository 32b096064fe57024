package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (extension surface, SURVEY.md §2.12 / BASELINE.json north-star).
  *
  * Everything here is pure Column expressions — whole-stage-codegen
  * friendly, no UDFs — so a 100 TB corpus pays one projection pass with
  * no shuffle. The only cross-engine primitive is md5 (identical hex
  * output in Spark and DuckDB), which makes every operator exactly
  * reproducible by the DuckDB oracle.
  */
object TextOps {

  /** Whitespace tokens. Both engines split identically on single spaces. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct whitespace tokens (set semantics for jaccard). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Out-of-vocabulary rate per document — the tokenizer-coverage
    * probe run BEFORE committing a vocabulary to a training run: a
    * vocab that covers 99.9% of English tokens and 70% of the German
    * slice silently shreds one language into fragments/UNKs, and only
    * a per-document (rollup-able per source/lang) OOV report shows it.
    * Both granularities matter and both are exact counts: token-level
    * (`n_tokens, n_oov` — how much of the STREAM the vocab misses) and
    * type-level (`n_types, n_oov_types` — how much of the document's
    * VOCABULARY it misses; a single repeated rare word moves the two
    * very differently). Rates are one division each. NULL/empty text
    * follows the library-wide split convention both engines share
    * (`split('', ' ') = ['']`): such documents carry ONE empty-string
    * token, which counts OOV unless the vocab lists `''` — so a blank
    * document reports `oov_rate = 1.0`, spec-pinned (a row the probe
    * must surface, not hide: blank text IS a coverage problem).
    * `vocab` is any single-column token table (a
    * [[graft.ext.Frequency.heavyHitters]] result, a stored BPE vocab,
    * a language list) — de-duplicated here, LEFT-joined once
    * (broadcast when it fits; vocabularies are vocabulary-sized), one
    * per-doc hash-agg. Output:
    * `<id>, n_tokens, n_oov, oov_rate, n_types, n_oov_types,
    * oov_type_rate`. */
  def oovRate(vocab: DataFrame, idField: String, textField: String)(
      df: DataFrame): DataFrame = {
    require(vocab.columns.length == 1,
      s"vocab must be a single token column, got ${vocab.columns.mkString(", ")}")
    val v = vocab.select(col(vocab.columns.head).as("__vt"))
      .filter(col("__vt").isNotNull).distinct()
    // split('', ' ') = [''] in both engines, so every document —
    // including NULL/empty text — carries >= 1 token; no keeper row
    // is needed and the explode never drops a document
    val toks = df.select(col(idField).as("__id"),
      explode(tokens(coalesce(col(textField), lit("")))).as("__t"))
    toks
      .join(v, col("__t") === col("__vt"), "left")
      .groupBy(col("__id"))
      .agg(
        count(col("__t")).as("n_tokens"),
        count(when(col("__t").isNotNull && col("__vt").isNull, lit(1)))
          .as("n_oov"),
        countDistinct(col("__t")).as("n_types"),
        countDistinct(when(col("__vt").isNull, col("__t")))
          .as("n_oov_types"))
      .select(col("__id").as(idField), col("n_tokens"), col("n_oov"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_oov").cast("double") /
            col("n_tokens").cast("double")).as("oov_rate"),
        col("n_types"), col("n_oov_types"),
        when(col("n_types") === 0, lit(0.0))
          .otherwise(col("n_oov_types").cast("double") /
            col("n_types").cast("double")).as("oov_type_rate"))
  }

  /** Unicode normalization of `text` (default NFC) — run this BEFORE
    * fingerprint/exact dedup on multi-source corpora: the same visible
    * string arrives composed from one crawler and decomposed from
    * another, and digest-keyed dedup sees two documents without it.
    * Native codegen kernel ([[graft.functions.NormalizeText]]); the NFC
    * form is oracle-pinned against DuckDB's `nfc_normalize`. */
  def normalizeText(text: Column, form: String = "NFC"): Column =
    graft.functions.GraftFunctions.normalizeText(text, form)

  /** Accent/diacritic stripping (NFD → drop combining marks → NFC):
    * é→e, ü→u; non-decomposable letters (ø, ß) pass through. See
    * [[graft.functions.StripAccents]]. */
  def stripAccents(text: Column): Column =
    graft.functions.GraftFunctions.stripAccents(text)

  /** Word n-gram shingles: distinct space-joins of each n-token window,
    * in first-occurrence order. Rides the native
    * [[graft.functions.ShingleStrings]] kernel — shingling is the
    * documented dominant cost of every MinHash consumer, and the HOF
    * form paid an interpreted lambda (slice + join + distinct pass) per
    * position. Docs with fewer than n tokens yield an empty array. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.shingleStrings(tokens(text), n)

  /** Pre-kernel HOF form of [[shingles]] — the executable specification
    * the kernel is parity-pinned against (HashExpressionsSpec). The
    * token array is bound once per row; `sequence(1, 0)` is DESCENDING,
    * hence the explicit empty guard. */
  private[graft] def shinglesHof(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.bind(tokens(text)) { ts =>
      when(size(ts) < n, array().cast("array<string>"))
        .otherwise(array_distinct(
          transform(
            sequence(lit(1), size(ts) - (n - 1)),
            i => array_join(slice(ts, i, lit(n)), " "))))
    }

  /** Jaccard similarity of two token arrays, on distinct elements:
    * |A ∩ B| / |A ∪ B| as double. Lowered to the native one-pass kernel
    * ([[graft.functions.ArrayJaccard]]); [[jaccardHof]] is the spec
    * form. */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.arrayJaccard(a, b)

  /** `jaccard(a, b) >= threshold` with the identical decision, for two
    * distinct token arrays that share [[Dedup.hashOrdered]]'s
    * `(xxhash64(t), t)` order: one merge that stops once the overlap
    * can no longer reach the threshold
    * ([[graft.functions.HashOrderedJaccardAtLeast]]). Arrays in any
    * other order keep [[jaccard]]. */
  def hashOrderedJaccardAtLeast(a: Column, b: Column,
      threshold: Double): Column =
    graft.functions.GraftFunctions.hashOrderedJaccardAtLeast(a, b, threshold)

  /** Higher-order-function form of [[jaccard]] — the executable
    * specification the native kernel is tested against. */
  def jaccardHof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_distinct(a)) + size(array_distinct(b)) - inter
    when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union)
  }

  /** Deterministic 32-bit token hash shared with the oracle: value of the
    * first 8 hex chars of md5(prefix|token). */
  def tokenHash(token: Column, salt: Column): Column =
    // the native Md5Prefix32 kernel over the same "salt|token" bytes —
    // bit-identical to the original conv(substring(md5(…),1,8),16,10)
    // chain (HashExpressionsSpec pins the kernel against that form)
    graft.functions.GraftFunctions.md5Prefix32(
      concat_ws("|", salt, token))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * other non-space characters — the shape of a byte-pair pre-tokenizer.
    * Regex kept to syntax shared by Java regex and RE2. */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** VOCABULARY-TRUE byte-pair-encoding token count: the number of
    * subword tokens a greedy BPE encoder with the given merge table
    * produces. Every budget/packing operator in this library counts
    * whitespace tokens by default, and [[bpeishTokenCount]] is a
    * regex heuristic — neither matches what a trained tokenizer will
    * bill; this counter does, for its vocabulary.
    *
    * Semantics (per whitespace word — the usual pre-tokenizer
    * boundary): split to characters, then apply each merge `(a, b) →
    * ab` in RANK ORDER, each pass merging occurrences left to right,
    * non-overlapping (the pass over "a a a" with merge (a,a) yields
    * ["aa","a"]). The document's count is the sum of its words'
    * final symbol counts.
    *
    * Lowered to the native kernel ([[graft.functions.BpeTokenCount]]):
    * the merge table lives in a hash map referenced once per row, cost
    * independent of vocabulary size — a 50k-merge tokenizer vocabulary
    * is fine. The kernel REQUIRES a rank-consistent table (multi-char
    * operands formed by earlier merges, distinct outputs — what real
    * learned vocabularies look like); [[bpeTokenCountHof]] is the
    * HOF spec form it is tested bit-identical against, which also
    * accepts arbitrary tables with pass-per-rank semantics. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.GraftFunctions.bpeTokenCount(text, merges)

  /** Higher-order-function form of [[bpeTokenCount]] — the executable
    * specification the native kernel is tested against, and the form
    * the DuckDB oracle mirrors fold for fold.
    *
    * Shape: one pure projection — merges fold into a fixed expression
    * tree (one HOF pass per rank, O(ranks × word length) per row), no
    * shuffle, no UDF, oracle-expressible with the same table. The tree
    * grows linearly with the vocabulary: the right harness for the
    * ~10–100-merge vocabularies of tests/specs and domain token
    * counters; production vocabularies take the kernel. Zero-length
    * words count 0 (the empty char split is guarded — Spark's
    * `sequence(1, 0)` is descending, unlike the oracle's empty
    * `range`). */
  def bpeTokenCountHof(text: Column, merges: Seq[(String, String)]): Column = {
    import graft.functions.GraftFunctions.bind
    require(merges.nonEmpty, "merge table must be non-empty")
    def applyMerge(arr: Column, a: String, b: String): Column =
      aggregate(arr, array().cast("array<string>"), (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))
    def wordTokens(w: Column): Column = {
      val chars = when(length(w) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(w)),
          i => call_function("substring", w, i, lit(1))))
      val merged = merges.foldLeft(chars) {
        case (acc, (a, b)) => applyMerge(acc, a, b)
      }
      size(merged).cast("long")
    }
    bind(tokens(text)) { ts =>
      aggregate(ts, lit(0L), (acc, w) => acc + wordTokens(w))
    }
  }

  /** VOCABULARY-TRUE BPE tokenization: the PIECES the greedy encoder
    * produces, in document order, each word-initial piece prefixed
    * with the `▁` marker (the SentencePiece convention) so any slice
    * of the stream rejoins to text via [[bpeDetokenize]] — the
    * primitive that lets context-window operators clip BY model
    * tokens ([[truncateTokensBpe]], [[chunkTextsBpe]]) instead of
    * merely counting them. Same merge engine as [[bpeTokenCount]]
    * (`size(bpeTokenize(t)) = bpeTokenCount(t)` by construction,
    * spec-pinned); same rank-consistency requirement. Lowered to the
    * native kernel [[graft.functions.BpeTokenize]];
    * [[bpeTokenizeHof]] is the executable spec. */
  def bpeTokenize(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.GraftFunctions.bpeTokenize(text, merges)

  /** Higher-order-function form of [[bpeTokenize]] — the executable
    * specification the native kernel is tested against, and the form
    * the DuckDB oracle mirrors fold for fold: [[bpeTokenCountHof]]'s
    * per-word merge fold, keeping the symbol lists (marker prefixed
    * onto each word's first piece) and flattening in word order. */
  def bpeTokenizeHof(text: Column, merges: Seq[(String, String)]): Column = {
    import graft.functions.GraftFunctions.bind
    require(merges.nonEmpty, "merge table must be non-empty")
    val marker = graft.functions.GraftFunctions.bpeMarker
    def applyMerge(arr: Column, a: String, b: String): Column =
      aggregate(arr, array().cast("array<string>"), (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))
    def wordPieces(w: Column): Column = {
      val chars = when(length(w) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(w)),
          i => call_function("substring", w, i, lit(1))))
      val merged = merges.foldLeft(chars) {
        case (acc, (a, b)) => applyMerge(acc, a, b)
      }
      bind(merged) { ps =>
        when(size(ps) === 0, ps)
          .otherwise(concat(
            array(concat(lit(marker), element_at(ps, 1))),
            slice(ps, lit(2), size(ps) - 1)))
      }
    }
    bind(tokens(text)) { ts => flatten(transform(ts, wordPieces(_))) }
  }

  /** Rejoin a (slice of a) [[bpeTokenize]] piece stream to text:
    * concatenate, marker → space, drop the single leading space a
    * word-initial first piece leaves (a slice starting MID-word has no
    * leading marker and loses nothing). Pure string projection. */
  def bpeDetokenize(pieces: Column): Column =
    regexp_replace(
      translate(array_join(pieces, ""),
        graft.functions.GraftFunctions.bpeMarker, " "),
      "^ ", "")

  /** Demonstration BPE merge table (10 common English merges, rank
    * order) — the shared vocabulary of the `bpe_token_count` query and
    * its oracle. Real pipelines pass their tokenizer's merge list. */
  val demoBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "o" -> "n", "e" -> "r", "r" -> "e", "o" -> "r", "s" -> "t")

  /** Demonstration quality-classifier weight table (integer-quantized
    * uni/bigram weights over the fixture vocabulary) — the shared model
    * of the `linear_quality` query and its oracle. Real pipelines pass
    * a trained fastText/logistic model quantized to integers. */
  val demoQualityWeights: Seq[(String, Long)] = Seq(
    "data" -> 4L, "spark" -> 3L, "query" -> 2L, "fast" -> 2L,
    "table" -> 1L, "vector" -> 1L,
    "slow" -> -3L, "a" -> -2L, "the" -> -1L,
    "hash join" -> 4L, "fast scan" -> 5L, "slow scan" -> -6L,
    "big table" -> 2L, "a a" -> -5L)

  /** Stopword list used by quality scoring and language ID. Tiny on
    * purpose: a broadcastable lookup evaluated inline per row. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "es"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "est"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ist"),
    "zh" -> Seq("de", "le", "shi", "he", "zai", "you", "wo"))

  private def ratioIn(ts: Column, words: Seq[String]): Column = {
    val hits = size(array_intersect(array_distinct(ts),
      array(words.map(lit): _*)))
    when(size(ts) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(array_distinct(ts)))
  }

  /** Heuristic language ID: argmax over per-language stopword hit ratio,
    * lexicographic tie-break (deterministic; 'und' when nothing hits).
    * A real pipeline swaps the token lists for char-n-gram profiles —
    * the operator shape (pure projection, no shuffle) is the point. */
  def langId(text: Column): Column = {
    val ts = tokens(text)
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(ratioIn(ts, words).as("score"), lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs: max score, then max lang; to get
    // the lexicographically SMALLEST lang on ties, compare on (score, rev)
    val best = array_max(array(scored.map(s =>
      struct(s.getField("score").as("score"),
        // reverse lexicographic via negated char codes is overkill here:
        // ties across languages with equal nonzero ratios are resolved to
        // the lexicographically greatest language; documented + mirrored
        // in the oracle.
        s.getField("lang").as("lang"))): _*))
    when(best.getField("score") === 0.0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** Saturated stopword-ratio score for one language in [0,1] — the
    * `stopScore` component of [[qualityScore]] exposed on its own: the
    * cheap "does this read like `lang`?" signal whose calibration
    * against stored labels [[graft.probes.Probes.scoreCalibration]]
    * measures. Pure projection, exact double dag. */
  def stopwordScore(text: Column, lang: String = "en"): Column =
    least(ratioIn(tokens(text), stopwords(lang)) * lit(5.0), lit(1.0))

  /** Quality score in [0,1]: blend of length saturation, mean token
    * length plausibility, and stopword presence — the standard cheap
    * pre-filter shape for training corpora. Pure double arithmetic,
    * bit-reproducible in the oracle. */
  def qualityScore(text: Column): Column = {
    val ts = tokens(text)
    val nTok = size(ts).cast("double")
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val meanLen = when(nTok === 0, lit(0.0))
      .otherwise(length(text).cast("double") / nTok)
    val meanLenScore = when(meanLen >= 3.0 && meanLen <= 10.0, lit(1.0))
      .otherwise(lit(0.0))
    val stopScore = least(ratioIn(ts, stopwords("en")) * lit(5.0), lit(1.0))
    (lenScore * 0.4 + meanLenScore * 0.3 + stopScore * 0.3).as("quality")
  }

  /** Repetition quality signals (the Gopher-style repetition filters):
    *  - `dup_token_fraction`: 1 − distinct/total whitespace tokens —
    *    boilerplate and keyword-stuffed docs score high;
    *  - `top_bigram_share`: occurrences of the most frequent word bigram
    *    over total bigrams — catches looping generation and templated
    *    text that token-level stats miss.
    * Both are one integer count divided by another — exact and
    * hash-matchable across engines (no logs, no floats in the numerator).
    * Pure projection over the shingle arrays; no shuffle, no UDF: the
    * bigram mode count folds with `aggregate` over the distinct bigrams,
    * each scored by a `filter(...).size` pass — O(b²) per doc on b
    * bigrams, the right trade below the ~1e3-token docs this gate runs
    * on (a groupBy-explode variant exists for book-length docs at the
    * cost of a shuffle). */
  def repetitionStats(text: Column): (Column, Column) = {
    import graft.functions.GraftFunctions.bind
    // bind evaluates the split ONCE per row; a bare `tokens(text)` inside
    // the lambda bodies would re-split per element (SURVEY §8 CSE hazard)
    val dupFrac = bind(tokens(text)) { ts =>
      val nTok = size(ts)
      when(nTok === 0, lit(0.0))
        .otherwise((nTok - size(array_distinct(ts))).cast("double") / nTok)
    }
    val topShare = bind(tokens(text)) { ts =>
      bind(filter(transform(ts, (t, i) =>
          when(i < size(ts) - 1, concat_ws(" ", t, element_at(ts, i + 2)))),
        _.isNotNull)) { all =>
        val topCount = aggregate(array_distinct(all), lit(0),
          (acc, g) => greatest(acc, size(filter(all, x => x === g))))
        when(size(all) === 0, lit(0.0))
          .otherwise(topCount.cast("double") / size(all))
      }
    }
    (dupFrac, topShare)
  }

  /** Gopher-style multi-rule document quality gate: the standard
    * heuristic battery a web-scale corpus runs BEFORE any model-based
    * scoring, with each rule's signal AND verdict exposed per document
    * (observability first — downstream callers threshold, re-weight, or
    * funnel-report the individual rules rather than trusting one opaque
    * score; compose with [[graft.probes.Probes.filterFunnel]]).
    *
    * Signals (one bound token split per row — pure projection, no
    * shuffle, no UDF):
    *  - `n_tokens`, gated to [50, 100000] (`pass_length`);
    *  - `mean_word_len` = Σ word chars / words, gated to [3, 10]
    *    (`pass_mean_len`) — gibberish and minified blobs fall outside;
    *  - `alpha_frac` = words containing a letter / words, gated ≥ 0.8
    *    (`pass_alpha`) — symbol/number dumps fail;
    *  - `stop_hits` = distinct English stopwords present, gated ≥ 2
    *    (`pass_stopwords`) — the classic "real prose" tripwire;
    *  - `dup_frac` = 1 − distinct/total tokens, gated ≤ 0.9
    *    (`pass_repetition`) — the keyword-stuffing backstop (tighter
    *    repetition gates live in [[repetitionStats]]).
    * `passes_gopher` is the conjunction. Flags are 0/1 BIGINT (summable
    * into funnel counts). Every signal is integer arithmetic until one
    * final division — bit-exact cross-engine. */
  def gopherRules(idField: String, textField: String)(df: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.bind
    // NULL text gates like empty text (fails length/stopwords) instead
    // of poisoning every signal NULL — same doctrine as the strip ops
    val metrics = bind(tokens(coalesce(col(textField), lit("")))) { ts =>
      val n = size(ts).cast("long")
      val sumLen = aggregate(ts, lit(0L), (acc, w) => acc + length(w))
      val nAlpha = size(filter(ts, w => w.rlike("[A-Za-z]"))).cast("long")
      val nDistinct = size(array_distinct(ts)).cast("long")
      val stopHits = size(array_intersect(array_distinct(ts),
        array(stopwords("en").map(lit): _*))).cast("long")
      struct(
        n.as("n_tokens"),
        when(n === 0L, lit(0.0))
          .otherwise(sumLen.cast("double") / n).as("mean_word_len"),
        when(n === 0L, lit(0.0))
          .otherwise(nAlpha.cast("double") / n).as("alpha_frac"),
        stopHits.as("stop_hits"),
        when(n === 0L, lit(0.0))
          .otherwise((n - nDistinct).cast("double") / n).as("dup_frac"))
    }
    def flag(c: Column): Column = when(c, lit(1L)).otherwise(lit(0L))
    df.select(col(idField), metrics.as("__m"))
      .select(col(idField), col("__m.*"))
      .withColumn("pass_length",
        flag(col("n_tokens") >= 50L && col("n_tokens") <= 100000L))
      .withColumn("pass_mean_len",
        flag(col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0))
      .withColumn("pass_alpha", flag(col("alpha_frac") >= 0.8))
      .withColumn("pass_stopwords", flag(col("stop_hits") >= 2L))
      .withColumn("pass_repetition", flag(col("dup_frac") <= 0.9))
      .withColumn("passes_gopher",
        col("pass_length") * col("pass_mean_len") * col("pass_alpha")
          * col("pass_stopwords") * col("pass_repetition"))
  }

  /** The FULL Gopher repetition battery (Rae et al. 2021, table A1 —
    * the n-gram half; the token-level half is [[repetitionStats]] /
    * [[gopherRules]]): per document,
    *  - `top_{n}gram_char_frac` for n ∈ `topNs` (default 2/3/4): the
    *    fraction of the document's non-space characters attributable to
    *    ALL occurrences of its single most frequent word n-gram —
    *    occurrences × the gram's character length over total token
    *    characters (templated/looping text scores high);
    *  - `dup_{n}gram_char_frac` for n ∈ `dupNs` (default 5..10): the
    *    fraction of non-space characters COVERED by word n-grams that
    *    occur more than once in the document, counting each covered
    *    character ONCE however many overlapping duplicated grams claim
    *    it (the overlap-aware definition the paper specifies; naive
    *    occurrence×length sums can exceed 1.0 and double-ban long
    *    repeats).
    *
    * Most-frequent-gram ties break to the lexicographically greatest
    * digest — deterministic and mirrored by the oracle. Every numerator
    * and denominator is an exact integer; the ONLY floating op is each
    * final division, so fractions hash-match cross-engine. Short docs
    * (fewer than n tokens) and NULL/empty text score 0.0 everywhere.
    *
    * Scale shape: one tokenized projection (localCheckpoint, shared by
    * the gram explode, the per-position token lengths, and the char
    * totals), ONE combined explode carrying every n — ~Σn·|tokens| rows
    * per doc — then digest-keyed windows partitioned by (doc, n): all
    * keys are document-local, so the op is embarrassingly parallel over
    * docs with no corpus-wide hot key anywhere. Coverage reuses the
    * gaps-and-islands merge of [[duplicateSpans]] per (doc, n), so each
    * covered position ships once regardless of gram overlap. */
  /** Higher-order-function form of the gram-struct projection under
    * [[gopherRepetition]] — the executable specification
    * [[graft.functions.GramStructs]] is bit-parity-tested against
    * (HashExpressionsSpec). Pays an interpreted lambda per gram; the
    * kernel pays one compiled loop per row. */
  private[graft] def gramStructsHof(
      ts: Column, ns: Seq[Int], gcNs: Seq[Int]): Column = {
    val gcSet = gcNs.toSet
    concat(ns.map { n =>
      val gc: (Column, Column) => Column =
        if (gcSet(n)) (tss, i) =>
          aggregate(slice(tss, i + 1, lit(n)), lit(0L), (a, t) => a + length(t))
        else (_, _) => lit(0L)
      graft.functions.GraftFunctions.bind(ts) { tss =>
        when(size(tss) < n,
          array().cast("array<struct<n:int,pos:bigint,h:string,gc:bigint>>"))
          .otherwise(transform(sequence(lit(0), size(tss) - n), i =>
            struct(lit(n).as("n"), i.cast("long").as("pos"),
              md5(array_join(slice(tss, i + 1, lit(n)), " ")).as("h"),
              gc(tss, i).as("gc"))))
      }
    }: _*)
  }

  def gopherRepetition(
      idField: String, textField: String,
      topNs: Seq[Int] = Seq(2, 3, 4), dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10))(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topNs.nonEmpty || dupNs.nonEmpty, "at least one n required")
    require((topNs ++ dupNs).forall(_ >= 1), "gram sizes must be >= 1")
    require(topNs.intersect(dupNs).isEmpty, "topNs and dupNs must be disjoint")
    val tokenized = df.select(col(idField).as("__id"),
      tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    // total non-space characters — the shared denominator ("" tokenizes
    // to [""], which sums to 0, so empty docs divide-guard to 0.0)
    val base = tokenized.select(col("__id"),
      aggregate(col("__ts"), lit(0L), (a, t) => a + length(t)).as("__chars"))
    // one struct array carrying every n's positioned grams — the NATIVE
    // kernel (one compiled pass, per-row byte/prefix-sum reuse); the
    // per-gram char sum is only materialized for the topNs (coverage
    // recovers chars from positions instead — no double counting)
    val gramArr = graft.functions.GraftFunctions.gramStructs(
      col("__ts"), topNs ++ dupNs, topNs)
    // ONE aggregation collapses the positional stream to one row per
    // (doc, n, gram) — count, char sum, and the occurrence positions
    // together (list bounded by doc length) — and both consumers read
    // the collapsed frame: the windowed-count + distinct formulation
    // this replaces shuffled the full ~Σn·|tokens| stream twice
    val perGram = tokenized
      .select(col("__id"), explode(gramArr).as("__g"))
      .select(col("__id"), col("__g.n").as("__n"), col("__g.pos").as("__pos"),
        col("__g.h").as("__h"), col("__g.gc").as("__gc"))
      .groupBy(col("__id"), col("__n"), col("__h"))
      .agg(count(lit(1)).as("__cnt"), min(col("__gc")).as("__gc"),
        collect_list(col("__pos")).as("__poss"))
    // NOT pinned (r20): both consumers' plans canonicalize to the same
    // (id, n, h) exchange, which Spark reuses — each consumer re-runs
    // only the post-exchange aggregation (~0.8 s here), while
    // checkpointing the ~2.2M-row gram frame (32-char digest strings)
    // cost ~5.6 s and dominated the cell. The original double-shuffle
    // this pin predates came from the windowed-count formulation, not
    // the current one-agg form.
    // top-share: winner by (cnt, digest)
    val tops = perGram.filter(col("__n").isin(topNs.map(Integer.valueOf): _*))
      .groupBy(col("__id"), col("__n"))
      .agg(max_by(col("__cnt") * col("__gc"),
        struct(col("__cnt"), col("__h"))).as("__num"))
    // duplicated-gram coverage: islands per (doc, n), positions exploded
    // once per covered token, char lengths joined back from the token
    // stream (equi-join on (doc, pos))
    val byPos = Window.partitionBy(col("__id"), col("__n")).orderBy(col("__pos"))
    val covered = perGram.filter(col("__n").isin(dupNs.map(Integer.valueOf): _*))
      .filter(col("__cnt") >= 2)
      .select(col("__id"), col("__n"), explode(col("__poss")).as("__pos"))
      .withColumn("__brk",
        when(col("__pos") - lag(col("__pos"), 1).over(byPos) > col("__n"), 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__n"), col("__island"))
      .agg(min(col("__pos")).as("__s"), (max(col("__pos")) + col("__n") - 1).as("__e"))
      .select(col("__id"), col("__n"),
        explode(sequence(col("__s"), col("__e"))).as("__tp"))
    val tokenLens = tokenized.select(col("__id"),
      posexplode(col("__ts")).as(Seq("__tp", "__t")))
      .select(col("__id"), col("__tp").cast("long").as("__tp"),
        length(col("__t")).cast("long").as("__tl"))
    val dups = covered.join(tokenLens, Seq("__id", "__tp"))
      .groupBy(col("__id"), col("__n"))
      .agg(sum(col("__tl")).as("__dchars"))
    def frac(num: Column): Column =
      when(col("__chars") === 0L, lit(0.0))
        .otherwise(coalesce(num, lit(0L)).cast("double") / col("__chars").cast("double"))
    val topAgg = topNs.map(n =>
      max(when(col("__n") === n, col("__num"))).as(s"__top$n"))
    val dupAgg = dupNs.map(n =>
      max(when(col("__n") === n, col("__dchars"))).as(s"__dup$n"))
    val joined0 =
      if (topNs.isEmpty) base
      else base.join(
        tops.groupBy(col("__id")).agg(topAgg.head, topAgg.tail: _*),
        Seq("__id"), "left")
    val joined =
      if (dupNs.isEmpty) joined0
      else joined0.join(
        dups.groupBy(col("__id")).agg(dupAgg.head, dupAgg.tail: _*),
        Seq("__id"), "left")
    joined.select(col("__id").as(idField) +:
      (topNs.map(n => frac(col(s"__top$n")).as(s"top_${n}gram_char_frac")) ++
       dupNs.map(n => frac(col(s"__dup$n")).as(s"dup_${n}gram_char_frac"))): _*)
  }

  /** Per-source percentile rank of a score column (`score_pct` ∈ [0,1],
    * `percent_rank` semantics: rows strictly below / (n−1), ties share
    * a rank) — threshold-free quality calibration: "keep each source's
    * top 30%" survives sources with wildly different score
    * distributions, where one global cutoff would empty some and
    * keep all of others.
    *
    * Scale shape: the naive window (`percent_rank` partitioned by
    * source over the DOC table) sends every row of a source through one
    * reducer — the few-huge-sources killer. This op instead aggregates
    * to the per-(source, score) HISTOGRAM, runs the cumulative window
    * over those distinct-value rows only, and joins the percentile back
    * by (source, score): the doc table sees one hash-agg and one
    * equi-join, never a per-source sort. Distinct-score cardinality
    * bounds the window input; quantize near-continuous scores first
    * (e.g. `round(score, 4)`) to keep the histogram tiny. NULL/NaN
    * scores are EXCLUDED from the histogram (they have no rank) and
    * their rows survive the LEFT join with a NULL `score_pct` — the
    * row is kept and visibly unranked rather than silently dropped
    * (the shared NULL doctrine). Integer counts divide once at the
    * end — bit-exact vs the oracle's percent_rank. */
  def scorePercentiles(
      sourceField: String, scoreField: String)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = col(scoreField).isNotNull &&
      !isnan(col(scoreField).cast("double"))
    val hist = df.filter(ranked)
      .groupBy(col(sourceField).as("__s"), col(scoreField).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cdf = hist
      .withColumn("__below",
        sum("__c").over(Window.partitionBy("__s").orderBy("__v")) - col("__c"))
      .withColumn("__n", sum("__c").over(Window.partitionBy("__s")))
      .select(col("__s"), col("__v"),
        when(col("__n") === 1L, lit(0.0))
          .otherwise(col("__below").cast("double") / (col("__n") - 1L))
          .as("score_pct"))
    df.join(cdf,
      col(sourceField) === col("__s") && col(scoreField) === col("__v"),
      "left")
      .drop("__s", "__v")
  }

  /** Per-source mixing report: document/token volumes, each source's
    * token share, the caller's target share, and the sampling ratio
    * (target/actual) a mixer must apply — the observability half of
    * [[tokenBudgetMix]] (decide the budgets from this, then mix).
    * Sources absent from `targets` get target 0. ONE hash-agg over the
    * corpus: the per-source frame materializes (localCheckpoint —
    * |sources| rows) before the one-row total derives from it, so the
    * corpus is scanned exactly once (the naive shape re-runs the
    * token-count aggregation under the total — the multi-scan class
    * `source_overlap`/`unigramCfQuality` already fixed). Counts stay
    * integer until the share divisions. */
  def mixReport(
      sourceField: String, textField: String,
      targets: Map[String, Double] = Map.empty)(df: DataFrame): DataFrame = {
    val perSource = df.groupBy(col(sourceField).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textField)).cast("long")).as("n_tokens"))
      .localCheckpoint()
    val total = perSource.agg(sum("n_tokens").as("__tot"))
    val target = targets.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (s, w)) => when(col("source") === s, lit(w)).otherwise(acc)
    }
    perSource.crossJoin(broadcast(total))
      .withColumn("token_share", col("n_tokens").cast("double") / col("__tot"))
      .withColumn("target_share", target)
      .withColumn("sampling_ratio",
        col("target_share") / col("token_share"))
      .select("source", "n_docs", "n_tokens", "token_share",
        "target_share", "sampling_ratio")
  }

  /** Context-window truncation: keep the first `maxTokens` whitespace
    * tokens, pass shorter documents through UNTOUCHED (the explicit
    * short-circuit keeps their text bit-identical rather than
    * re-joined). Adds `n_tokens` (the ORIGINAL count — truncation
    * observability) and the truncated text. NULL text behaves like
    * empty text — (1, "") — instead of poisoning both outputs NULL
    * (the same coalesce doctrine as the strip ops and gopherRules).
    * Pure projection: no shuffle, codegen end to end. */
  def truncateTokens(
      textField: String, maxTokens: Int,
      outField: String = "text_trunc")(df: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.bind
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    df.withColumn("__t",
      bind(tokens(coalesce(col(textField), lit("")))) { ts =>
        struct(size(ts).cast("long").as("n_tokens"),
          when(size(ts) <= maxTokens, coalesce(col(textField), lit("")))
            .otherwise(array_join(slice(ts, 1, maxTokens), " "))
            .as(outField))
      }).select(df.columns.map(col) :+ col("__t.n_tokens") :+
      col(s"__t.$outField"): _*)
  }

  /** [[truncateTokens]] in MODEL tokens: keep the first `maxTokens`
    * BPE pieces ([[bpeTokenize]] with the caller's merge vocabulary),
    * pass shorter documents through UNTOUCHED (bit-identical text,
    * same short-circuit as the whitespace form), rejoin truncated
    * documents via [[bpeDetokenize]]. Adds `n_bpe_tokens` (the
    * ORIGINAL count) and the truncated text. NULL text behaves like
    * empty — (0, "") — per the shared coalesce doctrine. This is the
    * op that clips to a real model context window: the whitespace
    * form's counts are not what a tokenizer bills. Pure projection;
    * the kernel runs once per row (bind). */
  def truncateTokensBpe(
      textField: String, maxTokens: Int, merges: Seq[(String, String)],
      outField: String = "text_trunc")(df: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.bind
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    df.withColumn("__t",
      bind(bpeTokenize(coalesce(col(textField), lit("")), merges)) { ps =>
        struct(size(ps).cast("long").as("n_bpe_tokens"),
          when(size(ps) <= maxTokens, coalesce(col(textField), lit("")))
            .otherwise(bpeDetokenize(slice(ps, 1, maxTokens)))
            .as(outField))
      }).select(df.columns.map(col) :+ col("__t.n_bpe_tokens") :+
      col(s"__t.$outField"): _*)
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * n-gram digests that occur NOWHERE else in the corpus (document
    * frequency 1) — the inverse of a contamination/duplication signal,
    * used to up-weight genuinely new material and to catch templated
    * sources whose every document says the same thing (novelty ≈ 0).
    *
    * Single-scan discipline: the distinct (doc, gram-digest) projection
    * materializes ONCE (localCheckpoint) and feeds both the
    * document-frequency aggregation and the re-join — the same shape
    * (and fix) as `unigramCfQuality`. Digests shuffle, never gram
    * strings. Documents with fewer than n tokens keep a row
    * (explode_outer + left join): (0, 0, 0.0) — nothing silently
    * vanishes. Integer counts, one final division — exact
    * cross-engine. */
  def noveltyScores(
      idField: String, textField: String, n: Int = 8)(
      df: DataFrame): DataFrame = {
    val grams = df.select(col(idField).as("__id"),
      explode_outer(shingles(col(textField), n)).as("__g"))
      .select(col("__id"), md5(col("__g")).as("__h"))
      .localCheckpoint()
    val dfTab = grams.filter(col("__h").isNotNull)
      .groupBy("__h").agg(count(lit(1)).as("__df"))
    grams.join(dfTab, Seq("__h"), "left")
      .groupBy("__id")
      .agg(count(col("__h")).as("n_grams"),
        coalesce(sum(when(col("__df") === 1L, 1L)), lit(0L)).as("n_unique"))
      .select(col("__id").as(idField), col("n_grams"), col("n_unique"),
        when(col("n_grams") === 0L, lit(0.0))
          .otherwise(col("n_unique").cast("double") / col("n_grams"))
          .as("novelty"))
  }

  /** Power-of-two token-length histogram per source: one row per
    * (source, bin) with the doc count and token volume whose length
    * falls in [2^k, 2^(k+1)) — the input to packing-budget and
    * shuffle-partition sizing decisions (how much of each source is
    * short-tail vs book-length). `bin_lo` is the bin's lower bound.
    * floor(log2) computes as `length(bin(n)) - 1` — pure integer/string
    * arithmetic, identical in both engines (no floating log). One
    * hash-agg of |sources × ~20 bins| rows; token counts are ≥ 1 by
    * split semantics, so the log is total. NULL text counts like empty
    * text — the 1-token bin — instead of producing a NULL `bin_lo` row
    * (the same coalesce doctrine as the strip ops and gopherRules). */
  def tokenHistogram(
      sourceField: String, textField: String)(df: DataFrame): DataFrame = {
    val n = tokenCount(coalesce(col(textField), lit(""))).cast("long")
    val k = (length(bin(n)) - 1).cast("int")
    df.select(col(sourceField).as("source"), n.as("__n"),
      call_function("shiftleft", lit(1L), k).as("bin_lo"))
      .groupBy("source", "bin_lo")
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("n_tokens"))
  }

  /** Deterministic per-row Bernoulli keep-predicate: keep iff the
    * row's 32-bit md5 hash prefix falls below `prob × 2^32` — sampling
    * with a PER-ROW probability column (no RNG state, rerun-identical,
    * keep decisions independent of partitioning and row order; the
    * same md5-prefix primitive as [[hashSplit]]). `prob ≥ 1` keeps
    * everything, `≤ 0` drops everything. The weighted-sampling shape
    * logs would otherwise force — exp-draw A-ES sampling — is
    * deliberately avoided (no libm in scores); per-row probabilities
    * cover the mixing/down-sampling uses. */
  def hashBernoulli(key: Column, prob: Column, salt: String = "bern"): Column =
    graft.functions.GraftFunctions.md5Prefix32(key, salt).cast("double") <
      prob * lit(4294967296.0)

  /** Down-sample every source to its target token share in one pass:
    * [[mixReport]] computes each source's sampling ratio
    * (target/actual, capped at 1 — this op only removes), the tiny
    * per-source ratio table broadcasts back onto the corpus, and
    * [[hashBernoulli]] keeps each document with that probability —
    * deterministic, rerun-identical, no shuffle of the corpus beyond
    * the report's one hash-agg. The standard "hit the target mixture
    * by dropping" mixer; for hard token-budget prefixes use
    * [[tokenBudgetMix]] instead (exact budgets, heavier machinery).
    * Sources absent from `targets` sample at 0 and vanish. */
  def downsampleToTargets(
      idField: String, sourceField: String, textField: String,
      targets: Map[String, Double], salt: String = "bern")(
      df: DataFrame): DataFrame = {
    val ratios = mixReport(sourceField, textField, targets)(df)
      .select(col("source").as("__src"),
        least(col("sampling_ratio"), lit(1.0)).as("__p"))
    df.join(broadcast(ratios), col(sourceField) === col("__src"))
      .filter(hashBernoulli(col(idField), col("__p"), salt))
      .drop("__src", "__p")
  }

  /** Temperature-based mixture re-sampling at T = 2 — the standard
    * multilingual/multi-source smoothing rule (mT5/XLM-R's
    * `p_s ∝ n_s^α`) at α = 1/2, the one exponent that stays
    * ORACLE-EXACT: `sqrt` is a correctly-rounded IEEE primitive where
    * a general `pow(n, 0.7)` is libm and not bit-reproducible
    * cross-engine (the no-libm-in-scores doctrine; other temperatures
    * belong to a caller-supplied weight map via
    * [[downsampleToTargets]]). Head sources flatten toward the tail:
    * a 100× bigger source gets only 10× the share.
    *
    * Each source's target share is `√n_s / Σ√n` (the Σ over sources is
    * the ONE order-sensitive float fold — pinned by sorted-by-source
    * fold, |sources| elements on one row), its row budget
    * `budgetRows · share`, its keep rate `min(1, budget_s / n_s)`, and
    * rows keep via the deterministic [[hashBernoulli]] — rerun-stable,
    * no corpus shuffle beyond one keys-only count agg; the per-source
    * rate table broadcasts back. Output: the kept rows plus their
    * `sample_rate`. */
  /** Fractional EPOCH-repeat mixing — the published-recipe mixer
    * (LLaMA-style "Wikipedia 2.45 epochs, Books 2.23, CommonCrawl
    * 0.67"): each document of source s is emitted ⌊f_s⌋ times plus one
    * more with probability frac(f_s) via the salted [[hashBernoulli]]
    * on its id — so the EXPECTED replication of every source is
    * exactly f_s, per-document decisions are deterministic and
    * rerun-identical (no RNG state), and a factor < 1 degrades to
    * plain hash down-sampling: one operator covers up-sampling,
    * down-sampling, and integer epochs. Sources absent from `factors`
    * pass through at 1.0. Output keeps every input column and adds
    * `copy` (0-based BIGINT) so downstream shuffles/packers can
    * distinguish replicas (and a deterministic global shuffle spreads
    * them apart).
    *
    * Scale shape: zero shuffle and zero joins — the factor map rides
    * in the plan as a literal (mixes name a handful of sources),
    * replication is a per-row `explode(sequence(...))`, and output
    * size is Σ n_s·f_s by construction. 100 TB pays one scan plus the
    * write amplification the recipe asked for. */
  def epochRepeatMix(
      idField: String, sourceField: String,
      factors: Map[String, Double], salt: String = "epoch")(
      df: DataFrame): DataFrame = {
    require(factors.nonEmpty, "at least one source factor required")
    factors.foreach { case (s, f) => require(f > 0.0 && f <= 100.0,
      s"epoch factor for '$s' must be in (0, 100], got $f") }
    val f = coalesce(
      element_at(typedLit(factors), col(sourceField)), lit(1.0))
    val extra = when(
      hashBernoulli(col(idField), f - floor(f), salt), 1L).otherwise(0L)
    df.withColumn("__nc", floor(f).cast("long") + extra)
      .filter(col("__nc") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("__nc") - 1)))
      .drop("__nc")
  }

  /** Annealed mixture schedule — the multi-phase refinement of
    * [[temperatureMix]]: mid-training recipes start near the natural
    * source distribution (α = 1, diversity) and anneal toward uniform
    * (α = 0, per-source equal weight) or any stop between, phase by
    * phase. Emits the per-phase sampling table
    * `(phase, alpha_quarters, source, n_docs, weight, share)` with
    * `weight = n^(α_p)` and `share` its per-phase normalization — feed
    * each phase's shares to [[downsampleToTargets]]/[[temperatureMix]]
    * to materialize that phase's corpus.
    *
    * α is interpolated on the QUARTER grid (α_p in fourths, computed
    * driver-side from `startQuarters`/`endQuarters` ∈ [0, 4]) so
    * `n^α = (√√n)^k` is a chain of IEEE-exact sqrt's and fixed-order
    * multiplies — bit-identical across engines, where a general `pow`
    * is not. Per-phase totals fold source-ordered (the [[temperatureMix]]
    * discipline); the whole op is ONE corpus hash-agg + arithmetic on a
    * `|sources| × phases` frame — the corpus is scanned once, the
    * schedule is free. */
  def annealMixSchedule(
      sourceField: String, phases: Int,
      startQuarters: Int = 4, endQuarters: Int = 0)(
      df: DataFrame): DataFrame = {
    require(phases >= 2, s"need >= 2 phases to anneal, got $phases")
    require(startQuarters >= 0 && startQuarters <= 4 &&
      endQuarters >= 0 && endQuarters <= 4,
      "alpha quarters must lie in [0, 4] (alpha in [0, 1])")
    val qs: Seq[(Int, Int)] = (0 until phases).map { p =>
      p -> math.round(startQuarters +
        (endQuarters - startQuarters) * p.toDouble / (phases - 1)).toInt
    }
    val counts = df.groupBy(col(sourceField).as("source"))
      .agg(count(lit(1)).as("n"))
    val phased = counts
      .select(col("source"), col("n"), explode(array(qs.map { case (p, q) =>
        struct(lit(p).as("phase"), lit(q).as("q"))
      }: _*)).as("ph"))
      .select(col("ph.phase").cast("long").as("phase"),
        col("ph.q").cast("long").as("alpha_quarters"),
        col("source"), col("n"))
    val r = sqrt(sqrt(col("n").cast("double")))
    val w = phased.withColumn("weight",
      when(col("alpha_quarters") === 0, lit(1.0))
        .when(col("alpha_quarters") === 1, r)
        .when(col("alpha_quarters") === 2, r * r)
        .when(col("alpha_quarters") === 3, r * r * r)
        .otherwise(r * r * r * r))
    val tot = w.groupBy("phase").agg(
      aggregate(array_sort(collect_list(struct(col("source"), col("weight")))),
        lit(0.0), (a, x) => a + x.getField("weight")).as("__tw"))
    w.join(broadcast(tot), Seq("phase"))
      .select(col("phase"), col("alpha_quarters"), col("source"),
        col("n").as("n_docs"), col("weight"),
        (col("weight") / col("__tw")).as("share"))
  }

  def temperatureMix(
      idField: String, sourceField: String,
      budgetRows: Long, salt: String = "temp")(df: DataFrame): DataFrame = {
    require(budgetRows > 0, s"row budget must be positive: $budgetRows")
    val counts = df.groupBy(col(sourceField).as("__src"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", sqrt(col("__n").cast("double")))
    val totW = counts
      .agg(aggregate(
        array_sort(collect_list(struct(col("__src"), col("__w")))),
        lit(0.0), (acc, x) => acc + x.getField("__w")).as("__tw"))
    val rates = counts.crossJoin(broadcast(totW))
      .select(col("__src"),
        least(lit(budgetRows) * (col("__w") / col("__tw")) /
          col("__n").cast("double"), lit(1.0)).as("sample_rate"))
    // NULL-safe join: the counts agg above created a NULL-source group
    // with its own √-smoothed rate, so NULL-source rows must be SAMPLED
    // at that rate, not silently dropped by NULL != NULL equi-join.
    df.join(broadcast(rates), col(sourceField) <=> col("__src"))
      .filter(hashBernoulli(col(idField), col("sample_rate"), salt))
      .drop("__src")
  }

  /** T5/UL2-style span corruption — the denoising-objective pair
    * builder: mask token spans out of the INPUT, replacing each with a
    * numbered sentinel, and emit the TARGET as sentinel-prefixed masked
    * spans in order (`input: "the <extra_id_0> sat"`,
    * `target: "<extra_id_0> cat"`). Deterministic, GRID-ALIGNED spans
    * (the documented variant): the token stream splits into fixed
    * `spanLen` blocks and block b of a document masks iff the salted
    * [[hashBernoulli]] on `(id:b)` fires at `maskProb` — rerun-stable,
    * exactly reproducible by the oracle, and embarrassingly parallel
    * where sampled variable-length spans would need a per-doc
    * sequential walk (the greedy overlap-exclusion chain). Expected
    * masked-token fraction = maskProb; sentinel numbering is the
    * block's rank among the doc's masked blocks (exact integer
    * cumulative count). NULL/empty text → empty pair with 0 spans.
    *
    * Scale shape: pure per-row array projection — tokens split once,
    * O(B²) integer adds for the B ≈ tokens/spanLen sentinel ranks
    * (trivial against the string work), zero shuffle; 100 TB pays one
    * scan. Output: `idField, input_text, target_text, n_masked_spans`. */
  def spanCorrupt(
      idField: String, textField: String,
      maskProb: Double = 0.15, spanLen: Int = 3, salt: String = "t5")(
      df: DataFrame): DataFrame = {
    require(maskProb > 0.0 && maskProb < 1.0,
      s"maskProb must be in (0, 1): $maskProb")
    require(spanLen >= 1, s"spanLen must be >= 1: $spanLen")
    def sentinel(sid: Column): Column =
      concat(lit("<extra_id_"), sid.cast("string"), lit(">"))
    val withToks = df
      .withColumn("__toks", tokens(coalesce(col(textField), lit(""))))
      .withColumn("__nb",
        ceil(size(col("__toks")).cast("double") / spanLen).cast("int"))
      .withColumn("__blocks",
        when(col("__nb") === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), col("__nb") - 1)))
      // 1/0 mask per block, then each block's sentinel id = count of
      // masked blocks before it (slice of length 0 folds to 0)
      .withColumn("__mask", transform(col("__blocks"), b =>
        when(hashBernoulli(
          concat(col(idField).cast("string"), lit(":"), b.cast("string")),
          lit(maskProb), salt), lit(1)).otherwise(lit(0))))
      .withColumn("__sid", transform(col("__blocks"), b =>
        aggregate(slice(col("__mask"), lit(1), b), lit(0), (a, x) => a + x)))
    def blockToks(b: Column): Column =
      slice(col("__toks"), b * spanLen + 1, lit(spanLen))
    def isMasked(b: Column): Column = element_at(col("__mask"), b + 1) === 1
    def sidOf(b: Column): Column = element_at(col("__sid"), b + 1)
    withToks.select(col(idField),
      array_join(flatten(transform(col("__blocks"), b =>
        when(isMasked(b), array(sentinel(sidOf(b))))
          .otherwise(blockToks(b)))), " ").as("input_text"),
      array_join(flatten(transform(col("__blocks"), b =>
        when(isMasked(b),
          concat(array(sentinel(sidOf(b))), blockToks(b)))
          .otherwise(array().cast("array<string>")))), " ").as("target_text"),
      aggregate(col("__mask"), lit(0), (a, x) => a + x)
        .cast("long").as("n_masked_spans"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022 — the
    * code-model pretraining objective): split a document at two
    * deterministic character cuts into (prefix, middle, suffix) and
    * emit the PSM reordering
    * `<fim_prefix>P<fim_suffix>S<fim_middle>M`, applied to `fimRate`
    * of documents (the rest pass through verbatim with
    * `fim_applied = false` — the standard mixed objective).
    *
    * Determinism (the [[spanCorrupt]] doctrine): the apply decision is
    * the salted [[hashBernoulli]] on the id; the cuts are two salted
    * 32-bit hash values reduced mod the remaining length —
    * `c1 = h1 mod (len+1)`, `c2 = c1 + h2 mod (len−c1+1)` — exact
    * integer arithmetic both engines reproduce, rerun-stable, and
    * `prefix + middle + suffix` always reconstructs the original
    * (spec-pinned over the whole fixture). Character (not byte)
    * offsets on both engines. NULL text → NULL output, never applied.
    *
    * Pure per-row projection — two md5s, three substrings, zero
    * shuffle; 100 TB pays one scan. Output: `idField, fim_applied,
    * fim_text`. */
  def fimTransform(
      idField: String, textField: String,
      fimRate: Double = 0.5, salt: String = "fim")(
      df: DataFrame): DataFrame = {
    require(fimRate > 0.0 && fimRate <= 1.0,
      s"fimRate must be in (0, 1]: $fimRate")
    def h(tag: String): Column = graft.functions.GraftFunctions
      .md5Prefix32(concat(col(idField).cast("string"), lit(":" + tag)), salt)
    val t = col(textField)
    val len = length(t)
    val c1 = h("c1") % (len.cast("long") + 1L)
    val c2 = c1 + h("c2") % (len.cast("long") - c1 + 1L)
    val applied = t.isNotNull &&
      hashBernoulli(col(idField), lit(fimRate), salt)
    val psm = concat(
      lit("<fim_prefix>"), substring(t, lit(1), c1.cast("int")),
      lit("<fim_suffix>"),
      substring(t, (c2 + 1L).cast("int"), (len.cast("long") - c2).cast("int")),
      lit("<fim_middle>"),
      substring(t, (c1 + 1L).cast("int"), (c2 - c1).cast("int")))
    df.select(col(idField), applied.as("fim_applied"),
      when(t.isNull, lit(null).cast("string"))
        .when(applied, psm).otherwise(t).as("fim_text"))
  }

  /** UL2 mixture-of-denoisers (Tay et al. 2022): deterministically route
    * each document to ONE denoising regime and emit its training pair,
    * with the paradigm token prepended so the model conditions on the
    * objective:
    *
    *   - R (weight `rWeight`, token `[NLU]`): regular span corruption —
    *     [[spanCorrupt]] at maskProb 0.15, spanLen 3;
    *   - S (weight `sWeight`, token `[S2S]`): prefix-LM — one salted-hash
    *     token cut, prefix is the input, suffix is the single target
    *     span (sentinel-bridged like the R/X pairs);
    *   - X (weight `xWeight`, token `[NLG]`): extreme corruption —
    *     [[spanCorrupt]] at maskProb 0.5, spanLen 8.
    *
    * Routing is [[hashSplit]] on the id (salted), so the mixture is
    * reproducible and a document's regime never changes as the corpus
    * grows; each regime's internal randomness is independently salted
    * (`salt:r` / `salt:s` / `salt:x`). Output:
    * `(<idField>, regime, input_text, target_text, n_masked_spans)`.
    *
    * Scale shape: three filtered branches over the same frame unioned
    * back — each a pure per-row projection, zero shuffle; compose after
    * a materialized stage (the pipeline_flagship localCheckpoint
    * discipline) and the corpus is read once. The S cut and R/X masks
    * are exact integer hash arithmetic — both engines replay them
    * bit-for-bit. */
  def ul2Mix(idField: String, textField: String,
      rWeight: Double = 0.5, sWeight: Double = 0.25, xWeight: Double = 0.25,
      salt: String = "ul2")(df: DataFrame): DataFrame = {
    require(rWeight >= 0 && sWeight >= 0 && xWeight >= 0 &&
      math.abs(rWeight + sWeight + xWeight - 1.0) < 1e-9,
      "regime weights must be nonnegative and sum to 1")
    val regime = hashSplit(col(idField),
      Seq("r" -> rWeight, "s" -> sWeight, "x" -> xWeight),
      defaultLabel = "r", salt = salt)
    val t = df.withColumn("__regime", regime)
    def corrupted(tag: String, prob: Double, spanLen: Int, mode: String) =
      spanCorrupt(idField, textField, prob, spanLen, s"$salt:$tag")(
        t.filter(col("__regime") === tag))
        .select(col(idField), lit(tag).as("regime"),
          concat(lit(s"[$mode] "), col("input_text")).as("input_text"),
          col("target_text"), col("n_masked_spans"))
    val r = corrupted("r", 0.15, 3, "NLU")
    val x = corrupted("x", 0.5, 8, "NLG")
    val sToks = tokens(coalesce(col(textField), lit("")))
    val sBranch = t.filter(col("__regime") === "s")
      .withColumn("__toks", sToks)
      .withColumn("__cut",
        (graft.functions.GraftFunctions.md5Prefix32(col(idField), s"$salt:s")
          % (size(col("__toks")).cast("long") + 1L)).cast("int"))
      .select(col(idField), lit("s").as("regime"),
        array_join(concat(array(lit("[S2S]")),
          slice(col("__toks"), lit(1), col("__cut")),
          array(lit("<extra_id_0>"))), " ").as("input_text"),
        array_join(concat(array(lit("<extra_id_0>")),
          slice(col("__toks"), col("__cut") + lit(1),
            size(col("__toks")) - col("__cut"))), " ").as("target_text"),
        lit(1L).as("n_masked_spans"))
    r.unionByName(sBranch).unionByName(x)
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text.
    * Identical normalization + digest in the oracle; exact-dup detection
    * is then a groupBy on this column. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), " +", " "))

  /** Rolling-window fingerprint (winnowing-style): minimum token-hash of
    * each document — a 1-int sketch usable for cheap prefiltering. */
  def minTokenHash(text: Column): Column =
    array_min(transform(tokenSet(text), t => tokenHash(t, lit(0))))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    * scheme): hash every `k`-byte character gram, slide a window of `w`
    * consecutive gram hashes, keep each window's minimum, and emit the
    * distinct selected hashes. Guarantees any shared substring of length
    * ≥ k + w - 1 contributes at least one common fingerprint — the
    * standard near-copy detector for code/text corpora.
    *
    * Pure projection (O(n·w) comparisons per row, no shuffle); documents
    * shorter than one window yield the minimum over what exists. The
    * gram hash is the shared md5-prefix primitive so the oracle
    * reproduces fingerprints bit-for-bit. */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    graft.functions.GraftFunctions.winnowFingerprints(text, k, w)

  /** Higher-order-function form of [[winnowFingerprints]] — the
    * executable specification the native kernel is tested against. */
  def winnowFingerprintsHof(text: Column, k: Int, w: Int): Column = {
    val grams = transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => conv(substring(md5(substring(text, i, lit(k))), 1, 8), 16, 10)
        .cast("long"))
    // Bind the gram array to a lambda variable (via a 1-element array
    // wrapper) so it is computed ONCE per row: referencing `grams`
    // directly inside the window lambda would re-evaluate the whole
    // hash array at every window position — Catalyst does not CSE
    // across higher-order-function lambdas (O(n²·w) md5s per row).
    element_at(
      transform(array(grams), g =>
        array_distinct(transform(
          sequence(lit(0), greatest(size(g) - w, lit(0))),
          j => array_min(slice(g, j + 1, lit(w)))))),
      1)
  }

  /** Deterministic train/validation/test split: the md5-prefix hash of a
    * stable key buckets each row into labeled fractions — reproducible
    * across engines, runs and cluster sizes, unlike `randomSplit` (RNG
    * per partition). `splits` maps label -> fraction; fractions are laid
    * out as consecutive hash ranges in label order, remainder rows get
    * `defaultLabel`. Pure projection. */
  def hashSplit(
      key: Column,
      splits: Seq[(String, Double)],
      defaultLabel: String = "train",
      salt: String = ""): Column = {
    val h = graft.functions.GraftFunctions.md5Prefix32(key, salt)
    val bounds = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }
    // a cumulative sum meant to be 1.0 can land at 0.999… in IEEE
    // arithmetic, whose cutoff (2^32 - 1) would misroute the one-in-2^32
    // row with the maximal hash prefix; snap to the exact top
    def cut(f: Double): Long =
      if (f >= 1.0 - 1e-9) 4294967296L else (f * 4294967296.0).toLong
    val cases = splits.zip(bounds.sliding(2).toSeq).map {
      case ((label, _), Seq(lo, hi)) => (label, cut(lo), cut(hi))
    }
    cases.foldRight(lit(defaultLabel): Column) { case ((label, lo, hi), acc) =>
      when(h >= lo && h < hi, lit(label)).otherwise(acc)
    }
  }

  /** K-fold cross-validation assignment: fold = (md5-prefix hash of the
    * key) mod k — [[hashSplit]]'s deterministic content-keyed hash, so
    * folds are reproducible across engines, runs and cluster sizes, and
    * a row's fold never changes as the corpus grows (unlike
    * `randomSplit`/`ntile`, which reshuffle everything on any change).
    * Pure projection, zero shuffle; leave-one-out train/test frames are
    * `fold =!= i` / `fold === i` filters that push down to the scan.
    * Same key ⇒ same fold, so grouped entities (pass the GROUP id as
    * `key`) never straddle a fold boundary — the [[Dedup.clusterSafeSplit]]
    * discipline at k-fold granularity. A NULL key yields a NULL fold
    * (there is no content to key on) — coalesce upstream if NULL rows
    * must participate. */
  def kFold(key: Column, k: Int, salt: String = ""): Column = {
    require(k >= 2, s"k must be >= 2, got $k")
    pmod(graft.functions.GraftFunctions.md5Prefix32(key, salt), lit(k.toLong))
  }

  /** PII scrubbing: ordered regex substitutions for the common leak
    * shapes (emails, long digit runs, bare IPv4s), kept to syntax shared
    * by Java regex and RE2 so the oracle applies the identical patterns.
    * Pattern lists are a starting point, not a compliance guarantee —
    * extend per corpus. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}" -> "<IP>",
    "[0-9]{7,}" -> "<NUM>")

  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  /** Luhn checksum over a digit string (ISO/IEC 7812): from the RIGHT,
    * odd positions add as-is, even positions double (−9 past 9); valid
    * iff the sum ≡ 0 (mod 10). Exact integer HOF fold — no UDF. The
    * empty string is invalid (a `sequence(1, 0)` would descend in
    * Spark, so the guard is also load-bearing). Caller guarantees the
    * input is all digits ([[scrubCards]] gates on a `^[0-9]{13,19}$`
    * match first). */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val sum = aggregate(
      sequence(lit(1), n),
      lit(0),
      (acc, i) => {
        val d = ascii(digits.substr(n - i + 1, lit(1))) - 48
        acc + when(i % 2 === 1, d)
          .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
      })
    when(n === 0, lit(false)).otherwise(sum % 10 === 0)
  }

  /** Credit-card scrubbing with CHECKSUM PRECISION: a whitespace token
    * is replaced by `<CARD>` only when it is a 13-19-digit run AND
    * Luhn-valid — the gate that keeps order ids, tracking numbers, and
    * timestamps (which [[scrubPii]]'s blanket `[0-9]{7,}` rule would
    * flatten) out of the redaction while catching every real PAN. The
    * standard precision/recall trade of production PII pipelines,
    * composable before or after [[scrubPii]]. Token-granular by
    * contract: PANs written with inner spaces/dashes tokenize apart and
    * are not matched. Pure projection, zero shuffle. */
  def scrubCards(text: Column): Column =
    array_join(transform(tokens(text), t =>
      when(t.rlike("^[0-9]{13,19}$") && luhnValid(t), lit("<CARD>"))
        .otherwise(t)), " ")

  // ------------------------------------------------------------ DataFrame ops

  /** Standard text-statistics projection over a corpus. */
  def textStats(textField: String)(df: DataFrame): DataFrame = {
    val t = col(textField)
    df.withColumn("token_count", tokenCount(t))
      .withColumn("distinct_token_count", size(tokenSet(t)))
      .withColumn("bpeish_token_count", bpeishTokenCount(t))
      .withColumn("char_count", length(t))
      .withColumn("mean_token_length",
        when(size(tokens(t)) === 0, 0.0)
          .otherwise(length(t).cast("double") / size(tokens(t))))
  }

  /** Tokenizer fertility + vocabulary report per source — the
    * observability pass that decides token budgets and flags sources a
    * tokenizer handles badly (high BPE-per-word fertility = the
    * vocabulary doesn't fit that source's text; low type/token ratio =
    * repetitive boilerplate). Per source:
    *  - `n_docs`, `n_words` (whitespace tokens), `n_chars` (non-space
    *    characters — the same denominator [[gopherRepetition]] uses),
    *    `n_bpe_tokens` (vocabulary-true count under `merges`, the
    *    shared [[bpeTokenCount]] kernel), `vocab_size` (corpus-wide
    *    distinct whitespace tokens in that source — the Heaps-law
    *    vocabulary-growth signal);
    *  - `bpe_per_word` (fertility), `chars_per_bpe` (compression),
    *    `type_token_ratio` (vocab/words) — each ONE final division over
    *    exact integer sums, hash-exact cross-engine.
    * NULL text counts as one zero-length word (0 chars, 0 BPE tokens) —
    * the tokenize-of-"" convention every text op here shares.
    *
    * Scale shape: the tokenized projection materializes once
    * (localCheckpoint) and feeds BOTH aggregations — the per-source
    * scalar sums (map-side partials, |sources| rows out) and the
    * distinct-vocabulary count (one explode + (source, token)
    * hash-agg). Source count is small; the vocab aggregation's
    * hot-token skew collapses in the map-side partial because the
    * grouping key is (source, token) itself. */
  def tokenizerFertility(
      sourceField: String, textField: String,
      merges: Seq[(String, String)] = demoBpeMerges)(df: DataFrame): DataFrame = {
    val tokenized = df.select(col(sourceField).as("__src"),
      tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    val scalars = tokenized.groupBy(col("__src"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("__ts")).cast("long")).as("n_words"),
        sum(aggregate(col("__ts"), lit(0L), (a, t) => a + length(t)))
          .as("n_chars"),
        sum(bpeTokenCount(array_join(col("__ts"), " "), merges))
          .as("n_bpe_tokens"))
    val vocab = tokenized.select(col("__src"), explode(col("__ts")).as("__t"))
      .groupBy(col("__src"))
      .agg(countDistinct(col("__t")).as("vocab_size"))
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))
    scalars.join(vocab, Seq("__src"))
      .select(col("__src").as(sourceField),
        col("n_docs"), col("n_words"), col("n_chars"), col("n_bpe_tokens"),
        col("vocab_size"),
        ratio(col("n_bpe_tokens"), col("n_words")).as("bpe_per_word"),
        ratio(col("n_chars"), col("n_bpe_tokens")).as("chars_per_bpe"),
        ratio(col("vocab_size"), col("n_words")).as("type_token_ratio"))
  }

  /** Per-document top-k terms by tf·idf over whitespace tokens.
    *
    * idf is the RATIONAL form `(N+1)/(df+1)`, not its logarithm: the
    * score is then one integer product and one IEEE division — exact and
    * identical across engines — where a libm `ln` (DuckDB) vs JVM
    * `Math.log` can differ in the last ulp and break hash-match. Rational
    * idf weights rare terms more aggressively than log-idf; for top-k
    * ranking that is the standard aggressive-idf trade, documented here.
    *
    * Scale shape: explode → one (doc, term) hash-agg for tf → one term
    * hash-agg for df (both with map-side partials) → equi-join back on
    * term (term cardinality ≪ token count) → per-doc top-k window. The
    * corpus size N rides along as a broadcast one-row aggregate, not a
    * driver-side action, so the whole plan stays lazy. */
  def tfidfTopTerms(idField: String, textField: String, k: Int)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idField).as("doc_id"),
        explode(tokens(col(textField))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = df.agg(countDistinct(col(idField)).as("__n"))
    tf.join(docFreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        (col("tf") * (col("__n") + 1)).cast("double") /
          (col("df") + 1).cast("double"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "tfidf", "rank")
  }

  /** TF-IDF-weighted cosine similarity pairs — the sparse
    * lexical-similarity rung between set-Jaccard ([[shingles]] +
    * [[graft.ext.Dedup.minhashNearDuplicates]]) and dense embedding
    * cosine ([[graft.ext.Similarity]]): term overlap WEIGHTED by how
    * discriminative each term is, so two docs sharing three rare names
    * outrank two docs sharing thirty stopwords.
    *
    * Weights use the repo's rational idf proxy `tf·(N+1)/(df+1)` (the
    * [[tfidfTopTerms]] formula — no `log`, so each weight is one exact
    * integer product and one IEEE division, deterministic cross-engine).
    * Terms with `df > maxDf` are DROPPED FROM THE VECTOR SPACE — that cap
    * is part of this operator's similarity definition, not an
    * approximation knob: it is what bounds pair generation (the join
    * emits ≤ Σ_{df≤maxDf} df² ≤ maxDf · corpus-tokens rows — LINEAR in
    * corpus size at fixed cap, where the uncapped sparse product is
    * quadratic in the hottest posting list) and the discarded terms are
    * precisely the near-zero-idf stop terms the weighting was built to
    * suppress. Norms are computed in the same capped space, so the
    * result is a true cosine there (1.0 for identical docs).
    *
    * Shape: ONE text scan builds the (doc, term, tf) frame
    * (localCheckpoint), df + the one-row N derive from it; candidate
    * pairs come from a term-partitioned self-equi-join; dot products and
    * norms are order-pinned float folds (term-sorted, the
    * oracle-exactness discipline of `bigramLmQuality`) bounded by
    * per-doc/pair vocab. Emits (id_a, id_b, cosine ≥ threshold),
    * id_a < id_b. */
  def tfidfCosinePairs(
      idField: String,
      textField: String,
      threshold: Double,
      maxDf: Int = 64)(df: DataFrame): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val tf = df
      .select(col(idField).as("__id"),
        explode(tokens(col(textField))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("__id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val total = df.agg(countDistinct(col(idField)).as("__n"))
    val w = tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .select(col("__id"), col("term"),
        ((col("tf") * (col("__n") + 1)).cast("double") /
          (col("df") + 1).cast("double")).as("__w"))
    def pinnedSum(terms: Column): Column =
      aggregate(transform(array_sort(terms), p => p.getField("v")),
        lit(0.0), (acc, x) => acc + x)
    val norms = w.groupBy(col("__id"))
      .agg(sqrt(pinnedSum(collect_list(
        struct(col("term").as("t"), (col("__w") * col("__w")).as("v")))))
        .as("__nrm"))
    w.select(col("__id").as("id_a"), col("term"), col("__w").as("__wa"))
      .join(w.select(col("__id").as("id_b"), col("term"),
        col("__w").as("__wb")), "term")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(pinnedSum(collect_list(struct(col("term").as("t"),
        (col("__wa") * col("__wb")).as("v")))).as("__dot"))
      .join(norms.select(col("__id").as("id_a"), col("__nrm").as("__na")),
        "id_a")
      .join(norms.select(col("__id").as("id_b"), col("__nrm").as("__nb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (col("__dot") / (col("__na") * col("__nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Vocabulary drift — WHICH tokens pull a source's unigram
    * distribution away from the corpus mixture, the token-level
    * companion to [[graft.probes.Probes.categoryDrift]] and the first
    * question after a mixing change ("src2 doubled; what is it made
    * of?"). Per (group, token): the group's share `p = c_g/n_g`, the
    * corpus share `q = c_all/n_all`, and the signed total-variation
    * contribution `shift = p − q`; the top `k` tokens per group by
    * |shift| (token-asc tiebreak). Σ|shift|/2 over ALL tokens is the
    * group↔corpus total-variation distance — TV chosen over KL
    * deliberately: it is RATIONAL in the counts (two exact-integer
    * divisions and a subtraction per row, no `log`), so rows
    * hash-match cross-engine, where libm's last-ulp `log` differences
    * would not (the repo-wide no-transcendentals doctrine).
    *
    * Scale shape: ONE corpus scan builds the (group, token) count
    * frame (localCheckpoint — the sourceOverlap discipline); group
    * totals, corpus token totals, and the one-row grand total all
    * derive from it, so the text never re-reads. The rank window
    * partitions by group over |vocab|-bounded rows, never documents.
    * Hot tokens skew the token-total agg — AQE handles it like any
    * hash-agg. */
  def tokenShift(groupField: String, textField: String, k: Int = 10)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupField != "token", "groupField 'token' would collide")
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df
      .select(col(groupField).as("__grp"),
        explode(tokens(col(textField))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("__grp", "token").agg(count(lit(1)).as("grp_count"))
      .localCheckpoint()
    val grpTot = counts.groupBy("__grp").agg(sum("grp_count").as("__ng"))
    val tokTot = counts.groupBy("token")
      .agg(sum("grp_count").as("corpus_count"))
    val allTot = counts.agg(sum("grp_count").as("__na"))
    counts.join(grpTot, "__grp").join(tokTot, "token")
      .crossJoin(broadcast(allTot))
      .withColumn("grp_share",
        col("grp_count").cast("double") / col("__ng").cast("double"))
      .withColumn("corpus_share",
        col("corpus_count").cast("double") / col("__na").cast("double"))
      .withColumn("shift", col("grp_share") - col("corpus_share"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("__grp")
          .orderBy(abs(col("shift")).desc, col("token").asc)))
      .filter(col("rank") <= k)
      .select(col("__grp").as(groupField), col("token"), col("grp_count"),
        col("corpus_count"), col("grp_share"), col("corpus_share"),
        col("shift"), col("rank"))
  }

  /** Benchmark decontamination — drop batch documents that share ANY
    * word n-gram with the benchmark/eval corpus, the standard guard
    * against test-set leakage into training data.
    *
    * Scale shape: the benchmark's distinct n-grams are FINGERPRINTS
    * (md5), not strings — a 13-gram is ~80 bytes, its digest 32, so the
    * shuffle and the build side shrink ~2.5× with identical oracle
    * arithmetic. Contamination is one hash semi-join of the batch's
    * exploded gram digests against that set (AQE broadcasts it when the
    * benchmark is small, the common case), one distinct on contaminated
    * ids, one left_anti back to the batch. Never quadratic, no per-doc
    * driver work. */
  def decontaminate(
      idField: String, textField: String, n: Int,
      benchmark: DataFrame, benchTextField: String)(
      batch: DataFrame): DataFrame = {
    val benchGrams = benchmark
      .select(explode(shingles(col(benchTextField), n)).as("__g"))
      .select(md5(col("__g")).as("__h")).distinct()
    val contaminated = batch
      .select(col(idField).as("__cid"),
        explode(shingles(col(textField), n)).as("__g"))
      .select(col("__cid"), md5(col("__g")).as("__h"))
      .join(benchGrams, "__h")
      .select("__cid").distinct()
    batch.join(contaminated, batch(idField) === contaminated("__cid"),
      "left_anti")
  }

  /** Per-document contamination REPORT — the audit you run before
    * [[decontaminate]] drops anything: for every batch document, how
    * many of its distinct n-gram digests appear in the benchmark set
    * (`matched_ngrams`) out of how many it has (`total_ngrams`). Same
    * digest semi-join shape as decontaminate (never quadratic; AQE
    * broadcasts the benchmark side when small), one count aggregation
    * keyed on the doc. Counts are integers, so the result is exact
    * cross-engine — compute any ratio downstream where float semantics
    * are the consumer's problem. Zero-gram docs report (0, 0). */
  def contaminationReport(
      idField: String, textField: String, n: Int,
      benchmark: DataFrame, benchTextField: String)(
      batch: DataFrame): DataFrame = {
    val benchGrams = benchmark
      .select(explode(shingles(col(benchTextField), n)).as("__g"))
      .select(md5(col("__g")).as("__h")).distinct()
      .withColumn("__hit", lit(1))
    batch
      .select(col(idField),
        explode_outer(shingles(col(textField), n)).as("__g"))
      .select(col(idField), md5(col("__g")).as("__h"))
      .join(benchGrams, Seq("__h"), "left")
      .groupBy(col(idField))
      .agg(
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("matched_ngrams"),
        count(col("__h")).as("total_ngrams"))
  }

  /** Per-BENCHMARK contamination breakdown — [[contaminationReport]]
    * resolved one level finer: for every (batch document, benchmark)
    * pair with at least one shared n-gram, how many of the document's
    * distinct gram digests that benchmark claims (`matched_ngrams`) out
    * of the document's total (`total_ngrams`). This is the report that
    * lets a pipeline drop ONE benchmark's grams (or quarantine one
    * eval suite) without dropping every contaminated document —
    * per-document aggregate auditing stays [[contaminationReport]]'s
    * job. Only contaminated pairs are emitted; clean documents are
    * absent by construction (emitting |docs|×|benchmarks| zero rows
    * would dwarf the signal).
    *
    * `benchIdField` names the benchmark/eval-suite id column of
    * `benchmark`; it is carried through the digest semi-join and kept
    * under the same name in the output. A gram shared by several
    * benchmarks counts once PER benchmark (digests are distinct per
    * (bench, gram), so double-counting within one benchmark is
    * impossible).
    *
    * Scale shape: the batch's shingle projection materializes ONCE
    * (localCheckpoint — id + distinct gram array, the same frame
    * near-dup verification checkpoints) and feeds both consumers:
    * per-doc totals read the array LENGTH (no explode), matches explode
    * it against the benchmark digest set (AQE broadcasts an eval set
    * that fits — the usual case). Counts are integers — exact
    * cross-engine. */
  def contaminationReportPerBenchmark(
      idField: String, textField: String, n: Int,
      benchmark: DataFrame, benchTextField: String, benchIdField: String)(
      batch: DataFrame): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val docs = batch.select(col(idField).as("__id"),
      shingles(col(textField), n).as("__sh"))
      .localCheckpoint()
    val benchGrams = benchmark
      .select(col(benchIdField).as("__bid"),
        explode(shingles(col(benchTextField), n)).as("__g"))
      .select(col("__bid"), md5(col("__g")).as("__h"))
      .distinct()
    val totals = docs.select(col("__id"),
      size(col("__sh")).cast("long").as("total_ngrams"))
    docs.select(col("__id"), explode(col("__sh")).as("__g"))
      .select(col("__id"), md5(col("__g")).as("__h"))
      .join(benchGrams, "__h")
      .groupBy(col("__id"), col("__bid"))
      .agg(count(lit(1)).as("matched_ngrams"))
      .join(totals, "__id")
      .select(col("__id").as(idField), col("__bid").as(benchIdField),
        col("matched_ngrams"), col("total_ngrams"))
  }

  /** Sequential sequence packing: assign documents to fixed-token-budget
    * training bins — the concat-and-chunk step that turns a filtered
    * corpus into training sequences. Documents are laid out in
    * `orderBy` order (make it a total order for determinism); each doc's
    * bin is the number of whole budgets before its start offset in the
    * running token stream, i.e. docs fill bin 0 until `budget` tokens
    * are consumed, then bin 1, and a doc whose tokens straddle a budget
    * boundary belongs to the bin its FIRST token lands in (greedy
    * sequential packing — the streaming-friendly discipline; bin-packing
    * heuristics that reorder docs trade determinism for fill rate).
    *
    * One cumulative-sum window per `shardField` partition: token offsets
    * are per-shard, so bins are too — shard by the column you already
    * shard training files by and each task packs independently. Exact
    * integer arithmetic, hash-matchable. */
  /** Length-grouped batch assignment — the padding-efficiency pass
    * before fixed-token training batches: documents land in LENGTH
    * BUCKETS (⌊n_tokens/bucketTokens⌋, bounding the intra-batch length
    * spread and hence the padding waste), and within a bucket
    * consecutive documents — ordered deterministically by
    * (n_tokens, id) — fill `batchTokens`-sized batches via the
    * [[packSequences]] quota rule (batch = ⌊(prefix−self)/budget⌋: a
    * document belongs to the batch its quota position starts in).
    * Output: `(id, n_tokens, bucket, batch)` with `batch` 0-based per
    * (bucket, shard).
    *
    * Scale shape: one tokenize projection + ONE shuffle (the window
    * partition). A near-uniform-length 100 TB corpus lands mostly in
    * one bucket, which would serialize the window — `shards` splits
    * every bucket into deterministic hash sub-streams (batching is a
    * partitioning CHOICE, not a global order: batches formed within a
    * shard are exactly as valid, so correctness is unaffected while
    * the window parallelism multiplies by `shards`). The oracle pins
    * shards = 1; the sharded path is spec-pinned batch-valid. A batch
    * is identified by (bucket, shard, batch) — `shard` stays in the
    * output (constant 0 at shards = 1). */
  def lengthBucketBatches(
      idField: String, textField: String,
      bucketTokens: Int, batchTokens: Long,
      shards: Int = 1)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketTokens >= 1, s"bucketTokens must be >= 1, got $bucketTokens")
    require(batchTokens >= 1, s"batchTokens must be >= 1, got $batchTokens")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val base = df.select(col(idField),
      size(tokens(coalesce(col(textField), lit(""))))
        .cast("long").as("n_tokens"))
      .withColumn("bucket",
        floor(col("n_tokens") / lit(bucketTokens)).cast("long"))
      .withColumn("shard", pmod(xxhash64(col(idField)), lit(shards)))
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("n_tokens").asc, col(idField).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("batch",
      floor((sum(col("n_tokens")).over(w) - col("n_tokens"))
        / batchTokens))
  }

  def packSequences(
      tokenCountField: String, budget: Long,
      shardField: String, orderBy: Seq[String],
      target: String = "bin")(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"token budget must be positive, got $budget")
    val w = Window.partitionBy(col(shardField))
      .orderBy(orderBy.map(col(_).asc_nulls_first): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(target,
      floor((sum(col(tokenCountField)).over(w) - col(tokenCountField))
        / budget))
  }

  /** Apply form of [[packSequences]]: materialize each training bin as
    * ONE row — documents concatenated in id order with `sep` — plus the
    * bin's doc and token counts. This is the "pack and write" step that
    * turns a cleaned corpus into fixed-budget training sequences.
    *
    * One window (the bin assignment, per-shard cumulative sum) plus one
    * hash aggregation on (shard, bin). The concat builds each bin's text
    * once from a collect_list sorted in-memory per bin — safe because a
    * bin is ≤ `budget` tokens BY CONSTRUCTION (the one aggregation shape
    * where collect_list is provably bounded). Deterministic: bin
    * membership is a pure function of (shard, id order, budget) and the
    * concat order is the id sort. */
  def packTexts(
      idField: String, textField: String, shardField: String,
      budget: Long, sep: String = " ",
      counter: Column => Column = tokenCount)(df: DataFrame): DataFrame = {
    val binned = packSequences("__n", budget, shardField, Seq(idField))(
      df.select(col(idField), col(textField), col(shardField),
        counter(col(textField)).cast("long").as("__n")))
    binned.groupBy(col(shardField), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col(idField),
            col(textField)))), x => x.getField(textField)),
          sep).as("text"))
  }

  /** Mean corpus unigram frequency per document — the cheap statistical
    * stand-in for LM-perplexity quality filtering (CCNet's shape): a
    * document whose tokens are all corpus-rare (OCR noise, mojibake,
    * random identifiers) scores low; ordinary prose scores high. All
    * integer counts until the final division, so scores are bit-exact
    * across engines — unlike a real log-prob, which would not be.
    *
    * The corpus is scanned and exploded EXACTLY once: the exploded
    * token stream collapses immediately to per-(doc, token) occurrence
    * counts — the smallest frame that still determines both outputs —
    * and that frame materializes (localCheckpoint) for its two
    * consumers, the corpus-frequency aggregation and the re-join.
    * (The naive shape feeds the raw exploded stream to both and
    * Catalyst recomputes the dominant scan → explode stage twice.)
    * Hot tokens ("the") make the join key skewed by construction —
    * AQE's skew-join split handles it (the hot side is the per-doc
    * frame, split freely; the build row is tiny); with AQE off, salt
    * the join. The frequency table is |vocab| rows — broadcast it when
    * it fits and the join shuffle disappears. */
  def unigramCfQuality(
      idField: String, textField: String)(df: DataFrame): DataFrame = {
    val perDoc = df.select(col(idField).as("__id"),
      explode(tokens(col(textField))).as("__t"))
      .groupBy("__id", "__t").agg(count(lit(1)).as("__k"))
      .localCheckpoint()
    val cf = perDoc.groupBy("__t").agg(sum("__k").as("__cf"))
    perDoc.join(cf, "__t")
      .groupBy("__id")
      // sum of per-token occurrence counts ≡ count over the raw exploded
      // stream; Σ k·cf ≡ summing cf once per occurrence — both integer
      .agg(sum("__k").as("n_tokens"),
        sum(col("__k") * col("__cf")).as("cf_sum"))
      .select(col("__id").as(idField), col("n_tokens"), col("cf_sum"),
        (col("cf_sum").cast("double") / col("n_tokens")).as("mean_cf"))
  }

  /** Bigram-interpolated language-model quality score — the next rung
    * above [[unigramCfQuality]] on the CCNet-style "perplexity filter"
    * ladder: per document, the mean over token positions i ≥ 1 of the
    * interpolated conditional probability
    * `λ·c(w_{i−1} w_i)/c_left(w_{i−1}) + (1−λ)·c(w_i)/T`, with all
    * counts corpus-wide (`c_left` counts bigram occurrences STARTING
    * with the token, `T` is the total token count). Natural text that
    * reuses the corpus' transitions scores high; shuffled or alien text
    * scores near its unigram floor. A full KenLM is a trained artifact;
    * this is the engine-native analog whose statistics come from the
    * corpus itself, exactly like [[unigramCfQuality]]'s.
    *
    * Exactness: every count is an integer; each probability is two
    * exact-rounded divisions, one multiply by the λ literals, one add —
    * all IEEE-deterministic. The per-document SUM of probabilities is
    * the one order-sensitive float fold, so it is pinned: probabilities
    * ride (pos, p) structs into one collect, are array_sorted by
    * position, and fold LEFT from 0.0 — the oracle replays the same
    * fold with `list(p ORDER BY pos)` + `list_reduce`, step-identical
    * (the [[bm25BatchTopK]] discipline).
    *
    * Scale shape: the tokenized projection checkpoints once and feeds
    * the bigram stream + unigram counts; the three count tables join
    * EACH OTHER first into one (prev, w, cb, cl, cu) stats table (its
    * size is |distinct bigrams|, ≪ corpus), so the position stream pays
    * ONE digest-free equi-join; hot bigrams ("of the") skew that join —
    * AQE skew-split, as [[unigramCfQuality]] documents. The per-doc
    * collect is bounded by document length, the same bound every window
    * op here lives with.
    *
    * `exactOrder = false` is the PRODUCTION mode for book-length
    * documents: the per-doc probability sum becomes a plain order-free
    * `sum()` (map-side-combining hash agg — no per-doc position list).
    * Same mathematics, engine-chosen addition order: agrees with the
    * exact mode to rounding (spec-asserted ≤ 1e-12 relative) but is
    * not oracle-hash-pinnable. The exact default stays the contract
    * mode. */
  /** Collocation mining: adjacent word pairs that co-occur far more
    * often than their unigram frequencies predict — the corpus-analysis
    * view that surfaces multiword names and idioms ("new york",
    * "machine learning") before tokenizer/vocab decisions are made.
    * Association is scored by LIFT `p(w1w2)/(p(w1)·p(w2))` rather than
    * PMI: PMI is lift's log and ranks identically, but lift is RATIONAL
    * in the four exact counts (one fixed dag of IEEE divisions), so
    * rows hash-match cross-engine where libm `log` would not (the
    * no-transcendentals doctrine of `tokenShift`). `minCount` drops the
    * unstable low-count tail BEFORE the unigram joins (lift explodes on
    * hapax pairs — the standard collocation floor, and the join
    * pruner); top-`k` by (lift desc, w1, w2) via orderBy+limit —
    * TakeOrderedAndProject, no global sort. One token scan feeds both
    * count frames (localCheckpoint); totals ride one-row broadcasts. */
  def collocations(textField: String, minCount: Long = 5, k: Int = 20)(
      df: DataFrame): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    import graft.functions.GraftFunctions.bind
    val tokenized = df
      .select(tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    val bigrams = tokenized.select(
      explode(bind(col("__ts")) { ts =>
        when(size(ts) < 2, array().cast("array<struct<w1:string,w2:string>>"))
          .otherwise(transform(sequence(lit(1), size(ts) - 1), i =>
            struct(element_at(ts, i).as("w1"),
              element_at(ts, i + 1).as("w2"))))
      }).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .localCheckpoint()
    val cb = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= minCount)
    val nb = bigrams.agg(count(lit(1)).as("__nbg"))
    val unigrams = tokenized.select(explode(col("__ts")).as("w"))
    val cu = unigrams.groupBy("w").agg(count(lit(1)).as("n"))
    val nu = unigrams.agg(count(lit(1)).as("__nuni"))
    cb.join(cu.select(col("w").as("w1"), col("n").as("n1")), "w1")
      .join(cu.select(col("w").as("w2"), col("n").as("n2")), "w2")
      .crossJoin(broadcast(nu))
      .crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
        ((col("n12").cast("double") / col("__nbg")) /
          ((col("n1").cast("double") / col("__nuni")) *
            (col("n2").cast("double") / col("__nuni")))).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def bigramLmQuality(
      idField: String, textField: String, lambda: Double = 0.7,
      exactOrder: Boolean = true)(
      df: DataFrame): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val tokenized = df.select(col(idField).as("__id"),
      tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    val bigrams = tokenized.select(col("__id"),
      posexplode(graft.functions.GraftFunctions.bind(col("__ts")) { ts =>
        when(size(ts) < 2, array().cast("array<struct<p:string,w:string>>"))
          .otherwise(transform(sequence(lit(1), size(ts) - 1), i =>
            struct(element_at(ts, i).as("p"), element_at(ts, i + 1).as("w"))))
      }).as(Seq("__pos", "__bg")))
      .select(col("__id"), col("__pos").cast("long").as("__pos"),
        col("__bg.p").as("__prev"), col("__bg.w").as("__w"))
      .localCheckpoint()
    val cb = bigrams.groupBy("__prev", "__w").agg(count(lit(1)).as("__cb"))
    val cl = bigrams.groupBy("__prev").agg(count(lit(1)).as("__cl"))
    val unigrams = tokenized.select(explode(col("__ts")).as("__w"))
    val cu = unigrams.groupBy("__w").agg(count(lit(1)).as("__cu"))
    val tot = unigrams.agg(count(lit(1)).as("__T"))
    val stats = cb.join(cl, "__prev").join(cu, "__w")
    val scored = bigrams
      .join(stats, Seq("__prev", "__w"))
      .crossJoin(broadcast(tot))
      .select(col("__id"), col("__pos"),
        (lit(lambda) * (col("__cb").cast("double") / col("__cl").cast("double"))
          + lit(1.0 - lambda)
            * (col("__cu").cast("double") / col("__T").cast("double")))
          .as("__p"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"),
        (if (exactOrder)
          aggregate(
            transform(array_sort(collect_list(struct(col("__pos"), col("__p")))),
              s => s.getField("__p")),
            lit(0.0), (a, x) => a + x)
        else sum(col("__p"))).as("__sum"))
    df.select(col(idField).as("__id")).join(scored, Seq("__id"), "left")
      .select(col("__id").as(idField),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull || col("n_bigrams") === 0L, lit(0.0))
          .otherwise(col("__sum") / col("n_bigrams").cast("double"))
          .as("lm_score"))
  }

  /** The 1..maxN-gram count table [[trigramLmQuality]] consumes — the
    * KenLM-style count file as ONE frame `(n, gram, occurrences)`
    * (gram = space-joined tokens; occurrence-true, per-document token
    * streams, no cross-document grams). This is the TRAINED artifact
    * of the LM-quality rung: build it once on a reference corpus,
    * persist it through [[graft.ext.ModelStore.saveCounts]], score any
    * later corpus against it. One tokenized scan (localCheckpoint)
    * feeds all gram widths; each width is one explode + one hash-agg
    * with map-side partials. `minCount` prunes each width's long tail
    * independently — safe for the scorer because pruning is
    * monotone-nested (a surviving n-gram's prefix (n−1)-gram has ≥ its
    * count, so equal `minCount` can never orphan a survivor). */
  def lmCountTable(
      textField: String, maxN: Int = 3, minCount: Long = 1L)(
      df: DataFrame): DataFrame = {
    require(maxN >= 1 && maxN <= 5, s"maxN must be in [1, 5], got $maxN")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val toked = df
      .select(tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    (1 to maxN).map { n =>
      toked.select(explode(graft.functions.GraftFunctions.shingleStrings(
          col("__ts"), n, distinct = false)).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("occurrences"))
        .filter(col("occurrences") >= minCount)
        .select(lit(n).as("n"), col("gram"), col("occurrences"))
    }.reduce(_ unionByName _)
  }

  /** Trigram "stupid backoff" language-model quality score (Brants et
    * al. 2007, "Large Language Models in Machine Translation") — the
    * CCNet-shaped rung ABOVE [[bigramLmQuality]] on the perplexity-
    * filter ladder, and the first one scored against a STORED model
    * (`counts`, a [[lmCountTable]] frame — typically built on a
    * high-quality reference corpus and persisted via
    * [[graft.ext.ModelStore.saveCounts]]) rather than the scored
    * corpus' own statistics. Per token position i ≥ 3, the backoff
    * score
    *   `S(w_i) = c₃(w_{i−2..i}) / c₂(w_{i−2..i−1})`      if c₃ > 0,
    *   `       = α · c₂(w_{i−1..i}) / c₁(w_{i−1})`        else if c₂ > 0,
    *   `       = α² · c₁(w_i) / T`                         otherwise
    * (α = 0.4, Brants' constant; T = the table's total unigram count;
    * an unseen w_i scores exact 0). Not a normalized probability — the
    * point of "stupid": relative frequencies need no discounting, and
    * at corpus scale the quality RANKING matches smoothed LMs. The
    * per-doc output is the MEAN over trigram positions; in-domain
    * prose rides the trigram leg and scores high, shuffled or alien
    * text falls through to the α²-damped unigram floor
    * (spec-separated).
    *
    * Exactness: counts are exact integers; each leg is one
    * exact-rounded IEEE division times a driver-computed literal (α,
    * α²) — a fixed dag, bit-reproducible cross-engine (no logs: the
    * [[targetAffinity]] doctrine). The per-doc sum is the one
    * order-sensitive fold — pinned by position (`exactOrder = true`,
    * the oracle contract) or a plain `sum()` (`exactOrder = false`,
    * the production mode for book-length docs).
    *
    * Scale shape: the count table pre-joins ITSELF into trigram stats
    * `(g3, c3, ctx)` and bigram stats `(g2, c2, c1prev)` — each
    * |table|-sized, never corpus-sized — so the position stream pays
    * exactly three digest equi-joins (g3, g2, w) plus a one-row
    * broadcast (T); hot grams skew them and AQE skew-split absorbs it
    * ([[unigramCfQuality]]'s note). A table row whose lower-order
    * context is missing (inconsistent hand-built table) falls through
    * to the next backoff leg rather than poisoning the score; grams
    * must be UNIQUE per (n, gram) — [[lmCountTable]] guarantees it,
    * hand-built tables must too (a duplicate gram would multiply
    * stream rows through the equi-join). Docs with < 3 tokens (incl.
    * NULL text) score `n_trigrams = 0, lm_score = 0.0`. Output:
    * `idField, n_trigrams, lm_score`. */
  /** The [[trigramLmQuality]] count-table self-joins, shared with the
    * streaming twin: `(triStats (__g3, __c3, __ctx2), biStats
    * (__g2, __c2, __c1p), unigrams (__g1, __c1w), tot (__T))`. */
  private[graft] def lmStats(counts: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(counts.columns.length == 3,
      s"counts must be (n, gram, occurrences) rows, got " +
        counts.columns.mkString(", "))
    val cN = col(counts.columns(0))
    val cG = col(counts.columns(1))
    val cC = col(counts.columns(2))
    // ONE pin of the whole table instead of per-order pins: a
    // freshly-built counts frame (lmCountTable = corpus gram explode +
    // three hash-aggs) re-executed once per unpinned consumer — the
    // c1/c2 pins each ran it, and the c3 leg ran it again inside the
    // scoring plan plus once more in a caller's closing range-sort
    // sampling pass (measured: four ~1.2-1.9 s table-build stages
    // inside one ccnet_buckets run). Table-sized — the op's documented
    // model-size class — and bit-identical.
    val pinned = counts.localCheckpoint()
    val c1 = pinned.filter(cN === 1)
      .select(cG.as("__g1"), cC.as("__c1w"))
    val c2 = pinned.filter(cN === 2)
      .select(cG.as("__g2"), cC.as("__c2"))
    val c3 = pinned.filter(cN === 3).select(cG.as("__g3"), cC.as("__c3"))
    // table-sized self-joins: trigram rows pick up their prefix-bigram
    // context, bigram rows their leading-unigram denominator
    val triStats = c3
      .withColumn("__ctxg",
        array_join(slice(split(col("__g3"), " ", -1), 1, 2), " "))
      .join(c2.select(col("__g2").as("__ctxg"), col("__c2").as("__ctx2")),
        Seq("__ctxg"), "left")
      .select(col("__g3"), col("__c3"), col("__ctx2"))
    val biStats = c2
      .withColumn("__w1", substring_index(col("__g2"), " ", 1))
      .join(c1.select(col("__g1").as("__w1"), col("__c1w").as("__c1p")),
        Seq("__w1"), "left")
      .select(col("__g2"), col("__c2"), col("__c1p"))
    val tot = c1.agg(coalesce(sum(col("__c1w")), lit(0L)).as("__T"))
    (triStats, biStats, c1, tot)
  }

  /** One `(g3, g2, w0)` struct per trigram position of a token array —
    * the position stream both LM forms explode. */
  private[graft] def lmPositions(ts: Column): Column =
    graft.functions.GraftFunctions.bind(ts) { t =>
      when(size(t) < 3,
        array().cast("array<struct<g3:string,g2:string,w0:string>>"))
        .otherwise(transform(sequence(lit(1), size(t) - 2), i =>
          struct(
            concat_ws(" ", element_at(t, i), element_at(t, i + 1),
              element_at(t, i + 2)).as("g3"),
            concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))
              .as("g2"),
            element_at(t, i + 2).as("w0"))))
    }

  /** The per-position stupid-backoff score over the joined stats
    * columns (`__c3/__ctx2/__c2/__c1p/__c1w/__T`). */
  private[graft] def lmBackoffScore(alpha: Double): Column =
    when(col("__c3").isNotNull && col("__ctx2").isNotNull,
      col("__c3").cast("double") / col("__ctx2").cast("double"))
      .when(col("__c2").isNotNull && col("__c1p").isNotNull,
        lit(alpha) *
          (col("__c2").cast("double") / col("__c1p").cast("double")))
      .otherwise(when(col("__T") === 0L, lit(0.0))
        .otherwise(lit(alpha * alpha) *
          (coalesce(col("__c1w"), lit(0L)).cast("double") /
            col("__T").cast("double"))))

  def trigramLmQuality(
      idField: String, textField: String, counts: DataFrame,
      alpha: Double = 0.4, exactOrder: Boolean = true)(
      df: DataFrame): DataFrame = {
    val tokenized = df.select(col(idField).as("__id"),
      tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    trigramLmQualityTokenized(tokenized, counts, alpha, exactOrder)
      .withColumnRenamed("__id", idField)
  }

  /** [[trigramLmQuality]] over an ALREADY-tokenized `(__id, __ts)`
    * frame (caller-checkpointed) — the seam [[ccnetBuckets]] uses so
    * its token-mass column rides the SAME tokenization pass as the LM
    * scores instead of re-splitting the corpus (review-caught double
    * scan). Emits `__id, n_trigrams, lm_score`. */
  private[graft] def trigramLmQualityTokenized(
      tokenized: DataFrame, counts: DataFrame,
      alpha: Double, exactOrder: Boolean): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1]: $alpha")
    val (triStats, biStats, c1, tot) = lmStats(counts)
    val tri = tokenized.select(col("__id"),
      posexplode(lmPositions(col("__ts"))).as(Seq("__pos", "__t")))
      .select(col("__id"), col("__pos").cast("long").as("__pos"),
        col("__t.g3").as("__g3"), col("__t.g2").as("__g2"),
        col("__t.w0").as("__w0"))
    val scored = tri
      .join(triStats, Seq("__g3"), "left")
      .join(biStats, Seq("__g2"), "left")
      .join(c1.select(col("__g1").as("__w0"), col("__c1w")),
        Seq("__w0"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__id"), col("__pos"), lmBackoffScore(alpha).as("__p"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_trigrams"),
        (if (exactOrder)
          aggregate(
            transform(
              array_sort(collect_list(struct(col("__pos"), col("__p")))),
              s => s.getField("__p")),
            lit(0.0), (a, x) => a + x)
        else sum(col("__p"))).as("__sum"))
    tokenized.select(col("__id")).join(scored, Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        when(col("n_trigrams").isNull || col("n_trigrams") === 0L, lit(0.0))
          .otherwise(col("__sum") / col("n_trigrams").cast("double"))
          .as("lm_score"))
  }

  /** CCNet perplexity-tertile mix report (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data") — the canonical consumer of the stored-LM rung: score
    * every document with [[trigramLmQuality]] against the stored
    * `counts` table, percentile-rank the scores WITHIN each source
    * ([[scorePercentiles]] — threshold-free, so sources with wildly
    * different score distributions each keep their own thirds), cut at
    * the tertiles (CCNet buckets by Wikipedia-LM perplexity where
    * lower is better; this LM is a mean backoff score where HIGHER is
    * more in-domain, so `head` = top third by score — same operating
    * table, flipped axis), and report per (source, bucket) the
    * document count, token mass, and the bucket's token share of its
    * source — the table a mixer reads to set per-bucket sampling
    * rates (CCNet trains on head+middle, drops tail).
    *
    * Exactness: the LM scores and percentile ratios are the composed
    * ops' bit-reproducible dags; the tertile cuts compare the exact
    * below/(n−1) ratio against the driver literals 1/3 and 2/3;
    * counts are exact integers and the one share division is final.
    * Scale shape: the LM leg's three digest equi-joins (its
    * documented bill) + [[scorePercentiles]]' histogram window + two
    * hash-aggs; the report is ≤ |sources|·3 rows. An empty bucket has
    * no row — the absent row IS the zero. NULL text counts as empty
    * (scores 0.0, one token — the split('') convention). NULL-source
    * documents DROP up front: percentile ranking is per-source, and a
    * NULL source is no source — unfiltered, they would silently fall
    * into `tail` (scorePercentiles' equality join never matches NULL)
    * while the SQL mirror's percent_rank ranks the NULL partition
    * normally (r17 ADVICE: a latent oracle-parity split); coalesce the
    * source to a sentinel first if NULL should be its own bucket set.
    * Output: `source, bucket, n_docs, n_tokens, token_share`. */
  def ccnetBuckets(idField: String, sourceField: String,
      textField: String, counts: DataFrame, alpha: Double = 0.4,
      exactOrder: Boolean = true)(df: DataFrame): DataFrame = {
    // ONE tokenization pass feeds both the LM leg and the token mass
    val tokenized = df
      .filter(col(sourceField).isNotNull)
      .select(col(idField).as("__id"),
        col(sourceField).as("source"),
        tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    val scored = trigramLmQualityTokenized(
      tokenized.select(col("__id"), col("__ts")), counts, alpha,
      exactOrder)
    val joined = tokenized
      .select(col("__id").as("__did"), col("source"),
        size(col("__ts")).cast("long").as("__ntok"))
      .join(scored.select(col("__id").as("__did"), col("lm_score")),
        Seq("__did"))
    val bucketed = scorePercentiles("source", "lm_score")(joined)
      .withColumn("bucket",
        when(col("score_pct") >= lit(2.0 / 3.0), lit("head"))
          .when(col("score_pct") >= lit(1.0 / 3.0), lit("middle"))
          .otherwise(lit("tail")))
    val perBucket = bucketed.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens"))
      .localCheckpoint() // <= |sources|*3 rows; feeds share AND output
    val perSource = perBucket.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("__stok"))
    perBucket.join(perSource, Seq("source"))
      .select(col("source"), col("bucket"), col("n_docs"),
        col("n_tokens"),
        (col("n_tokens").cast("double") / col("__stok").cast("double"))
          .as("token_share"))
  }

  /** DSIR-shaped importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", re-expressed with
    * exact integer counts): score each raw document by how much more its
    * word n-gram distribution resembles a small high-quality TARGET
    * corpus than the raw corpus itself. Per document,
    *   `target_score` = Σ_g c_target(g) / (n_grams · T)  — the mean
    *     target-relative-frequency of the doc's grams, and
    *   `raw_score`    = Σ_g c_raw(g) / (n_grams · R)     — the same
    *     against the raw corpus (the doc's own gram stream included),
    *   `affinity`     = target_score − raw_score,
    * where c_X(g) are corpus-wide gram occurrence counts and T/R the
    * corpora's total gram counts. Positive affinity = "looks more like
    * the target than like the average raw doc" — the resampling weight
    * DSIR computes as a log-likelihood ratio over hashed n-gram
    * features, here kept log-free (the sums and products are exact
    * integers; each score is ONE IEEE division, the affinity one
    * subtraction — bit-reproducible cross-engine where summed float
    * logs are not). Compose with [[hashBernoulli]] / [[scorePercentiles]]
    * to turn scores into a deterministic selection.
    *
    * Grams keep their multiplicity (frequency weighting, as DSIR's
    * feature counts do). Docs with fewer than n tokens (incl. NULL
    * text) survive with 0 grams and 0.0 scores; an EMPTY target corpus
    * divide-guards every target_score to 0.0.
    *
    * Scale shape: the raw gram stream materializes ONCE
    * (localCheckpoint) and feeds both the raw count table and the
    * per-doc join; the target corpus is scanned once into its count
    * table. Both joins are digest equi-joins — hot grams ("of the")
    * skew them exactly like [[unigramCfQuality]]'s token join, and the
    * same AQE skew-split handles it; totals ride a one-row broadcast.
    * Nothing is ever all-pairs and the doc table shuffles only digests. */
  def targetAffinity(
      idField: String, textField: String, n: Int,
      target: DataFrame, targetTextField: String)(df: DataFrame): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val stream = df.select(col(idField).as("__id"),
      explode(gramDigests(coalesce(col(textField), lit("")), n)).as("__h"))
      .localCheckpoint()
    val rawCounts = stream.groupBy("__h").agg(count(lit(1)).as("__cr"))
    val tgtCounts = target.select(
      explode(gramDigests(coalesce(col(targetTextField), lit("")), n)).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__ct"))
    val totals = rawCounts.agg(coalesce(sum("__cr"), lit(0L)).as("__rtot"))
      .crossJoin(tgtCounts.agg(coalesce(sum("__ct"), lit(0L)).as("__ttot")))
    val perDoc = stream
      .join(tgtCounts, Seq("__h"), "left")
      .join(rawCounts, Seq("__h"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__ct"), lit(0L))).as("target_hits"),
        sum(col("__cr")).as("raw_hits"))
    val base = df.select(col(idField).as("__id"))
    def score(hits: Column, tot: Column): Column =
      when(col("n_grams").isNull || col("n_grams") === 0L || tot === 0L, lit(0.0))
        .otherwise(hits.cast("double") / (col("n_grams") * tot).cast("double"))
    base.join(perDoc, Seq("__id"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__id").as(idField),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("target_hits"), lit(0L)).as("target_hits"),
        coalesce(col("raw_hits"), lit(0L)).as("raw_hits"),
        score(col("target_hits"), col("__ttot")).as("target_score"),
        score(col("raw_hits"), col("__rtot")).as("raw_score"),
        (score(col("target_hits"), col("__ttot"))
          - score(col("raw_hits"), col("__rtot"))).as("affinity"))
  }

  /** Sliding-window document chunking — the embedding/retrieval-pipeline
    * primitive: split each document into `chunkTokens`-token windows
    * whose starts step by `stride` tokens (stride < chunkTokens =
    * overlapping chunks, the usual RAG shape; stride = chunkTokens =
    * disjoint partition; stride > chunkTokens = window SUBSAMPLING with
    * gaps — legal, for sketching very long docs). Whenever stride ≤
    * chunkTokens every token is covered; the last window of a document
    * may be shorter. Emits (id, chunk_idx, chunk_start, chunk_tokens,
    * chunk_text) with chunk_idx dense from 0 in document order.
    *
    * Pure projection + explode — no shuffle, no UDF, codegen end to
    * end; output volume is ~`chunkTokens/stride` × corpus, the caller's
    * overlap choice.
    *
    * `tokenizer`/`detokenizer` swap the token stream the windows slide
    * over: the default is the whitespace pair (split / space-join);
    * [[chunkTextsBpe]] passes the BPE pair so chunks are measured — and
    * their boundaries fall — in MODEL tokens. */
  def chunkTexts(
      idField: String, textField: String, chunkTokens: Int, stride: Int,
      tokenizer: Column => Column = tokens,
      detokenizer: Column => Column = ts => array_join(ts, " "))(
      df: DataFrame): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import graft.functions.GraftFunctions.bind
    df.select(col(idField),
        posexplode(bind(tokenizer(col(textField))) { ts =>
          transform(sequence(lit(0), size(ts) - 1, lit(stride)), s =>
            struct(s.cast("long").as("chunk_start"),
              least(lit(chunkTokens), size(ts) - s).cast("long")
                .as("chunk_tokens"),
              detokenizer(slice(ts, s + 1, lit(chunkTokens)))
                .as("chunk_text")))
        }).as(Seq("chunk_idx", "__c")))
      .select(col(idField), col("chunk_idx").cast("long").as("chunk_idx"),
        col("__c.chunk_start"), col("__c.chunk_tokens"),
        col("__c.chunk_text"))
  }

  /** [[chunkTexts]] over MODEL tokens: windows slide over the BPE
    * piece stream ([[bpeTokenize]]) and chunk text rejoins via
    * [[bpeDetokenize]] — `chunk_start`/`chunk_tokens` are BPE-piece
    * offsets/counts, and a chunk boundary may fall mid-word (the
    * marker convention rejoins those slices without a spurious
    * space). The RAG shape when the embedder's budget is model
    * tokens, not words. */
  def chunkTextsBpe(
      idField: String, textField: String, chunkTokens: Int, stride: Int,
      merges: Seq[(String, String)])(df: DataFrame): DataFrame =
    chunkTexts(idField, textField, chunkTokens, stride,
      tokenizer = bpeTokenize(_, merges),
      detokenizer = bpeDetokenize)(df)

  /** Deterministic per-source token-budget sampling — the data-MIXING
    * step of training-corpus assembly: given a token budget per source,
    * keep a reproducible pseudo-random subset of each source's documents
    * whose token counts fill (but never exceed) that budget. Documents
    * are ranked inside each source by `md5(salt|id)` — a uniform,
    * engine-portable shuffle order — and the kept set is the maximal
    * PREFIX of that order with cumulative tokens ≤ `tokensPerSource`
    * (prefix semantics: once the running sum crosses the budget, later
    * docs are excluded even if small — that keeps the kept set a pure
    * function of (salt, budget) rather than of a bin-packing heuristic,
    * so two runs, or a rerun after an upstream fix, select identical
    * documents). Returns (source, id, n_tokens, cum_tokens) under the
    * caller's column names. `counter` swaps the whitespace counter for
    * any pure counting Column (e.g. [[bpeTokenCount]] with a merge
    * vocabulary — budgets become vocabulary-true); [[packTexts]] takes
    * the same knob, and [[packSequences]] is counter-agnostic by
    * construction (it reads a precomputed count field).
    *
    * Scale shape: one hash-partition shuffle on source + a per-source
    * sort for the cumulative window. Sources are few and can be huge, so
    * the sort is the cost driver — [[tokenBudgetMixTwoPass]] is the
    * cluster-scale form (rank-prefix bucket offsets, 256-way parallel
    * windows, sub-budget buckets pruned before any sort) with
    * bit-identical output; this single-pass form is its executable
    * spec and the right choice when every source fits a task. */
  def tokenBudgetMix(
      idField: String, textField: String, sourceField: String,
      tokensPerSource: Long, salt: String = "mix",
      counter: Column => Column = tokenCount)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokensPerSource > 0,
      s"token budget must be positive, got $tokensPerSource")
    val w = Window.partitionBy(col(sourceField))
      .orderBy(col("__rk"), col(idField))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(sourceField), col(idField),
        counter(col(textField)).cast("long").as("n_tokens"),
        md5(concat_ws("|", lit(salt), col(idField).cast("string")))
          .as("__rk"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= tokensPerSource)
      .drop("__rk")
  }

  /** Cluster-scale form of [[tokenBudgetMix]] — IDENTICAL output, the
    * per-source GLOBAL sort window replaced. The single-pass form sorts
    * every source end to end for its cumulative window; sources are few
    * and huge at 100 TB, so that window serializes each source onto one
    * task. Here the md5 rank's first two hex chars carve every source
    * into 256 rank-prefix buckets whose string order IS the rank order,
    * and the cumulative sum splits exactly:
    *
    *  1. one hash-aggregation computes per-(source, bucket) token sums,
    *     and a per-source window over ≤ 256 bucket rows (trivially
    *     small) turns them into EXACT bucket start offsets;
    *  2. buckets whose offset already exceeds the budget drop before
    *     any sort — with budget ≪ source size, that is almost all of
    *     them (the "boundary sliver" refinement the single-pass op
    *     documents, made deterministic: prefix-bucket offsets are exact
    *     where an approx-quantile boundary would need a correction
    *     pass);
    *  3. the doc-level cumulative window partitions by (source,
    *     BUCKET) — 256-way parallel per source — and adds the offset,
    *     reproducing the single-pass `cum_tokens` bit for bit (same
    *     (rank, id) order: equal ranks share a prefix, so bucket order
    *     never contradicts rank order).
    *
    * Selection and output are a pure function of (salt, budget),
    * identical to [[tokenBudgetMix]] — the oracle is shared verbatim
    * and the spec asserts row-level equality. */
  def tokenBudgetMixTwoPass(
      idField: String, textField: String, sourceField: String,
      tokensPerSource: Long, salt: String = "mix",
      counter: Column => Column = tokenCount)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokensPerSource > 0,
      s"token budget must be positive, got $tokensPerSource")
    val base = df.select(col(sourceField), col(idField),
        counter(col(textField)).cast("long").as("n_tokens"),
        md5(concat_ws("|", lit(salt), col(idField).cast("string")))
          .as("__rk"))
      .withColumn("__bkt", substring(col("__rk"), 1, 2))
    // cumsum-minus-own rather than an unboundedPreceding..-1 frame: the
    // first bucket's offset must be 0, not the empty-frame NULL
    val bw = Window.partitionBy(col(sourceField)).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy(col(sourceField), col("__bkt"))
      .agg(sum(col("n_tokens")).as("__bsum"))
      .withColumn("__off", sum(col("__bsum")).over(bw) - col("__bsum"))
      .filter(col("__off") <= tokensPerSource)
      .select(col(sourceField), col("__bkt"), col("__off"))
    val ww = Window.partitionBy(col(sourceField), col("__bkt"))
      .orderBy(col("__rk"), col(idField))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets), Seq(sourceField, "__bkt"))
      .withColumn("cum_tokens",
        col("__off") + sum(col("n_tokens")).over(ww))
      .filter(col("cum_tokens") <= tokensPerSource)
      .select(col(sourceField), col(idField), col("n_tokens"),
        col("cum_tokens"))
  }

  /** Pairwise cross-source n-gram overlap — the corpus diagnostic run
    * before mixing: which sources are near-copies of each other
    * (mirrors, scrapes of the same upstream) and how much marginal
    * content each contributes. For every unordered source pair, the
    * Jaccard similarity of their DISTINCT word-n-gram-digest sets plus
    * the raw intersection size.
    *
    * Shape: grams are md5 digests (32-byte shuffle keys, never gram
    * strings), one groupBy(gram) collects the ≤|sources| distinct
    * sources containing it, pairs explode inside that bounded list
    * (the LSH-bucket pattern — per-gram work is O(sources²), NOT
    * O(docs²)), and per-source distinct-gram totals arrive by broadcast
    * (one row per source). The corpus is scanned and exploded EXACTLY
    * once: the per-gram source-set aggregation materializes
    * (localCheckpoint — |distinct grams| rows, each a digest plus a
    * ≤|sources| set) and BOTH outputs derive from it — per-source
    * totals by re-exploding the tiny sets, pair counts by pairing
    * within them. Without the materialization Catalyst recomputes the
    * dominant scan → explode → md5 stage once per consumer (the
    * multi-scan ngram_jaccard_pairs/stripDuplicateSpans already fixed).
    * Jaccard is integer/integer — exact across engines.
    *
    * `gramFraction < 1` switches the matrix to a DETERMINISTIC
    * subspace estimate: only gram digests whose leading-32-bit value
    * falls under `fraction · 2³²` participate (the digest itself is
    * the uniform hash — no re-hashing). Sampling the gram ID space at
    * rate f keeps ~f of every per-source set AND ~f of every pairwise
    * intersection, so the reported `jaccard` is a consistent
    * bottom-k-style estimator of the true value while `n_common`
    * scales by f; the filter lands BEFORE the per-gram aggregation, so
    * shuffle volume — the whole cost at 100 TB — shrinks by the same
    * factor. Deterministic: reruns and the oracle see the identical
    * subspace. */
  def sourceOverlap(
      sourceField: String, textField: String, n: Int = 3,
      gramFraction: Double = 1.0)(
      df: DataFrame): DataFrame = {
    require(gramFraction > 0 && gramFraction <= 1,
      s"gramFraction must be in (0, 1], got $gramFraction")
    val hashed = df.select(col(sourceField).as("source"),
      explode(shingles(col(textField), n)).as("__g"))
      .select(col("source"), md5(col("__g")).as("__h"))
    val sampled =
      if (gramFraction >= 1.0) hashed
      else hashed.filter(
        conv(substring(col("__h"), 1, 8), 16, 10).cast("long")
          < (gramFraction * 4294967296.0).toLong)
    val byGram = sampled
      .groupBy("__h")
      .agg(collect_set(col("source")).as("__ss"))
      .localCheckpoint()
    // count_distinct(source-per-gram) ≡ count over the exploded distinct
    // sets: each (source, gram) pair appears exactly once in __ss
    val totals = byGram
      .select(explode(col("__ss")).as("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("__n"))
    val pairCounts = byGram
      .filter(size(col("__ss")) >= 2)
      .select(explode(flatten(transform(col("__ss"), a =>
        transform(filter(col("__ss"), b => a < b), b =>
          struct(a.as("source_a"), b.as("source_b")))))).as("__p"))
      .groupBy(col("__p.source_a").as("source_a"),
        col("__p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    pairCounts
      .join(broadcast(totals.select(col("source").as("source_a"),
        col("__n").as("__na"))), Seq("source_a"))
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("__n").as("__nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        (col("n_common").cast("double")
          / (col("__na") + col("__nb") - col("n_common"))).as("jaccard"))
  }

  /** Word n-gram digests in POSITION order: element i is
    * md5(tokens[i..i+n-1] joined by space), one per gram start position,
    * 0-based via posexplode downstream. NOT distinct — [[shingles]]'
    * set semantics would lose the positions span detection needs. Docs
    * with fewer than n tokens yield an empty array (same descending-
    * sequence guard as [[shingles]]). */
  def gramDigests(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.bind(tokens(text))(gramDigestsOfTokens(_, n))

  /** [[gramDigests]] over an already-tokenized array — used when the
    * token projection is materialized once and shared (so re-splitting
    * the text would defeat the materialization). `ts` must be a bound
    * attribute (not an expression), or it is re-evaluated per reference. */
  def gramDigestsOfTokens(ts: Column, n: Int): Column =
    // the digest loop rides the native GramStructs kernel (identical
    // md5 bytes — one compiled pass instead of an interpreted lambda
    // per gram); the outer transform only extracts the digest field
    transform(
      graft.functions.GraftFunctions.gramStructs(ts, Seq(n), Nil),
      _.getField("h"))

  /** Pre-kernel HOF form of [[gramDigestsOfTokens]] — kept as the
    * executable specification (parity-pinned in HashExpressionsSpec
    * via the struct form). */
  private[graft] def gramDigestsOfTokensHof(ts: Column, n: Int): Column =
    when(size(ts) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(ts) - (n - 1)),
        i => md5(array_join(slice(ts, i, lit(n)), " "))))

  /** (id, 0-based gram start position as long, gram digest) — the
    * exploded positional gram stream [[duplicateSpans]] and
    * [[stripDuplicateSpans]] share. One projection + explode, ~|tokens|
    * rows per doc; digests (32 bytes) shuffle, never gram strings. */
  private def positionedGrams(
      idField: String, textField: String, n: Int)(df: DataFrame): DataFrame =
    df.select(col(idField).as("__id"),
      posexplode(gramDigests(col(textField), n)).as(Seq("__pos", "__h")))
      .select(col("__id"), col("__pos").cast("long").as("__pos"), col("__h"))

  /** Exact substring (duplicated-passage) detection, the span-level
    * companion to document-level dedup: maximal token spans covered by
    * word n-grams that occur in at least `minDocs` DISTINCT documents
    * (in-document repetition alone is not duplication — that's
    * [[repetitionStats]]' job). The span report behind
    * suffix-array-style training-data dedup, re-expressed for Spark:
    * instead of a global suffix array (a sequential build), duplicated
    * n-grams are found with one hash aggregation on gram digests and
    * merged into maximal spans with one per-document window
    * (gaps-and-islands: a new span starts where the gap between
    * consecutive duplicated gram starts exceeds n, i.e. coverage
    * breaks). Returns (id, span_start, span_end, span_tokens) in token
    * coordinates, span_end inclusive.
    *
    * `minSpanTokens` drops spans shorter than the given token count
    * AFTER island merging — the paragraph-granularity knob: incidental
    * short overlaps (a shared sentence) are filtered engine-side instead
    * of shipping every n-token hit to the consumer. 0 (default) keeps
    * every span; values ≤ n are no-ops (n is the minimum possible span).
    *
    * Scale shape: explode is linear in corpus tokens; the digest
    * aggregation shuffles 32-byte digests; the window partitions by doc
    * (bounded by doc length). No all-pairs stage anywhere — cost is
    * independent of HOW MANY documents share a span. */
  def duplicateSpans(
      idField: String, textField: String, n: Int, minDocs: Int = 2,
      minSpanTokens: Int = 0)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val grams = positionedGrams(idField, textField, n)(df)
    val dup = grams.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__h")
    val byPos = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    val spans = grams.join(dup, "__h")
      .select("__id", "__pos")
      .withColumn("__brk",
        when(col("__pos") - lag(col("__pos"), 1).over(byPos) > n, 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__island"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + (n - 1)).as("span_end"))
      .select(col("__id").as(idField), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
    if (minSpanTokens > n) spans.filter(col("span_tokens") >= minSpanTokens)
    else spans
  }

  /** Apply form of [[duplicateSpans]]: remove cross-document duplicated
    * passages, keeping ONE canonical copy corpus-wide. For each
    * duplicated gram digest the canonical holder is the document with
    * the smallest id (deterministic, engine-reproducible); every other
    * document drops all tokens covered by its occurrences of that gram.
    * Returns every input document as (id, n_tokens, n_removed,
    * clean_text) — clean_text is the kept tokens re-joined by single
    * spaces, "" when everything was duplicated elsewhere's canon.
    *
    * Scale shape: two linear explodes (grams, then tokens), digest-keyed
    * aggregation for canon election, anti-join on (doc, position), and a
    * per-document sort-rebuild whose memory is bounded by the longest
    * document. The rebuild is the unavoidable cost of emitting TEXT
    * again; pipelines that only need the mask should use
    * [[duplicateSpans]] and skip it.
    *
    * The tokenized projection materializes ONCE (localCheckpoint) and
    * feeds both consumers — the gram explode and the token rebuild.
    * Without it the source is scanned and re-tokenized per consumer
    * (the exact multi-scan that cost ngram_jaccard_pairs 2.2× before
    * its r5 fix). Checkpoint size is the tokenized corpus — same order
    * as the text itself. */
  def stripDuplicateSpans(
      idField: String, textField: String, n: Int)(df: DataFrame): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val tokenized = df.select(col(idField).as("__id"),
      tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    val grams = tokenized
      .select(col("__id"),
        posexplode(gramDigestsOfTokens(col("__ts"), n)).as(Seq("__pos", "__h")))
      .select(col("__id"), col("__pos").cast("long").as("__pos"), col("__h"))
    val canon = grams.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__nd"), min(col("__id")).as("__keep"))
      .filter(col("__nd") >= 2)
      .select("__h", "__keep")
    val hits = grams.join(canon, "__h")
      .filter(col("__id") =!= col("__keep"))
      .select(col("__id"), col("__pos"))
    rebuildDropping(tokenized, coveragePositions(hits, n), idField)
  }

  /** LOSS-MASK variant of [[stripDuplicateSpans]] — the modern trainer
    * shape: instead of rewriting documents, emit a per-token keep mask
    * (1 = train on it, 0 = it lies in a span duplicated from a
    * lower-id canon document) so the text ships untouched and the
    * trainer masks the loss. Same canon election, island coverage, and
    * NULL-text doctrine as the strip form — `keep_mask` is exactly the
    * complement of the positions strip would remove, and
    * `Σ(1 − mask) = n_removed` (spec-pinned). Output: `idField,
    * n_tokens, n_masked, keep_mask array<int>` with the mask in token
    * position order (one sorted per-doc collect — bounded by doc
    * length, the per-key contract every rebuild op carries). */
  def duplicateSpanMask(
      idField: String, textField: String, n: Int)(df: DataFrame): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val tokenized = df.select(col(idField).as("__id"),
      tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    val grams = tokenized
      .select(col("__id"),
        posexplode(gramDigestsOfTokens(col("__ts"), n)).as(Seq("__pos", "__h")))
      .select(col("__id"), col("__pos").cast("long").as("__pos"), col("__h"))
    val canon = grams.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__nd"), min(col("__id")).as("__keep"))
      .filter(col("__nd") >= 2)
      .select("__h", "__keep")
    val hits = grams.join(canon, "__h")
      .filter(col("__id") =!= col("__keep"))
      .select(col("__id"), col("__pos"))
    val removed = coveragePositions(hits, n)
    val toks = tokenized
      .select(col("__id"), posexplode(col("__ts")).as(Seq("__tp", "__tok")))
      .select(col("__id"), col("__tp").cast("long").as("__tp"))
    toks.join(removed.withColumn("__rm", lit(1)), Seq("__id", "__tp"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__rm").isNotNull, 1)).as("n_masked"),
        transform(
          array_sort(collect_list(struct(col("__tp"),
            when(col("__rm").isNull, 1).otherwise(0).as("__k")))),
          s => s.getField("__k")).as("keep_mask"))
      .select(col("__id").as(idField), col("n_tokens"), col("n_masked"),
        col("keep_mask"))
  }

  /** In-DOCUMENT repeated-passage removal — the looping-generation /
    * boilerplate cleanup [[repetitionStats]] only reports: every token
    * span covered by a word n-gram's SECOND and later occurrences within
    * the same document is dropped, keeping the first. Cross-document
    * duplication is untouched (that's [[stripDuplicateSpans]]); the two
    * compose in either order. Returns the same (id, n_tokens, n_removed,
    * clean_text) contract as [[stripDuplicateSpans]].
    *
    * Scale shape: one gram explode, one (doc, digest) hash-agg keeping
    * only digests with ≥2 in-doc occurrences (the join build side
    * shrinks to actual repeats), island merge, and the shared one-pass
    * rebuild. Everything is per-document — no cross-document shuffle
    * key anywhere, so the op is embarrassingly parallel over docs. */
  def stripSelfRepeats(
      idField: String, textField: String, n: Int)(df: DataFrame): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val tokenized = df.select(col(idField).as("__id"),
      tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    val grams = tokenized
      .select(col("__id"),
        posexplode(gramDigestsOfTokens(col("__ts"), n)).as(Seq("__pos", "__h")))
      .select(col("__id"), col("__pos").cast("long").as("__pos"), col("__h"))
    val firsts = grams.groupBy(col("__id"), col("__h"))
      .agg(min(col("__pos")).as("__p0"), count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= 2)
      .select(col("__id"), col("__h"), col("__p0"))
    val hits = grams.join(firsts, Seq("__id", "__h"))
      .filter(col("__pos") > col("__p0"))
      .select(col("__id"), col("__pos"))
    rebuildDropping(tokenized, coveragePositions(hits, n), idField)
  }

  /** Corpus-wide duplicate-LINE removal — the CCNet/RefinedWeb
    * boilerplate pass: a line (nav menu, cookie banner, footer, share
    * button) that appears verbatim `minCount`+ times ACROSS the corpus
    * is removed from EVERY document, including its first occurrence —
    * unlike the keep-one dedup family, repeated boilerplate is noise
    * everywhere, not content anywhere. Lines whose trimmed form is
    * empty are never counted and never removed (blank-line structure
    * is formatting, not boilerplate). Same
    * `(id, n_lines, n_removed, clean_text)` contract shape as the
    * token-strip operators; documents survive even when every line is
    * stripped (clean_text ""). NULL text coalesces to "" (one empty
    * line, kept).
    *
    * Complements the span family: [[stripDuplicateSpans]] hunts
    * ARBITRARY-position n-gram overlap (quotation, mirroring);
    * this pass hunts STRUCTURAL repetition at line granularity —
    * exact, cheap, and the first thing a web-corpus pipeline runs.
    *
    * Scale shape: posexplode lines → one corpus-wide line-frequency
    * hash-agg (map-side partial combine carries most of the weight —
    * boilerplate is by definition massively repeated) → one left
    * equi-join back → one per-doc rebuild aggregation. The frequency
    * agg keys on the full line string, which keeps removal EXACT; a
    * 100 TB deployment that measures the line-string shuffle as the
    * bottleneck can key on xxhash64(line) instead at a ~n²/2⁶⁴
    * false-removal risk — documented trade, not the default. No
    * driver-side state; heavy-line cardinality is bounded by corpus
    * repetition, never materialized beyond the join. */
  def dedupLines(
      idField: String, textField: String,
      minCount: Int = 2, delim: String = "\n")(df: DataFrame): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    require(delim.nonEmpty, "line delimiter must be non-empty")
    val quoted = java.util.regex.Pattern.quote(delim)
    val ex = df
      .select(col(idField).as("__id"),
        split(coalesce(col(textField), lit("")), quoted).as("__ls"))
      .select(col("__id"), posexplode(col("__ls")).as(Seq("__lp", "__line")))
      .select(col("__id"), col("__lp").cast("long").as("__lp"), col("__line"))
    val heavy = ex
      .filter(length(trim(col("__line"))) > 0)
      .groupBy(col("__line")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select(col("__line"), lit(1).as("__h"))
    ex.join(heavy, Seq("__line"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("__h").isNull, 1)).as("__kept"),
        concat_ws(delim, transform(
          array_sort(collect_list(when(col("__h").isNull,
            struct(col("__lp"), col("__line"))))),
          s => s.getField("__line"))).as("clean_text"))
      .select(col("__id").as(idField), col("n_lines"),
        (col("n_lines") - col("__kept")).as("n_removed"),
        col("clean_text"))
  }

  /** Per-group boilerplate removal — the CCNet/trafilatura refinement of
    * [[dedupLines]]: a line is boilerplate when it appears in at least
    * `minDocFrac` of the DOCUMENTS of its own group (a web domain, a
    * source) — nav menus and cookie banners repeat within a site, not
    * across the whole corpus, so a corpus-global count both misses
    * site-local boilerplate and falsely strips cross-site idioms.
    * Document frequency counts each document once however often it
    * repeats the line internally; groups with fewer than `minDocs`
    * documents are never stripped (a 2-doc "domain" would call half its
    * content boilerplate); blank lines never count. The heavy test
    * `df / group_docs >= minDocFrac` is ONE IEEE division of exact
    * integer counts — deterministic across engines.
    *
    * Output: `(<idField>, <groupField>, n_lines, n_removed, clean_text)`.
    *
    * Scale shape: one line explode, one (group, line) distinct-doc
    * hash-agg, one |groups|-row doc-count agg joined in, one equi-join
    * back to the lined corpus — all linear, keyed joins only; the heavy
    * set is bounded by actual within-group repetition. The 100 TB line-
    * identity trade documented on [[dedupLines]] (xxhash64 the line,
    * join on the hash) applies unchanged. */
  def boilerplateLines(
      idField: String, groupField: String, textField: String,
      minDocFrac: Double = 0.5, minDocs: Int = 10, delim: String = "\n")(
      df: DataFrame): DataFrame = {
    require(minDocFrac > 0.0 && minDocFrac <= 1.0,
      s"minDocFrac must be in (0,1]: $minDocFrac")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(delim.nonEmpty, "line delimiter must be non-empty")
    val quoted = java.util.regex.Pattern.quote(delim)
    val ex = df
      .select(col(idField).as("__id"), col(groupField).as("__g"),
        split(coalesce(col(textField), lit("")), quoted).as("__ls"))
      .select(col("__id"), col("__g"),
        posexplode(col("__ls")).as(Seq("__lp", "__line")))
      .select(col("__id"), col("__g"), col("__lp").cast("long").as("__lp"),
        col("__line"))
    val groupDocs = df.groupBy(col(groupField).as("__g"))
      .agg(count(lit(1)).as("__nd"))
    val heavy = ex
      .filter(length(trim(col("__line"))) > 0)
      .groupBy(col("__g"), col("__line"))
      .agg(count_distinct(col("__id")).as("__df"))
      .join(groupDocs, Seq("__g"))
      .filter(col("__nd") >= minDocs &&
        col("__df").cast("double") / col("__nd").cast("double") >= minDocFrac)
      .select(col("__g"), col("__line"), lit(1).as("__h"))
    ex.join(heavy, Seq("__g", "__line"), "left")
      .groupBy(col("__id"), col("__g"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("__h").isNull, 1)).as("__kept"),
        concat_ws(delim, transform(
          array_sort(collect_list(when(col("__h").isNull,
            struct(col("__lp"), col("__line"))))),
          s => s.getField("__line"))).as("clean_text"))
      .select(col("__id").as(idField), col("__g").as(groupField),
        col("n_lines"), (col("n_lines") - col("__kept")).as("n_removed"),
        col("clean_text"))
  }

  /** The heavy-line INDEX behind [[dedupLines]], as rows — the
    * boilerplate model a pipeline trains once on a reference corpus
    * and applies everywhere (batch via [[dedupLines]]'s join, serving
    * via [[applyLineFilter]]'s literal form): every non-blank line
    * with corpus frequency ≥ `minCount`, with its count. One hash-agg;
    * |heavy| is bounded by actual repetition, and a production list
    * (nav menus, cookie banners, footers) is thousands of lines. */
  def heavyLineRows(
      textField: String, minCount: Int = 2, delim: String = "\n")(
      df: DataFrame): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    require(delim.nonEmpty, "line delimiter must be non-empty")
    val quoted = java.util.regex.Pattern.quote(delim)
    df.select(explode(split(coalesce(col(textField), lit("")), quoted))
        .as("line"))
      .filter(length(trim(col("line"))) > 0)
      .groupBy(col("line")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Apply a FIXED heavy-line list as a stateless projection — the
    * serving-side form of [[dedupLines]] (the [[linearTextScore]]
    * model-in-plan precedent: the list rides in the expression as a
    * literal array, so there is no join, no shuffle, no state — the
    * op lifts to Structured Streaming unchanged, spec-pinned). Same
    * `(id, n_lines, n_removed, clean_text)` contract and the same
    * blank-lines-never-removed rule; parity with the join form on the
    * training corpus is spec-pinned. Use when the boilerplate model is
    * trained offline ([[heavyLineRows]] → collect, bounded by real
    * boilerplate cardinality) and applied to streams or other
    * corpora. */
  def applyLineFilter(
      idField: String, textField: String,
      heavy: Seq[String], delim: String = "\n")(df: DataFrame): DataFrame = {
    require(delim.nonEmpty, "line delimiter must be non-empty")
    require(heavy.forall(_.trim.nonEmpty),
      "heavy-line lists never contain blank lines (the blank-lines-" +
        "are-formatting rule); filter them out of the model")
    val quoted = java.util.regex.Pattern.quote(delim)
    val heavyArr = lit(heavy.toArray)
    val ls = split(coalesce(col(textField), lit("")), quoted)
    val kept = filter(ls, l => !array_contains(heavyArr, l))
    df.select(col(idField),
      size(ls).cast("long").as("n_lines"),
      (size(ls) - size(kept)).cast("long").as("n_removed"),
      array_join(kept, delim).as("clean_text"))
  }

  /** SPAN-level decontamination — the surgical form of [[decontaminate]]:
    * instead of DROPPING every batch document that shares an n-gram with
    * the benchmark/eval corpus, strip only the contaminated token spans
    * and keep the rest of the document. The right trade when the corpus
    * is expensive and contamination is a quoted sentence, not the whole
    * page; pair with [[contaminationReport]] to decide per-corpus which
    * form to run. Same (id, n_tokens, n_removed, clean_text) contract as
    * the other strip operators.
    *
    * Scale shape: benchmark n-grams participate as DISTINCT 32-byte
    * digests (never strings), the membership test is one digest
    * equi-join (AQE broadcasts an eval set that fits — the usual case),
    * and removal reuses the shared island-merge + one-pass rebuild. */
  def stripContaminatedSpans(
      idField: String, textField: String, n: Int,
      benchmark: DataFrame, benchTextField: String)(
      batch: DataFrame): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val tokenized = batch.select(col(idField).as("__id"),
      tokens(coalesce(col(textField), lit(""))).as("__ts"))
      .localCheckpoint()
    val grams = tokenized
      .select(col("__id"),
        posexplode(gramDigestsOfTokens(col("__ts"), n)).as(Seq("__pos", "__h")))
      .select(col("__id"), col("__pos").cast("long").as("__pos"), col("__h"))
    val benchGrams = benchmark
      .select(explode(shingles(col(benchTextField), n)).as("__g"))
      .select(md5(col("__g")).as("__h")).distinct()
    val hits = grams.join(benchGrams, "__h")
      .select(col("__id"), col("__pos"))
    rebuildDropping(tokenized, coveragePositions(hits, n), idField)
  }

  /** Merge per-document hit positions into disjoint coverage islands
    * (the [[duplicateSpans]] gaps-and-islands window) and explode each
    * covered token position EXACTLY once. Exploding per-gram ranges
    * directly would emit every covered position up to n times
    * (overlapping grams) — measured 3× slower at 4× corpus replication,
    * where nearly every token is covered; a distinct() instead would pay
    * a full extra shuffle of that same n-fold stream. Hit positions must
    * be unique per doc (one gram row per position), which makes the
    * lag-based island window exact. */
  private def coveragePositions(hits: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    hits
      .withColumn("__brk",
        when(col("__pos") - lag(col("__pos"), 1).over(byPos) > n, 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__island"))
      .agg(min(col("__pos")).as("__s"),
        (max(col("__pos")) + (n - 1)).as("__e"))
      .select(col("__id"),
        explode(sequence(col("__s"), col("__e"))).as("__tp"))
  }

  /** One left join + ONE aggregation rebuilds every document from its
    * tokenized form minus the removed positions: removed positions are
    * unique (disjoint islands), so the join never duplicates a token
    * row; collect_list skips the nulls the `when` produces for removed
    * tokens, so kept-token filtering happens INSIDE the aggregation.
    * Every doc keeps ≥ 1 token row (the strip operators coalesce NULL
    * text to "" before tokenizing, and "" tokenizes to [""]), so no
    * separate header join is needed for fully-stripped documents —
    * their kept count is 0 and clean_text concatenates the empty list
    * to "". A NULL-text doc therefore comes back as (id, 1, 0, "")
    * rather than silently vanishing. */
  private def rebuildDropping(
      tokenized: DataFrame, removed: DataFrame, idField: String): DataFrame = {
    val toks = tokenized
      .select(col("__id"), posexplode(col("__ts")).as(Seq("__tp", "__tok")))
      .select(col("__id"), col("__tp").cast("long").as("__tp"), col("__tok"))
    toks.join(removed.withColumn("__rm", lit(1)), Seq("__id", "__tp"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__rm").isNull, 1)).as("__kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__rm").isNull,
            struct(col("__tp"), col("__tok"))))),
          s => s.getField("__tok"))).as("clean_text"))
      .select(col("__id").as(idField), col("n_tokens"),
        (col("n_tokens") - col("__kept")).as("n_removed"),
        col("clean_text"))
  }

  /** BM25 ranked retrieval over the corpus: top-k documents for a bag of
    * query terms. Classic Okapi shape with one deliberate change for
    * cross-engine exactness: the idf factor is the RATIONAL
    * (N − df + 0.5)/(df + 0.5) rather than its log (same per-term
    * monotonicity, so a single-term ranking is identical; multi-term
    * rankings weight rare terms more sharply — documented, like
    * [[tfidfTopTerms]]' rational idf). Every aggregate the score reads
    * (N, Σdl, per-term df) is an integer in a double, so partial
    * aggregation order cannot perturb it, and the score itself is a
    * fixed expression tree of IEEE ops evaluated identically by Spark
    * and the oracle — scores hash-match bit-for-bit.
    *
    * Scale shape: one projection computes per-doc tf for each query
    * term (terms are literals in the plan — a handful per query), one
    * single-row global aggregate broadcasts (N, Σdl, df…), score is a
    * stateless projection, and top-k plans as TakeOrderedAndProject
    * (per-partition heaps, never a full sort). The rank window runs on
    * the ≤ k survivors only. */
  def bm25TopK(
      idField: String, textField: String, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    val terms = queryTerms.distinct.sorted
    val base = df.select(col(idField).as("__id"), tokens(col(textField)).as("__ts"))
      .select(Seq(col("__id"), size(col("__ts")).cast("double").as("__dl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__ts"), x => x === lit(t))).cast("double").as(s"__tf$i")
        }: _*)
    val stats = base.agg(
      count(lit(1)).cast("double").as("__n"),
      sum(col("__dl")).as("__sumdl") +: terms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1).otherwise(0)).cast("double").as(s"__df$i")): _*)
    val avgdl = col("__sumdl") / col("__n")
    def termScore(i: Int): Column = {
      val tf = col(s"__tf$i"); val dfc = col(s"__df$i")
      val idf = (col("__n") - dfc + lit(0.5)) / (dfc + lit(0.5))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("__dl") / avgdl)))
    }
    val score = terms.indices.map(termScore).reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("__id"), score.as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("__id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("__id").asc)).cast("int"))
      .select(col("__id").as(idField), col("score"), col("rank"))
  }

  /** Batched BM25: top-k documents for EVERY query in a query table —
    * the data-driven form of [[bm25TopK]], whose terms are plan
    * literals and therefore cap at a handful per compile. Here terms
    * arrive as data ((queryId, array<term>) rows), so thousands of
    * queries retrieve in one job over a shared posting-list build. Same
    * rational idf as [[bm25TopK]] (documented there); identical
    * expression tree per term.
    *
    * Cross-engine exactness under data-driven terms: a per-(query, doc)
    * score is the sum of per-term doubles, and float addition is not
    * associative — a plain `sum()` would expose partial-aggregation
    * order. The fold is therefore DETERMINISTIC by construction: terms
    * collect per (query, doc), sort by term, and fold left from 0.0 —
    * and the oracle folds the identically-ordered list with
    * `list_reduce`, so scores hash-match bit-for-bit.
    *
    * Scale shape: one corpus explode builds (doc, term, tf) postings,
    * materialized ONCE (localCheckpoint) for its three consumers (dl,
    * df, the retrieval join); per-doc length and per-term df are
    * integer-in-double aggregates (order-immune); the global (N, Σdl)
    * one-row aggregate broadcasts. The retrieval join is candidates =
    * Σ_t df(t) per query — the classic unpruned BM25 cost; hot query
    * terms skew the posting join and AQE splits them. Top-k is a
    * per-query window over each query's candidates (WindowGroupLimit
    * prunes losers before the final shuffle), never a global sort. */
  def bm25BatchTopK(
      idField: String, textField: String,
      queries: DataFrame, queryIdField: String, termsField: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75)(df: DataFrame): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val posts = df
      .select(col(idField).as("__doc"), explode(tokens(col(textField))).as("__t"))
      .groupBy(col("__doc"), col("__t"))
      .agg(count(lit(1)).cast("double").as("__tf"))
      .localCheckpoint()
    val dl = posts.groupBy(col("__doc")).agg(sum(col("__tf")).as("__dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("__n"),
      sum(col("__dl")).as("__sumdl"))
    val dfreq = posts.groupBy(col("__t"))
      .agg(count(lit(1)).cast("double").as("__df"))
    bm25ScoreTopK(posts.join(dl, "__doc"), dfreq, stats,
      queries, queryIdField, termsField, idField, k, k1, b)
  }

  /** The shared BM25 scoring core — one expression tree consumed by BOTH
    * the live-corpus form ([[bm25BatchTopK]]) and the stored-index form
    * ([[bm25ServeTopK]], and its streaming wrapper), so the two paths
    * CANNOT disagree (the foreachBatch-serve doctrine applied to the
    * lexical leg). `postsDl` = (__doc, __t, __tf, __dl) posting rows,
    * `dfreq` = (__t, __df), `stats` = ONE row (__n, __sumdl). */
  private def bm25ScoreTopK(
      postsDl: DataFrame, dfreq: DataFrame, stats: DataFrame,
      queries: DataFrame, queryIdField: String, termsField: String,
      outId: String, k: Int, k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val qt = queries.select(col(queryIdField).as("query_id"),
      explode(array_distinct(col(termsField))).as("__t"))
    val avgdl = col("__sumdl") / col("__n")
    val idf = (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))
    val termScore = idf * (col("__tf") * lit(k1 + 1.0)) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("__dl") / avgdl)))
    qt.join(postsDl, "__t")
      .join(dfreq, "__t")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("__doc"), col("__t"), termScore.as("__s"))
      .groupBy(col("query_id"), col("__doc"))
      .agg(collect_list(struct(col("__t"), col("__s"))).as("__terms"))
      .select(col("query_id"), col("__doc"),
        aggregate(array_sort(col("__terms")), lit(0.0),
          (acc, x) => acc + x.getField("__s")).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("__doc").asc)).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("__doc").as(outId), col("score"),
        col("rank"))
  }

  /** BM25 posting-index rows for a corpus: `(id, term, tf, dl)`, one row
    * per distinct (doc, term) — the PERSISTED STATE of the lexical
    * serving story, the [[graft.ext.Dedup.minhashIndexRows]] shape for
    * BM25: build once per corpus ingest, store (bucket or partition by
    * `term` so a serve's term equi-join prunes), and serve every future
    * query batch against it without re-reading corpus text. Store
    * [[bm25TermDf]] and [[bm25Stats]] beside it — serving reads all
    * three and never re-aggregates the index. */
  def bm25IndexRows(idField: String, textField: String)(
      df: DataFrame): DataFrame = {
    val posts = df
      .select(col(idField).as("id"), explode(tokens(col(textField))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    posts.join(
      posts.groupBy(col("id")).agg(sum(col("tf")).as("dl")), "id")
      .select("id", "term", "tf", "dl")
  }

  /** Per-term document frequencies of a posting index — stored beside
    * [[bm25IndexRows]] so serving never re-aggregates the index. */
  def bm25TermDf(index: DataFrame): DataFrame =
    index.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))

  /** Corpus constants of a posting index, as ONE row `(n_docs, sum_dl)`
    * — integer-in-double counts, order-immune. Stored beside the index. */
  def bm25Stats(index: DataFrame): DataFrame =
    index.select(col("id"), col("dl")).distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl")).as("sum_dl"))

  /** BM25 retrieval against a STORED posting index — the serving form
    * of [[bm25BatchTopK]]: same scoring core, but postings/df/stats
    * arrive from storage instead of a corpus scan, so a query batch
    * costs Σ_t df(t) posting rows (pruned by the term equi-join when
    * the index is term-bucketed) and never touches corpus text.
    * Parity with the live-corpus form is STRUCTURAL (shared core) and
    * spec-pinned bit-for-bit. `index`/`termDf`/`stats` are the frames
    * [[bm25IndexRows]]/[[bm25TermDf]]/[[bm25Stats]] wrote. */
  def bm25ServeTopK(
      index: DataFrame, termDf: DataFrame, stats: DataFrame,
      queries: DataFrame, queryIdField: String, termsField: String,
      outId: String = "doc_id", k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(index.columns.toSeq == Seq("id", "term", "tf", "dl"),
      s"index must be bm25IndexRows (id, term, tf, dl) — got " +
        index.columns.mkString(", "))
    bm25ScoreTopK(
      index.select(col("id").as("__doc"), col("term").as("__t"),
        col("tf").as("__tf"), col("dl").as("__dl")),
      termDf.select(col("term").as("__t"), col("df").as("__df")),
      stats.select(col("n_docs").as("__n"), col("sum_dl").as("__sumdl")),
      queries, queryIdField, termsField, outId, k, k1, b)
  }

  /** Pseudo-relevance-feedback query expansion (the RM1 shape) against
    * the stored index — the missing loop in the retrieval story:
    * retrieve → mine the top `fbDocs` feedback documents' postings for
    * the `fbTerms` strongest NEW terms → feed the expanded bags back
    * through [[bm25ServeTopK]] for the second pass. Expansion weight is
    * the exact tf SUM across a query's feedback docs (integer-in-double
    * — order-immune, oracle-exact; RM1's normalized relevance weighting
    * is rank-equivalent per feedback set and float-ordered, the
    * rational-idf doctrine applied again), `fb_df` counts how many
    * feedback docs carry the term, original query terms are excluded
    * (they are already in the query), rank ties break term-ascending.
    * Output: `(query_id, term, weight, fb_df, rank)`.
    *
    * Scale shape: one [[bm25ServeTopK]] pass (Σ_t df(t) posting rows),
    * then the feedback join touches |queries|·fbDocs index rows by doc
    * id, one (query, term) hash-agg, and a WindowGroupLimit top-fbTerms
    * — corpus text never read, never an all-pairs stage. */
  def bm25PrfTerms(
      index: DataFrame, termDf: DataFrame, stats: DataFrame,
      queries: DataFrame, queryIdField: String, termsField: String,
      fbDocs: Int = 5, fbTerms: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(fbTerms >= 1, s"fbTerms must be >= 1, got $fbTerms")
    val top = bm25ServeTopK(index, termDf, stats, queries,
      queryIdField, termsField, outId = "id", k = fbDocs, k1 = k1, b = b)
      .select(col("query_id"), col("id"))
    val qTerms = queries.select(col(queryIdField).as("query_id"),
      explode(array_distinct(col(termsField))).as("term"))
    top.join(index, "id")
      .join(qTerms, Seq("query_id", "term"), "left_anti")
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("tf")).as("weight"), count(lit(1)).as("fb_df"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("weight").desc, col("term").asc)).cast("int"))
      .filter(col("rank") <= fbTerms)
      .select("query_id", "term", "weight", "fb_df", "rank")
  }

  /** Train the linear classifier's weights from LABELED documents —
    * the training half of the model-based quality gate
    * ([[linearTextScore]] is inference and consumes the result
    * directly, [[graft.ext.ModelStore]] persists it): logistic
    * regression (MLlib, fixed iterations/regularization) over
    * MEAN-NORMALIZED n-gram count features of the top-`vocabSize`
    * grams by document frequency, coefficients quantized to integers
    * at `scale`. The mean normalization is what makes the handoff
    * exact in form: LR's margin intercept + Σ coef·(count/n_windows)
    * IS [[linearTextScore]]'s `bias + Σ weight/n_grams` once
    * coefficients scale to integers — so `(weights, bias)` where
    * `bias = intercept` and `threshold = 0` reproduce the trained
    * decision boundary up to quantization (spec-pinned on separable
    * data). Returns `(weights, bias)`.
    *
    * Scale shape: vocabulary selection is one gram-df aggregation
    * (top-k by df, ties lexicographic — deterministic); featurization
    * is a pure projection against the broadcast vocabulary; the LR
    * fit is MLlib's distributed L-BFGS over |docs| × |vocab| sparse
    * rows. Training is iterative and float — NOT oracle-expressible
    * (the kmeansCentroids precedent) and not bit-deterministic across
    * cluster topologies; the SERVED model is, because it is integers.
    * Labels must be 0.0/1.0 (1 = keep). */
  def trainLinearWeights(
      textField: String, labelField: String,
      vocabSize: Int = 1000, scale: Double = 100.0, maxN: Int = 2,
      maxIter: Int = 50, regParam: Double = 0.01)(
      df: DataFrame): (Seq[(String, Long)], Double) = {
    require(vocabSize >= 1 && scale > 0 && maxN >= 1)
    val grams = (1 to maxN).map(n =>
      graft.functions.GraftFunctions.shingleStrings(
        tokens(col(textField)), n, distinct = false))
      .reduce(concat(_, _))
    val base = df.select(col(labelField).cast("double").as("label"),
      grams.as("__g"))
      .localCheckpoint()
    val vocab = base
      .select(explode(array_distinct(col("__g"))).as("__gram"))
      .groupBy("__gram").agg(count(lit(1)).as("__df"))
      .orderBy(col("__df").desc, col("__gram").asc)
      .limit(vocabSize)
      .select("__gram").collect().map(_.getString(0))
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.CountVectorizerModel
    val cv = new CountVectorizerModel(vocab)
      .setInputCol("__g").setOutputCol("__counts")
    val feats = cv.transform(base)
      .select(col("label"),
        org.apache.spark.ml.functions.vector_to_array(col("__counts"))
          .as("__c"),
        greatest(size(col("__g")), lit(1)).cast("double").as("__n"))
      .select(col("label"),
        org.apache.spark.ml.functions.array_to_vector(
          transform(col("__c"), x => x / col("__n"))).as("features"))
    val model = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setFeaturesCol("features").setLabelCol("label")
      .fit(feats)
    val coefs = model.coefficients.toArray
    val weights = vocab.toSeq.zip(coefs.toSeq)
      .map { case (g, c) => (g, math.rint(c * scale).toLong) }
      .filter(_._2 != 0L)
    require(weights.nonEmpty,
      s"every coefficient quantized to 0 at scale=$scale — raise the " +
        "scale (the model has signal smaller than one quantum)")
    (weights, model.intercept * scale)
  }

  /** Learn a BPE merge table FROM the corpus — the training half of
    * the tokenizer story ([[bpeTokenCount]]/[[bpeTokenize]] are the
    * inference half and accept the result directly): the classic
    * highest-pair-count greedy algorithm. ONE corpus-scale pass
    * aggregates word counts; everything after runs on the
    * VOCABULARY-sized `(word, count, pieces)` frame (capped at
    * `maxVocabWords` by frequency — millions of rows at 100 TB, the
    * standard tokenizer-training shape), with one 1-row driver action
    * per merge (the argmax pair IS the model being built; `numMerges`
    * is 10s-of-thousands at most). Per iteration: adjacent piece
    * pairs explode weighted by word count, the top pair (ties to the
    * lexicographically smallest) becomes the next merge, and a
    * left-to-right non-overlapping HOF fold applies it to every
    * word's pieces; the frame localCheckpoints so plan depth stays
    * constant. Deterministic: counts are exact integers, ties
    * pinned. Rank-consistent by construction (each merge's parts
    * exist when it is learned), so the result feeds
    * [[bpeTokenCount]]'s validating constructor untouched.
    * Characters are UTF-16 units (astral code points split into
    * surrogate halves — filter non-BMP text upstream if that
    * matters). Returns the merge list in rank order. */
  def learnBpeMerges(
      textField: String, numMerges: Int, maxVocabWords: Int = 100000)(
      df: DataFrame): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val words = df
      .select(explode(tokens(coalesce(col(textField), lit("")))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__w").asc)
      .limit(maxVocabWords)
    var seg = words
      .select(col("__w"), col("__n"), split(col("__w"), "").as("__p"))
      .localCheckpoint()
    val merges = scala.collection.mutable.Buffer.empty[(String, String)]
    var exhausted = false
    var k = 0
    while (k < numMerges && !exhausted) {
      val top = seg
        .select(col("__n"), explode(
          when(size(col("__p")) < 2,
            array().cast("array<struct<a:string,b:string>>"))
            .otherwise(transform(
              sequence(lit(0), size(col("__p")) - 2),
              i => struct(
                element_at(col("__p"), i + 1).as("a"),
                element_at(col("__p"), i + 2).as("b"))))).as("__pr"))
        .groupBy(col("__pr.a").as("a"), col("__pr.b").as("b"))
        .agg(sum(col("__n")).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val a = top(0).getString(0); val b = top(0).getString(1)
        merges += ((a, b))
        val la = lit(a); val lb = lit(b); val lab = lit(a + b)
        seg = seg.withColumn("__p",
          aggregate(col("__p"), array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === la && x === lb,
              concat(slice(acc, lit(1), size(acc) - 1), array(lab)))
              .otherwise(concat(acc, array(x)))))
          .localCheckpoint()
        k += 1
      }
    }
    merges.toSeq
  }

  /** OCCURRENCE-true n-gram count table — the LM-training export
    * ([[bigramLmQuality]]'s tables, KenLM-style count files, the
    * DSIR feature space): every window occurrence votes (unlike
    * [[shingles]]' distinct set — this rides the same native kernel in
    * non-distinct mode), one corpus-wide `(ngram, occurrences)` row
    * per surviving gram, `minCount` pruning the long tail INSIDE the
    * aggregation's output (the count must still be computed; the
    * shuffle carries gram strings once either way). One explode + one
    * hash-agg with map-side partials; AQE skew-split absorbs stopword
    * grams. */
  def ngramCounts(
      textField: String, n: Int, minCount: Long = 1L)(
      df: DataFrame): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    df.select(explode(graft.functions.GraftFunctions.shingleStrings(
        tokens(col(textField)), n, distinct = false)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") >= minCount)
  }

  /** Compression-ratio quality signal (RedPajama-v2 / Dolma shape):
    * `idField, orig_bytes, deflate_bytes, compression_ratio` where the
    * ratio = DEFLATE size / original UTF-8 size. Natural prose lands in
    * a characteristic band; template/boilerplate spam compresses far
    * TIGHTER (low ratio) and junk/noise barely at all (≈1), so one
    * model-free number filters both tails — compose with
    * [[scorePercentiles]] to calibrate cutoffs per source. Pure
    * zero-shuffle projection over the native
    * [[graft.functions.DeflateSize]] kernel; deterministic for a fixed
    * JDK but NOT DuckDB-replayable (no deflate there), so the query
    * rides the rows-only gate like the CDC rolling hash. Empty text →
    * ratio NULL; NULL text → all NULL. */
  def compressionSignal(
      idField: String, textField: String, level: Int = 6)(
      df: DataFrame): DataFrame = {
    val blob = graft.ext.BinaryOps.toBlob(col(textField))
    df.select(col(idField),
      octet_length(blob).as("orig_bytes"),
      graft.functions.GraftFunctions.deflateSize(blob, level)
        .as("deflate_bytes"))
      .withColumn("compression_ratio",
        when(col("orig_bytes") === 0, lit(null).cast("double"))
          .otherwise(col("deflate_bytes").cast("double") / col("orig_bytes")))
  }

  /** Second-level public suffixes for [[registeredDomain]] — a demo
    * subset of the Public Suffix List (the crawl-pipeline deployment
    * ships the full list the same way: a plan literal). */
  val demoSecondLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "com.au", "net.au",
    "com.br", "co.in", "co.nz")

  /** The REGISTERED domain of a host — the per-site aggregation key of
    * every crawl pipeline (politeness caps, per-domain quality priors,
    * domain-level dedup): the last two labels, or the last three when
    * the last two form a second-level public suffix (`bbc.co.uk`, not
    * `co.uk`). Pure Column expression over a split — no UDF; a bare
    * single-label host passes through, NULL stays NULL. */
  def registeredDomain(
      host: Column,
      secondLevelSuffixes: Seq[String] = demoSecondLevelSuffixes): Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    val lastTwo = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val lastThree = concat_ws(".",
      element_at(parts, -3), element_at(parts, -2), element_at(parts, -1))
    when(host.isNull, lit(null).cast("string"))
      .when(n <= 2, host)
      .when(lastTwo.isin(secondLevelSuffixes: _*), lastThree)
      .otherwise(lastTwo)
  }

  /** URL canonicalization — the dedup key-builder of every crawl
    * pipeline: the same page arrives as `HTTP://Example.com:80/a/?utm_
    * source=x#frag` and `http://example.com/a` and naive exact-URL
    * dedup keeps both. Deterministic rule-chain, each step a
    * codegen'd regexp/string op the DuckDB oracle replays:
    *  1. trim surrounding whitespace;
    *  2. lowercase the SCHEME and AUTHORITY only (paths are
    *     case-sensitive by spec, hosts are not);
    *  3. drop the fragment (`#…` — never sent to the server);
    *  4. drop default ports (`:80` for http, `:443` for https);
    *  5. drop tracking parameters (`utm_*`, `fbclid`, `gclid`) with
    *     their separators — non-leading ones first, then a leading one
    *     followed by another param, then a lone one with its `?`;
    *  6. drop a trailing `?` (emptied query) and ONE trailing slash
    *     (`…/a/` ≡ `…/a`, incl. the bare-root `host/` ≡ `host`).
    * Deliberately NOT attempted: query-parameter reordering (changes
    * application semantics for duplicate keys) and percent-decoding
    * (decoding can change which URL the server sees). NULL → NULL.
    * Zero shuffle — a pure projection feeding
    * [[Dedup.byCanonicalUrl]]'s one hash-agg. */
  def canonicalUrl(url: Column): Column = {
    val t = trim(url)
    // lowercase scheme://authority, keep the rest byte-identical
    // (substr is 1-based; the tail starts one past the head)
    val head = regexp_extract(t, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val lowered = when(length(head) === 0, t)
      .otherwise(concat(lower(head),
        t.substr(length(head) + lit(1), length(t))))
    val noFrag = regexp_replace(lowered, "#.*", "")
    val noP80 = regexp_replace(noFrag,
      "^(http://[^/:?#]*):80([/?#].*)?$", "$1$2")
    val noP443 = regexp_replace(noP80,
      "^(https://[^/:?#]*):443([/?#].*)?$", "$1$2")
    val tracking = "(?:utm_[^=&#]*|fbclid|gclid)"
    val noMid = regexp_replace(noP443, s"&$tracking=[^&#]*", "")
    val noLead = regexp_replace(noMid, s"\\?$tracking=[^&#]*&", "?")
    val noLone = regexp_replace(noLead, s"\\?$tracking=[^&#]*$$", "")
    val noQ = regexp_replace(noLone, "\\?$", "")
    regexp_replace(noQ, "([^/])/$", "$1")
  }

  /** URL decomposition for crawl analytics: `idField, scheme, host,
    * registered_domain, path, url_query` via Spark's `parse_url`
    * (Hive-compatible java.net.URI semantics) plus
    * [[registeredDomain]]. Pure projection — the 100 TB crawl manifest
    * pays one scan, and the registered domain becomes the groupBy key
    * for per-site caps/stats ([[graft.ops.Ops.quotaSample]],
    * [[graft.ops.Ops.modeAgg]], …). */
  def urlParts(idField: String, urlField: String)(df: DataFrame): DataFrame = {
    val u = col(urlField)
    df.select(col(idField),
      parse_url(u, lit("PROTOCOL")).as("scheme"),
      parse_url(u, lit("HOST")).as("host"),
      registeredDomain(parse_url(u, lit("HOST"))).as("registered_domain"),
      parse_url(u, lit("PATH")).as("path"),
      parse_url(u, lit("QUERY")).as("url_query"))
  }

  /** Parse simplified robots.txt bodies into a `(host, prefix, allow)`
    * rule table — the crawl-politeness leg of the frontier family
    * ([[canonicalUrl]] → [[urlParts]] → ROBOTS → [[domainQualityGate]]).
    * Scope is the `User-agent: *` group(s) only: the text splits on
    * `User-agent:` and segments whose name is `*` contribute their
    * canonical `Allow: <path>` / `Disallow: <path>` lines (exact-case
    * directives, the documented simplification — the fetcher that wrote
    * the fixture normalizes case upstream). Empty-path directives
    * (`Disallow:` = allow everything) drop, as do duplicates. Pure
    * HOF projection + one explode; no UDF, oracle-replayable. */
  def robotsRules(hostField: String, robotsField: String)(
      df: DataFrame): DataFrame = {
    val segs = split(col(robotsField), "User-agent:")
    val star = filter(segs, s => trim(s).startsWith("*"))
    val rules = flatten(transform(star, s =>
      transform(
        regexp_extract_all(s, lit("(Allow|Disallow): ([^\\n ]*)"), lit(0)),
        r => struct(
          when(r.startsWith("Allow: "), r.substr(lit(8), length(r)))
            .otherwise(r.substr(lit(11), length(r))).as("prefix"),
          r.startsWith("Allow: ").as("allow")))))
    df.select(col(hostField).as("host"), explode(rules).as("__r"))
      .select(col("host"), col("__r.prefix").as("prefix"),
        col("__r.allow").as("allow"))
      .filter(col("prefix") =!= "")
      .distinct()
  }

  /** Apply a [[robotsRules]] table to a URL frame with the standard
    * longest-match discipline: among the host's rules whose prefix
    * matches the URL path, the LONGEST prefix decides, an Allow beating
    * a Disallow of equal length (the least-restrictive tie rule) and
    * prefix-ascending as the final determinism tiebreak; a URL with no
    * matching rule — or no rules for its host, or an unparsable host —
    * is allowed (robots exclusion denies nothing by default).
    *
    * Shape: one equi-join on host (the prefix match rides the join as a
    * post-filter, so this is a hash join, never a theta product) + one
    * per-URL window over the few matched rules. `keepDenied = true`
    * returns every row annotated (`allowed`, `matched_prefix`) — the
    * audit view; default returns the allowed frontier only.
    *
    * `broadcastRules = true` switches to the SERVING form: the whole
    * rule table folds to ONE broadcast row and the verdict becomes a
    * per-row HOF fold — zero shuffle, no window, so it lifts verbatim
    * to Structured Streaming (a row_number window does not). Identical
    * verdicts by construction (spec-pinned); use it when the rule table
    * is broadcast-sized (it usually is — robots bodies are tiny next to
    * any frontier), the join+window form when it is not. */
  def robotsFilter(
      idField: String, urlField: String, rules: DataFrame,
      keepDenied: Boolean = false,
      broadcastRules: Boolean = false)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = df
      // try_parse_url: an unparsable URL must yield a NULL host (and be
      // allowed per the contract), not throw mid-stream under ANSI
      .withColumn("__host", try_parse_url(col(urlField), lit("HOST")))
      .withColumn("__path",
        coalesce(try_parse_url(col(urlField), lit("PATH")), lit("")))
    val verdict =
      if (broadcastRules) {
        val ruleArr = rules.agg(array_sort(collect_list(struct(
          col("host"), col("prefix"), col("allow")))).as("__rules"))
        def len(r: Column) = length(r.getField("prefix"))
        u.crossJoin(broadcast(ruleArr))
          .withColumn("__best", aggregate(
            filter(col("__rules"), r =>
              r.getField("host") === col("__host") &&
                col("__path").startsWith(r.getField("prefix"))),
            lit(null)
              .cast("struct<host:string,prefix:string,allow:boolean>"),
            (acc, r) => when(acc.isNull, r)
              .when(len(r) > len(acc), r)
              .when(len(r) === len(acc) &&
                r.getField("allow") && !acc.getField("allow"), r)
              .when(len(r) === len(acc) &&
                (r.getField("allow") === acc.getField("allow")) &&
                r.getField("prefix") < acc.getField("prefix"), r)
              .otherwise(acc)))
          .withColumn("allowed",
            coalesce(col("__best.allow"), lit(true)))
          .withColumn("matched_prefix", col("__best.prefix"))
          .drop("__rules", "__best", "__host", "__path")
      } else {
        val r = rules.select(col("host").as("__rhost"),
          col("prefix").as("__prefix"), col("allow").as("__allow"))
        u.join(r, u("__host") === r("__rhost") &&
            col("__path").startsWith(col("__prefix")), "left")
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col(idField))
              .orderBy(length(col("__prefix")).desc, col("__allow").desc,
                col("__prefix").asc)))
          .filter(col("__rn") === 1)
          .withColumn("allowed", coalesce(col("__allow"), lit(true)))
          .withColumn("matched_prefix", col("__prefix"))
          .drop("__host", "__path", "__rhost", "__prefix", "__allow",
            "__rn")
      }
    if (keepDenied) verdict else verdict.filter(col("allowed")).drop(
      "allowed", "matched_prefix")
  }

  /** Politeness-sliced fetch schedule — the frontier step after
    * [[robotsFilter]]: a crawler may hit one host only so often, so the
    * per-host queue (ordered by `priorityField` desc, then `idField`
    * asc — highest-value pages first, deterministic) is cut into slots
    * of `perHostPerSlot` URLs; slot s of every host can be fetched in
    * parallel round s. Emits the input plus `host` and `fetch_slot`
    * (0-based). One per-host window (partitionBy host — parallel across
    * hosts, the frontier's natural key); URLs with an unparsable host
    * schedule under the NULL host like any other queue. Integer rank
    * division, exact cross-engine. */
  def crawlSchedule(
      idField: String, urlField: String, priorityField: String,
      perHostPerSlot: Int)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(perHostPerSlot >= 1,
      s"perHostPerSlot must be >= 1, got $perHostPerSlot")
    df.withColumn("host", try_parse_url(col(urlField), lit("HOST")))
      .withColumn("fetch_slot",
        // floor-of-division, not a bare int cast: Spark truncates a
        // double->int cast while DuckDB rounds — floor is the portable
        // spelling of integer division on the non-negative rank
        floor((row_number().over(Window.partitionBy(col("host"))
          .orderBy(col(priorityField).desc, col(idField).asc)) - 1)
          .cast("double") / perHostPerSlot).cast("int"))
  }

  /** Domain-reputation gate — the per-SITE quality pass after the
    * per-DOCUMENT gates ([[gopherRules]], [[linearTextScore]]): a page
    * farm's individual pages can each squeak past a document bar, but
    * the site-level pass-rate exposes it, and conversely one bad page
    * on a good domain shouldn't be judged alone. A document survives
    * iff its REGISTERED domain ([[registeredDomain]] of the URL host)
    * has ≥ `minDocs` documents and a pass-fraction
    * `passes/docs ≥ minFrac`, where `pass` is any caller-supplied
    * BOOLEAN column (a rule gate, a classifier verdict, a length bar
    * — composable by construction). NULL pass counts as fail; NULL
    * url/host groups under the NULL domain and is gated like any
    * other (a crawl row with no URL has no reputation to borrow).
    *
    * Exactness: the per-domain statistics are two INTEGER counts; the
    * gate compares `passes·1.0 ≥ minFrac·docs` — one IEEE multiply
    * each side, no float accumulation, so the DuckDB oracle replays it
    * bit-for-bit (the no-transcendentals doctrine).
    *
    * Scale shape: one (domain)-keyed count agg (|domains| rows) + one
    * equi-join back onto the corpus — AQE broadcasts the domain frame
    * when it fits, which it does by Zipf at any corpus size that fits
    * a fleet. Output keeps every input column + `registered_domain`,
    * `domain_docs`, `domain_passes`. */
  def domainQualityGate(
      urlField: String, pass: Column,
      minFrac: Double, minDocs: Long = 1)(df: DataFrame): DataFrame = {
    require(minFrac >= 0.0 && minFrac <= 1.0,
      s"minFrac must be in [0, 1], got $minFrac")
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    val dom = registeredDomain(parse_url(col(urlField), lit("HOST")))
    // equi-joins drop NULL keys, so the NULL domain rides an internal
    // sentinel (no registered domain contains a NUL byte) and the
    // output column keeps the honest NULL
    val base = df.withColumn("registered_domain", dom)
      .withColumn("__dom", coalesce(dom, lit("\u0000")))
      .withColumn("__pass", coalesce(pass, lit(false)))
    val stats = base.groupBy(col("__dom"))
      .agg(count(lit(1)).as("domain_docs"),
        count(when(col("__pass"), 1)).as("domain_passes"))
      .filter(col("domain_docs") >= minDocs &&
        col("domain_passes").cast("double") >=
          lit(minFrac) * col("domain_docs").cast("double"))
    base.join(stats, Seq("__dom"), "inner")
      .drop("__dom", "__pass")
  }

  /** HTML → text extraction — the step BEFORE every text op in a web
    * corpus (crawl HTML in, training text out). Deterministic
    * rule-chain, deliberately not a DOM parser (crawl HTML is malformed
    * by the terabyte; a rule chain degrades gracefully — an unclosed
    * `<script>` leaks its text but every TAG still strips):
    *  1. drop comments `<!-- … -->`, then `<script>`/`<style>` blocks
    *     WITH their contents (case-insensitive, dot-matches-newline,
    *     lazy — adjacent blocks don't merge);
    *  2. every remaining tag `<…>` becomes ONE SPACE (so `a<br>b`
    *     keeps its word boundary);
    *  3. decode the core entities — `&nbsp;`→space, `&lt; &gt; &quot;
    *     &#39; &apos;` → their characters, and `&amp;`→`&` LAST, so
    *     `&amp;lt;` yields the literal `&lt;` (double-encoding stays
    *     encoded — the order IS the contract);
    *  4. collapse `[ \t\n\r\f]+` runs to one space and trim (the
    *     explicit class, not `\s` — Java's `\s` includes U+000B,
    *     RE2's does not; the explicit class folds identically in both
    *     engines).
    * Every step is a codegen'd `regexp_replace`/`replace` chain (RE2
    * and java.util.regex agree on these patterns — lazy quantifiers,
    * inline `(?is)` flags, no backrefs), zero shuffle, NULL → NULL.
    * The DuckDB oracle replays the chain verbatim. */
  def htmlExtract(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment,
      "(?is)<script[^>]*>.*?</script[^>]*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style[^>]*>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
      "&amp;" -> "&").foldLeft(noTags) {
      case (c, (from, to)) => replace(c, lit(from), lit(to))
    }
    trim(regexp_replace(decoded, "[ \t\n\r\f]+", " "))
  }

  /** Outbound links of an HTML document: every double-quoted
    * `href="…"` value, in document order — the crawl-frontier /
    * link-graph feeder ([[graft.ext.GraphOps.pageRank]] consumes
    * (src_host, dst_host) pairs built from these plus [[urlParts]]).
    * Single-quoted and unquoted href forms are left to a fuller parser
    * by documented choice (double-quoted is the overwhelming crawl
    * majority; the pattern must stay RE2-safe — no backrefs). Pure
    * zero-shuffle projection; NULL html → empty array. */
  def htmlLinks(html: Column): Column =
    regexp_extract_all(coalesce(html, lit("")),
      lit("(?i)href\\s*=\\s*\"([^\"]*)\""), lit(1))

  /** Anchor (href, text) pairs of an HTML document, in document
    * order — [[htmlLinks]] keeps only the href; ranking and entity
    * signals need the TEXT a linking page chose for the target (the
    * classic anchor-text relevance signal: the linker's description is
    * often better than the target's own words). One lazy RE2-safe
    * pattern extracts whole `<a …href="…"…>…</a>` elements; a
    * per-element transform re-extracts the two groups — `regexp_
    * extract_all` returns a single group, so the whole-match + re-
    * extract split is what keeps this a pure codegen'd projection.
    * Anchors with single-quoted/unquoted hrefs are documented out (the
    * [[htmlLinks]] contract); nested tags inside the anchor body are
    * kept verbatim (the term pass tokenizes around them). NULL →
    * empty array. */
  def anchorTexts(html: Column): Column = {
    val pat = "(?is)<a\\s[^>]*?href\\s*=\\s*\"([^\"]*)\"[^>]*>(.*?)</a>"
    transform(
      regexp_extract_all(coalesce(html, lit("")), lit(pat), lit(0)),
      m => struct(
        regexp_extract(m, pat, 1).as("href"),
        trim(regexp_extract(m, pat, 2)).as("anchor")))
  }

  /** Corpus-wide anchor-text term index: `(href, term, n)` — how often
    * each whitespace term appears in anchors pointing AT each target.
    * The web-search signal Google's original paper made famous, and a
    * link-graph enrichment next to [[graft.ext.GraphOps.pageRank]]:
    * rank says how endorsed a target is, anchor terms say what the
    * endorsers THINK it is. One extraction projection + two explodes +
    * ONE hash-agg (map-side combine absorbs the repeated-boilerplate
    * anchors); empty terms from whitespace runs are dropped. 100 TB
    * pays one scan and one (href, term)-keyed shuffle. */
  def anchorTermCounts(htmlField: String)(df: DataFrame): DataFrame =
    df.select(explode(anchorTexts(col(htmlField))).as("__a"))
      .select(col("__a.href").as("href"),
        explode(split(col("__a.anchor"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("href"), col("term"))
      .agg(count(lit(1)).as("n"))

  /** Model-based quality filtering — the fastText/CCNet-shaped LINEAR
    * n-gram classifier every production pipeline runs after the
    * rule-based gates ([[gopherRules]]): a trained, integer-quantized
    * weight per word n-gram (orders 1..`maxN`, non-distinct — every
    * window occurrence votes), a document scored by
    * `bias + Σ weight / n_windows` and passed iff `score ≥ threshold`.
    *
    * The integer sufficient statistics come from the native
    * [[graft.functions.LinearTextScore]] kernel — the model rides in
    * the expression as a hash table (the [[bpeTokenCount]] pattern), so
    * per-window cost is one probe however large the vocabulary and the
    * whole op is a pure zero-shuffle projection: 100 TB pays one scan.
    * Integers until ONE IEEE division plus one addition, so the oracle
    * replays the score bit-for-bit. NULL text → NULL stats/score/pass.
    *
    * Output: `idField, w_sum, n_grams, score, pass`. Train the weights
    * offline (logistic regression / fastText distilled to integer
    * quantization); this op is the INFERENCE half. */
  def linearTextScore(
      idField: String, textField: String,
      weights: Seq[(String, Long)], bias: Double, threshold: Double,
      maxN: Int = 2)(df: DataFrame): DataFrame = {
    val stats = graft.functions.GraftFunctions
      .linearTextScore(tokens(col(textField)), weights, maxN)
    df.select(col(idField), stats.as("__s"))
      .select(col(idField),
        col("__s.w_sum").as("w_sum"),
        col("__s.n_grams").cast("long").as("n_grams"))
      .withColumn("score",
        when(col("n_grams") === 0, lit(null).cast("double"))
          .otherwise(lit(bias) + col("w_sum").cast("double") / col("n_grams")))
      .withColumn("pass", col("score") >= threshold)
  }

  /** HOF spec form of the [[linearTextScore]] statistics — the
    * executable specification the native kernel is parity-pinned
    * against (map-literal lookups + an integer fold; viable only for
    * demo-sized vocabularies, which is exactly why the kernel exists). */
  private[graft] def linearStatsHof(
      text: Column, weights: Seq[(String, Long)], maxN: Int): Column = {
    val wmap = map(weights.flatMap { case (g, w) =>
      Seq(lit(g), lit(w)) }: _*)
    graft.functions.GraftFunctions.bind(tokens(text)) { ts =>
      val grams = concat((1 to maxN).map { n =>
        when(size(ts) < n, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), size(ts) - (n - 1)),
            i => array_join(slice(ts, i, lit(n)), " ")))
      }: _*)
      struct(
        aggregate(grams, lit(0L),
          (acc, g) => acc + coalesce(element_at(wmap, g), lit(0L)))
          .as("w_sum"),
        size(grams).as("n_grams"))
    }
  }

  def withLangId(textField: String, target: String = "lang_pred")(
      df: DataFrame): DataFrame = df.withColumn(target, langId(col(textField)))

  def withQuality(textField: String, target: String = "quality")(
      df: DataFrame): DataFrame = df.withColumn(target, qualityScore(col(textField)))

  /** Flesch reading-ease + Flesch–Kincaid grade — the classic
    * readability features a quality stack wants beside [[textStats]]
    * and the Gopher rules (too-hard AND too-trivial text are both
    * training-mix signals; readability is the standard axis for
    * both). Counting conventions, fixed so the score is a
    * DETERMINISTIC function of the library tokenizer:
    *   - words = the library-wide space-split token count (empty/NULL
    *     text carries the `['']` token → 1 word, never 0);
    *   - sentences = runs of `[.!?]+`, floored at 1 (prose without
    *     terminators is one sentence, not a division by zero);
    *   - syllables = per word, vowel GROUPS (`[aeiouy]+` on the
    *     lowercased word), floored at 1 per word — the standard
    *     dictionary-free heuristic (± one syllable on silent-e words;
    *     consumers rank and bucket, they don't diagnose).
    * All three counts are exact integers (the syllable fold is
    * integer addition — order-free); the two scores are one fixed
    * IEEE dag each over the published constants:
    * `flesch = 206.835 − 1.015·(w/s) − 84.6·(syl/w)`,
    * `fk_grade = 0.39·(w/s) + 11.8·(syl/w) − 15.59`.
    *
    * Scale shape: pure per-row projection — no shuffle, no state;
    * whole-stage codegen keeps it in the scan. Output:
    * `idField, n_words, n_sentences, n_syllables, flesch, fk_grade`. */
  def fleschReadability(idField: String, textField: String)(
      df: DataFrame): DataFrame = {
    val txt = coalesce(col(textField), lit(""))
    val ts = tokens(txt)
    val words = size(ts).cast("long")
    val sentences = greatest(lit(1L),
      size(regexp_extract_all(txt, lit("[.!?]+"), lit(0))).cast("long"))
    val syllables = aggregate(ts, lit(0L), (acc, w) =>
      acc + greatest(lit(1),
        size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))))
        .cast("long"))
    val out = df.select(col(idField), words.as("n_words"),
      sentences.as("n_sentences"), syllables.as("n_syllables"))
    val wps = col("n_words").cast("double") /
      col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") /
      col("n_words").cast("double")
    out.select(col(idField), col("n_words"), col("n_sentences"),
      col("n_syllables"),
      (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch"),
      (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"))
  }

  def withFingerprint(textField: String, target: String = "fingerprint")(
      df: DataFrame): DataFrame = df.withColumn(target, fingerprint(col(textField)))

  /** Corpus-level distribution divergence between sources — the
    * mixture-drift / domain-shift report a data pipeline reads before
    * reweighting: for every pair of sources, how far apart are their
    * unigram frequency profiles? The comparison runs over the pooled
    * top-`topV` vocabulary (frequency-profile comparison over a fixed
    * word list — the classic corpus-similarity design) with EVERYTHING
    * else folded into one `<rest>` bucket, so both distributions still
    * sum to 1 and a vocabulary blowup cannot blow up the operator.
    *
    * Three divergences, all transcendental-free (the library's
    * no-libm-log doctrine — KL/JS land on `log`, whose bits differ
    * across engines; these three rank drift the same way and stay
    * replayable):
    *   - `tvd` — total variation ½Σ|p−q|: the Σ rides the EXACT
    *     integer numerator Σ|c_a·N_b − c_b·N_a| in decimal(38,0)
    *     (order-free!), one final fixed double dag — exact rational up
    *     to the last division.
    *   - `hellinger` — √(1 − Σ√(p_i·q_i)): per-term IEEE sqrt of a
    *     fixed-dag product, Σ term-pinned (V+1 terms, trivial fold).
    *   - `chi_sq` — Σ (p−q)²/(p+q): same pinned-fold treatment.
    *
    * Scale shape: one token scan → (source, term) hash-agg; the
    * top-V election is orderBy+limit (TakeOrderedAndProject, no global
    * sort) broadcast back; everything after lives on |S|·(V+1) rows —
    * independent of corpus size. |S|²/2 pairs is the honest bill of a
    * pairwise report; S is sources, not documents. Empty/NULL text
    * carries the library-wide `['']` token. A token literally equal to
    * `<rest>` that misses the top-V folds into the bucket (harmless:
    * it is rest mass either way). Output per (source_a < source_b):
    * `n_a, n_b, terms, tvd, hellinger, chi_sq`. */
  def corpusDivergence(sourceField: String, textField: String,
      topV: Int = 1000)(df: DataFrame): DataFrame = {
    require(topV >= 1 && topV <= 100000,
      s"topV must be in [1, 100000], got $topV")
    val cnt = df
      .filter(col(sourceField).isNotNull)
      .select(col(sourceField).as("__src"),
        explode(tokens(coalesce(col(textField), lit("")))).as("__w"))
      .groupBy(col("__src"), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val voc = cnt.groupBy(col("__w"))
      .agg(sum(col("__c")).as("__pc"))
      .orderBy(col("__pc").desc, col("__w").asc)
      .limit(topV)
      .select(col("__w"))
    val mapped = cnt
      .join(broadcast(voc.withColumn("__in", lit(true))), Seq("__w"), "left")
      .select(col("__src"),
        when(col("__in"), col("__w")).otherwise(lit("<rest>")).as("__t"),
        col("__c"))
      .groupBy(col("__src"), col("__t"))
      .agg(sum(col("__c")).as("__c"))
      .localCheckpoint()
    val tot = mapped.groupBy(col("__src")).agg(sum(col("__c")).as("__n"))
    val terms = mapped.select(col("__t")).distinct()
    val dense = tot.select(col("__src"))
      .crossJoin(broadcast(terms))
      .join(mapped, Seq("__src", "__t"), "left")
      .select(col("__src"), col("__t"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val a = dense.select(col("__src").as("__sa"), col("__t"),
      col("__c").as("__ca"))
    val b = dense.select(col("__src").as("__sb"), col("__t"),
      col("__c").as("__cb"))
    val paired = a.join(b, Seq("__t")).filter(col("__sa") < col("__sb"))
      .join(broadcast(tot.select(col("__src").as("__sa"),
        col("__n").as("__na"))), Seq("__sa"))
      .join(broadcast(tot.select(col("__src").as("__sb"),
        col("__n").as("__nb"))), Seq("__sb"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val pa = col("__ca").cast("double") / naD
    val pb = col("__cb").cast("double") / nbD
    val hTerm = sqrt(pa * pb)
    val x2Term = when(col("__ca") + col("__cb") > 0,
      (pa - pb) * (pa - pb) / (pa + pb)).otherwise(lit(0.0))
    def pinned(term: Column, out: String) =
      aggregate(
        sort_array(collect_list(struct(col("__t").as("__k"),
          term.as("__v")))),
        lit(0.0), (acc, x) => acc + x.getField("__v")).as(out)
    paired.groupBy(col("__sa"), col("__sb"), col("__na"), col("__nb"))
      .agg(
        sum(when(col("__ca") + col("__cb") > 0, 1L).otherwise(0L))
          .as("terms"),
        sum(abs(dec(col("__ca")) * dec(col("__nb")) -
          dec(col("__cb")) * dec(col("__na")))).as("__tvdnum"),
        pinned(hTerm, "__bc"),
        pinned(x2Term, "chi_sq"))
      .select(col("__sa").as("source_a"), col("__sb").as("source_b"),
        col("__na").as("n_a"), col("__nb").as("n_b"), col("terms"),
        (col("__tvdnum").cast("double") / (lit(2.0) * naD * nbD))
          .as("tvd"),
        sqrt(greatest(lit(0.0), lit(1.0) - col("__bc"))).as("hellinger"),
        col("chi_sq"))
  }
}
