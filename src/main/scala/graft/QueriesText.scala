package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{BinaryOps, Dedup, Frequency, GraphOps, Similarity, TextOps}
import graft.ops.{Ops, TemporalOps, WindowOps}
import graft.probes.Probes

/** Text queries: analysis, quality, tokenization, objectives, mixing/packing, crawl frontier. */
private[graft] object QueriesText {
  import SparkEntry.table
  import QueryHelpers._

  def registry: Seq[Query] = Seq(
    // ---- text analysis ----------------------------------------------------
    Query("text_stats",
      """SELECT doc_id,
         CAST(len(string_split(text,' ')) AS INTEGER) AS token_count,
         CAST(len(list_distinct(string_split(text,' '))) AS INTEGER) AS distinct_token_count,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) AS INTEGER) AS bpeish_token_count,
         CAST(length(text) AS INTEGER) AS char_count,
         CASE WHEN len(string_split(text,' ')) = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(length(text) AS DOUBLE) / len(string_split(text,' ')) END AS mean_token_length
         FROM documents ORDER BY doc_id""") { (s, dir) =>
      TextOps.textStats("text")(corpus(s, dir, "documents"))
        .select("doc_id", "token_count", "distinct_token_count",
          "bpeish_token_count", "char_count", "mean_token_length")
        .orderBy("doc_id")
    },
    Query("lang_id", s"""
      WITH $langPredCteSql
      SELECT doc_id, lang, lang_pred FROM pred ORDER BY doc_id""") { (s, dir) =>
      TextOps.withLangId("text")(corpus(s, dir, "documents"))
        .select("doc_id", "lang", "lang_pred").orderBy("doc_id")
    },
    // mirrors TextOps.fleschReadability: space-split words (the ['']
    // convention keeps w >= 1), [.!?]+ runs floored at 1, per-word
    // vowel groups floored at 1, then the two published fixed dags
    Query("flesch_readability", s"""
      WITH t AS (SELECT doc_id,
          string_split(coalesce(text, ''), ' ') AS ws,
          coalesce(text, '') AS txt
        FROM documents),
      w AS (SELECT doc_id,
          CAST(len(ws) AS BIGINT) AS n_words,
          greatest(CAST(1 AS BIGINT),
            CAST(len(regexp_extract_all(txt, '[.!?]+', 0)) AS BIGINT))
            AS n_sentences,
          CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(ws, x -> greatest(CAST(1 AS BIGINT),
              CAST(len(regexp_extract_all(lower(x), '[aeiouy]+', 0))
                AS BIGINT)))),
            (a, x) -> a + x) AS BIGINT) AS n_syllables
        FROM t)
      SELECT doc_id, n_words, n_sentences, n_syllables,
        ${litD(206.835)} - ${litD(1.015)}
            * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          - ${litD(84.6)}
            * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
          AS flesch,
        ${litD(0.39)}
            * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          + ${litD(11.8)}
            * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
          - ${litD(15.59)} AS fk_grade
      FROM w ORDER BY doc_id""") { (s, dir) =>
      // classic readability per doc: exact word/sentence/vowel-group
      // counts under the library tokenizer, then the two published
      // fixed dags
      TextOps.fleschReadability("doc_id", "text")(
        corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // rational idf ((N+1)/(df+1)) on purpose — one integer product + one
    // IEEE division, exact on both engines, where libm vs JVM ln can
    // differ in the last ulp (see TextOps.tfidfTopTerms)
    Query("tfidf_top_terms",
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents)
           WHERE term <> ''
           GROUP BY doc_id, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf * (n.n + 1) AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE) AS tfidf
           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         ranked AS (SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
           FROM scored)
         SELECT doc_id, term, tf, df, tfidf, CAST(rn AS INTEGER) AS rank
         FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank""") { (s, dir) =>
      TextOps.tfidfTopTerms("doc_id", "text", k = 3)(
        corpus(s, dir, "documents"))
        .orderBy("doc_id", "rank")
    },
    Query("quality_score",
      s"SELECT doc_id, quality FROM ($qualityPerDocSql) q ORDER BY doc_id") { (s, dir) =>
      TextOps.withQuality("text")(corpus(s, dir, "documents"))
        .select("doc_id", "quality").orderBy("doc_id")
    },
    Query("pack_sequences",
      """SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         CAST(floor((sum(len(string_split(text, ' '))) OVER (
             PARTITION BY lang ORDER BY doc_id ASC NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - len(string_split(text, ' '))) / 2048) AS BIGINT) AS bin
         FROM documents ORDER BY doc_id""") { (s, dir) =>
      // pack docs into 2048-token training bins, sharded by language
      // (the column training files are already split by)
      val docs = corpus(s, dir, "documents")
        .withColumn("n_tokens", TextOps.tokenCount(col("text")))
      TextOps.packSequences("n_tokens", budget = 2048,
        shardField = "lang", orderBy = Seq("doc_id"))(docs)
        .select("doc_id", "lang", "n_tokens", "bin")
        .orderBy("doc_id")
    },
    // identical bucket (n//8) + quota window ((prefix−self)//200)
    // arithmetic; sum(BIGINT) is HUGEINT in DuckDB — cast back
    Query("length_batches", """
      WITH t AS (SELECT doc_id,
          CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
            AS n_tokens
        FROM documents),
      w AS (SELECT doc_id, n_tokens, n_tokens // 8 AS bucket,
          sum(n_tokens) OVER (PARTITION BY n_tokens // 8
            ORDER BY n_tokens, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
        CAST(0 AS BIGINT) AS shard,
        CAST((cum - n_tokens) // 200 AS BIGINT) AS batch
      FROM w ORDER BY doc_id""") { (s, dir) =>
      // padding-efficiency batching: 8-token length buckets bound the
      // intra-batch length spread; within a bucket consecutive docs
      // (ordered by n_tokens, id) fill 200-token batches via the
      // quota rule — the oracle replays the identical window
      TextOps.lengthBucketBatches("doc_id", "text",
        bucketTokens = 8, batchTokens = 200)(
        corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // both signals are one integer count over another — exact on both
    // engines; bigram list built positionally exactly like the Spark
    // transform-with-index form
    Query("repetition_stats", s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      b AS (SELECT doc_id, toks,
        list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
          i -> array_to_string(toks[i:i+1], ' ')) AS bgs
        FROM t)
      SELECT doc_id,
        CASE WHEN len(toks) = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) END
          AS dup_token_fraction,
        CASE WHEN len(bgs) = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(list_max(list_transform(list_distinct(bgs),
                    g -> len(list_filter(bgs, x -> x = g)))) AS DOUBLE) / len(bgs) END
          AS top_bigram_share
      FROM b ORDER BY doc_id""") { (s, dir) =>
      val (dupFrac, topShare) = TextOps.repetitionStats(col("text"))
      corpus(s, dir, "documents")
        .select(col("doc_id"), dupFrac.as("dup_token_fraction"),
          topShare.as("top_bigram_share"))
        .orderBy("doc_id")
    },
    // every signal is integer counts until ONE double division, flag
    // thresholds compare those exact doubles — mirrors TextOps.gopherRules
    Query("gopher_rules", """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      m AS (SELECT doc_id,
          CAST(len(ts) AS BIGINT) AS n_tokens,
          CASE WHEN len(ts) = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST(CAST(list_sum(list_transform(ts, w -> length(w))) AS BIGINT) AS DOUBLE)
                    / len(ts) END AS mean_word_len,
          CASE WHEN len(ts) = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST(len(list_filter(ts, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                    / len(ts) END AS alpha_frac,
          CAST(len(list_intersect(list_distinct(ts),
            ['the','a','of','and','to','in','is'])) AS BIGINT) AS stop_hits,
          CASE WHEN len(ts) = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST(len(ts) - len(list_distinct(ts)) AS DOUBLE)
                    / len(ts) END AS dup_frac
        FROM t),
      f AS (SELECT *,
          CAST(CASE WHEN n_tokens >= 50 AND n_tokens <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS pass_length,
          CAST(CASE WHEN mean_word_len >= CAST(3 AS DOUBLE)
                     AND mean_word_len <= CAST(10 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT) AS pass_mean_len,
          CAST(CASE WHEN alpha_frac >= 8e-1 THEN 1 ELSE 0 END AS BIGINT) AS pass_alpha,
          CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass_stopwords,
          CAST(CASE WHEN dup_frac <= 9e-1 THEN 1 ELSE 0 END AS BIGINT) AS pass_repetition
        FROM m)
      SELECT doc_id, n_tokens, mean_word_len, alpha_frac, stop_hits, dup_frac,
        pass_length, pass_mean_len, pass_alpha, pass_stopwords, pass_repetition,
        CAST(pass_length * pass_mean_len * pass_alpha * pass_stopwords
             * pass_repetition AS BIGINT) AS passes_gopher
      FROM f ORDER BY doc_id""") { (s, dir) =>
      // the heuristic rule battery with per-rule signals AND verdicts
      TextOps.gopherRules("doc_id", "text")(corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // the full Gopher n-gram battery — mirrors TextOps.gopherRepetition:
    // integer numerators (occurrences × gram chars for the top grams;
    // island-merged covered-position char sums for the dup coverage)
    // over the shared non-space-char denominator, one division each at
    // the very end; most-frequent-gram ties break to the greatest digest
    Query("gopher_repetition", s"""
      WITH tok AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
        FROM documents),
      base AS (SELECT doc_id,
          CAST(coalesce(list_sum(list_transform(ts, t -> len(t))), 0) AS BIGINT)
            AS chars
        FROM tok),
      tl AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
          CAST(len(ts[CAST(i AS INT)]) AS BIGINT) AS tlen
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM tok)),
      g AS (SELECT doc_id, n, CAST(i - 1 AS BIGINT) AS pos,
          md5(array_to_string(ts[CAST(i AS INT):CAST(i + n - 1 AS INT)], ' ')) AS h,
          CAST(coalesce(list_sum(list_transform(
            ts[CAST(i AS INT):CAST(i + n - 1 AS INT)], t -> len(t))), 0) AS BIGINT) AS gc
        FROM (SELECT doc_id, ts, n,
                unnest(range(1, greatest(len(ts) - n + 1, 0) + 1)) AS i
              FROM tok CROSS JOIN
                (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n) ns)),
      cnts AS (SELECT doc_id, n, pos, h, gc,
          count(*) OVER (PARTITION BY doc_id, n, h) AS cnt
        FROM g),
      top1 AS (SELECT doc_id, n, cnt * gc AS num
        FROM (SELECT DISTINCT doc_id, n, h, gc, cnt FROM cnts WHERE n <= 4)
        QUALIFY row_number() OVER (PARTITION BY doc_id, n
          ORDER BY cnt DESC, h DESC) = 1),
      hit AS (SELECT doc_id, n, pos FROM cnts WHERE n >= 5 AND cnt >= 2),
      brk AS (SELECT doc_id, n, pos,
          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id, n ORDER BY pos) > n
               THEN 1 ELSE 0 END AS b
        FROM hit),
      isl AS (SELECT doc_id, n, pos,
          sum(b) OVER (PARTITION BY doc_id, n ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS island
        FROM brk),
      cov AS (SELECT doc_id, n, unnest(range(s, e + 1)) AS pos
        FROM (SELECT doc_id, n, min(pos) AS s, max(pos) + n - 1 AS e
              FROM isl GROUP BY doc_id, n, island)),
      dupc AS (SELECT c.doc_id, c.n, sum(t.tlen) AS dchars
        FROM cov c JOIN tl t ON c.doc_id = t.doc_id AND c.pos = t.pos
        GROUP BY c.doc_id, c.n)
      SELECT b.doc_id,
        ${Seq(2, 3, 4).map(n =>
          s"""CASE WHEN chars = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(coalesce((SELECT num FROM top1
                 WHERE top1.doc_id = b.doc_id AND top1.n = $n), 0) AS DOUBLE)
               / CAST(chars AS DOUBLE) END AS top_${n}gram_char_frac""")
          .mkString(",\n        ")},
        ${Seq(5, 6, 7, 8, 9, 10).map(n =>
          s"""CASE WHEN chars = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(coalesce((SELECT dchars FROM dupc
                 WHERE dupc.doc_id = b.doc_id AND dupc.n = $n), 0) AS DOUBLE)
               / CAST(chars AS DOUBLE) END AS dup_${n}gram_char_frac""")
          .mkString(",\n        ")}
      FROM base b ORDER BY b.doc_id""") { (s, dir) =>
      // the full n-gram repetition battery: top-{2,3,4}-gram char share
      // + overlap-aware duplicated-{5..10}-gram char coverage
      TextOps.gopherRepetition("doc_id", "text")(corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // the linear classifier replayed relationally: unigram + bigram
    // stream, LEFT JOIN the weight VALUES (absent grams weigh 0),
    // integer sums until the one division both engines share
    Query("linear_quality", s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
                 FROM documents),
      g AS (SELECT doc_id, unnest(ts) AS gram FROM t
            UNION ALL
            SELECT doc_id, unnest(list_transform(range(1, len(ts)),
              i -> ts[i] || ' ' || ts[i + 1])) AS gram FROM t),
      w(gram, wt) AS (VALUES ${TextOps.demoQualityWeights
        .map { case (g, wt) => s"('$g', $wt)" }.mkString(", ")}),
      s AS (SELECT g.doc_id,
              CAST(sum(coalesce(w.wt, 0)) AS BIGINT) AS w_sum,
              CAST(count(*) AS BIGINT) AS n_grams
            FROM g LEFT JOIN w USING (gram) GROUP BY 1)
      SELECT doc_id, w_sum, n_grams,
        25e-2 + CAST(w_sum AS DOUBLE) / n_grams AS score,
        (25e-2 + CAST(w_sum AS DOUBLE) / n_grams) >= 3e-1 AS pass
      FROM s ORDER BY doc_id""") { (s, dir) =>
      // model-based quality inference: the integer-quantized linear
      // uni/bigram classifier (fastText/CCNet shape) as a zero-shuffle
      // native-kernel projection; integers until one division, so the
      // score replays bit-for-bit
      TextOps.linearTextScore("doc_id", "text",
        TextOps.demoQualityWeights, bias = 0.25, threshold = 0.3)(
        corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // percent_rank IS the semantic spec the histogram-CDF form equals:
    // rows strictly below / (n-1), ties share a rank
    Query("quality_percentiles", s"""
      WITH q AS (SELECT d.doc_id, d.source, qq.quality
        FROM documents d JOIN ($qualityPerDocSql) qq ON d.doc_id = qq.doc_id)
      SELECT doc_id, source, quality,
        percent_rank() OVER (PARTITION BY source ORDER BY quality) AS score_pct
      FROM q ORDER BY doc_id""") { (s, dir) =>
      // per-source percentile calibration of the quality score
      TextOps.scorePercentiles("source", "quality")(
        TextOps.withQuality("text")(corpus(s, dir, "documents")))
        .select("doc_id", "source", "quality", "score_pct")
        .orderBy("doc_id")
    },
    Query("mix_report", """
      WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
      x AS (SELECT source, n_docs, n_tokens,
          CAST(n_tokens AS DOUBLE) / t AS token_share,
          CASE WHEN source = 'src0' THEN 5e-1
               WHEN source = 'src1' THEN 25e-2
               WHEN source = 'src2' THEN 25e-2
               ELSE CAST(0 AS DOUBLE) END AS target_share
        FROM per, tot)
      SELECT source, n_docs, n_tokens, token_share, target_share,
        target_share / token_share AS sampling_ratio
      FROM x ORDER BY source""") { (s, dir) =>
      // volumes, shares, and the sampling ratios a mixer must apply
      TextOps.mixReport("source", "text",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))(
        corpus(s, dir, "documents"))
        .orderBy("source")
    },
    Query("truncate_tokens", """
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        CASE WHEN len(ts) <= 40 THEN text
             ELSE array_to_string(ts[1:40], ' ') END AS text_trunc
      FROM (SELECT doc_id, text, string_split(text, ' ') AS ts
            FROM documents) t
      ORDER BY doc_id""") { (s, dir) =>
      // context-window truncation at 40 tokens, originals pass through
      TextOps.truncateTokens("text", maxTokens = 40)(
        corpus(s, dir, "documents"))
        .select("doc_id", "n_tokens", "text_trunc")
        .orderBy("doc_id")
    },
    // df-1 grams over the same distinct-shingle digests; gram-less docs
    // survive the LEFT JOIN as (0, 0, 0.0) — mirrors TextOps.noveltyScores
    Query("novelty_scores", s"""
      WITH g AS (SELECT doc_id, md5(gg) AS h FROM (
          SELECT doc_id, unnest(${shinglesSql(8)}) AS gg FROM documents) u),
      dft AS (SELECT h, CAST(count(*) AS BIGINT) AS dfc FROM g GROUP BY h),
      per AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          CAST(sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        FROM g JOIN dft USING (h) GROUP BY g.doc_id)
      SELECT d.doc_id,
        coalesce(per.n_grams, CAST(0 AS BIGINT)) AS n_grams,
        coalesce(per.n_unique, CAST(0 AS BIGINT)) AS n_unique,
        CASE WHEN coalesce(per.n_grams, 0) = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(per.n_unique AS DOUBLE) / per.n_grams END AS novelty
      FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      ORDER BY d.doc_id""") { (s, dir) =>
      // fraction of each doc's 8-grams unique to it corpus-wide
      TextOps.noveltyScores("doc_id", "text", n = 8)(
        corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // floor(log2(n)) as length(bin(n)) - 1: integer/string arithmetic,
    // no floating log — mirrors TextOps.tokenHistogram
    Query("token_histogram", """
      WITH t AS (SELECT source,
          CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n
        FROM documents)
      SELECT source,
        CAST(CAST(1 AS BIGINT) << (length(bin(n)) - 1) AS BIGINT) AS bin_lo,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n) AS BIGINT) AS n_tokens
      FROM t GROUP BY source, bin_lo ORDER BY source, bin_lo""") { (s, dir) =>
      // power-of-two doc-length histogram per source
      TextOps.tokenHistogram("source", "text")(corpus(s, dir, "documents"))
        .orderBy("source", "bin_lo")
    },
    // sampling ratio = least(target/actual-share, 1), keep iff the
    // salted 32-bit md5 prefix < p * 2^32 — mirrors
    // TextOps.downsampleToTargets/hashBernoulli (salt 'bern')
    Query("downsample_mix", """
      WITH per AS (SELECT source,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
      r AS (SELECT source AS src,
          least((CASE WHEN source = 'src0' THEN 5e-2
                      WHEN source = 'src1' THEN 2e-2
                      WHEN source = 'src2' THEN 2e-2
                      ELSE CAST(0 AS DOUBLE) END)
                / (CAST(n_tokens AS DOUBLE) / t),
            CAST(1 AS DOUBLE)) AS p
        FROM per, tot)
      SELECT doc_id, source FROM (
        SELECT d.doc_id, d.source, r.p,
          list_sum(list_transform(range(1, 9), j ->
            (strpos('0123456789abcdef',
               substr(md5('bern' || CAST(d.doc_id AS VARCHAR)), j, 1)) - 1)
            * CAST(16**(8-j) AS BIGINT))) AS h
        FROM documents d JOIN r ON d.source = r.src) x
      WHERE CAST(h AS DOUBLE) < p * CAST(4294967296 AS DOUBLE)
      ORDER BY doc_id""") { (s, dir) =>
      // drop-to-target mixing: src0 near its actual share, src1/src2
      // down-sampled, every other source to zero
      TextOps.downsampleToTargets("doc_id", "source", "text",
        Map("src0" -> 0.05, "src1" -> 0.02, "src2" -> 0.02))(
        corpus(s, dir, "documents"))
        .select("doc_id", "source").orderBy("doc_id")
    },
    Query("pii_scrub", """
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(
          substr(text, 1, 40) || ' user' || CAST(doc_id AS VARCHAR)
            || '@example.com at 192.168.0.1 ref 123456789',
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
          '[0-9]{7,}', '<NUM>', 'g') AS clean
      FROM documents ORDER BY doc_id""") { (s, dir) =>
      // the fixture text carries no PII, so synthesize the leak shapes
      // from the doc id and verify the scrubbed output cross-engine
      val noisy = concat(substring(col("text"), 1, 40),
        lit(" user"), col("doc_id"), lit("@example.com at 192.168.0.1 ref 123456789"))
      table(s, dir, "documents")
        .select(col("doc_id"), TextOps.scrubPii(noisy).as("clean"))
        .orderBy("doc_id")
    },
    Query("top_ngrams", s"""
      SELECT ngram, count(*) AS doc_freq
      FROM (SELECT unnest(${shinglesSql(2)}) AS ngram FROM documents)
      GROUP BY ngram
      ORDER BY doc_freq DESC, ngram ASC
      LIMIT 20""") { (s, dir) =>
      // shingles are distinct per doc, so the count is document
      // frequency; orderBy+limit plans TakeOrderedAndProject (top-k
      // without a global sort)
      corpus(s, dir, "documents")
        .select(explode(TextOps.shingles(col("text"), 2)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("ngram").asc)
        .limit(20)
    },
    Query("bm25_topk", bm25Sql(Seq("spark", "stream", "vector"), k = 10)) { (s, dir) =>
      TextOps.bm25TopK("doc_id", "text",
        Seq("spark", "stream", "vector"), k = 10)(
        corpus(s, dir, "documents"))
        .orderBy("rank")
    },
    // posting-list build + per-term score tree identical to bm25_topk;
    // the per-(query, doc) sum folds a term-ORDERED list left from 0.0
    // (list_reduce) exactly like the Spark aggregate() fold — float
    // addition order is pinned, scores hash-match bit-for-bit
    Query("bm25_batch", s"""
      WITH posts AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t
              FROM documents) u
        GROUP BY doc_id, t),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM posts GROUP BY doc_id),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl FROM dl),
      dfq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM posts GROUP BY t),
      q(query_id, terms) AS (VALUES
        (CAST(0 AS BIGINT), ['spark', 'stream']),
        (1, ['vector', 'merge', 'window']),
        (2, ['customer'])),
      qt AS (SELECT query_id, unnest(list_distinct(terms)) AS t FROM q),
      scored AS (SELECT query_id, doc_id, t,
          ((n - df) + ${litD(0.5)}) / (df + ${litD(0.5)})
            * (tf * ${litD(1.2 + 1.0)})
            / (tf + ${litD(1.2)} * (${litD(1.0 - 0.75)} + ${litD(0.75)} * (dl / (sumdl / n)))) AS s
        FROM qt JOIN posts USING (t) JOIN dfq USING (t)
          JOIN dl USING (doc_id) CROSS JOIN stats),
      agg AS (SELECT query_id, doc_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list(s ORDER BY t)),
            (a, x) -> a + x) AS score
        FROM scored GROUP BY query_id, doc_id)
      SELECT query_id, doc_id, score,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
      FROM agg QUALIFY rank <= 5 ORDER BY query_id, rank""") { (s, dir) =>
      // data-driven retrieval: three query-term bags, one shared
      // posting-list build, per-query top-5
      import s.implicits._
      val queries = Seq(
        (0L, Seq("spark", "stream")),
        (1L, Seq("vector", "merge", "window")),
        (2L, Seq("customer"))
      ).toDF("query_id", "terms")
      TextOps.bm25BatchTopK("doc_id", "text", queries, "query_id", "terms",
        k = 5)(corpus(s, dir, "documents"))
        .orderBy("query_id", "rank")
    },
    // the stored-index serve replays the identical posting/df/stats
    // derivation — serving from storage must equal the corpus scan
    Query("bm25_serve", s"""
      WITH posts AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t
              FROM documents) u
        GROUP BY doc_id, t),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM posts GROUP BY doc_id),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl FROM dl),
      dfq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM posts GROUP BY t),
      q(query_id, terms) AS (VALUES
        (CAST(0 AS BIGINT), ['spark', 'window']),
        (1, ['customer', 'stream']),
        (2, ['merge'])),
      qt AS (SELECT query_id, unnest(list_distinct(terms)) AS t FROM q),
      scored AS (SELECT query_id, doc_id, t,
          ((n - df) + ${litD(0.5)}) / (df + ${litD(0.5)})
            * (tf * ${litD(1.2 + 1.0)})
            / (tf + ${litD(1.2)} * (${litD(1.0 - 0.75)} + ${litD(0.75)} * (dl / (sumdl / n)))) AS s
        FROM qt JOIN posts USING (t) JOIN dfq USING (t)
          JOIN dl USING (doc_id) CROSS JOIN stats),
      agg AS (SELECT query_id, doc_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list(s ORDER BY t)),
            (a, x) -> a + x) AS score
        FROM scored GROUP BY query_id, doc_id)
      SELECT query_id, doc_id, score,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
      FROM agg QUALIFY rank <= 4 ORDER BY query_id, rank""") { (s, dir) =>
      // the STORED-index serving path in the driver gate: build the
      // posting triad once, then answer a query batch from it — must
      // hash-match the same scoring core the live-corpus form compiles
      import s.implicits._
      // localCheckpoint = the stored-index reality: termDf/stats/serve
      // all read the SAME materialized postings, not three re-tokenizes
      val index = TextOps.bm25IndexRows("doc_id", "text")(
        corpus(s, dir, "documents")).localCheckpoint()
      val queries = Seq(
        (0L, Seq("spark", "window")),
        (1L, Seq("customer", "stream")),
        (2L, Seq("merge"))
      ).toDF("query_id", "terms")
      TextOps.bm25ServeTopK(index, TextOps.bm25TermDf(index),
        TextOps.bm25Stats(index), queries, "query_id", "terms", k = 4)
        .orderBy("query_id", "rank")
    },
    // the feedback loop replayed: bm25 top-5 per query, postings of the
    // feedback docs, original terms anti-joined away, exact tf-sum
    // weights, term-ascending tie-break
    Query("bm25_prf", s"""
      WITH posts AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t
              FROM documents) u
        GROUP BY doc_id, t),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM posts GROUP BY doc_id),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl FROM dl),
      dfq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM posts GROUP BY t),
      q(query_id, terms) AS (VALUES
        (CAST(0 AS BIGINT), ['spark', 'stream']),
        (1, ['vector', 'merge', 'window']),
        (2, ['customer'])),
      qt AS (SELECT query_id, unnest(list_distinct(terms)) AS t FROM q),
      scored AS (SELECT query_id, doc_id, t,
          ((n - df) + ${litD(0.5)}) / (df + ${litD(0.5)})
            * (tf * ${litD(1.2 + 1.0)})
            / (tf + ${litD(1.2)} * (${litD(1.0 - 0.75)} + ${litD(0.75)} * (dl / (sumdl / n)))) AS s
        FROM qt JOIN posts USING (t) JOIN dfq USING (t)
          JOIN dl USING (doc_id) CROSS JOIN stats),
      agg AS (SELECT query_id, doc_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list(s ORDER BY t)),
            (a, x) -> a + x) AS score
        FROM scored GROUP BY query_id, doc_id),
      top AS (SELECT query_id, doc_id FROM (
          SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id ASC) AS rk FROM agg)
        WHERE rk <= 5),
      fb AS (SELECT tp.query_id, p.t AS term, p.tf
        FROM top tp JOIN posts p ON tp.doc_id = p.doc_id
        WHERE NOT EXISTS (SELECT 1 FROM qt
          WHERE qt.query_id = tp.query_id AND qt.t = p.t)),
      w AS (SELECT query_id, term, sum(tf) AS weight,
          CAST(count(*) AS BIGINT) AS fb_df
        FROM fb GROUP BY query_id, term)
      SELECT query_id, term, weight, fb_df,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY weight DESC, term ASC) AS INTEGER) AS rank
      FROM w QUALIFY rank <= 8 ORDER BY query_id, rank""") { (s, dir) =>
      // pseudo-relevance feedback: mine the top-5 feedback docs per
      // query for the 8 strongest NEW expansion terms — the
      // retrieve→expand→re-retrieve loop closed on the stored index
      import s.implicits._
      // materialized once — serve + feedback legs read stored postings
      val index = TextOps.bm25IndexRows("doc_id", "text")(
        corpus(s, dir, "documents")).localCheckpoint()
      val queries = Seq(
        (0L, Seq("spark", "stream")),
        (1L, Seq("vector", "merge", "window")),
        (2L, Seq("customer"))
      ).toDF("query_id", "terms")
      TextOps.bm25PrfTerms(index, TextOps.bm25TermDf(index),
        TextOps.bm25Stats(index), queries, "query_id", "terms",
        fbDocs = 5, fbTerms = 8)
        .orderBy("query_id", "rank")
    },
    // prefix of the per-source md5 shuffle order with cumulative tokens
    // <= budget — mirrors TextOps.tokenBudgetMix(salt = "mix")
    Query("token_budget_mix", TokenBudgetMixSql) { (s, dir) =>
      // data mixing: deterministic 1000-token budget per source (prefix
      // of the md5 shuffle order)
      TextOps.tokenBudgetMix("doc_id", "text", "source",
        tokensPerSource = 1000)(corpus(s, dir, "documents"))
        .orderBy("source", "doc_id")
    },
    // the two-pass form is output-identical BY DESIGN: the oracle is
    // shared verbatim (same discipline as incremental_dedup_bloom)
    Query("token_budget_mix_2p", TokenBudgetMixSql) { (s, dir) =>
      // the cluster-scale two-pass form: identical selection and
      // cum_tokens (oracle shared verbatim), per-source global sort
      // replaced by rank-prefix bucket offsets + 256-way windows
      TextOps.tokenBudgetMixTwoPass("doc_id", "text", "source",
        tokensPerSource = 1000)(corpus(s, dir, "documents"))
        .orderBy("source", "doc_id")
    },
    // distinct (source, trigram-digest) sets -> pairwise intersection /
    // union — mirrors TextOps.sourceOverlap (jaccard is int/int, exact)
    Query("source_overlap", sourceOverlapSql(cutoff = None)) { (s, dir) =>
      // cross-source trigram Jaccard matrix (mirror/scrape diagnostic)
      TextOps.sourceOverlap("source", "text", n = 3)(
        corpus(s, dir, "documents"))
        .orderBy("source_a", "source_b")
    },
    // deterministic quarter of the digest space (leading 32 bits <
    // 2^30) — mirrors TextOps.sourceOverlap(gramFraction = 0.25)
    Query("source_overlap_sampled", sourceOverlapSql(cutoff = Some(1073741824L))) { (s, dir) =>
      // the 100 TB estimator form: only the deterministic quarter of
      // the gram-digest space participates — jaccard estimates the
      // full-matrix value, shuffle volume shrinks 4x
      TextOps.sourceOverlap("source", "text", n = 3,
        gramFraction = 0.25)(corpus(s, dir, "documents"))
        .orderBy("source_a", "source_b")
    },
    // bin assignment identical to pack_sequences; concat order is the
    // doc_id sort — mirrors TextOps.packTexts
    Query("packed_texts", """
      WITH b AS (SELECT doc_id, lang, text,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          CAST(floor((sum(len(string_split(text, ' '))) OVER (
              PARTITION BY lang ORDER BY doc_id ASC NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - len(string_split(text, ' '))) / 2048) AS BIGINT) AS bin
        FROM documents)
      SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        string_agg(text, ' ' ORDER BY doc_id) AS text
      FROM b GROUP BY lang, bin ORDER BY lang, bin""") { (s, dir) =>
      // pack_sequences' apply form: one concatenated row per 2048-token
      // training bin, sharded by language
      TextOps.packTexts("doc_id", "text", "lang", budget = 2048)(
        corpus(s, dir, "documents"))
        .orderBy("lang", "bin")
    },
    // window starts step by stride; last window clamps — mirrors
    // TextOps.chunkTexts (slice and list-slicing clamp identically)
    Query("chunk_texts", """
      SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_idx,
        CAST(s AS BIGINT) AS chunk_start,
        CAST(least(32, len(t) - s) AS BIGINT) AS chunk_tokens,
        array_to_string(t[CAST(s + 1 AS INT):CAST(s + 32 AS INT)], ' ') AS chunk_text
      FROM (SELECT doc_id, string_split(text, ' ') AS t,
              unnest(range(0, len(string_split(text, ' ')), 24)) AS s
            FROM documents)
      ORDER BY doc_id, chunk_idx""") { (s, dir) =>
      // RAG-shape chunking: 32-token windows, stride 24 (8-token overlap)
      TextOps.chunkTexts("doc_id", "text", chunkTokens = 32, stride = 24)(
        corpus(s, dir, "documents"))
        .orderBy("doc_id", "chunk_idx")
    },
    // integer corpus-frequency counts, one double division at the end —
    // mirrors TextOps.unigramCfQuality
    Query("unigram_cf_quality", """
      WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents),
      cf AS (SELECT t, count(*) AS cf FROM tk GROUP BY t)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(cf) AS BIGINT) AS cf_sum,
        CAST(sum(cf) AS DOUBLE) / count(*) AS mean_cf
      FROM tk JOIN cf USING (t)
      GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      // perplexity-proxy quality: mean corpus unigram frequency per doc
      TextOps.unigramCfQuality("doc_id", "text")(
        corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // per-source integer sums + distinct-token counts, three final
    // divisions — mirrors TextOps.tokenizerFertility (the BPE fold is
    // the shared bpeCountValueSql over coalesced text)
    Query("tokenizer_fertility", s"""
      WITH tok AS (SELECT source, coalesce(text, '') AS text,
          string_split(coalesce(text, ''), ' ') AS ts
        FROM documents),
      agg AS (SELECT source,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(ts)) AS BIGINT) AS n_words,
          CAST(sum(coalesce(list_sum(list_transform(ts, t -> len(t))), 0))
            AS BIGINT) AS n_chars,
          CAST(sum(${bpeCountValueSql(graft.ext.TextOps.demoBpeMerges, "text")})
            AS BIGINT) AS n_bpe_tokens
        FROM tok GROUP BY source),
      voc AS (SELECT source, CAST(count(DISTINCT t) AS BIGINT) AS vocab_size
        FROM (SELECT source, unnest(ts) AS t FROM tok) GROUP BY source)
      SELECT source, n_docs, n_words, n_chars, n_bpe_tokens, vocab_size,
        CASE WHEN n_words = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
        END AS bpe_per_word,
        CASE WHEN n_bpe_tokens = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)
        END AS chars_per_bpe,
        CASE WHEN n_words = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(vocab_size AS DOUBLE) / CAST(n_words AS DOUBLE)
        END AS type_token_ratio
      FROM agg JOIN voc USING (source)
      ORDER BY source""") { (s, dir) =>
      // per-source fertility/vocabulary report under the shared demo
      // merge table — the token-budget observability pass
      TextOps.tokenizerFertility("source", "text")(
        corpus(s, dir, "documents"))
        .orderBy("source")
    },
    // NFC normalization — DuckDB's nfc_normalize IS the cross-engine pin
    Query("normalize_text", """
      SELECT doc_id, nfc_normalize(text) AS text_nfc,
        CASE WHEN nfc_normalize(text) IS NOT DISTINCT FROM text
             THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS changed
      FROM documents ORDER BY doc_id""") { (s, dir) =>
      // NFC normalization pass + changed flag (the pre-dedup cleaning
      // step; the fixture is ASCII so `changed` is all-zero here — the
      // unicode semantics are spec-pinned in FunctionsSpec)
      corpus(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.normalizeText(col("text")).as("text_nfc"),
          when(TextOps.normalizeText(col("text")) <=> col("text"), lit(0L))
            .otherwise(lit(1L)).as("changed"))
        .orderBy("doc_id")
    },
    // interpolated bigram LM — mirrors TextOps.bigramLmQuality: integer
    // corpus counts, two divisions + one multiply-add per position, the
    // per-doc float fold replayed in position order from the same 0.0
    // seed (list_prepend + list_reduce ≡ Spark's seeded aggregate)
    Query("bigram_lm_quality", bigramLmSql(0.7)) { (s, dir) =>
      // CCNet-ish perplexity proxy, one rung above unigram_cf_quality:
      // mean interpolated bigram probability, fold order pinned
      TextOps.bigramLmQuality("doc_id", "text")(corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // stupid-backoff trigram LM — mirrors TextOps.trigramLmQuality with
    // the count table built on the same corpus: exact integer counts,
    // each backoff leg one division times a literal (0.4 / 0.16, the
    // Scala doubles round-tripped), the per-doc fold position-pinned
    Query("trigram_lm_quality", trigramLmSql(0.4)) { (s, dir) =>
      // stupid-backoff trigram LM (Brants 2007) — the rung above
      // bigram_lm_quality: scored against a STORED count table (here
      // built on the same corpus so the oracle can replay it), per
      // position c3/ctx, else 0.4·c2/c1, else 0.16·c1/T, fold pinned
      val docs = corpus(s, dir, "documents")
      TextOps.trigramLmQuality("doc_id", "text",
        TextOps.lmCountTable("text")(docs))(docs)
        .orderBy("doc_id")
    },
    // decoupled train/score: count CTEs over the src0 carve only,
    // every other document scored against that stored model
    Query("trigram_lm_transfer",
      trigramLmSql(0.4, "source = 'src0'", "source <> 'src0'")) { (s, dir) =>
      // the decoupled train/score shape the stored-model rung exists
      // for (the CCNet doctrine: score the raw crawl against a
      // REFERENCE model): count table from the src0 carve only, every
      // other document scored against it — out-of-domain text falls
      // through to the backoff floors
      val docs = corpus(s, dir, "documents")
      TextOps.trigramLmQuality("doc_id", "text",
        TextOps.lmCountTable("text")(
          docs.filter(col("source") === "src0")))(
        docs.filter(col("source") =!= "src0"))
        .orderBy("doc_id")
    },
    // mirrors TextOps.ccnetBuckets: the trigram LM scores as a CTE,
    // percent_rank per source (the quality_percentiles semantic pin),
    // tertile cuts against the same driver double literals, exact
    // integer token masses, one share division
    Query("ccnet_buckets", s"""
      WITH lm AS (SELECT doc_id, lm_score FROM (${trigramLmSql(0.4)})),
      d AS (SELECT doc_id, source,
          CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
            AS ntok
        FROM documents
        -- NULL-source docs drop, mirroring the op's up-front filter
        -- (percent_rank would rank the NULL partition normally where
        -- Spark's per-source equality join never matches NULL)
        WHERE source IS NOT NULL),
      p AS (SELECT d.source, d.ntok,
          percent_rank() OVER (PARTITION BY d.source
            ORDER BY lm.lm_score) AS pct
        FROM d JOIN lm USING (doc_id)),
      b AS (SELECT source,
          CASE WHEN pct >= ${litD(2.0 / 3.0)} THEN 'head'
               WHEN pct >= ${litD(1.0 / 3.0)} THEN 'middle'
               ELSE 'tail' END AS bucket, ntok
        FROM p),
      g AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(ntok) AS BIGINT) AS n_tokens
        FROM b GROUP BY 1, 2),
      t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS stok
        FROM g GROUP BY 1)
      SELECT g.source, g.bucket, g.n_docs, g.n_tokens,
        CAST(g.n_tokens AS DOUBLE) / CAST(t.stok AS DOUBLE)
          AS token_share
      FROM g JOIN t USING (source)
      ORDER BY source, bucket""") { (s, dir) =>
      // the CCNet operating table (Wenzek 2020): every doc scored
      // against the stored trigram LM, percentile-ranked per source,
      // cut at the tertiles — per-(source, bucket) docs, token mass
      // and share; what a mixer reads to set sampling rates
      val docs = corpus(s, dir, "documents")
      TextOps.ccnetBuckets("doc_id", "source", "text",
        TextOps.lmCountTable("text")(docs))(docs)
        .orderBy("source", "bucket")
    },
    // mirrors TextOps.corpusDivergence: pooled top-200 vocabulary
    // ((count DESC, term ASC) election) + <rest> bucket, exact HUGEINT
    // TVD numerator like Spark's decimal(38,0), term-pinned Hellinger
    // and chi-square folds, the same fixed double dags
    Query("corpus_divergence", """
      WITH tok AS (SELECT source AS src,
          unnest(string_split(coalesce(text, ''), ' ')) AS w
        FROM documents WHERE source IS NOT NULL),
      cnt AS (SELECT src, w, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
      voc AS (SELECT w FROM (SELECT w, sum(c) AS pc FROM cnt GROUP BY w)
        ORDER BY pc DESC, w ASC LIMIT 200),
      mapped AS (SELECT src,
          CASE WHEN voc.w IS NOT NULL THEN cnt.w ELSE '<rest>' END AS t,
          CAST(sum(c) AS BIGINT) AS c
        FROM cnt LEFT JOIN voc ON voc.w = cnt.w GROUP BY 1, 2),
      tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n
        FROM mapped GROUP BY src),
      terms AS (SELECT DISTINCT t FROM mapped),
      dense AS (SELECT s.src, terms.t,
          coalesce(m.c, CAST(0 AS BIGINT)) AS c
        FROM (SELECT src FROM tot) s CROSS JOIN terms
        LEFT JOIN mapped m ON m.src = s.src AND m.t = terms.t),
      paired AS (SELECT a.src AS sa, b.src AS sb, a.t AS t,
          a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb
        FROM dense a JOIN dense b ON a.t = b.t AND a.src < b.src
        JOIN tot ta ON ta.src = a.src JOIN tot tb ON tb.src = b.src),
      f AS (SELECT sa, sb, na, nb,
          CAST(sum(CASE WHEN ca + cb > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS terms,
          sum(abs(CAST(ca AS HUGEINT) * CAST(nb AS HUGEINT)
            - CAST(cb AS HUGEINT) * CAST(na AS HUGEINT))) AS tvdnum,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(sqrt((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
              * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))
              ORDER BY t)), (a, x) -> a + x) AS bc,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CASE WHEN ca + cb > 0 THEN
                (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                  + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
              ELSE CAST(0 AS DOUBLE) END ORDER BY t)),
            (a, x) -> a + x) AS chi_sq
        FROM paired GROUP BY 1, 2, 3, 4)
      SELECT sa AS source_a, sb AS source_b, na AS n_a, nb AS n_b,
        terms,
        CAST(tvdnum AS DOUBLE)
          / (CAST(2 AS DOUBLE) * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
          AS tvd,
        sqrt(greatest(CAST(0 AS DOUBLE),
          CAST(1 AS DOUBLE) - bc)) AS hellinger,
        chi_sq
      FROM f ORDER BY source_a, source_b""") { (s, dir) =>
      // pairwise source drift over the pooled top-200 vocabulary +
      // <rest> bucket: exact-integer TVD, pinned-fold Hellinger and
      // chi-square — the mixture-drift report before reweighting
      TextOps.corpusDivergence("source", "text", topV = 200)(
        corpus(s, dir, "documents"))
        .orderBy("source_a", "source_b")
    },
    // DSIR-shaped affinity — mirrors TextOps.targetAffinity: corpus-wide
    // integer gram counts, each score ONE division of integer products,
    // the affinity one subtraction of those two doubles (log-free on
    // purpose: summed float logs would not hash-match cross-engine)
    Query("dsir_affinity", s"""
      WITH rawd AS (SELECT doc_id, coalesce(text, '') AS text FROM documents
        WHERE source <> 'src0'),
      tgtd AS (SELECT coalesce(text, '') AS text FROM documents
        WHERE source = 'src0'),
      rg AS (SELECT doc_id,
          md5(array_to_string(ts[CAST(i AS INT):CAST(i + 1 AS INT)], ' ')) AS h
        FROM (SELECT doc_id, string_split(text, ' ') AS ts,
                unnest(range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1)) AS i
              FROM rawd)),
      tg AS (SELECT
          md5(array_to_string(ts[CAST(i AS INT):CAST(i + 1 AS INT)], ' ')) AS h
        FROM (SELECT string_split(text, ' ') AS ts,
                unnest(range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1)) AS i
              FROM tgtd)),
      rc AS (SELECT h, count(*) AS cr FROM rg GROUP BY h),
      tc AS (SELECT h, count(*) AS ct FROM tg GROUP BY h),
      tot AS (SELECT
          (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) FROM rc) AS rtot,
          (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tc) AS ttot),
      pd AS (SELECT rg.doc_id, count(*) AS n_grams,
          CAST(sum(coalesce(tc.ct, 0)) AS BIGINT) AS target_hits,
          CAST(sum(rc.cr) AS BIGINT) AS raw_hits
        FROM rg LEFT JOIN tc USING (h) JOIN rc USING (h)
        GROUP BY rg.doc_id)
      SELECT b.doc_id,
        CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
        CAST(coalesce(target_hits, 0) AS BIGINT) AS target_hits,
        CAST(coalesce(raw_hits, 0) AS BIGINT) AS raw_hits,
        CASE WHEN coalesce(n_grams, 0) = 0 OR ttot = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(target_hits AS DOUBLE) / CAST(n_grams * ttot AS DOUBLE)
        END AS target_score,
        CASE WHEN coalesce(n_grams, 0) = 0 OR rtot = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(raw_hits AS DOUBLE) / CAST(n_grams * rtot AS DOUBLE)
        END AS raw_score,
        (CASE WHEN coalesce(n_grams, 0) = 0 OR ttot = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(target_hits AS DOUBLE) / CAST(n_grams * ttot AS DOUBLE)
         END
         - CASE WHEN coalesce(n_grams, 0) = 0 OR rtot = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(raw_hits AS DOUBLE) / CAST(n_grams * rtot AS DOUBLE)
           END) AS affinity
      FROM (SELECT doc_id FROM rawd) b
      LEFT JOIN pd USING (doc_id) CROSS JOIN tot
      ORDER BY doc_id""") { (s, dir) =>
      // DSIR-shaped importance scoring: raw docs (source != src0) scored
      // by bigram affinity to the src0 carve as the quality target
      val docs = corpus(s, dir, "documents")
      TextOps.targetAffinity("doc_id", "text", n = 2,
        target = docs.filter(col("source") === "src0"),
        targetTextField = "text")(
        docs.filter(col("source") =!= "src0"))
        .orderBy("doc_id")
    },
    Query("bpe_token_count", bpeCountSql(graft.ext.TextOps.demoBpeMerges)) { (s, dir) =>
      // vocabulary-true greedy BPE counts under the shared 10-merge
      // demo table — what a tokenizer with that vocabulary would bill
      corpus(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.bpeTokenCount(col("text"), TextOps.demoBpeMerges)
            .as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
    // the same merge fold keeping the PIECES; truncation = keep the
    // first 30, rejoin marker->space, drop the single leading space;
    // short docs pass text through bit-identical — mirrors
    // TextOps.truncateTokensBpe
    Query("truncate_tokens_bpe", s"""
      WITH p AS (SELECT doc_id, text,
          ${bpePiecesSql(graft.ext.TextOps.demoBpeMerges)} AS ps
        FROM documents)
      SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_bpe_tokens,
        CASE WHEN len(ps) <= 30 THEN text
             ELSE regexp_replace(
               replace(array_to_string(ps[1:30], ''), '▁', ' '), '^ ', '')
        END AS text_trunc
      FROM p ORDER BY doc_id""") { (s, dir) =>
      // context-window truncation in MODEL tokens: first 30 BPE pieces
      // under the shared demo vocabulary, originals pass through
      TextOps.truncateTokensBpe("text", maxTokens = 30,
        TextOps.demoBpeMerges)(corpus(s, dir, "documents"))
        .select("doc_id", "n_bpe_tokens", "text_trunc")
        .orderBy("doc_id")
    },
    // the BPE piece fold of truncate_tokens_bpe + the window arithmetic
    // of chunk_texts: 32-piece windows every 24 pieces, each slice
    // rejoined marker->space with the single leading space dropped —
    // mirrors TextOps.chunkTextsBpe
    Query("chunk_texts_bpe", s"""
      WITH p AS (SELECT doc_id,
          ${bpePiecesSql(graft.ext.TextOps.demoBpeMerges)} AS ps
        FROM documents)
      SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_idx,
        CAST(s AS BIGINT) AS chunk_start,
        CAST(least(32, len(ps) - s) AS BIGINT) AS chunk_tokens,
        regexp_replace(replace(
          array_to_string(ps[CAST(s + 1 AS INT):CAST(s + 32 AS INT)], ''),
          '▁', ' '), '^ ', '') AS chunk_text
      FROM (SELECT doc_id, ps, unnest(range(0, len(ps), 24)) AS s FROM p)
      ORDER BY doc_id, chunk_idx""") { (s, dir) =>
      // RAG chunking in MODEL tokens: 32-piece windows, stride 24 over
      // the BPE piece stream — boundaries may fall mid-word and rejoin
      // via the marker convention
      TextOps.chunkTextsBpe("doc_id", "text", chunkTokens = 32,
        stride = 24, TextOps.demoBpeMerges)(corpus(s, dir, "documents"))
        .orderBy("doc_id", "chunk_idx")
    },
    // non-distinct trigram windows: every occurrence votes, HAVING
    // prunes the tail after the same count both engines compute
    Query("ngram_counts", """
      SELECT ngram, CAST(count(*) AS BIGINT) AS occurrences
      FROM (SELECT unnest(list_transform(range(1, len(ts) - 1),
              i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS ngram
            FROM (SELECT string_split(text, ' ') AS ts FROM documents))
      GROUP BY ngram HAVING count(*) >= 5
      ORDER BY ngram""") { (s, dir) =>
      // occurrence-true trigram table (the LM-training export): every
      // window votes, tail pruned at minCount 5
      TextOps.ngramCounts("text", 3, minCount = 5L)(
        corpus(s, dir, "documents"))
        .orderBy("ngram")
    },
    // mirrors TextOps.scrubCards + luhnValid: same check-digit
    // construction, same right-to-left double-every-second fold; the
    // single-digit-off twin must survive unredacted
    Query("cc_scrub", """
      WITH gen AS (SELECT doc_id, text,
          '4' || lpad(CAST(doc_id AS VARCHAR), 14, '0') AS base
        FROM documents),
      chk AS (SELECT doc_id, text, base,
          (10 - (list_sum(list_transform(range(1, 16), j ->
            CASE WHEN (j + 1) % 2 = 1
                 THEN ascii(substr(base, CAST(16 - j AS INT), 1)) - 48
                 ELSE CASE WHEN (ascii(substr(base, CAST(16 - j AS INT), 1)) - 48) * 2 > 9
                           THEN (ascii(substr(base, CAST(16 - j AS INT), 1)) - 48) * 2 - 9
                           ELSE (ascii(substr(base, CAST(16 - j AS INT), 1)) - 48) * 2 END
            END)) % 10)) % 10 AS c
        FROM gen),
      noisy AS (SELECT doc_id,
          substr(text, 1, 30) || ' pay ' || base || CAST(c AS VARCHAR)
            || ' ref ' || base || CAST((c + 5) % 10 AS VARCHAR) AS t
        FROM chk)
      SELECT doc_id, array_to_string(list_transform(string_split(t, ' '),
          tok -> CASE WHEN regexp_matches(tok, '^[0-9]{13,19}$')
              AND list_sum(list_transform(range(1, length(tok) + 1), i ->
                CASE WHEN i % 2 = 1
                     THEN ascii(substr(tok, CAST(length(tok) - i + 1 AS INT), 1)) - 48
                     ELSE CASE WHEN (ascii(substr(tok, CAST(length(tok) - i + 1 AS INT), 1)) - 48) * 2 > 9
                               THEN (ascii(substr(tok, CAST(length(tok) - i + 1 AS INT), 1)) - 48) * 2 - 9
                               ELSE (ascii(substr(tok, CAST(length(tok) - i + 1 AS INT), 1)) - 48) * 2 END
                END)) % 10 = 0
            THEN '<CARD>' ELSE tok END), ' ') AS clean
      FROM noisy ORDER BY doc_id""") { (s, dir) =>
      // checksum-precision card redaction: per doc, synthesize one
      // Luhn-VALID 16-digit PAN and one single-digit-off INVALID twin
      // from the doc id; only the valid one must become <CARD>
      val base = concat(lit("4"),
        lpad(col("doc_id").cast("string"), 14, "0"))
      // check digit: Luhn sum of the base digits at full-string
      // positions 2..16 (the check itself will occupy position 1)
      val sumBase = aggregate(sequence(lit(1), lit(15)), lit(0),
        (acc, j) => {
          val d = ascii(base.substr(lit(16) - j, lit(1))) - 48
          acc + when((j + 1) % 2 === 1, d)
            .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
        })
      val check = (lit(10) - (sumBase % 10)) % 10
      val noisy = concat(substring(col("text"), 1, 30),
        lit(" pay "), base, check.cast("string"),
        lit(" ref "), base, ((check + 5) % 10).cast("string"))
      table(s, dir, "documents")
        .select(col("doc_id"), TextOps.scrubCards(noisy).as("clean"))
        .orderBy("doc_id")
    },
    // mirrors TextOps.collocations: lift = (n12/Nbg)/((n1/Nu)·(n2/Nu)),
    // rational in exact counts (lift ranks identically to PMI without
    // the cross-engine log); minCount floor before the joins
    Query("collocations", """
      WITH tok AS (SELECT string_split(coalesce(text, ''), ' ') AS ts
        FROM documents),
      bg AS (SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2
        FROM (SELECT ts, unnest(range(1, greatest(len(ts) - 1, 0) + 1)) AS i
              FROM tok)),
      cb AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2
        HAVING count(*) >= 5),
      un AS (SELECT unnest(ts) AS w FROM tok),
      cu AS (SELECT w, count(*) AS n FROM un GROUP BY 1),
      nu AS (SELECT count(*) AS nuni FROM un),
      nb AS (SELECT count(*) AS nbg FROM bg)
      SELECT w1, w2, n12, a.n AS n1, b.n AS n2,
        (CAST(n12 AS DOUBLE) / nbg)
          / ((CAST(a.n AS DOUBLE) / nuni) * (CAST(b.n AS DOUBLE) / nuni))
          AS lift
      FROM cb JOIN cu a ON cb.w1 = a.w JOIN cu b ON cb.w2 = b.w
      CROSS JOIN nu CROSS JOIN nb
      ORDER BY lift DESC, w1, w2 LIMIT 20""") { (s, dir) =>
      // lift-ranked adjacent-pair mining: multiword units that co-occur
      // beyond what unigram frequencies predict
      TextOps.collocations("text", minCount = 5, k = 20)(
        corpus(s, dir, "documents"))
    },
    // mirrors the full Pipeline flagship chain stage for stage: the
    // html_extract regex chain (page_id wrap), nfc_normalize, the
    // gopher_rules battery as a WHERE gate, the line_dedup corpus
    // pass, the incremental_dedup NOT-IN + min-id election, the
    // temperature_mix √-smoothing + md5 Bernoulli, and the
    // pack_sequences cumulative window — each leg copied from its own
    // green oracle, composed through shared CTEs
    Query("pipeline_flagship", s"""
      WITH raw AS (
        SELECT doc_id, lang, source, text, doc_id AS page_id
        FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, lang, source, text,
          doc_id AS page_id
        FROM documents WHERE doc_id < 50),
      h AS (SELECT doc_id, lang, source,
          ${syntheticHtmlSql.replace("doc_id", "page_id")} AS html
        FROM raw),
      e1 AS (SELECT doc_id, lang, source,
          regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
      e2 AS (SELECT doc_id, lang, source, regexp_replace(t,
          '(?is)<script[^>]*>.*?</script[^>]*>', ' ', 'g') AS t FROM e1),
      e3 AS (SELECT doc_id, lang, source, regexp_replace(t,
          '(?is)<style[^>]*>.*?</style[^>]*>', ' ', 'g') AS t FROM e2),
      e4 AS (SELECT doc_id, lang, source,
          regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM e3),
      e5 AS (SELECT doc_id, lang, source,
          replace(replace(replace(replace(replace(replace(replace(t,
            '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS t FROM e4),
      ext AS (SELECT doc_id, lang, source,
          nfc_normalize(trim(regexp_replace(t, '[ \t\n\r\f]+', ' ', 'g')))
            AS text
        FROM e5),
      gt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM ext),
      gm AS (SELECT doc_id,
          CAST(len(ts) AS BIGINT) AS n_tokens,
          CASE WHEN len(ts) = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST(CAST(list_sum(list_transform(ts,
                      w -> length(w))) AS BIGINT) AS DOUBLE) / len(ts)
          END AS mean_word_len,
          CASE WHEN len(ts) = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST(len(list_filter(ts,
                      w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                    / len(ts) END AS alpha_frac,
          CAST(len(list_intersect(list_distinct(ts),
            ['the','a','of','and','to','in','is'])) AS BIGINT)
            AS stop_hits,
          CASE WHEN len(ts) = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST(len(ts) - len(list_distinct(ts)) AS DOUBLE)
                    / len(ts) END AS dup_frac
        FROM gt),
      gp AS (SELECT doc_id FROM gm
        WHERE n_tokens >= 50 AND n_tokens <= 100000
          AND mean_word_len >= CAST(3 AS DOUBLE)
          AND mean_word_len <= CAST(10 AS DOUBLE)
          AND alpha_frac >= 8e-1 AND stop_hits >= 2
          AND dup_frac <= 9e-1),
      d AS (SELECT e.doc_id, e.lang, e.source,
          string_split(coalesce(e.text, ''), ' ') AS t
        FROM ext e JOIN gp ON e.doc_id = gp.doc_id),
      l AS (SELECT doc_id, CAST(b AS BIGINT) AS lp,
              array_to_string(
                t[CAST(b*8+1 AS INT):CAST(b*8+8 AS INT)], ' ') AS line
            FROM d, unnest(range(0, CAST(ceil(len(t)/8e0) AS INT))) AS u(b)),
      hv AS (SELECT line FROM l WHERE trim(line) <> ''
            GROUP BY line HAVING count(*) >= 2),
      k AS (SELECT l.doc_id, l.lp, l.line, hv.line IS NOT NULL AS heavy
            FROM l LEFT JOIN hv ON l.line = hv.line),
      cln AS (SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_lines,
          CAST(coalesce(sum(CASE WHEN heavy THEN 1 END), 0) AS BIGINT)
            AS n_removed,
          coalesce(array_to_string(
            list(line ORDER BY lp) FILTER (WHERE NOT heavy), chr(10)), '')
            AS clean_text
        FROM k GROUP BY doc_id),
      cm AS (SELECT c.doc_id, d.lang, d.source, c.n_lines, c.n_removed,
          c.clean_text,
          md5(regexp_replace(lower(trim(c.clean_text)), ' +', ' ', 'g'))
            AS f
        FROM cln c JOIN d ON c.doc_id = d.doc_id),
      fresh AS (SELECT * FROM cm WHERE doc_id >= 250
          AND f NOT IN (SELECT f FROM cm WHERE doc_id < 250)),
      surv AS (SELECT * FROM fresh
        QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1),
      per AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM surv GROUP BY source),
      w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM per),
      tw AS (SELECT list_reduce(
          list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY source)),
          (a, x) -> a + x) AS tw FROM w),
      r AS (SELECT source AS src,
          least(120 * (w / tw) / CAST(n AS DOUBLE),
            CAST(1 AS DOUBLE)) AS p
        FROM w, tw),
      samp AS (SELECT s.* FROM surv s JOIN r ON s.source = r.src
        WHERE CAST(list_sum(list_transform(range(1, 9), j ->
            (strpos('0123456789abcdef',
               substr(md5('temp' || CAST(s.doc_id AS VARCHAR)), j, 1)) - 1)
            * CAST(16**(8-j) AS BIGINT))) AS DOUBLE)
          < p * CAST(4294967296 AS DOUBLE)),
      tok AS (SELECT doc_id, lang, source, n_lines, n_removed,
          CAST(len(string_split(replace(clean_text, chr(10), ' '), ' '))
            AS BIGINT) AS n_tokens
        FROM samp)
      SELECT doc_id, lang, source, n_lines, n_removed, n_tokens,
        CAST(floor((sum(n_tokens) OVER (PARTITION BY lang
            ORDER BY doc_id ASC NULLS FIRST
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tokens) / 2048) AS BIGINT) AS bin
      FROM tok ORDER BY doc_id""") { (s, dir) =>
      // the end-to-end composition the README promises — the chain
      // itself lives in graft.pipeline.Flagship (shared verbatim with
      // the ScaleBench growth cell, so the thing measured at scale IS
      // the thing this oracle checks). Every stage is individually
      // oracle-pinned; THIS row pins the seams (schema handoffs, NULL
      // discipline, id/meta survival across stages). Fixture plumbing:
      // docs < 50 re-crawl under new crawl ids with the same page id
      // (same HTML wrap, same content) so the fingerprint-index leg has
      // real duplicates to drop; 8-word line framing as in line_dedup.
      val docs = corpus(s, dir, "documents")
      val raw = docs.select(col("doc_id"), col("lang"), col("source"),
          col("text"), col("doc_id").as("page_id"))
        .unionByName(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 100000).as("doc_id"), col("lang"),
            col("source"), col("text"), col("doc_id").as("page_id")))
        .select(col("doc_id"), col("lang"), col("source"),
          syntheticHtml(col("page_id"), col("text")).as("text"),
          col("page_id"))
      graft.pipeline.Flagship.run(raw, historyBelow = 250L,
        budgetRows = 120L, packBudget = 2048L)
        .orderBy("doc_id")
    },
    // identical md5-prefix hashes (salt 'fim'): apply-Bernoulli on the
    // id, cuts c1 = h1 % (len+1), c2 = c1 + h2 % (len-c1+1), PSM
    // substring layout — mirrors TextOps.fimTransform
    Query("fim_transform", """
      WITH h AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
          list_sum(list_transform(range(1, 9), j ->
            (strpos('0123456789abcdef', substr(md5('fim' ||
               CAST(doc_id AS VARCHAR) || ':c1'), j, 1)) - 1)
            * CAST(16**(8-j) AS BIGINT))) AS h1,
          list_sum(list_transform(range(1, 9), j ->
            (strpos('0123456789abcdef', substr(md5('fim' ||
               CAST(doc_id AS VARCHAR) || ':c2'), j, 1)) - 1)
            * CAST(16**(8-j) AS BIGINT))) AS h2,
          list_sum(list_transform(range(1, 9), j ->
            (strpos('0123456789abcdef', substr(md5('fim' ||
               CAST(doc_id AS VARCHAR)), j, 1)) - 1)
            * CAST(16**(8-j) AS BIGINT))) AS hb
        FROM documents),
      c AS (SELECT doc_id, text, n,
          text IS NOT NULL AND
            CAST(hb AS DOUBLE) < 5e-1 * CAST(4294967296 AS DOUBLE)
            AS fim_applied,
          h1 % (n + 1) AS c1,
          h1 % (n + 1) + h2 % (n - h1 % (n + 1) + 1) AS c2
        FROM h)
      SELECT doc_id, fim_applied,
        CASE WHEN text IS NULL THEN NULL
          WHEN fim_applied THEN
            '<fim_prefix>' || substr(text, 1, CAST(c1 AS INT)) ||
            '<fim_suffix>' ||
              substr(text, CAST(c2 + 1 AS INT), CAST(n - c2 AS INT)) ||
            '<fim_middle>' ||
              substr(text, CAST(c1 + 1 AS INT), CAST(c2 - c1 AS INT))
          ELSE text END AS fim_text
      FROM c ORDER BY doc_id""") { (s, dir) =>
      // fill-in-the-middle (PSM order) at 50% apply rate: two salted
      // hash cuts mod remaining length; the oracle reproduces the
      // integer cut arithmetic and substring layout exactly
      TextOps.fimTransform("doc_id", "text", fimRate = 0.5)(
        corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // identical block grid, per-block md5-prefix Bernoulli (salt 't5'),
    // sentinel rank = prefix-sum of the mask — mirrors
    // TextOps.spanCorrupt
    Query("span_corrupt", """
      WITH d AS (SELECT doc_id,
          string_split(coalesce(text, ''), ' ') AS t FROM documents),
      n AS (SELECT doc_id, t,
          CAST(ceil(len(t) / 3e0) AS INT) AS nb FROM d),
      m AS (SELECT doc_id, t, nb,
          list_transform(range(0, nb), b -> CASE WHEN
            CAST(list_sum(list_transform(range(1, 9), j ->
              (strpos('0123456789abcdef',
                 substr(md5('t5' || CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(b AS VARCHAR)), j, 1)) - 1)
              * CAST(16**(8-j) AS BIGINT))) AS DOUBLE)
            < 15e-2 * CAST(4294967296 AS DOUBLE) THEN 1 ELSE 0 END) AS mask
        FROM n),
      s AS (SELECT doc_id, t, nb, mask,
          list_transform(range(0, nb), b ->
            CAST(coalesce(list_sum(mask[1:CAST(b AS INT)]), 0) AS INT))
            AS sid
        FROM m)
      SELECT doc_id,
        coalesce(array_to_string(flatten(list_transform(range(0, nb),
          b -> CASE WHEN mask[CAST(b + 1 AS INT)] = 1
            THEN ['<extra_id_' ||
              CAST(sid[CAST(b + 1 AS INT)] AS VARCHAR) || '>']
            ELSE t[CAST(b * 3 + 1 AS INT):CAST(b * 3 + 3 AS INT)]
          END)), ' '), '') AS input_text,
        -- array_to_string([]) is NULL in DuckDB, '' in Spark's
        -- array_join: coalesce pins the empty-pair row
        coalesce(array_to_string(flatten(list_transform(range(0, nb),
          b -> CASE WHEN mask[CAST(b + 1 AS INT)] = 1
            THEN list_concat(['<extra_id_' ||
                CAST(sid[CAST(b + 1 AS INT)] AS VARCHAR) || '>'],
              t[CAST(b * 3 + 1 AS INT):CAST(b * 3 + 3 AS INT)])
            ELSE CAST([] AS VARCHAR[])
          END)), ' '), '') AS target_text,
        CAST(coalesce(list_sum(mask), 0) AS BIGINT) AS n_masked_spans
      FROM s ORDER BY doc_id""") { (s, dir) =>
      // T5 denoising pairs: grid-aligned 3-token spans masked at 15%
      // via the salted per-block Bernoulli; numbered sentinels in the
      // input, sentinel-prefixed spans in the target — the oracle
      // replays the identical block/hash/rank arithmetic
      TextOps.spanCorrupt("doc_id", "text",
        maskProb = 0.15, spanLen = 3)(corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // mirrors TextOps.ul2Mix: md5-prefix routing (r < 0.5·2^32 <= s <
    // 0.75·2^32 <= x), spanCorrupt grids at (15%, 3) / (50%, 8) with
    // salts 'ul2:r' / 'ul2:x', S cut = md5p32('ul2:s'||id) mod (nt+1)
    Query("ul2_mix", s"""
      WITH d0 AS (SELECT doc_id,
          string_split(coalesce(text, ''), ' ') AS t,
          ${md5p32Sql("'ul2' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
      d AS (SELECT doc_id, t,
          CASE WHEN h < 2147483648 THEN 'r'
               WHEN h < 3221225472 THEN 's' ELSE 'x' END AS regime
        FROM d0),
      ${ul2CorruptCtes("r", "ul2:r", "15e-2", 3)},
      ${ul2CorruptCtes("x", "ul2:x", "5e-1", 8)},
      sb AS (SELECT doc_id, 's' AS regime,
          array_to_string(list_concat(list_concat(['[S2S]'],
            t[1:CAST(cut AS INT)]), ['<extra_id_0>']), ' ') AS input_text,
          array_to_string(list_concat(['<extra_id_0>'],
            t[CAST(cut AS INT)+1:len(t)]), ' ') AS target_text,
          CAST(1 AS BIGINT) AS n_masked_spans
        FROM (SELECT doc_id, t,
                ${md5p32Sql("'ul2:s' || CAST(doc_id AS VARCHAR)")}
                  % (len(t) + 1) AS cut
              FROM d WHERE regime = 's'))
      SELECT * FROM rb UNION ALL SELECT * FROM sb UNION ALL
      SELECT * FROM xb ORDER BY doc_id""") { (s, dir) =>
      // UL2 mixture-of-denoisers: hash-routed R/S/X regimes (span
      // corruption 15%/3, prefix-LM, extreme 50%/8) with paradigm
      // tokens — the oracle replays the routing cutoffs, both mask
      // grids, and the S cut exactly
      TextOps.ul2Mix("doc_id", "text")(corpus(s, dir, "documents"))
        .orderBy("doc_id")
    },
    // mirrors TextOps.annealMixSchedule(phases=3, 4->0 quarters):
    // alpha grid (4, 2, 0), weight = (sqrt(sqrt(n)))^q via the same
    // left-assoc multiply chain, per-phase source-ordered total fold
    Query("anneal_schedule", """
      WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source),
      ph AS (SELECT * FROM (VALUES (0, 4), (1, 2), (2, 0)) AS v(phase, q)),
      w0 AS (SELECT phase, q, source, n,
          sqrt(sqrt(CAST(n AS DOUBLE))) AS r
        FROM per, ph),
      w AS (SELECT CAST(phase AS BIGINT) AS phase,
          CAST(q AS BIGINT) AS alpha_quarters, source, n,
          CASE q WHEN 0 THEN 1e0 WHEN 1 THEN r WHEN 2 THEN r * r
                 WHEN 3 THEN r * r * r ELSE r * r * r * r END AS weight
        FROM w0),
      tot AS (SELECT phase, list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list(weight ORDER BY source NULLS FIRST)),
          (a, x) -> a + x) AS tw
        FROM w GROUP BY phase)
      SELECT w.phase, alpha_quarters, source, n AS n_docs, weight,
        weight / tw AS share
      FROM w JOIN tot USING (phase) ORDER BY phase, source""") { (s, dir) =>
      // 3-phase anneal from natural (alpha=1) through sqrt-temperature
      // (alpha=1/2) to uniform (alpha=0): the per-phase sampling table
      // a mid-training recipe feeds to the mix ops; quarter-grid
      // alphas keep n^alpha a sqrt/multiply chain — exact both engines
      TextOps.annealMixSchedule("source", phases = 3)(
        table(s, dir, "documents"))
        .orderBy("phase", "source")
    },
    // floor/frac epoch arithmetic + the shared md5-prefix Bernoulli
    // (salt 'epoch') — mirrors TextOps.epochRepeatMix; DECIMAL-trap
    // factors written in e-notation
    Query("epoch_mix", """
      WITH f AS (SELECT doc_id, source,
          CASE source WHEN 'src0' THEN 25e-1 WHEN 'src1' THEN 25e-2
            WHEN 'src2' THEN 1e0 ELSE 1e0 END AS f
        FROM documents),
      h AS (SELECT doc_id, source,
          CAST(floor(f) AS BIGINT) +
            CASE WHEN CAST(list_sum(list_transform(range(1, 9), j ->
                (strpos('0123456789abcdef',
                   substr(md5('epoch' || CAST(doc_id AS VARCHAR)), j, 1))
                 - 1) * CAST(16**(8-j) AS BIGINT))) AS DOUBLE)
              < (f - floor(f)) * CAST(4294967296 AS DOUBLE)
            THEN 1 ELSE 0 END AS nc
        FROM f)
      SELECT doc_id, source, CAST(c AS BIGINT) AS copy
      FROM h, unnest(range(0, nc)) AS u(c)
      ORDER BY doc_id, copy""") { (s, dir) =>
      // LLaMA-recipe fractional epochs: src0 ×2.5, src1 ×0.25,
      // src2 ×1 — integer epochs exact, the fractional part a salted
      // per-doc Bernoulli; unnamed sources pass through at ×1. The
      // oracle replays the floor/frac arithmetic and the md5-prefix
      // draw, then regenerates copies with the same 0-based grid
      TextOps.epochRepeatMix("doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 1.0))(
        corpus(s, dir, "documents").select("doc_id", "source"))
        .orderBy("doc_id", "copy")
    },
    // √n weights, source-ordered fold for Σ√n, the shared md5-prefix
    // Bernoulli with salt 'temp' — mirrors TextOps.temperatureMix
    Query("temperature_mix", """
      WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source),
      w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM per),
      tw AS (SELECT list_reduce(
          list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY source)),
          (a, x) -> a + x) AS tw FROM w),
      r AS (SELECT source AS src,
          least(200 * (w / tw) / CAST(n AS DOUBLE),
            CAST(1 AS DOUBLE)) AS p
        FROM w, tw)
      SELECT doc_id, source, p AS sample_rate FROM (
        SELECT d.doc_id, d.source, r.p,
          list_sum(list_transform(range(1, 9), j ->
            (strpos('0123456789abcdef',
               substr(md5('temp' || CAST(d.doc_id AS VARCHAR)), j, 1)) - 1)
            * CAST(16**(8-j) AS BIGINT))) AS h
        FROM documents d JOIN r ON d.source = r.src) x
      WHERE CAST(h AS DOUBLE) < p * CAST(4294967296 AS DOUBLE)
      ORDER BY doc_id""") { (s, dir) =>
      // T=2 multilingual smoothing: per-source share ∝ √n (the one
      // temperature that stays oracle-exact — sqrt is correctly-rounded
      // IEEE, pow is libm), 200-row budget, deterministic Bernoulli
      TextOps.temperatureMix("doc_id", "source", budgetRows = 200)(
        corpus(s, dir, "documents").select("doc_id", "source"))
        .orderBy("doc_id")
    },
    // total-variation contributions are RATIONAL in the counts (two
    // exact-integer divisions and a subtraction — no log), so every
    // row hash-matches; ranks tie-break on the token
    Query("token_shift", """
      WITH tok AS (SELECT source AS grp,
          unnest(string_split(text, ' ')) AS token FROM documents),
      cnt AS (SELECT grp, token, CAST(count(*) AS BIGINT) AS grp_count
        FROM tok WHERE token <> '' GROUP BY 1, 2),
      gt AS (SELECT grp, CAST(sum(grp_count) AS BIGINT) AS ng
        FROM cnt GROUP BY 1),
      tt AS (SELECT token, CAST(sum(grp_count) AS BIGINT) AS corpus_count
        FROM cnt GROUP BY 1),
      at AS (SELECT CAST(sum(grp_count) AS BIGINT) AS na FROM cnt),
      j AS (SELECT grp, token, grp_count, corpus_count,
          CAST(grp_count AS DOUBLE) / CAST(ng AS DOUBLE) AS grp_share,
          CAST(corpus_count AS DOUBLE) / CAST(na AS DOUBLE)
            AS corpus_share
        FROM cnt JOIN gt USING (grp) JOIN tt USING (token)
        CROSS JOIN at),
      rk AS (SELECT *, grp_share - corpus_share AS shift,
          row_number() OVER (PARTITION BY grp
            ORDER BY abs(grp_share - corpus_share) DESC, token ASC)
            AS rn
        FROM j)
      SELECT grp AS source, token, grp_count, corpus_count, grp_share,
        corpus_share, shift, CAST(rn AS INTEGER) AS rank
      FROM rk WHERE rn <= 5 ORDER BY source, rank""") { (s, dir) =>
      // vocabulary drift: which tokens pull each source's unigram
      // distribution away from the corpus mixture (rational TV
      // contributions — no log, the no-transcendentals doctrine)
      TextOps.tokenShift("source", "text", k = 5)(
        corpus(s, dir, "documents"))
        .orderBy("source", "rank")
    },
    Query("soundex_codes", s"""
      WITH w AS (SELECT DISTINCT p_name AS word FROM part),
      c AS (SELECT word,
          upper(regexp_replace(word, '[^A-Za-z]', '', 'g')) AS cl
        FROM w)
      SELECT word, CASE WHEN length(cl) = 0 THEN NULL
        ELSE ${soundexSql("cl")} END AS code
      FROM c ORDER BY word""") { (s, dir) =>
      // the phonetic blocking key itself, pinned against a hand-built
      // RE2-safe oracle mirror of American Soundex over the distinct
      // part names (two words — exercises the space-stripping path)
      val words = table(s, dir, "part")
        .select(col("p_name").as("word")).distinct()
      words
        .withColumn("__clean",
          upper(regexp_replace(col("word"), "[^A-Za-z]", "")))
        .select(col("word"),
          when(length(col("__clean")) > 0, soundex(col("__clean")))
            .as("code"))
        .orderBy("word")
    },
    // the Spark side PARSES the URLs its builder wrote; this side
    // computes every part arithmetically (same builder, no parser)
    // the identical rule chain, step for step: comments, script, style,
    // tags->space, entity decode with &amp; LAST, whitespace collapse
    Query("html_extract", s"""
      WITH h AS (SELECT doc_id, $syntheticHtmlSql AS html FROM documents),
      s1 AS (SELECT doc_id,
          regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
      s2 AS (SELECT doc_id, regexp_replace(t,
          '(?is)<script[^>]*>.*?</script[^>]*>', ' ', 'g') AS t FROM s1),
      s3 AS (SELECT doc_id, regexp_replace(t,
          '(?is)<style[^>]*>.*?</style[^>]*>', ' ', 'g') AS t FROM s2),
      s4 AS (SELECT doc_id,
          regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
      s5 AS (SELECT doc_id,
          replace(replace(replace(replace(replace(replace(replace(t,
            '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS t FROM s4)
      SELECT doc_id, trim(regexp_replace(t, '[ \t\n\r\f]+', ' ', 'g'))
        AS text
      FROM s5 ORDER BY doc_id""") { (s, dir) =>
      // the web-corpus front door: crawl HTML in, training text out —
      // comments/script/style blocks drop WITH contents, tags become
      // word-boundary spaces, core entities decode (&amp; LAST so
      // double-encoding stays encoded), whitespace collapses; the
      // oracle replays the identical rule chain step for step
      corpus(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.htmlExtract(
            syntheticHtml(col("doc_id"), col("text"))).as("text"))
        .orderBy("doc_id")
    },
    // (href, term) pairs computed arithmetically from the text —
    // never through the anchor-extraction regex; empty terms filtered
    // on both sides
    Query("anchor_terms", """
      WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ')
                   AS t FROM documents),
      p AS (
        SELECT '/t/' || CAST(doc_id % 20 AS VARCHAR) AS href,
               unnest(t[1:2]) AS term FROM d
        UNION ALL
        SELECT '/u/' || CAST(doc_id % 11 AS VARCHAR) AS href,
               unnest(t[3:4]) AS term FROM d)
      SELECT href, term, CAST(count(*) AS BIGINT) AS n
      FROM p WHERE len(term) > 0
      GROUP BY href, term ORDER BY href, term""") { (s, dir) =>
      // anchor-text term index: each synthetic page links two targets
      // and describes them with its own leading words (the
      // linker-describes-target signal); the oracle computes the
      // (href, term) pairs ARITHMETICALLY from the text, so any
      // extraction-regex slip mismatches. The second anchor is
      // uppercase <A HREF> to exercise the (?i) path
      val id = col("doc_id")
      val toks = split(coalesce(col("text"), lit("")), " ")
      val a1 = array_join(slice(toks, 1, 2), " ")
      val a2 = array_join(slice(toks, 3, 2), " ")
      val html = concat(
        lit("<p>intro</p><a class=\"x\" href=\"/t/"),
        (id % 20).cast("string"), lit("\">"), a1,
        lit("</a> mid <A HREF=\"/u/"), (id % 11).cast("string"),
        lit("\">"), a2, lit("</A>"))
      TextOps.anchorTermCounts("html")(
        corpus(s, dir, "documents").select(id, html.as("html")))
        .orderBy("href", "term")
    },
    // registered domain computed arithmetically; the gate is two
    // integer counts and one multiply per side — replayed exactly
    Query("domain_gate", """
      WITH u AS (SELECT doc_id, n_chars,
          'https://www.example' || CAST(doc_id % 7 AS VARCHAR) ||
            '.com/p/' || CAST(doc_id AS VARCHAR) AS url,
          'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS dom,
          CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS pass
        FROM documents),
      s AS (SELECT dom, CAST(count(*) AS BIGINT) AS domain_docs,
          CAST(sum(pass) AS BIGINT) AS domain_passes
        FROM u GROUP BY dom
        HAVING count(*) >= 10 AND
          CAST(sum(pass) AS DOUBLE) >= 82e-2 * CAST(count(*) AS DOUBLE))
      SELECT u.doc_id, u.n_chars, u.url, u.dom AS registered_domain,
        s.domain_docs, s.domain_passes
      FROM u JOIN s ON u.dom = s.dom
      ORDER BY u.doc_id""") { (s, dir) =>
      // per-SITE reputation after the per-DOC gates: 7 synthetic
      // registered domains, a doc passes its own bar at
      // n_chars >= 150, and a domain keeps its docs iff >= 82% pass
      // with >= 10 docs — two integer counts and one IEEE multiply
      // per side, the no-float-accumulation gate the oracle replays
      // bit-for-bit (at sf0.01: domains 0/4/6 survive, 1/2/3/5 fall)
      val id = col("doc_id")
      val url = concat(lit("https://www.example"),
        (id % 7).cast("string"), lit(".com/p/"), id.cast("string"))
      TextOps.domainQualityGate("url", col("n_chars") >= 150,
        minFrac = 0.82, minDocs = 10)(
        corpus(s, dir, "documents")
          .select(id, col("n_chars"), url.as("url")))
        .orderBy("doc_id")
    },
    Query("html_links", s"""
      WITH h AS (SELECT doc_id, $syntheticHtmlSql AS html FROM documents),
      l AS (SELECT doc_id, regexp_extract_all(html,
          '(?i)href\\s*=\\s*"([^"]*)"', 1) AS ls FROM h)
      SELECT doc_id, CAST(i AS INTEGER) AS link_idx,
        ls[CAST(i + 1 AS INT)] AS href
      FROM (SELECT doc_id, ls, unnest(range(0, len(ls))) AS i FROM l)
      ORDER BY doc_id, link_idx""") { (s, dir) =>
      // crawl-frontier feeder: every double-quoted href in document
      // order — composes with url_parts into (src_host, dst_host)
      // edges for page_rank
      corpus(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          TextOps.htmlLinks(syntheticHtml(col("doc_id"), col("text")))))
        .withColumnRenamed("pos", "link_idx")
        .withColumnRenamed("col", "href")
        .orderBy("doc_id", "link_idx")
    },
    Query("url_parts", """
      WITH b AS (SELECT doc_id,
          ['www', 'data', 'cdn'][CAST(doc_id % 3 + 1 AS INT)] AS sub,
          ['example.com', 'example.co.uk', 'spark-docs.org',
           'data.io'][CAST(doc_id % 4 + 1 AS INT)] AS dom
        FROM documents)
      SELECT doc_id, 'https' AS scheme, sub || '.' || dom AS host,
        CASE WHEN dom = 'example.co.uk' THEN 'example.co.uk' ELSE dom END
          AS registered_domain,
        '/p/' || CAST(doc_id % 50 AS VARCHAR) AS path,
        'q=' || CAST(doc_id AS VARCHAR) AS url_query
      FROM b ORDER BY doc_id""") { (s, dir) =>
      // crawl-manifest decomposition: synthetic per-doc URLs (the
      // fixtures carry none) parsed back via parse_url + the
      // registered-domain rule; the example.co.uk arm exercises the
      // second-level public-suffix path — the oracle computes every
      // part arithmetically, so a parser or suffix-rule slip mismatches
      val id = col("doc_id")
      val sub = element_at(
        array(lit("www"), lit("data"), lit("cdn")), (id % 3 + 1).cast("int"))
      val dom = element_at(
        array(lit("example.com"), lit("example.co.uk"),
          lit("spark-docs.org"), lit("data.io")), (id % 4 + 1).cast("int"))
      val url = concat(lit("https://"), sub, lit("."), dom,
        lit("/p/"), (id % 50).cast("string"), lit("?q="), id.cast("string"))
      TextOps.urlParts("doc_id", "url")(
        corpus(s, dir, "documents").select(id, url.as("url")))
        .orderBy("doc_id")
    },
    // mirrors TextOps.robotsRules + robotsFilter: same star-group split,
    // same directive extraction, same longest-prefix/allow-wins window
    Query("robots_filter", """
      WITH d AS (SELECT doc_id,
          ['a','b','c'][CAST(doc_id % 3 + 1 AS INT)] || '.example.com' AS host,
          ['/private/ok/page','/private/hidden','/pub/secret/f',
           '/pub/open','/x9'][CAST(doc_id % 5 + 1 AS INT)] AS path
        FROM documents),
      u AS (SELECT doc_id, 'https://' || host || path AS url, host, path
        FROM d),
      h AS (SELECT DISTINCT host,
          CASE WHEN host LIKE 'a%' THEN
                 'User-agent: *' || chr(10) || 'Disallow: /private'
                 || chr(10) || 'Allow: /private/ok' || chr(10)
                 || 'User-agent: evil' || chr(10) || 'Disallow: /'
               WHEN host LIKE 'b%' THEN
                 'User-agent: *' || chr(10) || 'Disallow: ' || chr(10)
                 || 'User-agent: other' || chr(10) || 'Disallow: /all'
               ELSE
                 'User-agent: evil' || chr(10) || 'Disallow: /' || chr(10)
                 || 'User-agent: *' || chr(10) || 'Allow: /pub' || chr(10)
                 || 'Disallow: /pub/secret' || chr(10) || 'Disallow: /x'
          END AS robots FROM d),
      segs AS (SELECT host, unnest(string_split(robots, 'User-agent:')) AS seg
        FROM h),
      star AS (SELECT host, seg FROM segs WHERE trim(seg) LIKE '*%'),
      rl AS (SELECT DISTINCT host,
          CASE WHEN r LIKE 'Allow: %' THEN substr(r, 8)
               ELSE substr(r, 11) END AS prefix,
          r LIKE 'Allow: %' AS allow
        FROM (SELECT host,
                unnest(regexp_extract_all(seg,
                  '(Allow|Disallow): ([^\n ]*)', 0)) AS r
              FROM star)
        WHERE CASE WHEN r LIKE 'Allow: %' THEN substr(r, 8)
                   ELSE substr(r, 11) END <> ''),
      m AS (SELECT u.doc_id, u.url, rl.prefix, rl.allow,
          row_number() OVER (PARTITION BY u.doc_id
            ORDER BY length(rl.prefix) DESC, rl.allow DESC,
              rl.prefix ASC) AS rn
        FROM u LEFT JOIN rl
          ON u.host = rl.host AND starts_with(u.path, rl.prefix))
      SELECT doc_id, url, coalesce(allow, TRUE) AS allowed,
        prefix AS matched_prefix
      FROM m WHERE rn = 1 ORDER BY doc_id""") { (s, dir) =>
      // crawl politeness end-to-end: parse per-host robots bodies (star
      // group only — host b's '/all' rule belongs to another agent and
      // must not apply; host c's star group sits AFTER a non-star one),
      // then verdict URLs by longest-prefix with allow-wins ties
      val id = col("doc_id")
      val host = concat(element_at(
        array(lit("a"), lit("b"), lit("c")), (id % 3 + 1).cast("int")),
        lit(".example.com"))
      val path = element_at(array(
        lit("/private/ok/page"), lit("/private/hidden"),
        lit("/pub/secret/f"), lit("/pub/open"), lit("/x9")),
        (id % 5 + 1).cast("int"))
      val robots = when(host.startsWith("a"), lit(
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
          "User-agent: evil\nDisallow: /"))
        .when(host.startsWith("b"), lit(
          "User-agent: *\nDisallow: \nUser-agent: other\nDisallow: /all"))
        .otherwise(lit(
          "User-agent: evil\nDisallow: /\nUser-agent: *\nAllow: /pub\n" +
            "Disallow: /pub/secret\nDisallow: /x"))
      val docs = corpus(s, dir, "documents")
      val rules = TextOps.robotsRules("host", "robots")(
        docs.select(host.as("host"), robots.as("robots")).distinct())
      TextOps.robotsFilter("doc_id", "url", rules, keepDenied = true)(
        docs.select(id, concat(lit("https://"), host, path).as("url")))
        .orderBy("doc_id")
    },
    // mirrors TextOps.crawlSchedule: same per-host (priority desc, id)
    // rank, same floor-of-division slot arithmetic
    Query("crawl_schedule", """
      WITH u AS (SELECT doc_id,
          ['a','b','c'][CAST(doc_id % 3 + 1 AS INT)] || '.example.com'
            AS host,
          CAST(doc_id % 7 AS INT) AS priority
        FROM documents),
      r AS (SELECT doc_id,
          'https://' || host || '/p/' || CAST(doc_id % 50 AS VARCHAR)
            AS url,
          priority, host,
          row_number() OVER (PARTITION BY host
            ORDER BY priority DESC, doc_id ASC) AS rn
        FROM u)
      SELECT doc_id, url, priority, host,
        CAST(floor(CAST(rn - 1 AS DOUBLE) / 3) AS INT) AS fetch_slot
      FROM r ORDER BY doc_id""") { (s, dir) =>
      // politeness slicing: per-host priority queues cut into fetch
      // slots of 3 — slot s across hosts is fetch round s
      val id = col("doc_id")
      val host = concat(element_at(
        array(lit("a"), lit("b"), lit("c")), (id % 3 + 1).cast("int")),
        lit(".example.com"))
      val url = concat(lit("https://"), host, lit("/p/"),
        (id % 50).cast("string"))
      TextOps.crawlSchedule("doc_id", "url", "priority",
        perHostPerSlot = 3)(
        corpus(s, dir, "documents")
          .select(id, url.as("url"), (id % 7).cast("int").as("priority")))
        .select("doc_id", "url", "priority", "host", "fetch_slot")
        .orderBy("doc_id")
    },
    // the naive exact plan the two-pass Misra–Gries form provably
    // equals at minFreq ≥ 1/cap; threshold arithmetic is the same one
    // IEEE multiply + compare as Frequency.heavyHitters
    Query("heavy_hitter_terms", """
      WITH t AS (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS token
                 FROM documents),
        n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t)
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM t GROUP BY token
      HAVING CAST(count(*) AS DOUBLE)
           > 1e-3 * (SELECT CAST(total AS DOUBLE) FROM n)
      ORDER BY cnt DESC, token""") { (s, dir) =>
      // exact two-pass heavy hitters (Misra–Gries candidates → broadcast
      // semi-join → exact counts); the oracle is the naive one-shuffle
      // GROUP BY ... HAVING plan the two-pass form provably equals
      Frequency.heavyHitterTerms("text", minFreq = 1e-3)(
        corpus(s, dir, "documents"))
        .orderBy(col("cnt").desc, col("token"))
    },
    // mirrors TextOps.oovRate over the heavy-hitter vocab: one explode,
    // one LEFT join, exact counts into two fixed divisions; empty/NULL
    // text yields the single '' token both engines produce
    Query("oov_rate", """
      WITH t0 AS (SELECT unnest(string_split(coalesce(text, ''), ' '))
          AS token FROM documents),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t0),
      voc AS (SELECT token FROM t0 GROUP BY token
        HAVING CAST(count(*) AS DOUBLE)
             > 1e-3 * (SELECT CAST(total AS DOUBLE) FROM nn)),
      d AS (SELECT doc_id,
          unnest(string_split(coalesce(text, ''), ' ')) AS t
        FROM documents),
      j AS (SELECT d.doc_id, d.t, voc.token AS vt
        FROM d LEFT JOIN voc ON voc.token = d.t)
      SELECT doc_id,
        CAST(count(t) AS BIGINT) AS n_tokens,
        CAST(count(CASE WHEN t IS NOT NULL AND vt IS NULL THEN 1 END)
          AS BIGINT) AS n_oov,
        CASE WHEN count(t) = 0 THEN 0e0
          ELSE CAST(count(CASE WHEN t IS NOT NULL AND vt IS NULL THEN 1
            END) AS DOUBLE) / CAST(count(t) AS DOUBLE) END AS oov_rate,
        CAST(count(DISTINCT t) AS BIGINT) AS n_types,
        CAST(count(DISTINCT CASE WHEN vt IS NULL THEN t END) AS BIGINT)
          AS n_oov_types,
        CASE WHEN count(DISTINCT t) = 0 THEN 0e0
          ELSE CAST(count(DISTINCT CASE WHEN vt IS NULL THEN t END)
            AS DOUBLE) / CAST(count(DISTINCT t) AS DOUBLE)
        END AS oov_type_rate
      FROM j GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      // tokenizer coverage: per-doc token- AND type-level OOV against
      // the corpus' own frequent-token vocabulary (the pre-training
      // vocab-fit report)
      val docs = corpus(s, dir, "documents")
      TextOps.oovRate(
        Frequency.heavyHitterTerms("text", minFreq = 1e-3)(docs)
          .select("token"),
        "doc_id", "text")(docs)
        .orderBy("doc_id")
    },
    // mirrors Frequency.associationRules: distinct baskets, basket-size
    // cap on pair generation ONLY, exact counts into the fixed
    // support/confidence/lift divisions (lift multiplies as doubles)
    Query("association_rules", """
      WITH b AS (SELECT DISTINCT user_id AS t,
          CAST(event_type AS VARCHAR) AS i
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      n AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS n FROM b),
      ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM b GROUP BY i),
      bk AS (SELECT t FROM b GROUP BY t
        HAVING count(*) BETWEEN 2 AND 256),
      pc AS (SELECT a.i AS ia, c.i AS ib, CAST(count(*) AS BIGINT) AS nab
        FROM b a JOIN b c ON a.t = c.t AND a.i < c.i
        JOIN bk ON bk.t = a.t
        GROUP BY 1, 2
        HAVING count(*) >= 5),
      d AS (SELECT ia AS antecedent, ib AS consequent, nab FROM pc
        UNION ALL SELECT ib, ia, nab FROM pc)
      SELECT d.antecedent, d.consequent, d.nab AS pair_count,
        ia2.ni AS antecedent_count,
        CAST(d.nab AS DOUBLE) / CAST(n.n AS DOUBLE) AS support,
        CAST(d.nab AS DOUBLE) / CAST(ia2.ni AS DOUBLE) AS confidence,
        (CAST(d.nab AS DOUBLE) * CAST(n.n AS DOUBLE))
          / (CAST(ia2.ni AS DOUBLE) * CAST(ic2.ni AS DOUBLE)) AS lift
      FROM d JOIN ic ia2 ON ia2.i = d.antecedent
             JOIN ic ic2 ON ic2.i = d.consequent
             CROSS JOIN n
      ORDER BY antecedent, consequent""") { (s, dir) =>
      // market-basket over user sessions: which event types co-occur
      // in the same user's history — support/confidence/lift from
      // exact basket counts, capped bucket-local pair generation
      Frequency.associationRules("user_id", "event_type",
        minSupportCount = 5)(table(s, dir, "events"))
        .orderBy("antecedent", "consequent")
    },
    // naive per-group plan: per-source totals joined back, HAVING on
    // the same one-multiply threshold as heavyHittersByGroup
    Query("heavy_hitters_by_source", """
      WITH t AS (SELECT source,
          unnest(string_split(coalesce(text, ''), ' ')) AS token
        FROM documents),
      n AS (SELECT source, CAST(count(*) AS BIGINT) AS total
        FROM t GROUP BY 1)
      SELECT t.source AS source, token, CAST(count(*) AS BIGINT) AS cnt
      FROM t JOIN n ON t.source = n.source
      GROUP BY t.source, token, n.total
      HAVING CAST(count(*) AS DOUBLE)
           > 5e-3 * CAST(n.total AS DOUBLE)
      ORDER BY source, cnt DESC, token""") { (s, dir) =>
      // per-domain frequent terms at 0.5% of EACH source's volume —
      // group-keyed Misra–Gries summaries, per-group totals and
      // candidates, exact per-(source, token) verify
      Frequency.heavyHittersByGroup("source", "token", minFreq = 5e-3)(
        corpus(s, dir, "documents").select(col("source"),
          explode(TextOps.tokens(coalesce(col("text"), lit(""))))
            .as("token")))
        .orderBy(col("source"), col("cnt").desc, col("token"))
    },
    // the naive gram-frequency plan over the same distinct-per-doc
    // shingle stream (shinglesSql is already distinct per document)
    Query("heavy_hitter_phrases", s"""
      WITH t AS (SELECT unnest(${shinglesSql(3)}) AS phrase
                 FROM (SELECT coalesce(text, '') AS text FROM documents)),
        n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t)
      SELECT phrase, CAST(count(*) AS BIGINT) AS cnt
      FROM t GROUP BY phrase
      HAVING CAST(count(*) AS DOUBLE)
           > 1e-4 * (SELECT CAST(total AS DOUBLE) FROM n)
      ORDER BY cnt DESC, phrase""") { (s, dir) =>
      // frequent trigrams at 0.01% document frequency — boilerplate
      // phrase mining; distinct grams per doc, so repeats vote once
      Frequency.heavyHitterPhrases("text", n = 3, minFreq = 1e-4)(
        corpus(s, dir, "documents"))
        .orderBy(col("cnt").desc, col("phrase"))
    },
  )

  /** Unsigned 32-bit md5-prefix of an SQL string expression — the
    * md5Prefix32 mirror. */
  private def md5p32Sql(keyExpr: String): String =
    s"""CAST(list_sum(list_transform(range(1,9), j ->
        (strpos('0123456789abcdef', substr(md5($keyExpr), j, 1)) - 1)
        * CAST(16**(8-j) AS BIGINT))) AS BIGINT)"""

  /** The spanCorrupt CTE chain for one UL2 regime: block grid of
    * `spanLen` tokens, salted per-block Bernoulli at `probE`, sentinel
    * ranks, and the paradigm-token-prefixed pair projection. Emits CTEs
    * `<tag>n/<tag>m/<tag>s/<tag>b`; the branch result is `<tag>b`. */
  private def ul2CorruptCtes(tag: String, salt: String, probE: String,
      spanLen: Int): String = {
    val mode = if (tag == "r") "NLU" else "NLG"
    s"""${tag}n AS (SELECT doc_id, t,
          CAST(ceil(len(t) / ${spanLen}e0) AS INT) AS nb
        FROM d WHERE regime = '$tag'),
      ${tag}m AS (SELECT doc_id, t, nb,
          list_transform(range(0, nb), b -> CASE WHEN
            CAST(${md5p32Sql(
      s"'$salt' || CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")}
              AS DOUBLE) < $probE * CAST(4294967296 AS DOUBLE)
            THEN 1 ELSE 0 END) AS mask
        FROM ${tag}n),
      ${tag}s AS (SELECT doc_id, t, nb, mask,
          list_transform(range(0, nb), b ->
            CAST(coalesce(list_sum(mask[1:CAST(b AS INT)]), 0) AS INT))
            AS sid
        FROM ${tag}m),
      ${tag}b AS (SELECT doc_id, '$tag' AS regime,
          '[$mode] ' || coalesce(array_to_string(flatten(
            list_transform(range(0, nb),
              b -> CASE WHEN mask[CAST(b + 1 AS INT)] = 1
                THEN ['<extra_id_' ||
                  CAST(sid[CAST(b + 1 AS INT)] AS VARCHAR) || '>']
                ELSE t[CAST(b * $spanLen + 1 AS INT):CAST(b * $spanLen + $spanLen AS INT)]
              END)), ' '), '') AS input_text,
          coalesce(array_to_string(flatten(list_transform(range(0, nb),
            b -> CASE WHEN mask[CAST(b + 1 AS INT)] = 1
              THEN list_concat(['<extra_id_' ||
                  CAST(sid[CAST(b + 1 AS INT)] AS VARCHAR) || '>'],
                t[CAST(b * $spanLen + 1 AS INT):CAST(b * $spanLen + $spanLen AS INT)])
              ELSE CAST([] AS VARCHAR[])
            END)), ' '), '') AS target_text,
          CAST(coalesce(list_sum(mask), 0) AS BIGINT) AS n_masked_spans
        FROM ${tag}s)"""
  }
}
