package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{BinaryOps, Dedup, Frequency, GraphOps, Similarity, TextOps}
import graft.ops.{Ops, TemporalOps, WindowOps}
import graft.probes.Probes

/** Shared fixture builders and DuckDB SQL fragments for the query
  * families. */
private[graft] object QueryHelpers {
  import SparkEntry.table


  /** Corpus loader for the sketch/similarity-heavy queries: the fixture
    * tables are single-row-group parquet files, which Spark cannot split
    * — every scan becomes ONE task and per-row hashing runs
    * single-threaded. A production corpus arrives as thousands of row
    * groups and parallelizes naturally; the explicit round-robin
    * repartition restores that shape here (the sub-MB shuffle is noise
    * next to the per-row compute it parallelizes). Row-order independent
    * and output-order pinned, so oracle determinism is unaffected. */
  def corpus(s: SparkSession, dir: String, name: String): DataFrame =
    table(s, dir, name).repartition(s.sparkContext.defaultParallelism)



  /** Shingle list (distinct word n-grams) — mirrors TextOps.shingles. */
  def shinglesSql(n: Int): String =
    s"""list_distinct(list_transform(
         range(1, greatest(len(string_split(text,' ')) - ${n - 1}, 0) + 1),
         i -> array_to_string((string_split(text,' '))[i:i+${n - 1}], ' ')))"""

  /** MinHash signature — mirrors Dedup.minhashSignature: element i is the
    * min over shingles of the 32-bit word at offset (i%4)*8 of
    * md5((i/4) || '|' || shingle); shingle-free docs get the
    * Long.MaxValue sentinel. */
  def minhashSigSql(numHashes: Int): String =
    s"""list_transform(range(0, $numHashes), i ->
        coalesce(list_min(list_transform(sh, t ->
          list_sum(list_transform(range(1,9), j ->
            (strpos('0123456789abcdef',
               substr(md5(CAST((i // 4) AS VARCHAR) || '|' || t),
                      (i % 4) * 8 + j, 1)) - 1)
            * CAST(16**(8-j) AS BIGINT))))), 9223372036854775807))"""

  /** Full MinHash-LSH near-dup pipeline — mirrors
    * Dedup.minhashNearDuplicates (banded buckets, maxBucket=64 skew cap,
    * exact Jaccard verify). */
  /** The banding + cap + exact-Jaccard-verify tail every MinHash-LSH
    * near-dup oracle shares, appended after CTEs defining `sh`
    * (doc_id, shingle list) and `sig` (doc_id, sh, signature list). */
  def lshNearDupTailSql(
      rows: Int, bands: Int, threshold: String): String =
    s"""
      banded AS (SELECT doc_id, b,
          md5(array_to_string(sig[b*$rows+1 : b*$rows+$rows], ',')) AS bucket
        FROM sig, range(0,$bands) t(b)),
      sized AS (SELECT *, count(*) OVER (PARTITION BY b, bucket) AS n FROM banded),
      pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM sized x JOIN sized y ON x.b = y.b AND x.bucket = y.bucket
        WHERE x.doc_id < y.doc_id AND x.n <= 64 AND y.n <= 64),
      joined AS (SELECT id_a, id_b,
        CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END AS jaccard
        FROM pairs JOIN sh a ON pairs.id_a = a.doc_id
                   JOIN sh b ON pairs.id_b = b.doc_id)
      SELECT id_a, id_b, jaccard FROM joined
      WHERE jaccard >= $threshold ORDER BY id_a, id_b"""

  def minhashNearDupSql(
      shingleN: Int, threshold: String,
      numHashes: Int = 8, bands: Int = 4): String = {
    val rows = numHashes / bands
    s"""
      WITH sh AS (SELECT doc_id, ${shinglesSql(shingleN)} AS sh FROM documents),
      sig AS (SELECT doc_id, sh, ${minhashSigSql(numHashes)} AS sig FROM sh),
      ${lshNearDupTailSql(rows, bands, threshold)}"""
  }

  /** Per-dim embedding profile — mirrors Similarity.embeddingProfile:
    * 1e-7 quantization, HUGEINT sufficient statistics, the same
    * left-associated IEEE dag for mean/variance. */
  def embeddingProfileSql: String = """
      WITH e AS (SELECT CAST(i - 1 AS INT) AS dim,
          CAST(em[CAST(i AS INT)] AS DOUBLE) AS x
        FROM (SELECT embedding AS em,
                unnest(range(1, len(embedding) + 1)) AS i
              FROM embeddings)),
      q AS (SELECT dim, x,
          CAST(round(x * 1e7, 0) AS BIGINT) AS qv FROM e),
      a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
          sum(CAST(qv AS HUGEINT)) AS sq,
          sum(CAST(qv AS HUGEINT) * CAST(qv AS HUGEINT)) AS sq2,
          min(x) AS min_val, max(x) AS max_val,
          CAST(count(*) FILTER (WHERE qv = 0) AS BIGINT) AS z
        FROM q GROUP BY 1)
      SELECT dim, n,
        CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e7) AS mean,
        (CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
          - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e7 * 1e7)
          AS variance,
        min_val, max_val,
        CAST(z AS DOUBLE) / n AS zero_frac
      FROM a ORDER BY dim"""

  /** IVF operating-point eval — mirrors Similarity.ivfRecallEval: one
    * shared centroid ranking (stand-in centroids, ties to smaller cid),
    * per-nprobe probe filter + exact-cosine rerank, brute-force truth
    * over the bounded query set, exact-count recall. */
  def ivfRecallEvalSql(
      k: Int, nCentroids: Int, maxQueryId: Int,
      nprobes: Seq[Int]): String = {
    val npCtes = nprobes.map { np =>
      s"""top$np AS (SELECT query_id, item_id FROM (
          SELECT p.id AS query_id, a.id AS item_id,
            row_number() OVER (PARTITION BY p.id
              ORDER BY ${cosineSql("p.vec", "a.vec")} DESC, a.id ASC) AS rr
          FROM (SELECT id, vec, cid FROM rk
                WHERE rn <= $np AND id < $maxQueryId) p
          JOIN assign a ON p.cid = a.cid WHERE p.id <> a.id) t
        WHERE rr <= $k),
      row$np AS (SELECT CAST($np AS INT) AS nprobe,
          (SELECT count(*) FROM top$np) AS ivf_rows,
          (SELECT count(*) FROM top$np t JOIN brute b
             USING (query_id, item_id)) AS hit_rows)"""
    }.mkString(",\n      ")
    val rowsUnion = nprobes.map(np => s"SELECT * FROM row$np")
      .mkString(" UNION ALL ")
    s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                 WHERE vec_id < $nCentroids),
      sc AS (SELECT e.vec_id AS id, e.embedding AS vec, cid,
               ${cosineSql("e.embedding", "cvec")} AS cs
             FROM embeddings e, c),
      rk AS (SELECT id, vec, cid,
               row_number() OVER (PARTITION BY id
                 ORDER BY cs DESC, cid ASC) AS rn FROM sc),
      assign AS (SELECT id, vec, cid FROM rk WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id < $maxQueryId),
      brute AS (SELECT query_id, item_id FROM (
          SELECT q.query_id, e.vec_id AS item_id,
            row_number() OVER (PARTITION BY q.query_id
              ORDER BY ${cosineSql("q.qv", "e.embedding")} DESC,
                e.vec_id ASC) AS rr
          FROM q, embeddings e WHERE q.query_id <> e.vec_id) t
        WHERE rr <= $k),
      truth AS (SELECT count(*) AS truth_rows FROM brute),
      $npCtes
      SELECT nprobe, truth_rows, ivf_rows, hit_rows,
        CASE WHEN truth_rows = 0 THEN NULL
             ELSE CAST(hit_rows AS DOUBLE) / truth_rows END AS recall
      FROM ($rowsUnion) CROSS JOIN truth
      ORDER BY nprobe"""
  }

  /** LSH operating-point eval — mirrors Dedup.lshRecallEval: exact truth
    * via the uncapped shared-shingle self-join, per-config candidates via
    * the SAME banding + 64-cap as the production pipeline, recall and
    * candidate precision as single IEEE divisions of exact counts. */
  def lshRecallEvalSql(
      shingleN: Int, threshold: String, docFilter: String,
      configs: Seq[(Int, Int)]): String = {
    val jacc = """CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0
             THEN CAST(0 AS DOUBLE)
             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END"""
    val cfgCtes = configs.zipWithIndex.map { case ((h, b), i) =>
      val rows = h / b
      s"""sig$i AS (SELECT doc_id, sh, ${minhashSigSql(h)} AS sig FROM sh),
      banded$i AS (SELECT doc_id, bb,
          md5(array_to_string(sig[bb*$rows+1 : bb*$rows+$rows], ',')) AS bucket
        FROM sig$i, range(0,$b) t(bb)),
      sized$i AS (SELECT *, count(*) OVER (PARTITION BY bb, bucket) AS n
        FROM banded$i),
      pairs$i AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM sized$i x JOIN sized$i y ON x.bb = y.bb AND x.bucket = y.bucket
        WHERE x.doc_id < y.doc_id AND x.n <= 64 AND y.n <= 64),
      row$i AS (SELECT CAST($h AS INT) AS num_hashes, CAST($b AS INT) AS bands,
          count(*) AS candidate_pairs,
          count(*) FILTER (WHERE $jacc >= $threshold) AS verified_pairs
        FROM pairs$i JOIN sh a ON pairs$i.id_a = a.doc_id
                     JOIN sh b ON pairs$i.id_b = b.doc_id)"""
    }.mkString(",\n      ")
    val rowsUnion = configs.indices
      .map(i => s"SELECT * FROM row$i").mkString(" UNION ALL ")
    s"""
      WITH sh AS (SELECT doc_id, ${shinglesSql(shingleN)} AS sh
        FROM documents WHERE $docFilter),
      ex AS (SELECT doc_id, unnest(sh) AS t FROM sh),
      tc AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM ex x JOIN ex y ON x.t = y.t AND x.doc_id < y.doc_id),
      truth AS (SELECT count(*) AS truth_pairs
        FROM tc JOIN sh a ON tc.id_a = a.doc_id JOIN sh b ON tc.id_b = b.doc_id
        WHERE $jacc >= $threshold),
      $cfgCtes
      SELECT num_hashes, bands, truth_pairs, candidate_pairs, verified_pairs,
        CASE WHEN truth_pairs = 0 THEN NULL
             ELSE CAST(verified_pairs AS DOUBLE) / truth_pairs END AS recall,
        CASE WHEN candidate_pairs = 0 THEN NULL
             ELSE CAST(verified_pairs AS DOUBLE) / candidate_pairs
             END AS candidate_precision
      FROM ($rowsUnion) CROSS JOIN truth
      ORDER BY num_hashes, bands"""
  }

  /** OPH near-dup — mirrors Dedup.minhashNearDuplicatesOph: one md5 per
    * shingle (value = hex chars 1-8, slot = hex chars 9-16 mod k),
    * per-slot min, right-circular densification, then the SAME banding
    * and exact-Jaccard verify as the classic form. */
  def minhashNearDupOphSql(
      shingleN: Int, threshold: String,
      numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    val k = numHashes
    def word(off: Int) =
      s"""list_sum(list_transform(range(1,9), j ->
          (strpos('0123456789abcdef', substr(md5(t), $off + j, 1)) - 1)
          * CAST(16**(8-j) AS BIGINT)))"""
    s"""
      WITH sh AS (SELECT doc_id, ${shinglesSql(shingleN)} AS sh FROM documents),
      raw AS (SELECT doc_id, sh, list_transform(range(0, $k), slot ->
          coalesce(list_min(list_transform(
            list_filter(sh, t -> (${word(8)}) % $k = slot),
            t -> ${word(0)})), 9223372036854775807)) AS r
        FROM sh),
      sig AS (SELECT doc_id, sh, list_transform(range(0, $k), j ->
          coalesce(list_filter(list_transform(range(0, $k), t2 ->
              r[CAST((j + t2) % $k AS INT) + 1]),
            v -> v <> 9223372036854775807)[1],
            9223372036854775807)) AS sig
        FROM raw),
      ${lshNearDupTailSql(rows, bands, threshold)}"""
  }

  /** Positional word n-grams — mirrors TextOps.positionedGrams: one md5
    * per gram start position (0-based), NOT distinct. */
  def posGramsSql(n: Int): String =
    s"""SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
          md5(array_to_string(t[CAST(i AS INT):CAST(i + ${n - 1} AS INT)], ' ')) AS h
        FROM (SELECT doc_id, string_split(text,' ') AS t,
                unnest(range(1, greatest(len(string_split(text,' ')) - ${n - 1}, 0) + 1)) AS i
              FROM documents)"""

  /** Duplicated n-gram gaps-and-islands (mirrors TextOps.duplicateSpans):
    * a new span starts where the gap between consecutive duplicated gram
    * starts exceeds n; minSpanTokens > n drops short spans AFTER merging. */
  def dupSpansSql(n: Int, minSpanTokens: Int): String = {
    val having =
      if (minSpanTokens > n)
        s"HAVING (max(pos) + ${n - 1}) - min(pos) + 1 >= $minSpanTokens"
      else ""
    s"""
      WITH g AS (${posGramsSql(n)}),
      dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      hit AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)),
      brk AS (SELECT doc_id, pos,
          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $n
               THEN 1 ELSE 0 END AS b
        FROM hit),
      isl AS (SELECT doc_id, pos,
          sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        FROM brk)
      SELECT doc_id, min(pos) AS span_start, max(pos) + ${n - 1} AS span_end,
        (max(pos) + ${n - 1}) - min(pos) + 1 AS span_tokens
      FROM isl GROUP BY doc_id, island $having
      ORDER BY doc_id, span_start"""
  }

  /** Interpolated bigram LM score — see the `bigram_lm_quality` entry comment. */
  def bigramLmSql(lambda: Double): String = s"""
      WITH tok AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
        FROM documents),
      bg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
          ts[CAST(i AS INT)] AS prev, ts[CAST(i + 1 AS INT)] AS w
        FROM (SELECT doc_id, ts,
                unnest(range(1, greatest(len(ts) - 1, 0) + 1)) AS i
              FROM tok)),
      cb AS (SELECT prev, w, count(*) AS cb FROM bg GROUP BY prev, w),
      cl AS (SELECT prev, count(*) AS cl FROM bg GROUP BY prev),
      un AS (SELECT unnest(ts) AS w FROM tok),
      cu AS (SELECT w, count(*) AS cu FROM un GROUP BY w),
      tot AS (SELECT count(*) AS t FROM un),
      p AS (SELECT doc_id, pos,
          ${litD(lambda)} * (CAST(cb AS DOUBLE) / CAST(cl AS DOUBLE))
          + ${litD(1.0 - lambda)} * (CAST(cu AS DOUBLE) / CAST(t AS DOUBLE))
            AS p
        FROM bg JOIN cb USING (prev, w) JOIN cl USING (prev)
                JOIN cu USING (w) CROSS JOIN tot),
      agg AS (SELECT doc_id, count(*) AS n_bigrams,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY pos)),
            (a, b) -> a + b) AS s
        FROM p GROUP BY doc_id)
      SELECT d.doc_id, CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        CASE WHEN coalesce(n_bigrams, 0) = 0 THEN CAST(0 AS DOUBLE)
             ELSE s / CAST(n_bigrams AS DOUBLE) END AS lm_score
      FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)
      ORDER BY d.doc_id"""

  /** Stupid-backoff trigram LM score — mirrors
    * TextOps.trigramLmQuality over a TextOps.lmCountTable. `modelCond`
    * selects the count-table corpus, `scoreCond` the scored documents
    * (both TRUE = the self-statistics form). Backoff legs ordered
    * exactly as the Spark when-chain: trigram relative frequency, else
    * α·bigram, else α²·unigram/T (unseen → 0); per-doc fold replayed
    * in position order from the same 0.0 seed. */
  def trigramLmSql(alpha: Double, modelCond: String = "TRUE",
      scoreCond: String = "TRUE"): String = s"""
      WITH mtok AS (SELECT string_split(coalesce(text, ''), ' ') AS ts
        FROM documents WHERE $modelCond),
      un AS (SELECT unnest(ts) AS w FROM mtok),
      c1 AS (SELECT w AS g, count(*) AS c FROM un GROUP BY w),
      tot AS (SELECT count(*) AS t FROM un),
      bg AS (SELECT ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)] AS g
        FROM (SELECT ts,
                unnest(range(1, greatest(len(ts) - 1, 0) + 1)) AS i
              FROM mtok)),
      c2 AS (SELECT g, count(*) AS c FROM bg GROUP BY g),
      mtri AS (SELECT ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)]
            || ' ' || ts[CAST(i + 2 AS INT)] AS g
        FROM (SELECT ts,
                unnest(range(1, greatest(len(ts) - 2, 0) + 1)) AS i
              FROM mtok)),
      c3 AS (SELECT g, count(*) AS c FROM mtri GROUP BY g),
      tok AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
        FROM documents WHERE $scoreCond),
      trib AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
          ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)]
            || ' ' || ts[CAST(i + 2 AS INT)] AS g3,
          ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)] AS g2a,
          ts[CAST(i + 1 AS INT)] || ' ' || ts[CAST(i + 2 AS INT)] AS g2b,
          ts[CAST(i + 2 AS INT)] AS w0
        FROM (SELECT doc_id, ts,
                unnest(range(1, greatest(len(ts) - 2, 0) + 1)) AS i
              FROM tok)),
      p AS (SELECT t.doc_id, t.pos,
          CASE WHEN c3.c IS NOT NULL AND ctx.c IS NOT NULL
               THEN CAST(c3.c AS DOUBLE) / CAST(ctx.c AS DOUBLE)
               WHEN bo.c IS NOT NULL AND c1p.c IS NOT NULL
               THEN ${litD(alpha)}
                 * (CAST(bo.c AS DOUBLE) / CAST(c1p.c AS DOUBLE))
               WHEN t2.t = 0 THEN CAST(0 AS DOUBLE)
               ELSE ${litD(alpha * alpha)}
                 * (CAST(coalesce(c1w.c, 0) AS DOUBLE)
                    / CAST(t2.t AS DOUBLE))
               END AS p
        FROM trib t
        LEFT JOIN c3 ON c3.g = t.g3
        LEFT JOIN c2 ctx ON ctx.g = t.g2a
        LEFT JOIN c2 bo ON bo.g = t.g2b
        LEFT JOIN c1 c1p ON c1p.g = string_split(t.g2b, ' ')[1]
        LEFT JOIN c1 c1w ON c1w.g = t.w0
        CROSS JOIN tot t2),
      agg AS (SELECT doc_id, count(*) AS n_trigrams,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY pos)),
            (a, b) -> a + b) AS s
        FROM p GROUP BY doc_id)
      SELECT d.doc_id, CAST(coalesce(n_trigrams, 0) AS BIGINT) AS n_trigrams,
        CASE WHEN coalesce(n_trigrams, 0) = 0 THEN CAST(0 AS DOUBLE)
             ELSE s / CAST(n_trigrams AS DOUBLE) END AS lm_score
      FROM (SELECT doc_id FROM documents WHERE $scoreCond) d
        LEFT JOIN agg USING (doc_id)
      ORDER BY d.doc_id"""

  /** Double literal that parses to the EXACT same IEEE-754 bits as the
    * Scala double `v`: Double.toString round-trips, and CAST from
    * VARCHAR avoids DuckDB's bare-decimal-literal DECIMAL typing. */
  def litD(v: Double): String = s"CAST('$v' AS DOUBLE)"

  /** The fixture edge list both graph queries (and their oracles)
    * share: a deterministic 40-node link graph derived from events. */
  val graphEdgesSql = """
    SELECT DISTINCT user_id % 40 AS s,
           (user_id * 7 + event_id) % 40 AS d
    FROM events
    WHERE user_id IS NOT NULL AND event_id IS NOT NULL
      AND user_id % 40 <> (user_id * 7 + event_id) % 40"""

  /** American Soundex of a letters-only UPPERCASE argument as pure
    * RE2-safe DuckDB SQL (no backreferences — DuckDB's regex engine
    * has none), mirroring the engine-native `soundex()` bit-for-bit:
    * the first letter is coded with H/W as a '7' placeholder (kept,
    * collides with no real code), the rest with H/W DELETED (so
    * equal-coded neighbors merge across them — the transparency
    * rule) and vowels+Y as '0' separators; runs of equal digits
    * collapse via 6 rounds of pairwise `replace` per digit (flattens
    * any run ≤ 64), the first code char drops (the first letter
    * carries itself), zeros vanish, and the first 3 digits pad to
    * `L###`. Verified against the builtin on the canonical
    * Tymczak/Ashcraft/Pfister/Honeyman set and fuzzed in the spec. */
  def soundexSql(cleanExpr: String): String = {
    val first = s"substr($cleanExpr, 1, 1)"
    val firstCode = s"translate($first, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ'," +
      " '01230127022455012623017202')"
    val restCode = s"translate(substr($cleanExpr, 2)," +
      " 'ABCDEFGIJKLMNOPQRSTUVXYZHW', '012301202245501262301202')"
    var s = s"($firstCode || $restCode)"
    for (d <- "0123456"; _ <- 1 to 6) s = s"replace($s, '$d$d', '$d')"
    s"($first || rpad(substr(replace(substr($s, 2), '0', ''), 1, 3), 3, '0'))"
  }

  /** The weighted variant: per-event integer weights, multi-edges
    * pre-summed — mirrors the weighted pageRank's edge aggregation. */
  val weightedGraphEdgesSql = """
    SELECT s, d, sum(w) AS w FROM (
      SELECT user_id % 40 AS s, (user_id * 7 + event_id) % 40 AS d,
             CAST(event_id % 5 + 1 AS DOUBLE) AS w
      FROM events
      WHERE user_id IS NOT NULL AND event_id IS NOT NULL)
    WHERE s <> d GROUP BY s, d"""

  /** Unrolled fixed-iteration PageRank — mirrors GraphOps.pageRank
    * step for step: uniform start, per-iteration contribution fold
    * (r·w/Σw, w = 1 in the unweighted form — r·1.0 ≡ r bitwise)
    * ordered by src and seeded from 0.0, base + d·sum with the exact
    * same IEEE literals (litD of the Scala-computed constants).
    * `edgesSql` must yield (s, d, w) with multi-edges pre-summed. */
  def pageRankSql(
      edgesSql: String, iterations: Int, damping: Double): String = {
    val d = litD(damping)
    val base = litD(1.0 - damping)
    val iters = (1 to iterations).map { i =>
      s"""c$i AS (SELECT e.d AS v,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(r${i - 1}.r * e.w / od.od ORDER BY e.s)),
            (a, b) -> a + b) AS cs
         FROM e JOIN od USING (s) JOIN r${i - 1} ON r${i - 1}.v = e.s
         GROUP BY e.d),
      r$i AS (SELECT n.v,
          $base / nn.n + $d * coalesce(c$i.cs, CAST(0 AS DOUBLE)) AS r
         FROM n CROSS JOIN nn LEFT JOIN c$i ON c$i.v = n.v)"""
    }.mkString(",\n      ")
    s"""
      WITH e AS ($edgesSql),
      n AS (SELECT DISTINCT v FROM
        (SELECT s AS v FROM e UNION ALL SELECT d FROM e)),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM n),
      od AS (SELECT s, sum(w) AS od FROM e GROUP BY s),
      r0 AS (SELECT v, CAST(1 AS DOUBLE) / nn.n AS r FROM n CROSS JOIN nn),
      $iters
      SELECT v AS node, r AS rank FROM r$iterations ORDER BY node"""
  }

  /** Unrolled fixed-iteration HITS — mirrors GraphOps.hits step for
    * step: uniform hub start, auth-then-hub within a round, L1
    * normalization, neighbor folds ordered by neighbor id and the
    * normalizer fold ordered by node id over the raw frame, coalesce
    * BEFORE the divide. `edgesSql` must yield DISTINCT (s, d). */
  def hitsSql(edgesSql: String, iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      s"""ar$i AS (SELECT e.d AS v,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(h${i - 1}.h ORDER BY e.s)), (x, y) -> x + y) AS raw
         FROM e JOIN h${i - 1} ON h${i - 1}.v = e.s GROUP BY e.d),
      at$i AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(raw ORDER BY v)), (x, y) -> x + y) AS tot FROM ar$i),
      a$i AS (SELECT n.v,
          coalesce(ar$i.raw, CAST(0 AS DOUBLE)) / at$i.tot AS a
         FROM n LEFT JOIN ar$i ON ar$i.v = n.v CROSS JOIN at$i),
      hr$i AS (SELECT e.s AS v,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(a$i.a ORDER BY e.d)), (x, y) -> x + y) AS raw
         FROM e JOIN a$i ON a$i.v = e.d GROUP BY e.s),
      ht$i AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(raw ORDER BY v)), (x, y) -> x + y) AS tot FROM hr$i),
      h$i AS (SELECT n.v,
          coalesce(hr$i.raw, CAST(0 AS DOUBLE)) / ht$i.tot AS h
         FROM n LEFT JOIN hr$i ON hr$i.v = n.v CROSS JOIN ht$i)"""
    }.mkString(",\n      ")
    s"""
      WITH e AS ($edgesSql),
      n AS (SELECT DISTINCT v FROM
        (SELECT s AS v FROM e UNION ALL SELECT d FROM e)),
      h0 AS (SELECT v, CAST(1 AS DOUBLE) AS h FROM n),
      $iters
      SELECT h$iterations.v AS node, h$iterations.h AS hub,
        a$iterations.a AS authority
      FROM h$iterations JOIN a$iterations
        ON a$iterations.v = h$iterations.v
      ORDER BY node"""
  }

  /** Unrolled Bradley–Terry MM fitting — mirrors Ops.bradleyTerry
    * step for step: directed pre-aggregated pair counts, uniform
    * start, partner-id-ordered denominator folds with the zero-pair
    * CASE guard, wins/den with the zero-den guard, item-id-ordered
    * L1 normalizer each round. `cmpSql` must yield (w, l) with
    * NULLs/self-comparisons already filtered. */
  def bradleyTerrySql(cmpSql: String, iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      s"""d$i AS (SELECT dir.i,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CASE WHEN pi.p + pj.p = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(dir.n AS DOUBLE) / (pi.p + pj.p) END
              ORDER BY dir.j)), (x, y) -> x + y) AS den
         FROM dir JOIN p${i - 1} pi ON pi.i = dir.i
                  JOIN p${i - 1} pj ON pj.i = dir.j
         GROUP BY dir.i),
      r$i AS (SELECT s.i,
          CASE WHEN d$i.den = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST(s.wins AS DOUBLE) / d$i.den END AS praw
         FROM stats s JOIN d$i ON d$i.i = s.i),
      t$i AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(praw ORDER BY i)), (x, y) -> x + y) AS tot FROM r$i),
      p$i AS (SELECT i, praw / t$i.tot AS p FROM r$i CROSS JOIN t$i)"""
    }.mkString(",\n      ")
    s"""
      WITH cmp AS ($cmpSql),
      dir AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT w AS i, l AS j FROM cmp UNION ALL SELECT l, w FROM cmp)
        GROUP BY i, j),
      items AS (SELECT DISTINCT i FROM dir),
      wn AS (SELECT w AS i, CAST(count(*) AS BIGINT) AS wins
             FROM cmp GROUP BY w),
      stats AS (SELECT items.i, CAST(coalesce(wins, 0) AS BIGINT) AS wins
        FROM items LEFT JOIN wn ON wn.i = items.i),
      p0 AS (SELECT i, CAST(1 AS DOUBLE) AS p FROM items),
      $iters,
      nt AS (SELECT i, CAST(sum(n) AS BIGINT) AS comparisons
             FROM dir GROUP BY i)
      SELECT stats.i AS item, stats.wins, nt.comparisons,
        p$iterations.p AS strength
      FROM stats JOIN nt ON nt.i = stats.i
        JOIN p$iterations ON p$iterations.i = stats.i
      ORDER BY item"""
  }

  /** BM25 top-k — mirrors TextOps.bm25TopK term for term: rational idf
    * (no log), every aggregate an exact integer in a double, score
    * expression tree and fold order identical to the Column form, so
    * scores hash-match bit-for-bit. */
  def bm25Sql(
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val ts = terms.distinct.sorted
    val tfCols = ts.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text,' '), x -> x = '$t')) AS DOUBLE) AS tf$i"
    }
    val dfCols = ts.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
    val score = ts.indices.map { i =>
      s"((n - df$i) + ${litD(0.5)}) / (df$i + ${litD(0.5)}) * (tf$i * ${litD(k1 + 1.0)}) / (tf$i + ${litD(k1)} * (${litD(1.0 - b)} + ${litD(b)} * (dl / (sumdl / n))))"
    }.reduce((a, bb) => s"($a + $bb)")
    s"""
      WITH base AS (SELECT doc_id,
          CAST(len(string_split(text,' ')) AS DOUBLE) AS dl,
          ${tfCols.mkString(",\n          ")}
        FROM documents),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
          ${dfCols.mkString(",\n          ")}
        FROM base),
      scored AS (SELECT doc_id, $score AS score FROM base CROSS JOIN stats)
      SELECT doc_id, score,
        CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
      FROM scored WHERE score > 0
      QUALIFY rank <= $k
      ORDER BY rank"""
  }

  /** Cross-corpus LSH near-dup — mirrors Dedup.crossCorpusNearDuplicates
    * (same banding as minhashNearDupSql, per-SIDE maxBucket=64 cap,
    * candidates only ever pair left with right). */
  def crossCorpusNearDupSql(
      shingleN: Int, threshold: String, splitId: Int,
      numHashes: Int = 8, bands: Int = 4): String = {
    val rows = numHashes / bands
    def side(name: String, pred: String) =
      s"""$name AS (SELECT doc_id, ${shinglesSql(shingleN)} AS sh
            FROM documents WHERE $pred)"""
    def banded(name: String, sig: String) =
      s"""$name AS (SELECT doc_id, b,
            md5(array_to_string(sig[b*$rows+1 : b*$rows+$rows], ',')) AS bucket
          FROM $sig, range(0,$bands) t(b))"""
    s"""
      WITH ${side("shl", s"doc_id < $splitId")},
      ${side("shr", s"doc_id >= $splitId")},
      sigl AS (SELECT doc_id, sh, ${minhashSigSql(numHashes)} AS sig FROM shl),
      sigr AS (SELECT doc_id, sh, ${minhashSigSql(numHashes)} AS sig FROM shr),
      ${banded("bl", "sigl")},
      ${banded("br", "sigr")},
      szl AS (SELECT *, count(*) OVER (PARTITION BY b, bucket) AS n FROM bl),
      szr AS (SELECT *, count(*) OVER (PARTITION BY b, bucket) AS n FROM br),
      pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM szl x JOIN szr y ON x.b = y.b AND x.bucket = y.bucket
        WHERE x.n <= 64 AND y.n <= 64),
      joined AS (SELECT id_a, id_b,
        CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) END AS jaccard
        FROM pairs JOIN shl a ON pairs.id_a = a.doc_id
                   JOIN shr b ON pairs.id_b = b.doc_id)
      SELECT id_a, id_b, jaccard FROM joined
      WHERE jaccard >= $threshold ORDER BY id_a, id_b"""
  }

  /** Incremental near-dup vs a persisted signature index — mirrors
    * Dedup.incrementalNearDup: the index side (doc_id < splitId)
    * participates as signatures only, the batch (>= splitId) is dropped
    * on estimated Jaccard (matching slots / numHashes, one integer count
    * over another — exact) >= threshold against the index or a
    * smaller-id batch doc. Banding identical to crossCorpusNearDupSql;
    * per-side cap on the cross leg, bucket size in [2, cap] in-batch. */
  def incrementalNearDupSql(
      shingleN: Int, threshold: String, splitId: Int,
      numHashes: Int = 8, bands: Int = 4): String = {
    val rows = numHashes / bands
    val estJ = s"""CAST(len(list_filter(range(1, ${numHashes + 1}),
        i -> a.sig[i] = bb.sig[i])) AS DOUBLE) / $numHashes"""
    s"""
      WITH sh AS (SELECT doc_id, ${shinglesSql(shingleN)} AS sh FROM documents),
      sig AS (SELECT doc_id, ${minhashSigSql(numHashes)} AS sig FROM sh),
      banded AS (SELECT doc_id, b,
          md5(array_to_string(sig[b*$rows+1 : b*$rows+$rows], ',')) AS bucket
        FROM sig, range(0,$bands) t(b)),
      szi AS (SELECT *, count(*) OVER (PARTITION BY b, bucket) AS n
        FROM banded WHERE doc_id < $splitId),
      szb AS (SELECT *, count(*) OVER (PARTITION BY b, bucket) AS n
        FROM banded WHERE doc_id >= $splitId),
      crossp AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM szi x JOIN szb y ON x.b = y.b AND x.bucket = y.bucket
        WHERE x.n <= 64 AND y.n <= 64 AND x.doc_id <> y.doc_id),
      inp AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM szb x JOIN szb y ON x.b = y.b AND x.bucket = y.bucket
        WHERE x.doc_id < y.doc_id AND x.n BETWEEN 2 AND 64),
      dup AS (SELECT DISTINCT id_b FROM (
          SELECT p.id_b FROM crossp p
            JOIN sig a ON p.id_a = a.doc_id
            JOIN sig bb ON p.id_b = bb.doc_id
          WHERE $estJ >= $threshold
          UNION ALL
          SELECT p.id_b FROM inp p
            JOIN sig a ON p.id_a = a.doc_id
            JOIN sig bb ON p.id_b = bb.doc_id
          WHERE $estJ >= $threshold))
      SELECT doc_id, lang FROM documents
      WHERE doc_id >= $splitId AND doc_id NOT IN (SELECT id_b FROM dup)
      ORDER BY doc_id"""
  }

  /** Cross-source overlap matrix — mirrors TextOps.sourceOverlap.
    * `cutoff` Some(c) keeps only gram digests whose leading-32-bit
    * value (parsed from the first 8 hex chars, exactly Spark's
    * `conv(substring(h,1,8),16,10)`) is under c — the deterministic
    * subspace-sampling mode. */
  /** Perceptual-pair SQL shared by the aHash and dHash queries — the
    * 61 stride samples and band/verify plumbing are identical; only
    * the bit test differs (mean vs gradient). */
  def perceptualPairsSql(dHash: Boolean, maxHamming: Int): String = {
    val bitTest =
      if (dHash) "ss[CAST(k + 2 AS INT)] > ss[CAST(k + 1 AS INT)]"
      else "ss[CAST(k + 1 AS INT)] * 60 >= total"
    s"""
      WITH s AS (SELECT doc_id, length(text) AS n,
          list_transform(range(0, 61), k ->
            CAST(ord(substr(text, CAST((k * length(text)) // 61 AS INT) + 1, 1))
              AS BIGINT)) AS ss
        FROM documents),
      t AS (SELECT doc_id, n, ss,
          CAST(list_sum(ss[1:60]) AS BIGINT) AS total FROM s),
      h AS (SELECT doc_id,
          CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(list_sum(list_transform(range(0, 60), k ->
                 CASE WHEN $bitTest
                      THEN (CAST(1 AS BIGINT) << CAST(k AS INT))
                      ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
          END AS ph FROM t),
      b AS (SELECT doc_id, ph, u.b AS band,
          (ph >> (u.b * 15)) & 32767 AS bucket
        FROM h, unnest([0, 1, 2, 3]) u(b)),
      z AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bn FROM b),
      p AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
          CAST(bit_count(xor(a.ph, c.ph)) AS INTEGER) AS hamming
        FROM z a JOIN z c ON a.band = c.band AND a.bucket = c.bucket
        WHERE a.doc_id < c.doc_id AND a.bn <= 64)
      SELECT id_a, id_b, hamming FROM p WHERE hamming <= $maxHamming
      ORDER BY id_a, id_b"""
  }

  /** Containment-pair SQL shared by the exact and sampled queries —
    * mirrors Dedup.containmentPairs (distinct 8-gram digests, per-gram
    * doc-frequency cap at 64, both containment directions, either
    * direction ≥ 0.5 survives). `cutoff` is the leading-32-bit digest
    * bound of the sampled subspace. */
  def containmentPairsSql(cutoff: Option[Long]): String = {
    val filter = cutoff.map(c =>
      s"""WHERE list_sum(list_transform(range(1,9), j ->
            (strpos('0123456789abcdef', substr(md5(gg), j, 1)) - 1)
            * CAST(16**(8-j) AS BIGINT))) < $c""").getOrElse("")
    s"""
      WITH g AS (SELECT doc_id, md5(gg) AS h FROM (
          SELECT doc_id, unnest(${shinglesSql(8)}) AS gg FROM documents) u
        $filter),
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        FROM g GROUP BY doc_id),
      dft AS (SELECT h, count(*) AS dfc FROM g GROUP BY h),
      p AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
          CAST(count(*) AS BIGINT) AS shared_grams
        FROM g a JOIN g c ON a.h = c.h JOIN dft ON dft.h = a.h
        WHERE a.doc_id < c.doc_id AND dft.dfc <= 64
        GROUP BY 1, 2)
      SELECT p.id_a, p.id_b, p.shared_grams,
        CAST(p.shared_grams AS DOUBLE) / ta.n AS containment_a,
        CAST(p.shared_grams AS DOUBLE) / tb.n AS containment_b
      FROM p JOIN tot ta ON ta.doc_id = p.id_a
             JOIN tot tb ON tb.doc_id = p.id_b
      WHERE greatest(CAST(p.shared_grams AS DOUBLE) / ta.n,
                     CAST(p.shared_grams AS DOUBLE) / tb.n) >= 5e-1
      ORDER BY id_a, id_b"""
  }

  def sourceOverlapSql(cutoff: Option[Long]): String = {
    // filters on md5(g), not the h alias (alias visibility in WHERE is
    // not guaranteed); DISTINCT applies after the row filter either way
    val filter = cutoff.map(c =>
      s"""WHERE list_sum(list_transform(range(1,9), j ->
            (strpos('0123456789abcdef', substr(md5(g), j, 1)) - 1)
            * CAST(16**(8-j) AS BIGINT))) < $c""").getOrElse("")
    s"""
      WITH sg AS (SELECT DISTINCT source, md5(g) AS h FROM (
          SELECT source, unnest(${shinglesSql(3)}) AS g FROM documents) u
        $filter),
      tot AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
      inter AS (SELECT a.source AS source_a, b.source AS source_b,
          count(*) AS n_common
        FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2)
      SELECT source_a, source_b, CAST(n_common AS BIGINT) AS n_common,
        CAST(n_common AS DOUBLE) / (ta.n + tb.n - n_common) AS jaccard
      FROM inter
      JOIN tot ta ON source_a = ta.source
      JOIN tot tb ON source_b = tb.source
      ORDER BY source_a, source_b"""
  }

  /** Greedy BPE subword count — mirrors TextOps.bpeTokenCount: per
    * whitespace word, character split, merges applied in RANK order,
    * each pass merging left-to-right non-overlapping. DuckDB's
    * list_reduce takes no initial accumulator (it seeds from the first
    * element), so elements wrap as single-item lists and the seed [c1]
    * is exactly the state Spark's empty-seeded fold reaches after one
    * step — the folds are step-for-step identical. The merge table is
    * the SAME Scala value on both sides (TextOps.demoBpeMerges). */
  /** The BPE token-count VALUE of `textExpr` (the per-word merge fold,
    * summed) — shared by [[bpeCountSql]] and the fertility report.
    * list_reduce errors on an empty list; zero-length words count 0. */
  def bpeCountValueSql(
      merges: Seq[(String, String)], textExpr: String): String = {
    val chars = "list_transform(range(1, length(w) + 1), i -> substr(w, i, 1))"
    val folded = merges.foldLeft(chars) { case (prev, (a, b)) =>
      s"""list_reduce(list_transform($prev, c -> [c]),
          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = '$a' AND x[1] = '$b'
                      THEN acc[1:len(acc)-1] || ['${a + b}']
                      ELSE acc || x END)"""
    }
    s"""list_sum(list_transform(string_split($textExpr, ' '),
          w -> CASE WHEN length(w) = 0 THEN 0 ELSE len($folded) END))"""
  }

  def bpeCountSql(merges: Seq[(String, String)]): String =
    s"""SELECT doc_id,
          CAST(${bpeCountValueSql(merges, "text")} AS BIGINT) AS n_bpe_tokens
        FROM documents ORDER BY doc_id"""

  /** Greedy BPE PIECES of `text` (list<varchar>, word-initial pieces
    * '▁'-marked) — mirrors TextOps.bpeTokenize: the same per-word merge
    * fold as [[bpeCountSql]], keeping the symbol lists (bound once via
    * the one-element-list list_transform, so the fold runs once per
    * word), marker prefixed, flattened in word order. Zero-length words
    * contribute no pieces (the CASE guards the fold — list_reduce
    * errors on empty input). */
  def bpePiecesSql(merges: Seq[(String, String)]): String = {
    val chars = "list_transform(range(1, length(w) + 1), i -> substr(w, i, 1))"
    val folded = merges.foldLeft(chars) { case (prev, (a, b)) =>
      s"""list_reduce(list_transform($prev, c -> [c]),
          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = '$a' AND x[1] = '$b'
                      THEN acc[1:len(acc)-1] || ['${a + b}']
                      ELSE acc || x END)"""
    }
    s"""flatten(list_transform(string_split(text, ' '), w ->
        CASE WHEN length(w) = 0 THEN CAST([] AS VARCHAR[])
             ELSE list_transform([$folded], f ->
                    list_concat(['▁' || f[1]], f[2:len(f)]))[1] END))"""
  }

  /** Shared by token_budget_mix and token_budget_mix_2p: the two-pass
    * bucket-offset rewrite never changes the result, only the plan. */
  val TokenBudgetMixSql: String = """
      WITH t AS (SELECT source, doc_id,
          CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
          md5('mix|' || CAST(doc_id AS VARCHAR)) AS rk
        FROM documents),
      c AS (SELECT source, doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT source, doc_id, n_tokens, cum_tokens FROM c
      WHERE cum_tokens <= 1000 ORDER BY source, doc_id"""

  /** Shared by incremental_dedup and incremental_dedup_bloom: the bloom
    * prefilter never changes the result, only the plan. */
  val IncrementalDedupSql: String =
    """WITH fp AS (SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS f
         FROM documents),
       fresh AS (
         SELECT * FROM fp WHERE doc_id >= 250
           AND f NOT IN (SELECT f FROM fp WHERE doc_id < 250))
       SELECT doc_id, lang FROM fresh
       QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
       ORDER BY doc_id"""

  /** 32-bit hash shared with TextOps.tokenHash/winnowFingerprints: value
    * of the first 8 hex chars of md5(expr). */
  def hash32Sql(s: String): String =
    s"""CAST(list_sum(list_transform(range(1,9), j ->
        (strpos('0123456789abcdef', substr(md5($s), j, 1)) - 1)
        * CAST(16**(8-j) AS BIGINT))) AS BIGINT)"""

  /** Sequential double fold matching Spark's aggregate(…, 0.0, _+_). */
  /** Synthetic per-doc HTML wrapped around the REAL fixture text (the
    * fixtures carry no markup) — exercises every htmlExtract rule:
    * comment, script (with a literal `<` inside), style, entities in
    * both single- and double-encoded form, two hrefs. The SQL twin
    * below builds the identical string in DuckDB. */
  def syntheticHtml(id: Column, text: Column): Column = concat(
    lit("<html><head><title>Doc "), id.cast("string"),
    lit("</title><style>p { color: red }</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script></head>" +
      "<body><!-- note "), id.cast("string"),
    lit(" --><h1>Title &amp; &lt;subtitle&gt;</h1><p>"), text,
    lit("</p><a href=\"https://example.com/p/"), (id % 50).cast("string"),
    lit("\">next</a> <a href=\"/local/"), (id % 7).cast("string"),
    lit("\">rel</a>&nbsp;&#39;fin&#39;</body></html>"))

  val syntheticHtmlSql: String =
    """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      '</title><style>p { color: red }</style>' ||
      '<script type="text/javascript">var x = 1 < 2;</script></head>' ||
      '<body><!-- note ' || CAST(doc_id AS VARCHAR) ||
      ' --><h1>Title &amp; &lt;subtitle&gt;</h1><p>' || text ||
      '</p><a href="https://example.com/p/' || CAST(doc_id % 50 AS VARCHAR) ||
      '">next</a> <a href="/local/' || CAST(doc_id % 7 AS VARCHAR) ||
      '">rel</a>&nbsp;&#39;fin&#39;</body></html>'"""

  def foldSum(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $listExpr), (acc, x) -> acc + x)"

  def cosineSql(a: String, b: String): String = {
    // the index range derives from the array's own length (not a
    // hard-coded fixture dim), so a dimension change fails loudly via
    // NULL-vs-value mismatches instead of silently zipping past the end
    val d = foldSum(s"list_transform(range(1,len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
    val na = s"sqrt(${foldSum(s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
    val nb = s"sqrt(${foldSum(s"list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"
    s"CASE WHEN $na = CAST(0 AS DOUBLE) OR $nb = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) ELSE $d / ($na * $nb) END"
  }

  /** Sign-LSH bucket over `embedding` — mirrors Similarity.lshBucket
    * (6 planes, dim 64, md5-nibble plane weights); `offset` selects the
    * independent plane set (table t -> offset 6t), exactly lshBucket's
    * planeOffset. */
  def lshBucketSql(offset: Int = 0, vecCol: String = "embedding"): String =
    s"""CAST(list_sum(list_transform(range(0,6), p ->
          CASE WHEN ${foldSum(s"""list_transform(range(0,64), d ->
            CAST($vecCol[d+1] AS DOUBLE)
            * (CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(p + $offset AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) - 1
               AS DOUBLE) - 75e-1))""")} >= CAST(0 AS DOUBLE)
          THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"""

  /** Unrolled synchronous label propagation — mirrors
    * `GraphOps.labelPropagation` round for round: doubled undirected
    * neighbor list, per-round neighbor-label counts, the deterministic
    * (count DESC, label ASC) election, keep-previous for nodes with no
    * neighbors. `edgesSql` yields raw (s, d) rows; doctrine filters
    * (NULL/self drop, DISTINCT) apply here as in the op; the
    * oscillation-damping self-vote is the (v, v) neighbor row. */
  /** Unrolled k-core peeling oracle — mirrors `GraphOps.kCore` round
    * for round: doubled undirected edge list, per-round induced-degree
    * count with the `>= k` keep, then the final induced degree and the
    * global converged flag off the same survivor frame. */
  def kCoreSql(edgesSql: String, k: Int, rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT e2.v FROM ends e2
          JOIN n${i - 1} a ON a.v = e2.v JOIN n${i - 1} b ON b.v = e2.n
          GROUP BY e2.v HAVING count(*) >= $k)"""
    }.mkString(",\n      ")
    s"""
      WITH e AS (SELECT DISTINCT least(s, d) AS s, greatest(s, d) AS d
        FROM ($edgesSql)
        WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d),
      ends AS MATERIALIZED (
        SELECT s AS v, d AS n FROM e UNION ALL SELECT d, s FROM e),
      n0 AS MATERIALIZED (SELECT DISTINCT v FROM ends),
      $iters,
      fd AS (SELECT e2.v, CAST(count(*) AS BIGINT) AS degree
        FROM ends e2 JOIN n$rounds a ON a.v = e2.v
          JOIN n$rounds b ON b.v = e2.n GROUP BY e2.v),
      outn AS (SELECT n$rounds.v AS node,
          coalesce(degree, CAST(0 AS BIGINT)) AS degree
        FROM n$rounds LEFT JOIN fd ON fd.v = n$rounds.v),
      cv AS (SELECT coalesce(min(degree >= $k), true) AS converged
        FROM outn)
      SELECT node, degree, converged FROM outn CROSS JOIN cv
      ORDER BY node"""
  }

  /** Unrolled k-truss peeling oracle — mirrors `GraphOps.kTruss` round
    * for round: canonical edge list, per-round triangle support via
    * the doubled-ends wedge join with the `>= k-2` keep, then the
    * final induced support and the global converged flag. */
  def kTrussSql(edgesSql: String, k: Int, rounds: Int): String = {
    // every e_i is referenced three times by round i+1 (directly and
    // through both ends sides) — MATERIALIZED stops DuckDB's default
    // CTE inlining from expanding the unrolled tree 3^rounds-fold
    val iters = (1 to rounds).map { i =>
      s"""x$i AS MATERIALIZED (SELECT s AS v, d AS n FROM e${i - 1}
          UNION ALL SELECT d, s FROM e${i - 1}),
        e$i AS MATERIALIZED (SELECT e.s, e.d FROM e${i - 1} e
          JOIN x$i a ON a.v = e.s
          JOIN x$i b ON b.v = e.d AND b.n = a.n
          GROUP BY e.s, e.d HAVING count(*) >= ${k - 2})"""
    }.mkString(",\n      ")
    s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT least(s, d) AS s, greatest(s, d) AS d
        FROM ($edgesSql)
        WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d),
      $iters,
      xf AS (SELECT s AS v, d AS n FROM e$rounds
        UNION ALL SELECT d, s FROM e$rounds),
      sup AS (SELECT e.s, e.d, CAST(count(*) AS BIGINT) AS support
        FROM e$rounds e JOIN xf a ON a.v = e.s
          JOIN xf b ON b.v = e.d AND b.n = a.n
        GROUP BY e.s, e.d),
      outn AS (SELECT e.s, e.d,
          coalesce(support, CAST(0 AS BIGINT)) AS support
        FROM e$rounds e
        LEFT JOIN sup ON sup.s = e.s AND sup.d = e.d),
      cv AS (SELECT coalesce(min(support >= ${k - 2}), true) AS converged
        FROM outn)
      SELECT s AS node_a, d AS node_b, support, converged
      FROM outn CROSS JOIN cv
      ORDER BY node_a, node_b"""
  }

  def labelPropagationSql(edgesSql: String, rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""c$i AS (SELECT nb.v, l${i - 1}.l, CAST(count(*) AS BIGINT) AS c
          FROM nb JOIN l${i - 1} ON l${i - 1}.v = nb.n GROUP BY nb.v, l${i - 1}.l),
      p$i AS (SELECT v, l FROM (SELECT v, l,
          row_number() OVER (PARTITION BY v ORDER BY c DESC, l ASC) AS rn
          FROM c$i) WHERE rn = 1),
      l$i AS (SELECT l${i - 1}.v, coalesce(p$i.l, l${i - 1}.l) AS l
        FROM l${i - 1} LEFT JOIN p$i ON p$i.v = l${i - 1}.v)"""
    }.mkString(",\n      ")
    s"""
      WITH e AS (SELECT DISTINCT least(s, d) AS s, greatest(s, d) AS d
        FROM ($edgesSql)
        WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d),
      ends AS (SELECT s AS v, d AS n FROM e UNION ALL SELECT d, s FROM e),
      nodes AS (SELECT DISTINCT v FROM ends),
      nb AS (SELECT v, n FROM ends UNION ALL SELECT v, v FROM nodes),
      l0 AS (SELECT v, v AS l FROM nodes),
      $iters
      SELECT v AS node, l AS community FROM l$rounds ORDER BY node"""
  }

  /** md5 32-bit-prefix uint — mirrors `GraftFunctions.md5Prefix32`
    * (the library's every deterministic "random" draw). */
  def md5u32Sql(expr: String, salt: String = ""): String =
    s"""list_sum(list_transform(range(1,9), j ->
        (strpos('0123456789abcdef',
          substr(md5('$salt' || ($expr)), j, 1)) - 1)
        * CAST(16**(8-j) AS BIGINT)))"""

  /** Poisson(1) weight from a u32 draw — mirrors `Probes.poissonWeight`
    * (same driver-computed integer cutoffs, nested-CASE shape). */
  def poissonWeightSql(u32Col: String): String =
    graft.probes.Probes.poissonCutoffs.zipWithIndex.foldRight("8") {
      case ((cut, k), rest) =>
        s"CASE WHEN ($u32Col) < $cut THEN $k ELSE $rest END"
    }

  /** Unrolled Fellegi–Sunter EM oracle — mirrors `Dedup.fellegiSunterFit`
    * round for round: the γ∈{1,0,−1} pattern frame, then per round one
    * CROSS JOIN of the 1-row parameter CTE, fixed-order likelihood
    * product chains, pattern-key-ordered pinned folds, and the
    * clamp/fallback M-step — every arithmetic step the same IEEE op
    * sequence as the Spark tree, so the fitted doubles hash-match.
    * `comps` = (name, boolean SQL expr over `fromSql`'s columns). */
  def fellegiSunterFitSql(
      fromSql: String, comps: Seq[(String, String)], iterations: Int,
      lambda0: String = "1e-1", m0: String = "9e-1",
      u0: String = "1e-1"): String = {
    val f = comps.size
    val idx = 0 until f
    def pinned(term: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list($term ORDER BY pkey)), (a, x) -> a + x)"""
    val gCols = comps.zipWithIndex.map { case ((_, e), i) =>
      s"CASE WHEN ($e) IS NULL THEN -1 WHEN ($e) THEN 1 ELSE 0 END AS g$i"
    }
    val gList = idx.map(i => s"g$i").mkString(", ")
    val patCte = s"""pat AS (SELECT $gList,
        CAST(count(*) AS BIGINT) AS c,
        concat_ws(',', $gList) AS pkey
      FROM g GROUP BY $gList)"""
    val p0 = s"""p0 AS (SELECT $lambda0 AS lambda,
      ${idx.map(i => s"$m0 AS m$i, $u0 AS u$i").mkString(", ")})"""
    def clamp(x: String) = s"least(greatest($x, 1e-6), (1e0 - 1e-6))"
    def round(r: Int): String = {
      val pm = "(" + idx.map(i =>
        s"(CASE WHEN g$i = 1 THEN p.m$i WHEN g$i = 0 THEN (1e0 - p.m$i) ELSE 1e0 END)")
        .mkString(" * ") + ")"
      val pu = "(" + idx.map(i =>
        s"(CASE WHEN g$i = 1 THEN p.u$i WHEN g$i = 0 THEN (1e0 - p.u$i) ELSE 1e0 END)")
        .mkString(" * ") + ")"
      val e = s"""e$r AS (SELECT pat.*, p.lambda,
          ${idx.map(i => s"p.m$i, p.u$i").mkString(", ")},
          (p.lambda * $pm) /
            (p.lambda * $pm + (1e0 - p.lambda) * $pu) AS w
        FROM pat CROSS JOIN p${r - 1} p)"""
      val aggs = Seq(
        s"${pinned("c * w")} AS sw",
        s"${pinned("CAST(c AS DOUBLE)")} AS sc",
        "min(lambda) AS ol") ++
        idx.flatMap(i => Seq(
          s"${pinned(s"CASE WHEN g$i = 1 THEN c * w ELSE 0e0 END")} AS mw$i",
          s"${pinned(s"CASE WHEN g$i <> -1 THEN c * w ELSE 0e0 END")} AS md$i",
          s"${pinned(s"CASE WHEN g$i = 1 THEN c * (1e0 - w) ELSE 0e0 END")} AS uw$i",
          s"${pinned(s"CASE WHEN g$i <> -1 THEN c * (1e0 - w) ELSE 0e0 END")} AS ud$i",
          s"min(m$i) AS om$i", s"min(u$i) AS ou$i"))
      val a = s"a$r AS (SELECT ${aggs.mkString(", ")} FROM e$r)"
      val ps = Seq(
        s"CASE WHEN sc > 0e0 THEN ${clamp("sw / sc")} ELSE ol END AS lambda") ++
        idx.flatMap(i => Seq(
          s"CASE WHEN md$i > 0e0 THEN ${clamp(s"mw$i / md$i")} ELSE om$i END AS m$i",
          s"CASE WHEN ud$i > 0e0 THEN ${clamp(s"uw$i / ud$i")} ELSE ou$i END AS u$i"))
      s"$e,\n$a,\np$r AS (SELECT ${ps.mkString(", ")} FROM a$r)"
    }
    val rounds = (1 to iterations).map(round).mkString(",\n")
    val fin = comps.zipWithIndex.map { case ((n, _), i) =>
      s"SELECT '$n' AS comparison, m$i AS m, u$i AS u, lambda FROM p$iterations"
    }.mkString(" UNION ALL ")
    s"""WITH g AS (SELECT ${gCols.mkString(", ")} FROM ($fromSql)),
       $patCte,
       $p0,
       $rounds
       SELECT * FROM ($fin) ORDER BY comparison"""
  }

  def stopRatio(lst: String): String =
    s"""CASE WHEN len(string_split(text,' ')) = 0 THEN CAST(0 AS DOUBLE)
        ELSE CAST(len(list_intersect(list_distinct(string_split(text,' ')), $lst)) AS DOUBLE)
             / len(list_distinct(string_split(text,' '))) END"""

  /** Per-document quality score — mirrors TextOps.qualityScore term for
    * term (same blend weights, same fold order, every intermediate an
    * exact double), so scores hash-match bit-for-bit and are safe to
    * ORDER BY in keeper elections. One `(doc_id, quality)` row per
    * document. */
  /** `(doc_id, lang, lang_pred)` CTE chain — the lang_id heuristic
    * (mirrors TextOps.langId tie discipline) shared by the `lang_id`
    * oracle and the labeler-agreement kappa oracle. */
  def langPredCteSql: String = s"""
      __lr AS (SELECT doc_id, lang,
        ${stopRatio("['der','die','das','und','zu','in','ist']")} AS r_de,
        ${stopRatio("['the','a','of','and','to','in','is']")} AS r_en,
        ${stopRatio("['el','la','de','y','que','en','es']")} AS r_es,
        ${stopRatio("['le','la','de','et','que','en','est']")} AS r_fr,
        ${stopRatio("['de','le','shi','he','zai','you','wo']")} AS r_zh
        FROM documents),
      pred AS (SELECT doc_id, lang,
        CASE WHEN greatest(r_de,r_en,r_es,r_fr,r_zh) = CAST(0 AS DOUBLE) THEN 'und'
             WHEN r_zh = greatest(r_de,r_en,r_es,r_fr,r_zh) THEN 'zh'
             WHEN r_fr = greatest(r_de,r_en,r_es,r_fr,r_zh) THEN 'fr'
             WHEN r_es = greatest(r_de,r_en,r_es,r_fr,r_zh) THEN 'es'
             WHEN r_en = greatest(r_de,r_en,r_es,r_fr,r_zh) THEN 'en'
             ELSE 'de' END AS lang_pred
        FROM __lr)"""

  def qualityPerDocSql: String = s"""
      SELECT doc_id,
        len_score * 4e-1
        + (CASE WHEN mean_len >= CAST(3 AS DOUBLE) AND mean_len <= CAST(10 AS DOUBLE)
                THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 3e-1
        + stop_score * 3e-1 AS quality
      FROM (SELECT doc_id,
        least(len(string_split(text,' ')) / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) AS len_score,
        CASE WHEN len(string_split(text,' ')) = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(length(text) AS DOUBLE) / len(string_split(text,' ')) END AS mean_len,
        least(${stopRatio("['the','a','of','and','to','in','is']")} * CAST(5 AS DOUBLE),
              CAST(1 AS DOUBLE)) AS stop_score
        FROM documents) __qbase"""
}
