package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{BinaryOps, Dedup, Frequency, GraphOps, Similarity, TextOps}
import graft.ops.{Ops, TemporalOps, WindowOps}
import graft.probes.Probes

/** Embedding similarity queries: the ANN ladder, retrieval/eval and pooling. */
private[graft] object QueriesSimilarity {
  import SparkEntry.table
  import QueryHelpers._

  def registry: Seq[Query] = Seq(
    // ---- similarity search -------------------------------------------------
    Query("similarity_topk", s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
      scored AS (SELECT query_id, c.vec_id AS item_id,
        ${cosineSql("qe", "c.embedding")} AS cosine
        FROM embeddings c, q WHERE query_id <> c.vec_id),
      ranked AS (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rn
        FROM scored)
      SELECT query_id, item_id, cosine, CAST(rn AS INTEGER) AS rank
      FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""") { (s, dir) =>
      val e = corpus(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        corpus = e, corpusId = "vec_id", corpusVec = "embedding",
        queries = e.filter(col("vec_id") < 10), queryId = "vec_id",
        queryVec = "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
    // both rankers replayed (full cosine, leading-16 coarse cosine),
    // then the identical RRF expression: coalesce(1/(60+r), 0) per
    // side, one add, item_id tiebreak — mirrors Similarity.rrfFuse
    Query("hybrid_rrf", s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 10),
      fa AS (SELECT query_id, c.vec_id AS item_id, row_number() OVER (
            PARTITION BY query_id
            ORDER BY ${cosineSql("qe", "c.embedding")} DESC, c.vec_id ASC)
          AS ra
        FROM embeddings c, q WHERE query_id <> c.vec_id),
      qc AS (SELECT query_id, qe[1:16] AS qe FROM q),
      cc AS (SELECT vec_id, embedding[1:16] AS ce FROM embeddings),
      fb AS (SELECT query_id, cc.vec_id AS item_id, row_number() OVER (
            PARTITION BY query_id
            ORDER BY ${cosineSql("qe", "cc.ce")} DESC, cc.vec_id ASC)
          AS rb
        FROM cc, qc WHERE query_id <> cc.vec_id),
      j AS (SELECT coalesce(a.query_id, b.query_id) AS query_id,
          coalesce(a.item_id, b.item_id) AS item_id,
          coalesce(1e0 / (60 + a.ra), 0e0) +
            coalesce(1e0 / (60 + b.rb), 0e0) AS rrf_score
        FROM (SELECT * FROM fa WHERE ra <= 10) a
        FULL OUTER JOIN (SELECT * FROM fb WHERE rb <= 10) b
        ON a.query_id = b.query_id AND a.item_id = b.item_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_score DESC, item_id ASC) AS rn FROM j)
      SELECT query_id, item_id, rrf_score, CAST(rn AS INTEGER) AS rank
      FROM r WHERE rn <= 10 ORDER BY query_id, rank""") { (s, dir) =>
      // reciprocal-rank fusion of two rankers over the same queries —
      // here full-dim cosine ⊕ leading-16-dim coarse cosine (rankers
      // on different score scales fuse by RANK, no calibration);
      // each RRF term is one integer-denominator division, the fusion
      // one add — oracle bit-for-bit
      val e = corpus(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      def coarse(d: DataFrame) = d.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val full = Similarity.bruteForceTopK(
        e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val lowres = Similarity.bruteForceTopK(
        coarse(e), "vec_id", "embedding", coarse(q), "vec_id", "embedding",
        k = 10)
      Similarity.rrfFuse(full, lowres, k0 = 60, topK = 10)
        .orderBy("query_id", "rank")
    },
    // int8 symmetric quantization (floor(x*127/amax + 0.5) — the shared
    // round-half-up), integer dot/norms, one double division — mirrors
    // Similarity.bruteForceTopKQuantized; scales cancel so no floats
    // beyond the final ratio
    Query("similarity_topk_q8", """
      WITH c AS (SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
          embedding FROM embeddings),
      q8 AS (SELECT vec_id,
          CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0)
               ELSE list_transform(embedding, x ->
                 CAST(floor(CAST(x AS DOUBLE) * 127 / amax + 5e-1) AS INT)) END AS codes
        FROM c),
      n AS (SELECT vec_id, codes,
          CAST(list_sum(list_transform(codes, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS nn
        FROM q8),
      scored AS (SELECT q.vec_id AS query_id, i.vec_id AS item_id,
          CASE WHEN q.nn = 0 OR i.nn = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST(CAST(list_sum(list_transform(range(1, len(q.codes) + 1), j ->
                   CAST(q.codes[CAST(j AS INT)] AS BIGINT) * i.codes[CAST(j AS INT)])) AS BIGINT) AS DOUBLE)
                 / (sqrt(CAST(q.nn AS DOUBLE)) * sqrt(CAST(i.nn AS DOUBLE))) END AS cosine
        FROM n q, n i WHERE q.vec_id < 10 AND q.vec_id <> i.vec_id),
      ranked AS (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rn
        FROM scored)
      SELECT query_id, item_id, cosine, CAST(rn AS INTEGER) AS rank
      FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""") { (s, dir) =>
      // the memory-bound form: int8 codes (4x less IO), integer dot +
      // one IEEE division — scales cancel, so exact cross-engine
      val e = corpus(s, dir, "embeddings")
      Similarity.bruteForceTopKQuantized(
        corpus = e, corpusId = "vec_id", corpusVec = "embedding",
        queries = e.filter(col("vec_id") < 10), queryId = "vec_id",
        queryVec = "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
    // hamming = count of disagreeing sign bits (the packed-XOR popcount
    // computed dimension-wise — same integer), candidates = best 50 per
    // query by (hamming, item), rerank by exact cosine — mirrors
    // Similarity.hammingTopK
    Query("similarity_hamming", s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 10),
      ham AS (SELECT query_id, c.vec_id AS item_id,
          CAST(list_sum(list_transform(range(1, len(c.embedding) + 1), i ->
            CASE WHEN (NOT isnan(c.embedding[CAST(i AS INT)])
                         AND c.embedding[CAST(i AS INT)] >= 0)
                   <> (NOT isnan(qe[CAST(i AS INT)])
                         AND qe[CAST(i AS INT)] >= 0)
                 THEN 1 ELSE 0 END)) AS INTEGER) AS hamming,
          c.embedding AS ce, qe
        FROM embeddings c, q WHERE query_id <> c.vec_id),
      cand AS (SELECT * FROM ham
        QUALIFY row_number() OVER (
          PARTITION BY query_id ORDER BY hamming ASC, item_id ASC) <= 50),
      scored AS (SELECT query_id, item_id, hamming,
          ${cosineSql("qe", "ce")} AS cosine
        FROM cand)
      SELECT query_id, item_id, hamming, cosine,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC)
          AS INTEGER) AS rank
      FROM scored
      QUALIFY rank <= 5 ORDER BY query_id, rank""") { (s, dir) =>
      // sign-sketch coarse rank (8 bytes/vector scanned) + exact cosine
      // rerank of the top-50 sliver
      val e = corpus(s, dir, "embeddings")
      Similarity.hammingTopK(
        corpus = e, corpusId = "vec_id", corpusVec = "embedding",
        queries = e.filter(col("vec_id") < 10), queryId = "vec_id",
        queryVec = "embedding", k = 5, rerank = 10)
        .orderBy("query_id", "rank")
    },
    // product quantization: sub-centroids = length-derived slices of the
    // first 8 vectors; per (vector, subspace) squared-L2 argmin (fold
    // from 0.0 — squares are never -0.0 — ties to the smaller id-sorted
    // position); ADC score folds the per-subspace query·centroid dots in
    // subspace order from 0.0; top-30 coarse pool, exact-cosine rerank —
    // mirrors Similarity.pqEncode / pqTopK
    Query("similarity_pq", s"""
      WITH c AS (SELECT vec_id AS cid,
          row_number() OVER (ORDER BY vec_id) - 1 AS pos,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings WHERE vec_id < 8),
      v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
          len(embedding) // 8 AS sub
        FROM embeddings),
      sl AS (SELECT v.vec_id, u.s, c.pos,
          v.dv[CAST(u.s * v.sub + 1 AS INT):CAST(u.s * v.sub + v.sub AS INT)] AS dvs,
          c.cv[CAST(u.s * v.sub + 1 AS INT):CAST(u.s * v.sub + v.sub AS INT)] AS cvs
        FROM v, unnest(range(0, 8)) u(s), c),
      d AS (SELECT vec_id, s, pos,
          ${foldSum("list_transform(range(1, len(dvs) + 1), j -> (dvs[CAST(j AS INT)] - cvs[CAST(j AS INT)]) * (dvs[CAST(j AS INT)] - cvs[CAST(j AS INT)]))")} AS dist
        FROM sl),
      codes AS (SELECT vec_id, s, pos AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY dist ASC, pos ASC) AS rn FROM d) t
        WHERE rn = 1),
      lt AS (SELECT vec_id AS query_id, s, pos,
          ${foldSum("list_transform(range(1, len(dvs) + 1), j -> dvs[CAST(j AS INT)] * cvs[CAST(j AS INT)])")} AS dp
        FROM sl WHERE vec_id < 5),
      adc AS (SELECT lt.query_id, cd.vec_id AS item_id,
          ${foldSum("list(lt.dp ORDER BY lt.s)")} AS adc_score
        FROM codes cd JOIN lt ON lt.s = cd.s AND lt.pos = cd.code
        WHERE lt.query_id <> cd.vec_id
        GROUP BY 1, 2),
      coarse AS (SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adc_score DESC, item_id ASC) AS cr FROM adc) t
        WHERE cr <= 30),
      rr AS (SELECT co.query_id, co.item_id, co.adc_score,
          ${cosineSql("qe.embedding", "ie.embedding")} AS cosine
        FROM coarse co
        JOIN embeddings qe ON qe.vec_id = co.query_id
        JOIN embeddings ie ON ie.vec_id = co.item_id)
      SELECT query_id, item_id, adc_score, cosine, CAST(rn AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, item_id ASC) AS rn FROM rr) t
      WHERE rn <= 3
      ORDER BY query_id, rank""") { (s, dir) =>
      // product-quantization rung: 8 one-byte codes per vector scanned
      // in the ADC coarse pass (vs 256 B of float32), exact cosine
      // rerank of the top-30 sliver; stand-in sub-centroids from the
      // first 8 vectors (oracle-reproducible, same seam as IVF)
      val e = corpus(s, dir, "embeddings")
      Similarity.pqTopK(
        corpus = e, corpusId = "vec_id", corpusVec = "embedding",
        queries = e.filter(col("vec_id") < 5), queryId = "vec_id",
        queryVec = "embedding",
        centroids = Similarity.standinCentroids(e, "vec_id", "embedding", 8),
        centroidId = "cid", centroidVec = "center",
        m = 8, k = 3, rerank = 10)
        .orderBy("query_id", "rank")
    },
    // the dim > 64 rung over the widened (128-d) fixture: hamming is the
    // dimension-wise sign-disagreement count (= the packed multi-word
    // XOR popcount sum — same integer), isnan-guarded to the kernel's
    // IEEE semantics; candidates top-50 per query, exact-cosine rerank —
    // mirrors Similarity.hammingTopKWide
    Query("similarity_hamming_wide", s"""
      WITH e AS (SELECT vec_id,
          list_concat(embedding, list_reverse(embedding)) AS embedding
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe
        FROM e WHERE vec_id < 10),
      ham AS (SELECT query_id, c.vec_id AS item_id,
          CAST(list_sum(list_transform(range(1, len(c.embedding) + 1), i ->
            CASE WHEN (NOT isnan(c.embedding[CAST(i AS INT)])
                         AND c.embedding[CAST(i AS INT)] >= 0)
                   <> (NOT isnan(qe[CAST(i AS INT)])
                         AND qe[CAST(i AS INT)] >= 0)
                 THEN 1 ELSE 0 END)) AS INTEGER) AS hamming,
          c.embedding AS ce, qe
        FROM e c, q WHERE query_id <> c.vec_id),
      cand AS (SELECT * FROM ham
        QUALIFY row_number() OVER (
          PARTITION BY query_id ORDER BY hamming ASC, item_id ASC) <= 50),
      scored AS (SELECT query_id, item_id, hamming,
          ${cosineSql("qe", "ce")} AS cosine
        FROM cand)
      SELECT query_id, item_id, hamming, cosine,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC)
          AS INTEGER) AS rank
      FROM scored
      QUALIFY rank <= 5 ORDER BY query_id, rank""") { (s, dir) =>
      // the dim > 64 rung: 128-dim vectors (the 64-d fixture widened by
      // concatenating its reverse — deterministic, oracle-shared),
      // 2-word sketches, summed-popcount coarse rank, exact rerank
      val e = corpus(s, dir, "embeddings")
        .select(col("vec_id"),
          concat(col("embedding"), reverse(col("embedding"))).as("embedding"))
      Similarity.hammingTopKWide(
        corpus = e, corpusId = "vec_id", corpusVec = "embedding",
        queries = e.filter(col("vec_id") < 10), queryId = "vec_id",
        queryVec = "embedding", k = 5, dim = 128, rerank = 10)
        .orderBy("query_id", "rank")
    },
    // MRL two-stage: coarse cosine over the 16-element list prefix
    // (same slice both engines), top-25 pool per query, exact full-dim
    // rerank — mirrors Similarity.matryoshkaTopK
    Query("similarity_matryoshka", s"""
      WITH e AS (SELECT vec_id, embedding, embedding[1:16] AS pre
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, pre AS qs
        FROM e WHERE vec_id < 10),
      sc AS (SELECT query_id, c.vec_id AS item_id,
          ${cosineSql("qs", "c.pre")} AS coarse_cos,
          qe, c.embedding AS ce
        FROM e c, q WHERE query_id <> c.vec_id),
      cand AS (SELECT * FROM sc
        QUALIFY row_number() OVER (
          PARTITION BY query_id
          ORDER BY coarse_cos DESC, item_id ASC) <= 25),
      scored AS (SELECT query_id, item_id, coarse_cos,
          ${cosineSql("qe", "ce")} AS cosine
        FROM cand)
      SELECT query_id, item_id, coarse_cos, cosine,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC)
          AS INTEGER) AS rank
      FROM scored
      QUALIFY rank <= 5 ORDER BY query_id, rank""") { (s, dir) =>
      // MRL two-stage: coarse cosine over the leading 16 of 64 dims
      // (4x less float payload in the corpus-wide pass), exact
      // full-dim rerank of the top-25 sliver
      val e = corpus(s, dir, "embeddings")
      Similarity.matryoshkaTopK(
        corpus = e, corpusId = "vec_id", corpusVec = "embedding",
        queries = e.filter(col("vec_id") < 10), queryId = "vec_id",
        queryVec = "embedding", k = 5, coarseDims = 16, rerank = 5)
        .orderBy("query_id", "rank")
    },
    // the same 8×8 token-vector reinterpretation, Σ_q (fold in token
    // order, seeded 0.0) of list_max over doc tokens of the shared
    // cosine — mirrors Similarity.lateInteractionTopK
    Query("late_interaction", s"""
      WITH e AS (SELECT vec_id, list_transform(range(0, 8), t ->
          embedding[CAST(t * 8 + 1 AS INT):CAST(t * 8 + 8 AS INT)]) AS tv
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, tv AS qv FROM e WHERE vec_id < 5),
      scored AS (SELECT query_id, c.vec_id AS item_id,
          ${foldSum(s"""list_transform(qv, qt ->
            list_max(list_transform(c.tv, dt ->
              ${cosineSql("qt", "dt")})))""")} AS maxsim
        FROM e c, q WHERE query_id <> c.vec_id),
      ranked AS (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY maxsim DESC, item_id ASC) AS rn
        FROM scored)
      SELECT query_id, item_id, maxsim, CAST(rn AS INTEGER) AS rank
      FROM ranked WHERE rn <= 3 ORDER BY query_id, rank""") { (s, dir) =>
      // ColBERT MaxSim over multi-vector docs: the 64-d fixture vector
      // reinterpreted as 8 token-vectors of dim 8 (deterministic,
      // oracle-shared), Σ_q max_d cosine scoring, top-3 per query
      val e = corpus(s, dir, "embeddings")
        .select(col("vec_id"), transform(sequence(lit(0), lit(7)),
          t => slice(col("embedding"), t * 8 + 1, lit(8))).as("tok_vecs"))
      Similarity.lateInteractionTopK(
        corpus = e, corpusId = "vec_id", corpusVecs = "tok_vecs",
        queries = e.filter(col("vec_id") < 5), queryId = "vec_id",
        queryVecs = "tok_vecs", k = 3)
        .orderBy("query_id", "rank")
    },
    // band filter BEFORE the per-query rank — mirrors
    // Similarity.hardNegatives
    Query("hard_negatives", s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 10),
      scored AS (SELECT query_id, c.vec_id AS item_id,
          ${cosineSql("qe", "c.embedding")} AS cosine
        FROM embeddings c, q WHERE query_id <> c.vec_id),
      banded AS (SELECT * FROM scored WHERE cosine <= 25e-2),
      ranked AS (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rn
        FROM banded)
      SELECT query_id, item_id, cosine, CAST(rn AS INTEGER) AS rank
      FROM ranked WHERE rn <= 5 ORDER BY query_id, rank""") { (s, dir) =>
      // contrastive mining: per query the top-5 most similar candidates
      // with cosine <= 0.25 — hard, but safely below the near-dup band
      // that would make them false negatives
      val e = corpus(s, dir, "embeddings")
      Similarity.hardNegatives(
        corpus = e, corpusId = "vec_id", corpusVec = "embedding",
        queries = e.filter(col("vec_id") < 10), queryId = "vec_id",
        queryVec = "embedding", k = 5, maxSim = 0.25)
        .orderBy("query_id", "rank")
    },
    // md5-nibble-parity signs, six butterfly stages pairing i with
    // i XOR 2^s (lower = a+b, upper = a-b), 1/sqrt(64) scale, REAL
    // cast — mirrors functions.FwhtRotate stage for stage
    Query("fwht_rotate", {
      val sgn = "CASE WHEN (strpos('0123456789abcdef', " +
        "substr(md5('fwht_0_' || CAST(i AS VARCHAR)), 1, 1)) - 1) % 2 " +
        "= 0 THEN 1e0 ELSE -1e0 END"
      val stages = (0 until 6).map { s =>
        val step = 1 << s
        val prev = if (s == 0) "e" else s"s${s - 1}"
        s"""s$s AS (SELECT vec_id, list_transform(range(0, 64), i ->
          CASE WHEN (i // $step) % 2 = 0
            THEN v[CAST(i + 1 AS INT)] + v[CAST(xor(i, $step) + 1 AS INT)]
            ELSE v[CAST(xor(i, $step) + 1 AS INT)] - v[CAST(i + 1 AS INT)]
          END) AS v FROM $prev)"""
      }.mkString(",\n      ")
      s"""
      WITH e AS (SELECT vec_id, list_transform(range(0, 64), i ->
          CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * $sgn) AS v
        FROM embeddings WHERE vec_id < 200),
      $stages
      SELECT vec_id, CAST(i AS INTEGER) AS dim_idx,
        CAST(v[CAST(i + 1 AS INT)] * (1e0 / sqrt(64e0)) AS REAL) AS value
      FROM (SELECT vec_id, v, unnest(range(0, 64)) AS i FROM s5)
      ORDER BY vec_id, dim_idx"""
    }) { (s, dir) =>
      // H·D/√d structured rotation (the PQ-decorrelation prepass):
      // fixed butterfly order in double, one scale multiply, cast back
      // to float — the oracle replays all six stages and the REAL cast
      // rounds to the same bits
      corpus(s, dir, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), posexplode(
          Similarity.fwhtRotate(col("embedding"), dim = 64)))
        .withColumnRenamed("pos", "dim_idx")
        .withColumnRenamed("col", "value")
        .orderBy("vec_id", "dim_idx")
    },
    // both rungs replayed (brute = gold, matryoshka = system), then the
    // rational metric joins: recall = hits/n_relevant, RR = 1/first-hit
    Query("ranking_metrics", s"""
      WITH e AS (SELECT vec_id, embedding, embedding[1:16] AS pre
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, pre AS qs
        FROM e WHERE vec_id < 10),
      bf AS (SELECT query_id, item_id FROM (
        SELECT query_id, c.vec_id AS item_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY ${cosineSql("qe", "c.embedding")} DESC,
              c.vec_id ASC) AS rn
        FROM e c, q WHERE query_id <> c.vec_id) WHERE rn <= 5),
      sc AS (SELECT query_id, c.vec_id AS item_id,
          ${cosineSql("qs", "c.pre")} AS coarse_cos,
          qe, c.embedding AS ce
        FROM e c, q WHERE query_id <> c.vec_id),
      cand AS (SELECT * FROM sc
        QUALIFY row_number() OVER (
          PARTITION BY query_id
          ORDER BY coarse_cos DESC, item_id ASC) <= 25),
      mat AS (SELECT query_id, item_id, rn AS rank FROM (
        SELECT query_id, item_id, row_number() OVER (
            PARTITION BY query_id
            ORDER BY ${cosineSql("qe", "ce")} DESC, item_id ASC) AS rn
        FROM cand) WHERE rn <= 5),
      nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant
        FROM bf GROUP BY query_id),
      m AS (SELECT r.query_id, CAST(count(*) AS BIGINT) AS hits,
          CAST(min(r.rank) AS INTEGER) AS first_hit_rank
        FROM mat r JOIN bf
          ON r.query_id = bf.query_id AND r.item_id = bf.item_id
        GROUP BY r.query_id)
      SELECT nrel.query_id, n_relevant,
        coalesce(hits, 0) AS hits,
        CAST(coalesce(hits, 0) AS DOUBLE) / n_relevant AS recall,
        first_hit_rank,
        CASE WHEN first_hit_rank IS NULL THEN 0e0
          ELSE 1e0 / first_hit_rank END AS reciprocal_rank
      FROM nrel LEFT JOIN m ON nrel.query_id = m.query_id
      ORDER BY nrel.query_id""") { (s, dir) =>
      // in-engine retrieval eval: the Matryoshka rung graded against
      // brute-force gold — per query recall@5, first-hit rank, RR; the
      // oracle replays BOTH rungs and the metric joins
      val e = corpus(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val truth = Similarity.bruteForceTopK(
        e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
      val result = Similarity.matryoshkaTopK(
        e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 5, coarseDims = 16, rerank = 5)
      Similarity.rankingMetrics(result, truth, k = 5).orderBy("query_id")
    },
    // greedy MMR replayed step-for-step: pool = brute top-8 (cosine
    // desc, id asc = the kernel's pool order), each recursion step
    // picks argmax of λ·rel − (1−λ)·max(0, maxSim(cand, selected))
    // with ties to the LOWEST pool index (the kernel's strict-> scan);
    // maxSim folds pairwise cosines seeded at 0.0, the same float ops
    // in the same order as MmrSelect.cos — mirrors Similarity.mmrTopK
    Query("similarity_mmr", {
      val lam = 0.7
      val oneMinus = 1.0 - lam
      def score(rel: String, maxsim: String) =
        s"$lam * $rel - $oneMinus * $maxsim"
      val maxsim = s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(s.sel_vecs, sv -> ${cosineSql("p.vec", "sv")})),
          (a, x) -> CASE WHEN x > a THEN x ELSE a END)"""
      s"""
      WITH RECURSIVE q AS (SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 5),
      pool AS (SELECT * FROM (
          SELECT query_id, item_id, cosine, vec, row_number() OVER (
              PARTITION BY query_id
              ORDER BY cosine DESC, item_id ASC) AS pidx
          FROM (SELECT q.query_id, e.vec_id AS item_id,
                  ${cosineSql("qv", "e.embedding")} AS cosine,
                  e.embedding AS vec
                FROM embeddings e, q WHERE q.query_id <> e.vec_id))
        WHERE pidx <= 8),
      sel AS (
        SELECT query_id, 1 AS step, [item_id] AS sel_ids,
               [vec] AS sel_vecs, item_id, cosine, score AS mmr
        FROM (SELECT *,
                ${score("cosine", "CAST(0 AS DOUBLE)")} AS score,
                row_number() OVER (PARTITION BY query_id ORDER BY
                  ${score("cosine", "CAST(0 AS DOUBLE)")} DESC,
                  pidx ASC) AS rn
              FROM pool) WHERE rn = 1
        UNION ALL
        SELECT query_id, step + 1, list_append(sel_ids, item_id),
               list_append(sel_vecs, vec), item_id, cosine, score
        FROM (SELECT s.query_id AS query_id, s.step AS step,
                s.sel_ids AS sel_ids, s.sel_vecs AS sel_vecs,
                p.item_id AS item_id, p.cosine AS cosine, p.vec AS vec,
                ${score("p.cosine", maxsim)} AS score,
                row_number() OVER (PARTITION BY s.query_id ORDER BY
                  ${score("p.cosine", maxsim)} DESC, p.pidx ASC) AS rn
              FROM sel s JOIN pool p ON p.query_id = s.query_id
                AND NOT list_contains(s.sel_ids, p.item_id)
              WHERE s.step < 4) WHERE rn = 1)
      SELECT query_id, CAST(step AS INTEGER) AS rank, item_id, cosine,
        mmr
      FROM sel ORDER BY query_id, rank"""
    }) { (s, dir) =>
      // MMR diversity re-rank: brute-force top-8 pool per query, then
      // greedy λ·rel − (1−λ)·max(0, maxSim) selection of 4 via the
      // native kernel — earliest-pool-index tie discipline replayed
      // step-for-step by the oracle's recursive CTE
      val e = corpus(s, dir, "embeddings")
      Similarity.mmrTopK(
        corpus = e, corpusId = "vec_id", corpusVec = "embedding",
        queries = e.filter(col("vec_id") < 5), queryId = "vec_id",
        queryVec = "embedding", k = 4, poolSize = 8, lambda = 0.7)
        .orderBy("query_id", "rank")
    },
    Query("similarity_lsh", s"""
      WITH bucketed AS (SELECT vec_id, embedding, ${lshBucketSql()} AS bucket
        FROM embeddings),
      cand AS (SELECT a.vec_id AS query_id, b.vec_id AS item_id,
        ${cosineSql("a.embedding", "b.embedding")} AS cosine
        FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket
        WHERE a.vec_id <> b.vec_id),
      ranked AS (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rn
        FROM cand)
      SELECT query_id, item_id, cosine, CAST(rn AS INTEGER) AS rank
      FROM ranked WHERE rn <= 3 ORDER BY query_id, rank""") { (s, dir) =>
      Similarity.lshTopK(corpus(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, planes = 6, dim = 64)
        .orderBy("query_id", "rank")
    },
    // two independent plane sets; directed candidate pairs deduplicated
    // by the UNION before the exact-cosine rerank — mirrors
    // Similarity.lshTopK(tables = 2)
    Query("similarity_lsh_multi", s"""
      WITH b0 AS (SELECT vec_id, embedding, ${lshBucketSql(0)} AS bucket
        FROM embeddings),
      b1 AS (SELECT vec_id, embedding, ${lshBucketSql(6)} AS bucket
        FROM embeddings),
      cand AS (
        SELECT a.vec_id AS query_id, b.vec_id AS item_id
        FROM b0 a JOIN b0 b ON a.bucket = b.bucket WHERE a.vec_id <> b.vec_id
        UNION
        SELECT a.vec_id, b.vec_id
        FROM b1 a JOIN b1 b ON a.bucket = b.bucket WHERE a.vec_id <> b.vec_id),
      scored AS (SELECT query_id, item_id,
        ${cosineSql("q.embedding", "c.embedding")} AS cosine
        FROM cand JOIN embeddings q ON cand.query_id = q.vec_id
                  JOIN embeddings c ON cand.item_id = c.vec_id),
      ranked AS (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rn
        FROM scored)
      SELECT query_id, item_id, cosine, CAST(rn AS INTEGER) AS rank
      FROM ranked WHERE rn <= 3 ORDER BY query_id, rank""") { (s, dir) =>
      Similarity.lshTopK(corpus(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, planes = 6, dim = 64, tables = 2)
        .orderBy("query_id", "rank")
    },
    Query("similarity_ivf", s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                 WHERE vec_id < 8),
      sc AS (SELECT e.vec_id AS id, e.embedding AS vec, cid,
               ${cosineSql("e.embedding", "cvec")} AS cs
             FROM embeddings e, c),
      rk AS (SELECT id, vec, cid, cs,
               row_number() OVER (PARTITION BY id ORDER BY cs DESC, cid ASC) AS rn
             FROM sc),
      assign AS (SELECT id, vec, cid FROM rk WHERE rn = 1),
      probe AS (SELECT id AS query_id, vec AS qv, cid FROM rk WHERE rn <= 2),
      cand AS (SELECT query_id, a.id AS item_id,
                 ${cosineSql("qv", "a.vec")} AS cosine
               FROM probe p JOIN assign a ON p.cid = a.cid
               WHERE query_id <> a.id),
      ranked AS (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS rn
        FROM cand)
      SELECT query_id, item_id, cosine, CAST(rn AS INTEGER) AS rank
      FROM ranked WHERE rn <= 3 ORDER BY query_id, rank""") { (s, dir) =>
      Similarity.ivfTopK(corpus(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, nCentroids = 8, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    Query("embedding_profile", embeddingProfileSql) { (s, dir) =>
      // per-dim health: dead dims waste PQ bits, nonzero means break
      // cosine/euclidean agreement — read before codebooks and cuts
      Similarity.embeddingProfile("embedding")(
        corpus(s, dir, "embeddings"))
    },
    Query("ann_recall_eval", ivfRecallEvalSql(k = 5, nCentroids = 8,
      maxQueryId = 10, nprobes = Seq(1, 2, 4))) { (s, dir) =>
      // IVF nprobe tuning table: recall@5 vs brute force for probe
      // widths 1/2/4 over one shared index build
      val e = corpus(s, dir, "embeddings")
      Similarity.ivfRecallEval(e, "vec_id", "embedding",
        queries = e.filter(col("vec_id") < 10), queryId = "vec_id",
        queryVec = "embedding",
        k = 5, nCentroids = 8, nprobes = Seq(1, 2, 4))
    },
    // IVF-ADC composition: coarse assignment = argmax cosine vs the 8
    // stand-in centroids (ties to the smaller cid — mirrors the
    // centroidAssign fold); queries (vec_id < 5) probe their top-2
    // cells; PQ codes / query LUT / ADC fold exactly as similarity_pq,
    // but the ADC join is RESTRICTED to probed-cell members; top-30
    // pool, exact-cosine rerank — mirrors Similarity.ivfPqTopK
    Query("similarity_ivf_pq", s"""
      WITH c AS (SELECT vec_id AS cid,
          row_number() OVER (ORDER BY vec_id) - 1 AS pos,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
          embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      sc AS (SELECT e.vec_id AS id, c.cid,
          ${cosineSql("e.embedding", "c.cvec")} AS cs
        FROM embeddings e, c),
      rk AS (SELECT id, cid, cs, row_number() OVER (
          PARTITION BY id ORDER BY cs DESC, cid ASC) AS rn FROM sc),
      assign AS (SELECT id, cid AS cell FROM rk WHERE rn = 1),
      probe AS (SELECT id AS query_id, cid AS cell FROM rk
        WHERE rn <= 2 AND id < 5),
      v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
          len(embedding) // 8 AS sub
        FROM embeddings),
      sl AS (SELECT v.vec_id, u.s, c.pos,
          v.dv[CAST(u.s * v.sub + 1 AS INT):CAST(u.s * v.sub + v.sub AS INT)] AS dvs,
          c.cv[CAST(u.s * v.sub + 1 AS INT):CAST(u.s * v.sub + v.sub AS INT)] AS cvs
        FROM v, unnest(range(0, 8)) u(s), c),
      d AS (SELECT vec_id, s, pos,
          ${foldSum("list_transform(range(1, len(dvs) + 1), j -> (dvs[CAST(j AS INT)] - cvs[CAST(j AS INT)]) * (dvs[CAST(j AS INT)] - cvs[CAST(j AS INT)]))")} AS dist
        FROM sl),
      codes AS (SELECT vec_id, s, pos AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY dist ASC, pos ASC) AS rn FROM d) t
        WHERE rn = 1),
      lt AS (SELECT vec_id AS query_id, s, pos,
          ${foldSum("list_transform(range(1, len(dvs) + 1), j -> dvs[CAST(j AS INT)] * cvs[CAST(j AS INT)])")} AS dp
        FROM sl WHERE vec_id < 5),
      cand0 AS (SELECT p.query_id, a.id AS item_id
        FROM probe p JOIN assign a ON p.cell = a.cell
        WHERE p.query_id <> a.id),
      adc AS (SELECT c0.query_id, c0.item_id,
          ${foldSum("list(lt.dp ORDER BY lt.s)")} AS adc_score
        FROM cand0 c0
        JOIN codes cd ON cd.vec_id = c0.item_id
        JOIN lt ON lt.query_id = c0.query_id
               AND lt.s = cd.s AND lt.pos = cd.code
        GROUP BY 1, 2),
      coarse AS (SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adc_score DESC, item_id ASC) AS cr FROM adc) t
        WHERE cr <= 30),
      rr AS (SELECT co.query_id, co.item_id, co.adc_score,
          ${cosineSql("qe.embedding", "ie.embedding")} AS cosine
        FROM coarse co
        JOIN embeddings qe ON qe.vec_id = co.query_id
        JOIN embeddings ie ON ie.vec_id = co.item_id)
      SELECT query_id, item_id, adc_score, cosine, CAST(rn AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, item_id ASC) AS rn FROM rr) t
      WHERE rn <= 3
      ORDER BY query_id, rank""") { (s, dir) =>
      // IVF-ADC: the composed 100 TB read path — probe the 2 of 8
      // coarse cells nearest each query, ADC-score ONLY those cells'
      // members from stored PQ codes, exact-cosine rerank the pool.
      // Both centroid frames are the oracle-reproducible stand-in
      // (first 8 vectors); production swaps kmeansCentroids /
      // pqCodebooks with every stage unchanged
      ivfPqStandin(s, dir, residual = false)
    },
    // residual IVF-PQ: same coarse assignment/probe CTEs; codes argmin
    // over RESIDUAL slices (v − assigned-cell center, per-element
    // double subtraction mirroring the zip_with); adc = the exact
    // q·center(cell) dot (one per probed (query, cell)) + the same
    // subspace-ordered LUT fold — mirrors ivfPqTopK(residual = true)
    Query("similarity_ivf_pq_res", s"""
      WITH c AS (SELECT vec_id AS cid,
          row_number() OVER (ORDER BY vec_id) - 1 AS pos,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
          embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      sc AS (SELECT e.vec_id AS id, c.cid,
          ${cosineSql("e.embedding", "c.cvec")} AS cs
        FROM embeddings e, c),
      rk AS (SELECT id, cid, cs, row_number() OVER (
          PARTITION BY id ORDER BY cs DESC, cid ASC) AS rn FROM sc),
      assign AS (SELECT id, cid AS cell FROM rk WHERE rn = 1),
      probe AS (SELECT id AS query_id, cid AS cell FROM rk
        WHERE rn <= 2 AND id < 5),
      v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
          len(embedding) // 8 AS sub
        FROM embeddings),
      rv AS (SELECT v.vec_id, v.sub,
          list_transform(range(1, len(v.dv) + 1), j ->
            v.dv[CAST(j AS INT)] - cc.cv[CAST(j AS INT)]) AS dv
        FROM v JOIN assign a ON a.id = v.vec_id
               JOIN c cc ON cc.cid = a.cell),
      slr AS (SELECT rv.vec_id, u.s, c.pos,
          rv.dv[CAST(u.s * rv.sub + 1 AS INT):CAST(u.s * rv.sub + rv.sub AS INT)] AS dvs,
          c.cv[CAST(u.s * rv.sub + 1 AS INT):CAST(u.s * rv.sub + rv.sub AS INT)] AS cvs
        FROM rv, unnest(range(0, 8)) u(s), c),
      d AS (SELECT vec_id, s, pos,
          ${foldSum("list_transform(range(1, len(dvs) + 1), j -> (dvs[CAST(j AS INT)] - cvs[CAST(j AS INT)]) * (dvs[CAST(j AS INT)] - cvs[CAST(j AS INT)]))")} AS dist
        FROM slr),
      codes AS (SELECT vec_id, s, pos AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY dist ASC, pos ASC) AS rn FROM d) t
        WHERE rn = 1),
      slq AS (SELECT v.vec_id, u.s, c.pos,
          v.dv[CAST(u.s * v.sub + 1 AS INT):CAST(u.s * v.sub + v.sub AS INT)] AS dvs,
          c.cv[CAST(u.s * v.sub + 1 AS INT):CAST(u.s * v.sub + v.sub AS INT)] AS cvs
        FROM v, unnest(range(0, 8)) u(s), c WHERE v.vec_id < 5),
      lt AS (SELECT vec_id AS query_id, s, pos,
          ${foldSum("list_transform(range(1, len(dvs) + 1), j -> dvs[CAST(j AS INT)] * cvs[CAST(j AS INT)])")} AS dp
        FROM slq),
      qc AS (SELECT p.query_id, p.cell,
          ${foldSum("list_transform(range(1, len(q.dv) + 1), j -> q.dv[CAST(j AS INT)] * cc.cv[CAST(j AS INT)])")} AS qcd
        FROM probe p JOIN c cc ON cc.cid = p.cell
                     JOIN v q ON q.vec_id = p.query_id),
      cand0 AS (SELECT p.query_id, a.id AS item_id, p.cell
        FROM probe p JOIN assign a ON p.cell = a.cell
        WHERE p.query_id <> a.id),
      adc AS (SELECT c0.query_id, c0.item_id,
          qc.qcd + ${foldSum("list(lt.dp ORDER BY lt.s)")} AS adc_score
        FROM cand0 c0
        JOIN codes cd ON cd.vec_id = c0.item_id
        JOIN lt ON lt.query_id = c0.query_id
               AND lt.s = cd.s AND lt.pos = cd.code
        JOIN qc ON qc.query_id = c0.query_id AND qc.cell = c0.cell
        GROUP BY c0.query_id, c0.item_id, qc.qcd),
      coarse AS (SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adc_score DESC, item_id ASC) AS cr FROM adc) t
        WHERE cr <= 30),
      rr AS (SELECT co.query_id, co.item_id, co.adc_score,
          ${cosineSql("qe.embedding", "ie.embedding")} AS cosine
        FROM coarse co
        JOIN embeddings qe ON qe.vec_id = co.query_id
        JOIN embeddings ie ON ie.vec_id = co.item_id)
      SELECT query_id, item_id, adc_score, cosine, CAST(rn AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, item_id ASC) AS rn FROM rr) t
      WHERE rn <= 3
      ORDER BY query_id, rank""") { (s, dir) =>
      // canonical IVF-PQ: codes encode the RESIDUAL v - center(cell),
      // ADC scores the exact q·center term plus the LUT'd q·residual —
      // the codebook's bits spend entirely on within-cell offsets
      ivfPqStandin(s, dir, residual = true)
    },
    // vectors fold in vec_id order from the first element (list_reduce),
    // cast to double first, divide at the end — the identical IEEE
    // addition sequence as Similarity.meanPool's sorted zip_with fold
    Query("mean_pool_embeddings", """
      WITH folded AS (SELECT label,
          list_reduce(
            list(list_transform(embedding, x -> CAST(x AS DOUBLE)) ORDER BY vec_id),
            (a, x) -> list_transform(range(1, len(a) + 1), i -> a[i] + x[i])) AS s,
          CAST(count(*) AS DOUBLE) AS n
        FROM embeddings GROUP BY label)
      SELECT label, CAST(u.i - 1 AS BIGINT) AS dim,
        s[CAST(u.i AS INT)] / n AS mean_val
      FROM folded, unnest(range(1, len(s) + 1)) u(i)
      ORDER BY label, dim""") { (s, dir) =>
      // chunk->embed->pool: per-label mean vector via a deterministic
      // sorted fold (one row per dimension, scalar-typed)
      Similarity.meanPool("vec_id", "embedding", "label")(
        corpus(s, dir, "embeddings"))
        .orderBy("label", "dim")
    },
    // float max is order-exact; both engines compare in float and cast
    // the winner to double at the end
    Query("max_pool_embeddings", """
      SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        CAST(max(v) AS DOUBLE) AS max_val
      FROM (SELECT label, unnest(embedding) AS v,
              unnest(range(1, len(embedding) + 1)) AS i
            FROM embeddings)
      GROUP BY label, i ORDER BY label, dim""") { (s, dir) =>
      // order-independent pooling: one hash-agg over the exploded dims,
      // no per-group collect
      Similarity.maxPool("embedding", "label")(
        corpus(s, dir, "embeddings"))
        .orderBy("label", "dim")
    },
    // top-5 neighbor selection identical to similarity_topk (vec_id < 50
    // queries), then one vote count per (query, label); the winner rule
    // (max votes, ties to the smallest label) mirrors Similarity.labelVote
    Query("knn_label", s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 50),
      scored AS (SELECT query_id, c.vec_id AS item_id,
        ${cosineSql("qe", "c.embedding")} AS cosine
        FROM embeddings c, q WHERE query_id <> c.vec_id),
      nn AS (SELECT query_id, item_id FROM scored
        QUALIFY row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) <= 5),
      votes AS (SELECT nn.query_id, e.label, CAST(count(*) AS BIGINT) AS votes
        FROM nn JOIN embeddings e ON nn.item_id = e.vec_id
        GROUP BY nn.query_id, e.label)
      SELECT query_id, label AS predicted_label, votes FROM votes
      QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY votes DESC, label ASC) = 1
      ORDER BY query_id""") { (s, dir) =>
      // kNN majority-vote labeling: queries labeled by their 5 nearest
      // corpus neighbors' labels, ties to the smallest label
      val e = corpus(s, dir, "embeddings")
      Similarity.knnClassify(e, "vec_id", "embedding", "label",
        queries = e.filter(col("vec_id") < 50), queryId = "vec_id",
        queryVec = "embedding", k = 5)
        .orderBy("query_id")
    },
    // centroids fold exactly like mean_pool_embeddings (vec_id-ordered
    // list_reduce — the identical IEEE addition sequence as meanPool),
    // then every vector routes to its max-cosine centroid, ties to the
    // smallest label — mirrors Similarity.centroidAssign's argmax fold
    Query("centroid_assign", s"""
      WITH folded AS (SELECT label,
          list_reduce(
            list(list_transform(embedding, x -> CAST(x AS DOUBLE)) ORDER BY vec_id),
            (a, x) -> list_transform(range(1, len(a) + 1), i -> a[i] + x[i])) AS s,
          CAST(count(*) AS DOUBLE) AS n
        FROM embeddings GROUP BY label),
      cent AS (SELECT label AS c_label,
          list_transform(range(1, len(s) + 1), i -> s[CAST(i AS INT)] / n) AS cv
        FROM folded),
      scored AS (SELECT e.vec_id, c.c_label,
          ${cosineSql("e.embedding", "c.cv")} AS centroid_cos
        FROM embeddings e, cent c)
      SELECT vec_id, c_label AS centroid_label, centroid_cos FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY centroid_cos DESC, c_label ASC) = 1
      ORDER BY vec_id""") { (s, dir) =>
      // nearest-class-mean routing: every vector to its best centroid
      val e = corpus(s, dir, "embeddings")
      Similarity.centroidAssign("embedding",
        Similarity.classCentroids("vec_id", "embedding", "label")(e),
        "label", "centroid")(e.select("vec_id", "embedding"))
        .select("vec_id", "centroid_label", "centroid_cos")
        .orderBy("vec_id")
    },
    // the sequential array-order fold both engines share makes the
    // norm, the division, and the float round-back bit-identical
    Query("l2_normalize", """
      SELECT vec_id, CAST(i AS INTEGER) AS dim,
        CASE WHEN norm = 0e0 THEN embedding[CAST(i + 1 AS INT)]
             ELSE CAST(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) / norm
               AS FLOAT) END AS unit_val
      FROM (SELECT vec_id, embedding,
              sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                (a, b) -> a + b)) AS norm,
              unnest(range(0, len(embedding))) AS i
            FROM embeddings)
      ORDER BY vec_id, dim""") { (s, dir) =>
      // unit-sphere normalization: the sequential array-order fold
      // makes the float norm (and every element) bit-exact cross-engine;
      // exploded to (vec_id, dim, unit_val) rows for the compare
      // pinned before the global sort: the range exchange's sampling
      // pass re-executed the per-vector normalization fold + explode
      // (measured 2 × ~0.9 s of the ~2 s cell); output bit-identical
      table(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(Similarity.l2Normalize(col("embedding"))))
        .select(col("vec_id"), col("pos").as("dim"),
          col("col").as("unit_val"))
        .localCheckpoint()
        .orderBy("vec_id", "dim")
    },
  )

  /** IVF-PQ top-3 for the first 5 vectors over the oracle-reproducible
    * stand-in centroids (the first 8 vectors) as both the coarse cells and
    * the PQ codebook: 2 of 8 cells probed, 8 subspaces, rerank pool 10. */
  private def ivfPqStandin(s: SparkSession, dir: String,
      residual: Boolean): DataFrame = {
    val e = corpus(s, dir, "embeddings")
    val cents = Similarity.standinCentroids(e, "vec_id", "embedding", 8)
    Similarity.ivfPqTopK(
      corpus = e, corpusId = "vec_id", corpusVec = "embedding",
      queries = e.filter(col("vec_id") < 5), queryId = "vec_id",
      queryVec = "embedding",
      coarseCentroids = cents, nprobe = 2,
      pqCentroids = cents, m = 8, k = 3, rerank = 10,
      residual = residual)
      .orderBy("query_id", "rank")
  }
}
