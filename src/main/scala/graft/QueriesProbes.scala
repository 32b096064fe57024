package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{BinaryOps, Dedup, Frequency, GraphOps, Similarity, TextOps}
import graft.ops.{Ops, TemporalOps, WindowOps}
import graft.probes.Probes

/** Data-quality probe and privacy queries. */
private[graft] object QueriesProbes {
  import SparkEntry.table
  import QueryHelpers._

  def registry: Seq[Query] = Seq(
    // mirrors Probes.quarantine: rule order = list order, false-or-NULL
    // violates, concat_ws drops the NULL (passing) slots
    Query("quarantine", """
      SELECT c_custkey,
        concat_ws(',',
          CASE WHEN coalesce(c_acctbal >= 0, false) THEN NULL
               ELSE 'acctbal_nonneg' END,
          CASE WHEN coalesce(c_mktsegment IN ('BUILDING', 'AUTOMOBILE',
                 'MACHINERY', 'HOUSEHOLD', 'FURNITURE'), false) THEN NULL
               ELSE 'segment_known' END,
          CASE WHEN coalesce(c_custkey < 1200, false) THEN NULL
               ELSE 'key_in_range' END) AS quarantine_reasons
      FROM customer ORDER BY c_custkey""") { (s, dir) =>
      // dead-letter split with reasons: every row annotated with the
      // rules it violates (false OR NULL = violation), '' = clean —
      // the quarantined stream carries WHY it was held
      Probes.quarantine(Seq(
        "acctbal_nonneg" -> (col("c_acctbal") >= 0),
        "segment_known" -> col("c_mktsegment")
          .isin("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD",
            "FURNITURE"),
        "key_in_range" -> (col("c_custkey") < 1200)))(
        SparkEntry.table(s, dir, "customer"))
        .select("c_custkey", "quarantine_reasons")
        .orderBy("c_custkey")
    },
    // independent + cumulative rule counters in one aggregation; quality
    // and dup-fraction expressions identical to quality_score /
    // repetition_stats — mirrors Probes.filterFunnel
    // one counting CTE, four check rows unioned; verdicts via the
    // identical one-multiply-per-side compare, fractions one division
    Query("quality_suite", """
      WITH a AS (SELECT CAST(count(*) AS BIGINT) AS total,
          CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
            THEN 1 ELSE 0 END) AS BIGINT) AS p0,
          CAST(sum(CASE WHEN l_discount <= 8e-2 THEN 1 ELSE 0 END)
            AS BIGINT) AS p1,
          CAST(sum(CASE WHEN l_tax IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS p2,
          CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS d0
        FROM lineitem)
      SELECT * FROM (
        SELECT 'qty_in_range' AS check_name, 'row' AS kind, total,
          p0 AS pass_count, CAST(p0 AS DOUBLE) / total AS pass_frac,
          1e0 AS threshold, CAST(p0 AS DOUBLE) >= 1e0 * total AS passed
        FROM a
        UNION ALL SELECT 'disc_low', 'row', total, p1,
          CAST(p1 AS DOUBLE) / total, 9e-1,
          CAST(p1 AS DOUBLE) >= 9e-1 * total FROM a
        UNION ALL SELECT 'tax_complete', 'row', total, p2,
          CAST(p2 AS DOUBLE) / total, 1e0,
          CAST(p2 AS DOUBLE) >= 1e0 * total FROM a
        UNION ALL SELECT 'line_key_distinct', 'distinctness', total, d0,
          CAST(d0 AS DOUBLE) / total, 95e-2,
          CAST(d0 AS DOUBLE) >= 95e-2 * total FROM a)
      ORDER BY check_name""") { (s, dir) =>
      // the Deequ-shaped contract report: three row checks with their
      // own minimum pass fractions + one key-distinctness check, all
      // in ONE scan; the fixture grades both verdict directions
      // (quantity/tax bars pass; the discount bar at 0.9 and the
      // line-key distinctness at 0.95 both FAIL — lineitem's
      // (l_orderkey, l_linenumber) is famously non-unique here)
      Probes.verificationSuite(
        rowChecks = Seq(
          ("qty_in_range",
            col("l_quantity") >= 1 && col("l_quantity") <= 50, 1.0),
          ("disc_low", col("l_discount") <= 0.08, 0.9),
          ("tax_complete", col("l_tax").isNotNull, 1.0)),
        distinctChecks = Seq(
          ("line_key_distinct", Seq("l_orderkey", "l_linenumber"), 0.95)))(
        table(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
          "l_quantity", "l_discount", "l_tax"))
        .orderBy("check_name")
    },
    // exact counts + the same one-division-per-share chain; chi2 is
    // the rational drift stat (ln-free, cross-engine exact)
    Query("category_drift", """
      WITH b AS (SELECT o_orderpriority AS value,
          CAST(count(*) AS BIGINT) AS nb
        FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1),
      a AS (SELECT o_orderpriority AS value,
          CAST(count(*) AS BIGINT) AS na
        FROM orders WHERE o_orderkey % 4 <> 0 GROUP BY 1),
      t AS (SELECT
          CAST((SELECT count(*) FROM orders WHERE o_orderkey % 3 <> 0)
            AS DOUBLE) AS tb,
          CAST((SELECT count(*) FROM orders WHERE o_orderkey % 4 <> 0)
            AS DOUBLE) AS ta),
      x AS (SELECT value,
          coalesce(nb, 0) AS n_before, coalesce(na, 0) AS n_after,
          CAST(coalesce(nb, 0) AS DOUBLE) / tb AS sb,
          CAST(coalesce(na, 0) AS DOUBLE) / ta AS sa
        FROM b FULL OUTER JOIN a USING (value) CROSS JOIN t)
      SELECT value, n_before, n_after, sb AS share_before,
        sa AS share_after, sa - sb AS share_delta,
        CASE WHEN sb = 0e0 THEN NULL
             ELSE (sa - sb) * (sa - sb) / sb END AS chi2_contrib
      FROM x ORDER BY value NULLS FIRST""") { (s, dir) =>
      // priority-mix drift between two derived order snapshots:
      // exact counts, one division per share, chi-square contributions
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
      Probes.categoryDrift("o_orderpriority")(
        o.filter(col("o_orderkey") % 3 =!= 0),
        o.filter(col("o_orderkey") % 4 =!= 0))
        .orderBy(col("value").asc_nulls_first)
    },
    Query("referential_integrity", """
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT)
          AS n_null_fk,
        CAST(count(*) FILTER (WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                 WHERE o_orderkey % 10 <> 0)) AS BIGINT)
          AS n_orphans
      FROM lineitem""") { (s, dir) =>
      // FK orphan probe: lineitem against a dimension with every 10th
      // order dropped — orphans counted, NULL FKs counted separately
      Probes.referentialIntegrity(Seq("l_orderkey"),
        table(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 0),
        Seq("o_orderkey"))(table(s, dir, "lineitem"))
    },
    Query("column_profile", """
      SELECT * FROM (
        SELECT 'o_orderkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
          CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
        FROM orders
        UNION ALL SELECT 'o_custkey', count(*),
          count(*) - count(o_custkey), count(DISTINCT o_custkey) FROM orders
        UNION ALL SELECT 'o_orderstatus', count(*),
          count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus)
        FROM orders
        UNION ALL SELECT 'o_orderpriority', count(*),
          count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority)
        FROM orders
        UNION ALL SELECT 'o_totalprice', count(*),
          count(*) - count(o_totalprice), count(DISTINCT o_totalprice)
        FROM orders)
      ORDER BY "column"""") { (s, dir) =>
      // the ingest `describe`: per-column rows/nulls/exact distincts in
      // one aggregation, exploded to rows with zero driver collects
      Probes.columnProfile(Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_totalprice"))(table(s, dir, "orders"))
        .orderBy("column")
    },
    Query("k_anonymity", """
      SELECT c_nationkey, c_mktsegment,
        CAST(count(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2 HAVING count(*) < 8
      ORDER BY 1, 2""") { (s, dir) =>
      // release-gate probe: equivalence classes under
      // (nation, segment) with fewer than 8 members
      Probes.kAnonymity(Seq("c_nationkey", "c_mktsegment"), k = 8)(
        table(s, dir, "customer"))
        .orderBy("c_nationkey", "c_mktsegment")
    },
    // mirrors Probes.labelAgreement over (lang, lang_pred): exact-count
    // confusion marginals, HUGEINT pe numerator (decimal(38,0) on the
    // Spark side), the same fixed division dag for po/pe/kappa
    Query("label_agreement", labelAgreementSql) { (s, dir) =>
      // Cohen's kappa between the stored lang label and the n-gram
      // heuristic's prediction: chance-corrected labeler agreement
      Probes.labelAgreement(col("lang"),
        TextOps.langId(col("text")))(corpus(s, dir, "documents"))
    },
    // mirrors Probes.scoreCalibration over the saturated en-stopword
    // score vs lang = 'en': 1e-9-quantized per-bin score sums (the
    // money-column discipline), bin-ordered ECE fold
    Query("score_calibration", scoreCalibrationSql) { (s, dir) =>
      // reliability table + ECE: does the saturated English-stopword
      // score mean what it claims about lang = 'en'?
      Probes.scoreCalibration(TextOps.stopwordScore(col("text")),
        col("lang") === "en", bins = 10)(corpus(s, dir, "documents"))
    },
    // mirrors Probes.patternProfile: the same three regex passes
    // (DuckDB needs the 'g' flag for replace-all), exact counts,
    // (count DESC, pattern) rank discipline, shares over the FULL
    // column before the topN cut
    Query("pattern_profile", {
      def shapeSql(e: String) =
        s"""coalesce(regexp_replace(regexp_replace(regexp_replace(
            CAST($e AS VARCHAR), '[A-Z]', 'A', 'g'),
            '[a-z]', 'a', 'g'), '[0-9]', '9', 'g'), '<null>')"""
      val legs = Seq("o_orderpriority", "o_orderstatus", "o_orderkey")
        .map(c => s"SELECT '$c' AS col, ${shapeSql(c)} AS pattern FROM orders")
        .mkString(" UNION ALL ")
      s"""
      WITH cells AS (SELECT col, pattern, CAST(count(*) AS BIGINT) AS n
        FROM ($legs) GROUP BY 1, 2),
      t AS (SELECT col, CAST(sum(n) AS BIGINT) AS tot FROM cells
        GROUP BY col),
      r AS (SELECT cells.col, pattern, n,
          CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
          CAST(row_number() OVER (PARTITION BY cells.col
            ORDER BY n DESC, pattern) AS INTEGER) AS rank
        FROM cells JOIN t ON t.col = cells.col)
      SELECT col AS "column", pattern, n, share, rank FROM r
      WHERE rank <= 10
      ORDER BY "column", rank"""
    }) { (s, dir) =>
      // value-SHAPE histograms: incompatible formats inside one column
      // show up as competing patterns (priority "9-AAAAAA", status "A",
      // orderkey shapes bucketed by digit count)
      Probes.patternProfile(
        Seq("o_orderpriority", "o_orderstatus", "o_orderkey"))(
        table(s, dir, "orders"))
        .orderBy("column", "rank")
    },
    // mirrors Probes.rankBiasedOverlap: same window rankings, matched
    // pairs enter every prefix from max(ra, rb), d-ordered weighted
    // fold with the identical driver-computed w_d literals
    Query("rank_biased_overlap", s"""
      WITH da AS (SELECT source AS q, doc_id AS i,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id) AS INT) AS ra
        FROM documents),
      db AS (SELECT source AS q, doc_id AS i,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY (n_chars % 1000) DESC, doc_id) AS INT) AS rb
        FROM documents),
      fa AS (SELECT * FROM da WHERE ra BETWEEN 1 AND 10),
      fb AS (SELECT * FROM db WHERE rb BETWEEN 1 AND 10),
      mm AS (SELECT fa.q, greatest(ra, rb) AS md
        FROM fa JOIN fb ON fa.q = fb.q AND fa.i = fb.i),
      x AS (SELECT q, CAST(dd.range AS INT) AS d,
          CAST(count(*) AS BIGINT) AS x
        FROM mm CROSS JOIN range(1, 11) dd
        WHERE dd.range >= md GROUP BY 1, 2),
      sc AS (SELECT q,
          max(CASE WHEN d = 10 THEN x ELSE CAST(0 AS BIGINT) END)
            AS overlap_at_depth,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(x AS DOUBLE) * (CASE d ${(1 to 10).map(dd =>
              s"WHEN $dd THEN ${litD((1.0 - 0.9) *
                math.pow(0.9, dd - 1) / dd)}").mkString(" ")}
              ELSE 0e0 END) ORDER BY d)), (a, y) -> a + y) AS rbo
        FROM x GROUP BY q),
      qs AS (SELECT DISTINCT q FROM
        (SELECT q FROM fa UNION ALL SELECT q FROM fb))
      SELECT qs.q AS source,
        coalesce(overlap_at_depth, CAST(0 AS BIGINT)) AS overlap_at_depth,
        coalesce(rbo, CAST(0 AS DOUBLE)) AS rbo
      FROM qs LEFT JOIN sc ON sc.q = qs.q
      ORDER BY source""") { (s, dir) =>
      // ranker-drift monitor: per source, does ranking docs by n_chars
      // agree with ranking by (n_chars mod 1000)? top-weighted overlap
      // at p=0.9, depth 10, driver-literal weights
      import org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "documents")
        .select("source", "doc_id", "n_chars")
      val byLen = d.withColumn("r", row_number().over(Window
        .partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))))
      val byMod = d.withColumn("r", row_number().over(Window
        .partitionBy("source")
        .orderBy((col("n_chars") % 1000).desc, col("doc_id"))))
      Probes.rankBiasedOverlap(byMod, "source", "doc_id", "r",
        p = 0.9, depth = 10)(byLen)
        .orderBy("source")
    },
    Query("fleiss_kappa", """
      WITH r AS (SELECT user_id % 200 AS i,
          CAST(event_type AS VARCHAR) AS l
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      cells AS (SELECT i, l, CAST(count(*) AS BIGINT) AS nij
        FROM r GROUP BY 1, 2),
      items AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ni,
          CAST(sum(nij * nij) AS BIGINT) AS s2 FROM cells GROUP BY 1),
      kept AS (SELECT i, ni,
          CAST(s2 - ni AS DOUBLE) / CAST(ni * (ni - 1) AS DOUBLE) AS pi
        FROM items WHERE ni >= 2),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
          CAST(sum(ni) AS BIGINT) AS n_ratings,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(pi ORDER BY i)), (a, x) -> a + x) AS psum
        FROM kept),
      marg AS (SELECT l, CAST(sum(nij) AS BIGINT) AS cj
        FROM cells JOIN kept USING (i) GROUP BY l),
      pe AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list((CAST(cj AS DOUBLE) / CAST(n_ratings AS DOUBLE))
            * (CAST(cj AS DOUBLE) / CAST(n_ratings AS DOUBLE))
            ORDER BY l)), (a, x) -> a + x) AS p_e
        FROM marg CROSS JOIN tot)
      SELECT n_items, n_ratings,
        psum / CAST(n_items AS DOUBLE) AS p_bar, p_e,
        CASE WHEN p_e = 1e0 THEN NULL
          ELSE (psum / CAST(n_items AS DOUBLE) - p_e) / (1e0 - p_e)
        END AS kappa
      FROM tot CROSS JOIN pe""") { (s, dir) =>
      // multi-rater agreement beyond Cohen's two: each user's events
      // are ratings of the user — variable n per item, the generalized
      // form; "do users stick to one event type" as chance-corrected κ
      Probes.fleissKappa((col("user_id") % 200), col("event_type"))(
        table(s, dir, "events"))
    },
    // mirrors Probes.fleissKappa: exact per-item/category counts,
    // item- and label-pinned folds, the fixed κ division dag
    // mirrors Probes.krippendorffAlpha: exact coincidence-matrix
    // integers, the one float fold (Σ_u A_u, item-pinned) replayed via
    // list_reduce from the same 0.0 seed, Σn_c² in HUGEINT→DOUBLE like
    // Spark's decimal(38,0)→double
    Query("krippendorff_alpha", """
      WITH r AS (SELECT user_id % 200 AS i,
          CAST(event_type AS VARCHAR) AS l
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      cells AS (SELECT i, l, CAST(count(*) AS BIGINT) AS nij
        FROM r GROUP BY 1, 2),
      items AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ni,
          CAST(sum(nij * (nij - 1)) AS BIGINT) AS agr FROM cells GROUP BY 1),
      kept AS (SELECT i, ni,
          CAST(agr AS DOUBLE) / CAST(ni - 1 AS DOUBLE) AS au
        FROM items WHERE ni >= 2),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
          CAST(sum(ni) AS BIGINT) AS nn,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(au ORDER BY i)), (a, x) -> a + x) AS aa
        FROM kept),
      marg AS (SELECT l, CAST(sum(nij) AS BIGINT) AS cj
        FROM cells JOIN kept USING (i) GROUP BY l),
      sq AS (SELECT CAST(sum(CAST(cj AS HUGEINT) * CAST(cj AS HUGEINT))
            AS DOUBLE) AS sumsq
        FROM marg),
      d AS (SELECT n_items, nn,
          (CAST(nn AS DOUBLE) - aa) / CAST(nn AS DOUBLE) AS d_o,
          (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - sumsq)
            / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1e0)) AS d_e
        FROM tot CROSS JOIN sq)
      SELECT n_items, nn AS n_ratings, d_o, d_e,
        CASE WHEN d_e <= 0e0 THEN NULL ELSE 1e0 - d_o / d_e END AS alpha
      FROM d""") { (s, dir) =>
      // the missing-data-robust agreement coefficient on the SAME
      // fixture as fleiss_kappa — α's pairing-without-replacement
      // chance term vs κ's marginal proportions; report both, alarm
      // on divergence
      Probes.krippendorffAlpha((col("user_id") % 200), col("event_type"))(
        table(s, dir, "events"))
    },
    // mirrors Probes.krippendorffAlphaWeighted (ordinal): exact
    // integer marginal cumulative masses, the 2δ carry squared through
    // HUGEINT like Spark's decimal(38,0), the two pinned float folds
    // ((i, va, vb)- and (va, vb)-ordered) replayed via list_reduce
    Query("krippendorff_ordinal", """
      WITH r AS (SELECT user_id % 200 AS i,
          CAST(least(greatest(CAST(floor(value / 5e1) AS BIGINT), 0), 5)
            AS DOUBLE) AS v
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      cells AS (SELECT i, v, CAST(count(*) AS BIGINT) AS nij
        FROM r GROUP BY 1, 2),
      items AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ni
        FROM cells GROUP BY 1 HAVING CAST(sum(nij) AS BIGINT) >= 2),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
          CAST(sum(ni) AS BIGINT) AS nn FROM items),
      kc AS (SELECT c.i, c.v, c.nij, it.ni
        FROM cells c JOIN items it USING (i)),
      marg AS (SELECT v, CAST(sum(nij) AS BIGINT) AS nc
        FROM kc GROUP BY v),
      mc AS (SELECT v, nc,
          CAST(sum(nc) OVER (ORDER BY v) AS BIGINT) AS cum FROM marg),
      pairs AS (SELECT a.v AS va, a.nc AS na, b.v AS vb, b.nc AS nb,
          CAST(CAST(2 * b.cum - 2 * a.cum + a.nc - b.nc AS HUGEINT)
               * (2 * b.cum - 2 * a.cum + a.nc - b.nc) AS DOUBLE) / 4e0
            AS w
        FROM mc a CROSS JOIN mc b WHERE a.v < b.v),
      esum AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(CAST(CAST(na AS HUGEINT) * nb AS DOUBLE) * w
            ORDER BY va, vb)), (x, y) -> x + y) AS es FROM pairs),
      ip AS (SELECT a.i, a.v AS va, a.nij AS ma, b.v AS vb,
          b.nij AS mb, a.ni
        FROM kc a JOIN kc b ON a.i = b.i AND a.v < b.v),
      op AS (SELECT ip.i, ip.va, ip.vb,
          CAST(ip.ma * ip.mb AS DOUBLE) * p.w
            / CAST(ip.ni - 1 AS DOUBLE) AS t
        FROM ip JOIN pairs p ON p.va = ip.va AND p.vb = ip.vb),
      osum AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(t ORDER BY i, va, vb)), (x, y) -> x + y) AS os FROM op),
      d AS (SELECT n_items, nn,
          2e0 * coalesce(os, 0e0) / CAST(nn AS DOUBLE) AS d_o,
          2e0 * coalesce(es, 0e0)
            / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1e0)) AS d_e
        FROM tot CROSS JOIN osum CROSS JOIN esum)
      SELECT n_items, nn AS n_ratings, d_o, d_e,
        CASE WHEN d_e <= 0e0 THEN NULL ELSE 1e0 - d_o / d_e END AS alpha
      FROM d""") { (s, dir) =>
      // Likert-shaped QA: a 0-5 rating carved from value, items =
      // rater pools (user_id % 200) — the δ²-weighted α where a
      // 4-vs-5 split is near-agreement and 0-vs-5 is a fight; rank
      // mass between categories, exact-integer 2δ carry
      Probes.krippendorffAlphaWeighted((col("user_id") % 200),
        least(greatest(floor(col("value") / 50.0), lit(0L)), lit(5L)),
        metric = "ordinal")(table(s, dir, "events"))
    },
    // mirrors Probes.bootstrapCI: the same md5-u32 Poisson draws
    // (integer cutoffs), HUGEINT weighted sums, (mean, rep)-ordered
    // percentile selection
    Query("bootstrap_ci", s"""
      WITH b AS (SELECT c_mktsegment AS g,
          CAST(c_custkey AS VARCHAR) AS k,
          CAST(round(c_acctbal * 1e9, 0) AS BIGINT) AS x9
        FROM customer
        WHERE c_acctbal IS NOT NULL AND c_custkey IS NOT NULL),
      o AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          CAST(CAST(sum(x9) AS HUGEINT) AS DOUBLE)
            / (CAST(count(*) AS DOUBLE) * 1e9) AS mean
        FROM b GROUP BY g),
      e AS (SELECT g, k, x9, CAST(r.rep AS INT) AS rep
        FROM b CROSS JOIN range(0, 100) r(rep)),
      u AS (SELECT g, rep, x9,
          ${md5u32Sql("k || '_' || CAST(rep AS VARCHAR)", "bs")} AS u32
        FROM e),
      w AS (SELECT g, rep, x9, ${poissonWeightSql("u32")} AS w FROM u),
      rm AS (SELECT g, rep, CAST(sum(w) AS BIGINT) AS sw,
          CAST(sum(CAST(w AS HUGEINT) * x9) AS HUGEINT) AS swx
        FROM w GROUP BY g, rep),
      m AS (SELECT g, rep,
          CAST(swx AS DOUBLE) / (CAST(sw AS DOUBLE) * 1e9) AS m
        FROM rm WHERE sw > 0),
      ci AS (SELECT g, CAST(count(*) AS BIGINT) AS reps,
          (list(m ORDER BY m, rep))[greatest(
            CAST(ceil(${litD(0.025)} * count(*) - 1e-9) AS INT), 1)]
            AS ci_low,
          (list(m ORDER BY m, rep))[greatest(
            CAST(ceil(${litD(0.975)} * count(*) - 1e-9) AS INT), 1)]
            AS ci_high
        FROM m GROUP BY g)
      SELECT o.g AS c_mktsegment, n, mean, reps, ci_low, ci_high
      FROM o JOIN ci ON o.g = ci.g
      ORDER BY c_mktsegment""") { (s, dir) =>
      // per-segment mean balance with an honest uncertainty band: 100
      // Poisson(1)-weighted resamples from deterministic md5 draws —
      // one explode, |groups|·reps shuffle rows, percentile interval
      Probes.bootstrapCI(col("c_custkey"), col("c_acctbal"),
        reps = 100, groupCols = Seq("c_mktsegment"))(
        table(s, dir, "customer"))
        .orderBy("c_mktsegment")
    },
    // mirrors Probes.permutationTest: md5 high-bit sign flips, exact
    // HUGEINT sums, integer |t| >= |obs| comparison, one final division
    Query("permutation_test", s"""$permutationTestSql
      ORDER BY event_type""") { (s, dir) =>
      // is each event type's mean value actually away from 20, or is
      // the gap noise? sign-flip resamples on exact integer sums; the
      // p-value is a ratio of exact counts
      // deterministic third of the stream: the op pays one md5 per
      // (row, rep) — reps x rows is the honest bill (r15b cell pins
      // reps-linearity); the harness keeps it a mid-weight cell
      Probes.permutationTest(col("event_id"), col("value"), lit(20.0),
        reps = 100, groupCols = Seq("event_type"))(
        table(s, dir, "events").filter(col("event_id") % 3 === 0))
        .orderBy("event_type")
    },
    // the composed label-QA report: kappa, ECE, and the source
    // feature's Cramér's V as one (metric, value) frame — each leg the
    // SHARED per-probe oracle body (label_agreement /
    // score_calibration) or the chi_square_select machinery verbatim,
    // so composition adds no new arithmetic to trust
    Query("label_qa", s"""
      WITH chi AS (
        WITH cells AS (SELECT
            coalesce(CAST(source AS VARCHAR), '__NULL__') AS v,
            CAST(lang = 'en' AS VARCHAR) AS l,
            CAST(count(*) AS BIGINT) AS o
          FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
        j AS (SELECT *,
            CAST(sum(o) OVER (PARTITION BY v) AS BIGINT) AS rt,
            CAST(sum(o) OVER (PARTITION BY l) AS BIGINT) AS ct,
            CAST(sum(o) OVER () AS BIGINT) AS n
          FROM cells),
        a AS (SELECT CAST(max(n) AS BIGINT) AS n,
            CAST(count(DISTINCT v) AS BIGINT) AS r,
            CAST(count(DISTINCT l) AS BIGINT) AS c,
            list_reduce(list_prepend(CAST(0 AS DOUBLE), list(
              CAST(o * o AS DOUBLE)
              / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
              ORDER BY v, l)), (x, y) -> x + y)
            - CAST(max(n) AS DOUBLE) AS chi2
          FROM j)
        SELECT CASE WHEN r < 2 OR c < 2 THEN NULL
            ELSE sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE))
          END AS cramers_v FROM a)
      SELECT metric, value FROM (
        SELECT 'cramers_v_source' AS metric, cramers_v AS value FROM chi
        UNION ALL
        SELECT 'ece', max(ece) FROM ($scoreCalibrationSql) __sc
        UNION ALL
        SELECT 'kappa', kappa FROM ($labelAgreementSql) __la)
      ORDER BY metric""") { (s, dir) =>
      // the composed label-QA report: labeler agreement (kappa), score
      // calibration (ECE), and a chi-square screen of the source
      // feature against the en label — one (metric, value) frame, the
      // three probes a labeling pipeline publishes together
      val d = corpus(s, dir, "documents")
      val kappa = Probes.labelAgreement(col("lang"),
        TextOps.langId(col("text")))(d)
        .select(lit("kappa").as("metric"), col("kappa").as("value"))
      val ece = Probes.scoreCalibration(TextOps.stopwordScore(col("text")),
        col("lang") === "en", bins = 10)(d)
        .agg(max(col("ece")).as("value"))
        .select(lit("ece").as("metric"), col("value"))
      val chi = Probes.chiSquareSelect(Seq("source"),
        col("lang") === "en")(d)
        .select(lit("cramers_v_source").as("metric"),
          col("cramers_v").as("value"))
      kappa.unionByName(ece).unionByName(chi).orderBy("metric")
    },
    // mirrors Probes.isotonicCalibration: per-bin exact (n, k) counts,
    // prefix sums, then the weighted-PAV min-max closed form
    // ŷ_b = max_{i≤b} min_{j≥b} (K_j−K_i)/(N_j−N_i) — every candidate
    // average ONE double division of exact integer differences, and
    // min/max of identical IEEE sets are order-free, so the fit
    // hash-matches Spark's array-fold form bit-for-bit
    Query("isotonic_calibration", s"""
      WITH s AS (SELECT
          greatest(least(CAST(floor(sc * 10) AS INT), 9), 0) AS bin,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM (SELECT lang,
            least(${stopRatio("['the','a','of','and','to','in','is']")}
              * CAST(5 AS DOUBLE), CAST(1 AS DOUBLE)) AS sc
          FROM documents) __sb
        WHERE sc IS NOT NULL AND lang IS NOT NULL),
      b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS k FROM s GROUP BY bin),
      p AS (SELECT bin, n, k,
          CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS pos,
          CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS nn,
          CAST(sum(k) OVER (ORDER BY bin) AS BIGINT) AS kk
        FROM b),
      pz AS (SELECT pos, nn, kk FROM p
        UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT)),
      m AS (SELECT b.pos AS bpos, i.pos AS ipos,
          min(CAST(j.kk - i.kk AS DOUBLE) / CAST(j.nn - i.nn AS DOUBLE))
            AS mn
        FROM p b JOIN pz i ON i.pos < b.pos JOIN p j ON j.pos >= b.pos
        GROUP BY 1, 2),
      c AS (SELECT bpos, max(mn) AS calibrated FROM m GROUP BY bpos)
      SELECT CAST(p.bin AS INTEGER) AS bin, p.n, p.k,
        CAST(p.k AS DOUBLE) / CAST(p.n AS DOUBLE) AS rate, c.calibrated
      FROM p JOIN c ON c.bpos = p.pos
      ORDER BY p.bin""") { (s, dir) =>
      // the FIX for what score_calibration reports: weighted PAV via
      // the min-max closed form — a monotone non-decreasing calibrated
      // probability per observed score bin
      Probes.isotonicCalibration(TextOps.stopwordScore(col("text")),
        col("lang") === "en", bins = 10)(corpus(s, dir, "documents"))
        .orderBy("bin")
    },
    // mirrors Probes.concentration: HUGEINT Σn_c², exact-count divisions
    Query("concentration", """
      WITH c AS (SELECT lang, source, count(*) AS nc FROM documents
        GROUP BY 1, 2),
      a AS (SELECT lang, CAST(sum(nc) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS categories,
          sum(CAST(nc AS HUGEINT) * CAST(nc AS HUGEINT)) AS s2
        FROM c GROUP BY 1)
      SELECT lang, n, categories,
        CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
          AS hhi,
        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(s2 AS DOUBLE)
          AS effective_categories
      FROM a ORDER BY lang""") { (s, dir) =>
      // is each language's corpus diverse or one-source-dominated?
      Probes.concentration(Seq("lang"), "source")(
        corpus(s, dir, "documents"))
        .orderBy("lang")
    },
    // mirrors Probes.gini: sorted-rank formula with the HUGEINT-exact
    // numerator; rank ties are sum-invariant (equal x, any order)
    Query("gini", """
      WITH r AS (SELECT source, n_chars,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY n_chars ASC) AS BIGINT) AS i
        FROM documents WHERE n_chars IS NOT NULL),
      a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
          sum(CAST(n_chars AS HUGEINT)) AS sx,
          sum(CAST(i * 2 AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS s2ix
        FROM r GROUP BY 1)
      SELECT source, n,
        CASE WHEN sx = 0 THEN NULL
             ELSE (CAST(s2ix AS DOUBLE)
                   - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) END AS gini
      FROM a ORDER BY source""") { (s, dir) =>
      // length inequality per source: does one doc own the tokens?
      Probes.gini(Seq("source"), "n_chars")(corpus(s, dir, "documents"))
        .orderBy("source")
    },
    // mirrors Probes.scoreCalibration with groupCols = source: per-group
    // bins and a per-group bin-ordered ECE fold
    Query("calibration_by_source", s"""
      WITH s AS (SELECT source,
          least(CAST(floor(sc * 5) AS INT), 4) AS bin,
          CAST(round(sc * 1e9, 0) AS BIGINT) AS s9,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM (SELECT source, lang,
            least(${stopRatio("['the','a','of','and','to','in','is']")}
              * CAST(5 AS DOUBLE), CAST(1 AS DOUBLE)) AS sc
          FROM documents) __sb
        WHERE sc IS NOT NULL AND lang IS NOT NULL),
      b AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(s9) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9)
            AS mean_score,
          CAST(sum(pos) AS DOUBLE) / count(*) AS pos_rate
        FROM s GROUP BY source, bin),
      g AS (SELECT source, bin, n, mean_score, pos_rate,
          abs(mean_score - pos_rate) AS gap FROM b),
      e AS (SELECT source, list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(n AS DOUBLE) * gap ORDER BY bin)), (a, x) -> a + x)
          / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) AS ece
        FROM g GROUP BY source)
      SELECT g.source, CAST(bin AS INTEGER) AS bin, n, mean_score,
        pos_rate, gap, ece
      FROM g JOIN e ON g.source = e.source
      ORDER BY g.source, bin""") { (s, dir) =>
      // which SOURCE is miscalibrated: the per-group drill-down of
      // score_calibration, one ECE verdict per source
      Probes.scoreCalibration(TextOps.stopwordScore(col("text")),
        col("lang") === "en", bins = 5, groupCols = Seq("source"))(
        corpus(s, dir, "documents"))
    },
    // mirrors Probes.confusionMatrix over (lang, lang_pred)
    Query("confusion_matrix", s"""
      WITH $langPredCteSql,
      conf AS (SELECT lang AS label_a, lang_pred AS label_b,
          count(*) AS n FROM pred
        WHERE lang IS NOT NULL AND lang_pred IS NOT NULL GROUP BY 1, 2),
      rt AS (SELECT label_a, CAST(sum(n) AS BIGINT) AS rtot FROM conf
        GROUP BY 1)
      SELECT label_a, label_b, n,
        CAST(n AS DOUBLE) / rtot AS row_share
      FROM conf JOIN rt USING (label_a)
      ORDER BY label_a, label_b""") { (s, dir) =>
      // WHERE the labelers disagree — label_agreement's drill-down
      Probes.confusionMatrix(col("lang"),
        TextOps.langId(col("text")))(corpus(s, dir, "documents"))
    },
    // identical bin arithmetic ((v − 0)·20/500, floor, clamp), spine
    // keeps empty bins, cumulative sums over the 20-row grid
    Query("numeric_drift", """
      WITH b AS (SELECT CAST(least(greatest(
            floor((value - 0e0) * 20 / 5e2), 0), 19) AS BIGINT) AS bin
          FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
      a AS (SELECT CAST(least(greatest(
            floor((value - 0e0) * 20 / 5e2), 0), 19) AS BIGINT) AS bin
          FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
      bc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_before
          FROM b GROUP BY bin),
      ac AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_after
          FROM a GROUP BY bin),
      t AS (SELECT CAST((SELECT count(*) FROM b) AS DOUBLE) AS tb,
                   CAST((SELECT count(*) FROM a) AS DOUBLE) AS ta),
      spine AS (SELECT CAST(unnest(range(0, 20)) AS BIGINT) AS bin),
      g AS (SELECT spine.bin,
          0e0 + spine.bin * 5e2 / 20 AS bin_lo,
          coalesce(n_before, 0) AS n_before,
          coalesce(n_after, 0) AS n_after, tb, ta
        FROM spine LEFT JOIN bc ON spine.bin = bc.bin
                   LEFT JOIN ac ON spine.bin = ac.bin, t),
      c AS (SELECT bin, bin_lo, n_before, n_after,
          CASE WHEN tb = 0e0 THEN NULL ELSE
            CAST(sum(n_before) OVER (ORDER BY bin ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / tb
          END AS cdf_before,
          CASE WHEN ta = 0e0 THEN NULL ELSE
            CAST(sum(n_after) OVER (ORDER BY bin ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / ta
          END AS cdf_after
        FROM g)
      SELECT bin, bin_lo, n_before, n_after, cdf_before, cdf_after,
        cdf_after - cdf_before AS cdf_delta,
        max(abs(cdf_after - cdf_before)) OVER () AS ks_stat
      FROM c ORDER BY bin""") { (s, dir) =>
      // two-sample KS on the bin grid: even vs odd event halves of the
      // value column over [0, 500) in 20 bins — per-bin ECDFs, the CDF
      // delta, and ks_stat = max |delta| on every row
      val ev = table(s, dir, "events")
      Probes.numericDrift("value", lo = 0.0, hi = 500.0, bins = 20)(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1))
        .orderBy("bin")
    },
    // generalize-then-suppress mirror: the window count replays the
    // keeper-class semi-join (NULL-safe by SQL GROUP/PARTITION
    // semantics — NULL bands form their own class on both engines)
    Query("k_anonymize", """
      WITH g AS (SELECT c_custkey, c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal / 500) AS BIGINT) * 500 AS c_acctbal
        FROM customer)
      SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal FROM g
      QUALIFY count(*) OVER (
        PARTITION BY c_mktsegment, c_acctbal) >= 8
      ORDER BY c_custkey""") { (s, dir) =>
      // the FIX for what k_anonymity reports: generalize the balance
      // to 500-wide bands (raw balances are near-unique — suppress-
      // only would drop almost everything), then suppress the rows
      // whose (segment, band) class is still under 8 — the released
      // view passes kAnonymity by construction (at sf0.01: 1472 rows
      // released, 28 suppressed — both paths live)
      Probes.kAnonymize(
        Seq("c_mktsegment", "c_acctbal"), k = 8,
        generalizations = Map("c_acctbal" ->
          (floor(col("c_acctbal") / 500) * 500)))(
        table(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"))
        .orderBy("c_custkey")
    },
    Query("l_diversity", """
      WITH c AS (SELECT c_nationkey,
          CAST(floor(c_acctbal / 2000) AS BIGINT) AS balance_band,
          c_mktsegment FROM customer)
      SELECT c_nationkey, balance_band,
        CAST(count(*) AS BIGINT) AS class_size,
        CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS distinct_sensitive
      FROM c GROUP BY 1, 2 HAVING count(DISTINCT c_mktsegment) < 4
      ORDER BY 1, 2""") { (s, dir) =>
      // homogeneity-attack probe: (nation, balance-band) classes whose
      // segment column carries < 4 distinct values
      Probes.lDiversity(Seq("c_nationkey", "balance_band"),
        "c_mktsegment", l = 4)(
        table(s, dir, "customer").withColumn("balance_band",
          floor(col("c_acctbal") / 2000)))
        .orderBy("c_nationkey", "balance_band")
    },
    Query("join_cardinality", """
      WITH l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS left_rows
          FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      r AS (SELECT o_custkey AS user_id,
          CAST(count(*) AS BIGINT) AS right_rows
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1)
      SELECT user_id, left_rows, right_rows,
        left_rows * right_rows AS out_rows
      FROM l JOIN r USING (user_id)
      ORDER BY out_rows DESC, user_id ASC LIMIT 15""") { (s, dir) =>
      // pre-flight skew check for an events⋈orders join on customer:
      // per-key exact output contribution, heaviest first
      Probes.joinCardinality(Seq("user_id"),
        table(s, dir, "orders"), Seq("o_custkey"), topN = 15)(
        table(s, dir, "events"))
    },
    // mirrors Probes.rocAuc: one row per (source, distinct score) with
    // exact (cnt, pos), strictly-lower cumulative via ONE window, then
    // the Mann–Whitney identity — all integers until the final division
    Query("roc_auc", """
      WITH b AS (SELECT source, n_chars AS s,
          CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS pos
        FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        GROUP BY source, n_chars),
      c AS (SELECT source, cnt, pos,
          CAST(coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY s ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cum
        FROM b),
      a AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS n_pos,
          CAST(sum(pos * (cum * 2 + cnt + 1)) AS BIGINT) AS s2
        FROM c GROUP BY source)
      SELECT source, n, n_pos, n - n_pos AS n_neg,
        CASE WHEN n_pos = 0 OR n_pos = n THEN NULL
          ELSE CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
            / CAST(n_pos * (n - n_pos) * 2 AS DOUBLE) END AS auc
      FROM a ORDER BY source""") { (s, dir) =>
      // does document length rank English docs above the rest, per
      // source? Mann–Whitney mid-rank AUC — integer ties everywhere,
      // the exact tie-handling exercise
      Probes.rocAuc(col("n_chars"), col("lang") === "en",
        groupCols = Seq("source"))(
        table(s, dir, "documents").select("source", "n_chars", "lang"))
        .orderBy("source")
    },
    // mirrors Probes.prAuc: tied scores are one block, each block's
    // term is ONE division of exact integer products, block sum is the
    // score-descending pinned fold, then one division by n_pos
    Query("pr_auc", """
      WITH b AS (SELECT source, n_chars AS s,
          CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS pos
        FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        GROUP BY source, n_chars),
      c AS (SELECT source, s, cnt, pos,
          CAST(sum(pos) OVER w AS BIGINT) AS cum_pos,
          CAST(sum(cnt) OVER w AS BIGINT) AS cum_cnt
        FROM b WINDOW w AS (PARTITION BY source ORDER BY s DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      a AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS n_pos,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(pos * cum_pos AS DOUBLE) / CAST(cum_cnt AS DOUBLE)
              ORDER BY s DESC)), (a, x) -> a + x) AS ap_sum
        FROM c GROUP BY source)
      SELECT source, n, n_pos,
        CASE WHEN n_pos = 0 THEN NULL
          ELSE ap_sum / CAST(n_pos AS DOUBLE) END AS ap
      FROM a ORDER BY source""") { (s, dir) =>
      // same signal under the rare-positive metric: step-interpolated
      // average precision, tied lengths land as one block
      Probes.prAuc(col("n_chars"), col("lang") === "en",
        groupCols = Seq("source"))(
        table(s, dir, "documents").select("source", "n_chars", "lang"))
        .orderBy("source")
    },
    // mirrors Probes.benfordDigits: floor-then-string first digit (no
    // float log10), exact-count shares, expected literals generated
    // from the same Scala math.log10 constants the operator embeds
    Query("benford_digits", s"""
      WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v
          FROM orders
          WHERE o_totalprice IS NOT NULL AND floor(o_totalprice) > 0
            AND floor(o_totalprice) < 9.223372036854776e18),
      d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
            AS digit,
          CAST(count(*) AS BIGINT) AS n
        FROM v GROUP BY 1),
      t AS (SELECT digit, n,
          CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS share,
          CASE digit ${(1 to 9).map(dg =>
            // %.17e scientific form: DuckDB types exponent literals as
            // DOUBLE (a plain decimal would land as DECIMAL and round)
            f"WHEN $dg THEN ${math.log10(1.0 + 1.0 / dg)}%.17e")
            .mkString(" ")} END AS expected
        FROM d)
      SELECT digit, n, share, expected, share - expected AS deviation
      FROM t ORDER BY digit""") { (s, dir) =>
      // fabricated-numbers screen on order totals: leading-digit
      // distribution vs Benford's law, log-free first-digit extraction
      Probes.benfordDigits(col("o_totalprice"))(
        table(s, dir, "orders"))
        .orderBy("digit")
    },
    // mirrors Probes.chiSquareSelect: exploded (feature, value, label)
    // cells, window marginals, the Σ o²/e − N identity (absent cells'
    // expected mass lands via the −N term) with e as ONE fused
    // division, (value, label)-ordered pinned fold, V = one sqrt
    Query("chi_square_select", """
      WITH cells AS (SELECT f, v, l, CAST(count(*) AS BIGINT) AS o
        FROM (
          SELECT o_orderpriority AS l, 'o_orderstatus' AS f,
            coalesce(CAST(o_orderstatus AS VARCHAR), '__NULL__') AS v
          FROM orders WHERE o_orderpriority IS NOT NULL
          UNION ALL
          SELECT o_orderpriority, 'band',
            coalesce(CAST(CAST(floor(o_totalprice / 50000) AS BIGINT)
              AS VARCHAR), '__NULL__')
          FROM orders WHERE o_orderpriority IS NOT NULL)
        GROUP BY 1, 2, 3),
      j AS (SELECT *,
          CAST(sum(o) OVER (PARTITION BY f, v) AS BIGINT) AS rt,
          CAST(sum(o) OVER (PARTITION BY f, l) AS BIGINT) AS ct,
          CAST(sum(o) OVER (PARTITION BY f) AS BIGINT) AS n
        FROM cells),
      a AS (SELECT f AS feature, CAST(max(n) AS BIGINT) AS n,
          CAST(count(DISTINCT v) AS BIGINT) AS r,
          CAST(count(DISTINCT l) AS BIGINT) AS c,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), list(
            CAST(o * o AS DOUBLE)
            / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
            ORDER BY v, l)), (x, y) -> x + y)
          - CAST(max(n) AS DOUBLE) AS chi2
        FROM j GROUP BY f)
      SELECT feature, n, chi2, (r - 1) * (c - 1) AS dof,
        CASE WHEN r < 2 OR c < 2 THEN NULL
          ELSE sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE))
        END AS cramers_v
      FROM a ORDER BY feature""") { (s, dir) =>
      // which order attributes move priority? chi2 + Cramér's V per
      // feature (status and a derived price band) in ONE corpus scan
      Probes.chiSquareSelect(Seq("o_orderstatus", "band"),
        col("o_orderpriority"))(
        table(s, dir, "orders").withColumn("band",
          floor(col("o_totalprice") / 50000)))
        .orderBy("feature")
    },
    // mirrors Probes.proportionCI: exact counts into the verbatim
    // Wilson expression tree (z and z² as litD'd Scala constants)
    Query("proportion_ci", s"""
      WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS successes
        FROM documents WHERE lang IS NOT NULL GROUP BY source),
      b AS (SELECT source, n, successes,
          CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
          CAST(n AS DOUBLE) AS nd FROM a),
      c AS (SELECT *,
          (p + ${litD(1.96 * 1.96)} / (CAST(2 AS DOUBLE) * nd))
            / (CAST(1 AS DOUBLE) + ${litD(1.96 * 1.96)} / nd) AS center,
          (${litD(1.96)} * sqrt(p * (CAST(1 AS DOUBLE) - p) / nd
              + ${litD(1.96 * 1.96)} / (CAST(4 AS DOUBLE) * nd * nd)))
            / (CAST(1 AS DOUBLE) + ${litD(1.96 * 1.96)} / nd) AS half
        FROM b)
      SELECT source, n, successes, p AS rate,
        center - half AS ci_low, center + half AS ci_high
      FROM c ORDER BY source""") { (s, dir) =>
      // per-source English rate with Wilson 95% bounds — the honest
      // slice dashboard (25-doc sources get wide intervals)
      Probes.proportionCI(col("lang") === "en", Seq("source"))(
        table(s, dir, "documents"))
        .orderBy("source")
    },
    // mirrors Probes.tCloseness: exact-count shares, the absent-value
    // mass folded via (1 − Σ p_global) — both sums value-ordered folds
    Query("t_closeness", """
      WITH base AS (SELECT c_nationkey,
          CAST(floor(c_acctbal / 2000) AS BIGINT) AS balance_band,
          c_mktsegment AS v FROM customer WHERE c_mktsegment IS NOT NULL),
      g AS (SELECT v, CAST(count(*) AS BIGINT) AS gn FROM base GROUP BY v),
      gt AS (SELECT CAST(sum(gn) AS BIGINT) AS gt FROM g),
      cells AS (SELECT c_nationkey, balance_band, v,
          CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2, 3),
      j AS (SELECT cells.*, CAST(gn AS DOUBLE) / CAST(gt AS DOUBLE) AS pg
        FROM cells JOIN g USING (v) CROSS JOIN gt),
      wn AS (SELECT *, CAST(sum(c) OVER (PARTITION BY c_nationkey,
          balance_band) AS BIGINT) AS nq FROM j),
      f AS (SELECT c_nationkey, balance_band,
          CAST(max(nq) AS BIGINT) AS n,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(abs(CAST(c AS DOUBLE) / CAST(nq AS DOUBLE) - pg)
              ORDER BY v)), (a, x) -> a + x) AS s1,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(pg ORDER BY v)), (a, x) -> a + x) AS s2
        FROM wn GROUP BY 1, 2)
      SELECT c_nationkey, balance_band, n,
        (s1 + (CAST(1 AS DOUBLE) - s2)) / CAST(2 AS DOUBLE)
          AS t_closeness
      FROM f ORDER BY 1, 2""") { (s, dir) =>
      // skew-leak gate past k-anonymity/l-diversity: per (nation,
      // balance-band) class, TV distance of the segment distribution
      // from the global one
      Probes.tCloseness(Seq("c_nationkey", "balance_band"),
        "c_mktsegment")(
        table(s, dir, "customer").withColumn("balance_band",
          floor(col("c_acctbal") / 2000)))
        .orderBy("c_nationkey", "balance_band")
    },
    // mirrors Probes.spearmanCorr: exact 2·avg-rank integers
    // (2·rank_min + ties − 1) from the same two windows, HUGEINT sums
    // like Spark's decimal(38,0), then the one fixed cast-then-combine
    // double dag with its zero-variance → NULL guard
    Query("spearman_corr", """
      WITH b AS (SELECT event_type AS g, value AS x,
          CAST(floor(value) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL),
      r AS (SELECT g,
          CAST(2 * rank() OVER (PARTITION BY g ORDER BY x)
            + count(*) OVER (PARTITION BY g, x) - 1 AS HUGEINT) AS rx,
          CAST(2 * rank() OVER (PARTITION BY g ORDER BY y)
            + count(*) OVER (PARTITION BY g, y) - 1 AS HUGEINT) AS ry
        FROM b),
      a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          sum(rx) AS sx, sum(ry) AS sy, sum(rx * rx) AS sxx,
          sum(ry * ry) AS syy, sum(rx * ry) AS sxy
        FROM r GROUP BY g)
      SELECT g AS event_type, n,
        CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              > CAST(0 AS DOUBLE)
            AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              > CAST(0 AS DOUBLE)
          THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        END AS rho
      FROM a ORDER BY event_type""") { (s, dir) =>
      // monotonic agreement per event type between the raw value and
      // its integer floor — the floor side is ALL ties inside each
      // unit interval, exercising the average-rank path the exact
      // 2·rank integers carry; expected high-but-not-1 rho
      Probes.spearmanCorr("event_type", "value", "vfloor")(
        table(s, dir, "events").withColumn("vfloor", floor(col("value"))))
        .orderBy("event_type")
    },
    // mirrors Probes.kendallTau: the same i<j pair frame, exact
    // C/D/tie counts, the fixed n0/dx/dy double dag with its
    // zero-denominator → NULL guard
    Query("kendall_tau", """
      WITH b AS (SELECT source AS g, doc_id AS i, n_chars AS x,
          n_chars % 1000 AS y FROM documents
        WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
      sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY g),
      p AS (SELECT a.g AS g,
          CASE WHEN a.x < c.x THEN 1 WHEN a.x > c.x THEN -1 ELSE 0
            END AS sx,
          CASE WHEN a.y < c.y THEN 1 WHEN a.y > c.y THEN -1 ELSE 0
            END AS sy
        FROM b a JOIN b c ON a.g = c.g AND a.i < c.i),
      ag AS (SELECT g,
          CAST(sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS c,
          CAST(sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END)
            AS BIGINT) AS d,
          CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
          CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
        FROM p GROUP BY g),
      f AS (SELECT sz.g AS g, sz.n AS n,
          coalesce(c, CAST(0 AS BIGINT)) AS concordant,
          coalesce(d, CAST(0 AS BIGINT)) AS discordant,
          CAST(sz.n AS DOUBLE) * CAST(sz.n - 1 AS DOUBLE)
            / CAST(2 AS DOUBLE)
            - CAST(coalesce(tx, CAST(0 AS BIGINT)) AS DOUBLE) AS dx,
          CAST(sz.n AS DOUBLE) * CAST(sz.n - 1 AS DOUBLE)
            / CAST(2 AS DOUBLE)
            - CAST(coalesce(ty, CAST(0 AS BIGINT)) AS DOUBLE) AS dy
        FROM sz LEFT JOIN ag ON ag.g = sz.g)
      SELECT g AS source, n, concordant, discordant,
        CASE WHEN dx > CAST(0 AS DOUBLE) AND dy > CAST(0 AS DOUBLE)
          THEN (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
            / (sqrt(dx) * sqrt(dy))
        END AS tau_b
      FROM f ORDER BY source""") { (s, dir) =>
      // pair-level agreement of the two rankers rank_biased_overlap
      // compares listwise: per source, does n_chars order agree with
      // n_chars mod 1000? bounded eval slices, explicit O(n^2) pairs
      Probes.kendallTau("source", "doc_id", "n_chars", "nmod")(
        table(s, dir, "documents")
          .withColumn("nmod", col("n_chars") % 1000))
        .orderBy("source")
    },
    // mirrors Probes.mannWhitneyU: the same 2·avg-rank integer carry
    // as spearman_corr, exact HUGEINT 2U_A and tie sums, then the
    // fixed u/auc/z double dags with their empty-side/zero-variance
    // NULL guards
    Query("mann_whitney", """
      WITH b AS (SELECT event_type AS g, (user_id % 2 = 0) AS a, value AS x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      r AS (SELECT g, a,
          CAST(2 * rank() OVER (PARTITION BY g ORDER BY x)
            + count(*) OVER (PARTITION BY g, x) - 1 AS HUGEINT) AS r2,
          CAST(count(*) OVER (PARTITION BY g, x)
            * count(*) OVER (PARTITION BY g, x) - 1 AS HUGEINT) AS tt
        FROM b),
      ag AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
          sum(CASE WHEN a THEN r2 ELSE CAST(0 AS HUGEINT) END) AS r2a,
          sum(tt) AS ties
        FROM r GROUP BY g),
      f AS (SELECT g, n, na, n - na AS nb,
          r2a - CAST(na AS HUGEINT) * CAST(na + 1 AS HUGEINT) AS u2,
          ties
        FROM ag),
      v AS (SELECT *,
          CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(12 AS DOUBLE)
            * ((CAST(n AS DOUBLE) + CAST(1 AS DOUBLE))
              - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE)
                * (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE))))
            AS variance
        FROM f)
      SELECT g AS event_type, na AS n_a, nb AS n_b,
        CASE WHEN na > 0 AND nb > 0
          THEN CAST(u2 AS DOUBLE) / CAST(2 AS DOUBLE) END AS u_a,
        CASE WHEN na > 0 AND nb > 0
          THEN CAST(u2 AS DOUBLE) / (CAST(2 AS DOUBLE)
            * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS auc,
        CASE WHEN na > 0 AND nb > 0
          THEN CAST(u2 AS DOUBLE)
            / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
            - CAST(1 AS DOUBLE) END AS cliffs_delta,
        CASE WHEN na > 0 AND nb > 0 AND variance > CAST(0 AS DOUBLE)
          THEN CAST(u2 - CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)
              AS DOUBLE)
            / (CAST(2 AS DOUBLE) * sqrt(variance)) END AS z
      FROM v ORDER BY event_type""") { (s, dir) =>
      // does the even-user half's value distribution sit above the odd
      // half's, per event type? rank-exact U / AUC / tie-corrected z —
      // the nonparametric two-sample test beside the binned
      // numeric_drift
      Probes.mannWhitneyU(col("user_id") % 2 === 0, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.brunnerMunzel: TWO tie-averaged 2-rank carries
    // (pooled + within-side), exact HUGEINT placement sums, per-side
    // variances and the rank-mean gap off exact integers, the fixed
    // statistic/df dags with the complete-separation NULL guard
    Query("brunner_munzel", """
      WITH b AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
          value AS x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      r AS (SELECT g, a,
          CAST(2 * rank() OVER (PARTITION BY g ORDER BY x)
            + count(*) OVER (PARTITION BY g, x) - 1 AS HUGEINT) AS rp,
          CAST(2 * rank() OVER (PARTITION BY g, a ORDER BY x)
            + count(*) OVER (PARTITION BY g, a, x) - 1 AS HUGEINT)
            AS rw
        FROM b),
      d AS (SELECT g, a, rp, rp - rw AS dd FROM r),
      ag AS (SELECT g,
          CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
          sum(CASE WHEN a THEN rp ELSE CAST(0 AS HUGEINT) END) AS s2ra,
          sum(CASE WHEN NOT a THEN rp ELSE CAST(0 AS HUGEINT) END)
            AS s2rb,
          sum(CASE WHEN a THEN dd ELSE CAST(0 AS HUGEINT) END) AS sda,
          sum(CASE WHEN NOT a THEN dd ELSE CAST(0 AS HUGEINT) END)
            AS sdb,
          sum(CASE WHEN a THEN dd * dd ELSE CAST(0 AS HUGEINT) END)
            AS sdda,
          sum(CASE WHEN NOT a THEN dd * dd ELSE CAST(0 AS HUGEINT) END)
            AS sddb
        FROM d GROUP BY g),
      v AS (SELECT g, na, nb,
          CAST(CAST(na AS HUGEINT) * sdda - sda * sda AS DOUBLE)
            / (4e0 * CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1e0))
            AS va,
          CAST(CAST(nb AS HUGEINT) * sddb - sdb * sdb AS DOUBLE)
            / (4e0 * CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1e0))
            AS vb,
          CAST(s2ra * CAST(nb AS HUGEINT) - s2rb * CAST(na AS HUGEINT)
            AS DOUBLE)
            / (2e0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS mdiff,
          CAST(s2ra AS DOUBLE) AS s2rad
        FROM ag),
      f AS (SELECT g, na, nb, va, vb, mdiff, s2rad,
          CAST(na AS DOUBLE) * va + CAST(nb AS DOUBLE) * vb AS pv
        FROM v)
      SELECT g AS event_type, na AS n_a, nb AS n_b,
        CASE WHEN na > 0 AND nb > 0 THEN
          (s2rad / (2e0 * CAST(na AS DOUBLE))
            - (CAST(na AS DOUBLE) + 1e0) / 2e0) / CAST(nb AS DOUBLE)
          END AS p_hat,
        CASE WHEN na >= 2 AND nb >= 2 AND pv > 0e0 THEN
          CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * mdiff
            / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) * sqrt(pv))
          END AS statistic,
        CASE WHEN na >= 2 AND nb >= 2 AND pv > 0e0 THEN
          (pv * pv)
            / ((CAST(na AS DOUBLE) * va) * (CAST(na AS DOUBLE) * va)
                / (CAST(na AS DOUBLE) - 1e0)
              + (CAST(nb AS DOUBLE) * vb) * (CAST(nb AS DOUBLE) * vb)
                / (CAST(nb AS DOUBLE) - 1e0)) END AS df
      FROM f ORDER BY event_type""") { (s, dir) =>
      // the heteroscedastic companion of mann_whitney on the SAME
      // split: the same P(A>B) effect, but studentized with per-side
      // empirical placement variances (nonparametric Behrens-Fisher),
      // with the rational Welch df emitted for exact t gating
      Probes.brunnerMunzel(col("user_id") % 2 === 0, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.hodgesLehmann: the A×B cross-pair differences,
    // the mann_whitney tie-corrected Var(U) off pooled tie masses
    // (Var(S) = 4·Var(U)), the theil_sen_ci outward-rounded rank
    // limits clamped to [1, N], the same two-middle-ranks median
    Query("hodges_lehmann", s"""
      WITH b AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
          event_id AS i, value AS x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND event_id IS NOT NULL AND event_id % 20 = 0),
      sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM b GROUP BY g),
      tt0 AS (SELECT g, CAST(count(*) AS HUGEINT) AS tc
        FROM b GROUP BY g, x),
      tt AS (SELECT g, sum(tc * tc * tc - tc) AS t3
        FROM tt0 GROUP BY g),
      v AS (SELECT sz.g, na, nb, na * nb AS np,
          CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12e0
            * ((CAST(na + nb AS DOUBLE) + 1e0)
              - CAST(coalesce(t3, CAST(0 AS HUGEINT)) AS DOUBLE)
                / (CAST(na + nb AS DOUBLE)
                  * (CAST(na + nb AS DOUBLE) - 1e0))) AS varu
        FROM sz LEFT JOIN tt ON tt.g = sz.g),
      bd AS (SELECT g, na, nb, np,
          CASE WHEN np > 0 AND varu > 0e0 THEN
            greatest(CAST(1 AS BIGINT), CAST(floor(
              (CAST(np AS DOUBLE)
                - ${litD(1.96)} * sqrt(4e0 * varu)) / 2e0)
              AS BIGINT)) END AS rlo,
          CASE WHEN np > 0 AND varu > 0e0 THEN
            least(np, CAST(floor(
              (CAST(np AS DOUBLE)
                + ${litD(1.96)} * sqrt(4e0 * varu)) / 2e0)
              AS BIGINT) + 1) END AS rhi,
          (np + 1) // 2 AS md1, np // 2 + 1 AS md2
        FROM v),
      p AS (SELECT aa.g AS g, aa.i AS ia, bb.i AS ib, aa.x - bb.x AS d
        FROM b aa JOIN b bb ON aa.g = bb.g AND aa.a AND NOT bb.a),
      pr AS (SELECT g, d,
          CAST(row_number() OVER (PARTITION BY g ORDER BY d, ia, ib)
            AS BIGINT) AS rn
        FROM p),
      sel AS (SELECT pr.g,
          min(CASE WHEN rn = rlo THEN d END) AS dlo,
          min(CASE WHEN rn = rhi THEN d END) AS dhi,
          min(CASE WHEN rn = md1 THEN d END) AS dm1,
          min(CASE WHEN rn = md2 THEN d END) AS dm2
        FROM pr JOIN bd ON bd.g = pr.g GROUP BY pr.g)
      SELECT bd.g AS event_type, na AS n_a, nb AS n_b, np AS n_pairs,
        (dm1 + dm2) / 2e0 AS shift, dlo AS shift_lo, dhi AS shift_hi
      FROM bd LEFT JOIN sel ON sel.g = bd.g ORDER BY event_type""") { (s, dir) =>
      // mann_whitney said the even half sits higher — by HOW MUCH,
      // in value units, with brackets? the median of all cross-pair
      // differences with its distribution-free rank CI, on the 1/20
      // slice (the op's bounded-slice contract): rank-selected limits
      // off the MWU tie-corrected variance, outward rounding
      Probes.hodgesLehmann(col("user_id") % 2 === 0, col("value"),
        "event_id", Seq("event_type"))(
        table(s, dir, "events")
          .filter(col("event_id") % 20 === 0 &&
            col("user_id").isNotNull))
        .orderBy("event_type")
    },
    // mirrors Probes.ksTest: per-(group, value) side counts, window
    // cumsums, the EXACT HUGEINT |cumA·nB − cumB·nA| numerator, max
    // then ONE division; ks_at = min value attaining the sup
    Query("ks_2sample", """
      WITH b AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
          CAST(value AS DOUBLE) AS x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      c AS (SELECT g, x,
          CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM b GROUP BY g, x),
      s AS (SELECT g, x,
          CAST(sum(ca) OVER (PARTITION BY g ORDER BY x) AS HUGEINT)
            AS cumA,
          CAST(sum(cb) OVER (PARTITION BY g ORDER BY x) AS HUGEINT)
            AS cumB,
          CAST(sum(ca) OVER (PARTITION BY g) AS BIGINT) AS na,
          CAST(sum(cb) OVER (PARTITION BY g) AS BIGINT) AS nb
        FROM c),
      nm AS (SELECT g, x, na, nb,
          abs(cumA * CAST(nb AS HUGEINT) - cumB * CAST(na AS HUGEINT))
            AS num
        FROM s),
      m AS (SELECT g, max(na) AS na, max(nb) AS nb,
          max(num) AS ksnum FROM nm GROUP BY g),
      att AS (SELECT nm.g, min(nm.x) AS at_x
        FROM nm JOIN m ON nm.g = m.g AND nm.num = m.ksnum GROUP BY nm.g)
      SELECT m.g AS event_type, na AS n_a, nb AS n_b,
        CASE WHEN na > 0 AND nb > 0
          THEN CAST(ksnum AS DOUBLE)
            / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS ks_stat,
        CASE WHEN na > 0 AND nb > 0 THEN at_x END AS ks_at
      FROM m JOIN att ON att.g = m.g ORDER BY event_type""") { (s, dir) =>
      // the RANK-EXACT sup-of-ECDF-gap per event type over the same
      // even/odd split — true D (not numeric_drift's bin-grid lower
      // bound) plus where the distributions pull apart
      Probes.ksTest(col("user_id") % 2 === 0, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.wilcoxonSignedRank: per-row double differences,
    // zero diffs counted then dropped, the exact 2·rank tie carry over
    // |d| in HUGEINT, num4 = 4W+ − n(n+1) and the tie-corrected
    // variance numerator V = 2n(n+1)(2n+1) − Σ(t³−t) exact, float only
    // at the final divisions and one sqrt
    Query("wilcoxon_signed_rank", """
      WITH b AS (SELECT event_type AS g,
          CAST(value AS DOUBLE) - CAST(event_id % 400 AS DOUBLE) AS d
        FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
      tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN d = 0e0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_zero
        FROM b GROUP BY g),
      nz AS (SELECT g, d, abs(d) AS ad FROM b WHERE d <> 0e0),
      r AS (SELECT g, d,
          CAST(2 * rank() OVER (PARTITION BY g ORDER BY ad)
            + count(*) OVER (PARTITION BY g, ad) - 1 AS HUGEINT) AS r2,
          CAST(count(*) OVER (PARTITION BY g, ad)
            * count(*) OVER (PARTITION BY g, ad) - 1 AS HUGEINT) AS tt
        FROM nz),
      ag AS (SELECT g, CAST(count(*) AS BIGINT) AS nn,
          sum(CASE WHEN d > 0e0 THEN r2 ELSE CAST(0 AS HUGEINT) END)
            AS r2p,
          sum(tt) AS ties
        FROM r GROUP BY g),
      f AS (SELECT tot.g, n_pairs, n_zero,
          coalesce(nn, CAST(0 AS BIGINT)) AS n, r2p, ties
        FROM tot LEFT JOIN ag ON tot.g = ag.g),
      v AS (SELECT g, n_pairs, n_zero, n, r2p, ties,
          2 * r2p - CAST(n AS HUGEINT) * CAST(n + 1 AS HUGEINT) AS num4,
          2 * CAST(n AS HUGEINT) * CAST(n + 1 AS HUGEINT)
            * CAST(2 * n + 1 AS HUGEINT) - ties AS vnum
        FROM f)
      SELECT g AS event_type, n_pairs, n_zero, n,
        CASE WHEN n > 0 THEN CAST(r2p AS DOUBLE) / 2e0 END AS w_plus,
        CASE WHEN n > 0 THEN CAST(CAST(n AS HUGEINT)
            * CAST(n + 1 AS HUGEINT) - r2p AS DOUBLE) / 2e0 END
          AS w_minus,
        CASE WHEN n > 0 THEN CAST(num4 AS DOUBLE)
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1e0)) END
          AS rank_biserial,
        CASE WHEN n > 0 AND vnum > 0 THEN CAST(num4 AS DOUBLE)
          / sqrt(CAST(vnum AS DOUBLE) / 3e0) END AS z
      FROM v ORDER BY event_type""") { (s, dir) =>
      // the PAIRED rank test per event type: each event's value vs its
      // own derived baseline (event_id % 400) — signed ranks of the
      // per-row differences, tie-corrected z, rank-biserial effect
      Probes.wilcoxonSignedRank(col("value"),
        (col("event_id") % 400).cast("double"), Seq("event_type"))(
        table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.signTest: the four exact sign counters and the
    // one-sqrt z, same paired fixture as wilcoxon_signed_rank
    Query("sign_test", """
      WITH b AS (SELECT event_type AS g,
          CAST(value AS DOUBLE) - CAST(event_id % 400 AS DOUBLE) AS d
        FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
      a AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN d = 0e0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_zero,
          CAST(sum(CASE WHEN d > 0e0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_pos,
          CAST(sum(CASE WHEN d < 0e0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_neg
        FROM b GROUP BY g)
      SELECT g AS event_type, n_pairs, n_zero, n_pos, n_neg,
        CASE WHEN n_pos + n_neg > 0 THEN CAST(n_pos - n_neg AS DOUBLE)
          / sqrt(CAST(n_pos + n_neg AS DOUBLE)) END AS z
      FROM a ORDER BY event_type""") { (s, dir) =>
      // the assumption-free paired companion on the SAME fixture:
      // four exact counters and one sqrt — the dag the streaming
      // windowed gate shares structurally
      Probes.signTest(col("value"),
        (col("event_id") % 400).cast("double"), Seq("event_type"))(
        table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.kruskalWallis: the shared 2·rank carry pooled per
    // group, per-variant exact HUGEINT rank sums, the k-sized
    // variant-pinned float fold, H and its exact-integer tie
    // correction in the same division order
    Query("kruskal_wallis", """
      WITH b AS (SELECT event_type AS g,
          CAST(user_id % 3 AS VARCHAR) AS v, value AS x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      r AS (SELECT g, v,
          CAST(2 * rank() OVER (PARTITION BY g ORDER BY x)
            + count(*) OVER (PARTITION BY g, x) - 1 AS HUGEINT) AS r2,
          CAST(count(*) OVER (PARTITION BY g, x)
            * count(*) OVER (PARTITION BY g, x) - 1 AS HUGEINT) AS tt
        FROM b),
      pv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS nv,
          sum(r2) AS s2, sum(tt) AS ttv
        FROM r GROUP BY g, v),
      ag AS (SELECT g, CAST(sum(nv) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS k,
          sum(ttv) AS ties,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list((CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
              / CAST(nv AS DOUBLE) ORDER BY v)),
            (a, t) -> a + t) AS ssum
        FROM pv GROUP BY g),
      f AS (SELECT g, n, k, ties, ssum,
          3e0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1e0)) * ssum
            - 3e0 * (CAST(n AS DOUBLE) + 1e0) AS h,
          1e0 - CAST(ties AS DOUBLE)
            / CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
                * CAST(n AS HUGEINT) - CAST(n AS HUGEINT) AS DOUBLE)
            AS corr
        FROM ag)
      SELECT g AS event_type, n, k,
        CASE WHEN k >= 2 AND n >= 2 THEN h END AS h,
        CASE WHEN k >= 2 AND n >= 2 AND corr > 0e0 THEN h / corr END
          AS h_corrected,
        CASE WHEN k >= 2 AND n >= 2 AND corr > 0e0
          THEN (h / corr) / (CAST(n AS DOUBLE) - 1e0) END AS eps_sq,
        CASE WHEN k >= 2 AND n > k AND corr > 0e0
          THEN (h / corr - (CAST(k AS DOUBLE) - 1e0))
            / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) END AS eta_sq_h
      FROM f ORDER BY event_type""") { (s, dir) =>
      // do the THREE user cohorts' value distributions differ, per
      // event type? one-way ANOVA on pooled tie-averaged ranks — the
      // k-sample rung above mann_whitney, tie-corrected H against
      // chi2_{k-1}
      Probes.kruskalWallis(col("user_id") % 3, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.dunnTest: the kruskal_wallis 2·rank carry pooled
    // per group, per-variant exact HUGEINT rank sums self-joined into
    // the k² pair frame, the exact rank-gap and variance numerators,
    // float at two divisions and one sqrt in the same order
    Query("dunn_posthoc", s"""
      WITH dz AS ($dunnZSql)
      SELECT g AS event_type, variant_a, variant_b,
        na AS n_a, nb AS n_b, mean_rank_a, mean_rank_b, z,
        coalesce(abs(z) > ${litD(1.96)}, false) AS reject
      FROM dz ORDER BY event_type, variant_a, variant_b""") { (s, dir) =>
      // kruskal_wallis said "some cohort moved" — Dunn says WHICH:
      // pairwise z on the SAME pooled tie-averaged ranks over the
      // k²-bounded broadcast pair frame, exact integer numerators
      Probes.dunnTest(col("user_id") % 3, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type", "variant_a", "variant_b")
    },
    // mirrors the composed dunn_bh row: the SHARED dunn pair-z body,
    // the Chebyshev p = min(1, 1/z²) envelope (the only p the no-libm
    // doctrine admits — ordering matches the normal p exactly), then
    // the BH step-up per event_type family
    Query("dunn_bh", s"""
      WITH dz AS ($dunnZSql),
      pz AS (SELECT g, variant_a || '|' || variant_b AS pair,
          CASE WHEN z IS NOT NULL THEN CASE WHEN z = 0e0 THEN 1e0
            ELSE least(1e0, 1e0 / (z * z)) END END AS p
        FROM dz),
      nn AS (SELECT g, pair, p FROM pz WHERE p IS NOT NULL),
      r AS (SELECT g, pair, p,
          CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS m,
          CAST(row_number() OVER (PARTITION BY g ORDER BY p, pair)
            AS BIGINT) AS rnk
        FROM nn),
      a AS (SELECT g, pair, p, m, rnk,
          p * CAST(m AS DOUBLE) / CAST(rnk AS DOUBLE) AS raw
        FROM r),
      f AS (SELECT g, pair, p, rnk, m,
          least(CAST(1 AS DOUBLE), min(raw) OVER (PARTITION BY g
            ORDER BY p, pair
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_adj
        FROM a)
      SELECT g AS event_type, pair, p, rnk AS rank, m, p_adj,
        p_adj <= ${litD(0.05)} AS reject
      FROM f ORDER BY event_type, pair""") { (s, dir) =>
      // the post-hoc→FDR loop closed as one composed row: the SAME
      // dunn pair z's, bridged through the Chebyshev p envelope
      // (min(1, 1/z²) — valid for any distribution, ordering matches
      // the normal p exactly), then BH per event_type family — which
      // pairwise "winners" survive FDR control at 5%?
      val pairs = Probes.dunnTest(col("user_id") % 3, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .withColumn("pair",
          concat_ws("|", col("variant_a"), col("variant_b")))
        .withColumn("p_raw", Probes.chebyshevP(col("z")))
      Probes.bhCorrect("pair", "p_raw", alpha = 0.05,
        Seq("event_type"))(pairs)
        .orderBy("event_type", "pair")
    },
    // mirrors Probes.jonckheereTerpstra: the corpus replicated through
    // the ordered-pair frame, the 2·rank carry per (group, pair) pool,
    // 2U_ij = S2_j − n_j(n_j+1) exact in HUGEINT, the Hollander–Wolfe
    // tie-corrected moments with every Σ exact and the two cross
    // products multiplying as doubles in the same spelled order
    Query("jonckheere_terpstra", """
      WITH b AS (SELECT event_type AS g, user_id % 3 AS v, value AS x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      pv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS nv
        FROM b GROUP BY g, v),
      tot AS (SELECT g, CAST(sum(nv) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS k,
          sum(CAST(nv AS HUGEINT) * nv) AS snsq,
          sum(CAST(nv AS HUGEINT) * (nv - 1) * (2 * nv + 5)) AS sn25,
          sum(CAST(nv AS HUGEINT) * (nv - 1) * (nv - 2)) AS sn3,
          sum(CAST(nv AS HUGEINT) * (nv - 1)) AS sn2
        FROM pv GROUP BY g),
      tie AS (SELECT g,
          sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS st25,
          sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS st3,
          sum(CAST(t AS HUGEINT) * (t - 1)) AS st2
        FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS t
              FROM b GROUP BY g, x)
        GROUP BY g),
      pr AS (SELECT a.g, a.v AS vi, c.v AS vj
        FROM pv a JOIN pv c ON c.g = a.g AND a.v < c.v),
      pool AS (
        SELECT pr.g, vi, vj, b.x, false AS j
        FROM b JOIN pr ON pr.g = b.g AND b.v = pr.vi
        UNION ALL
        SELECT pr.g, vi, vj, b.x, true AS j
        FROM b JOIN pr ON pr.g = b.g AND b.v = pr.vj),
      r AS (SELECT g, vi, vj, j,
          CAST(2 * rank() OVER (PARTITION BY g, vi, vj ORDER BY x)
            + count(*) OVER (PARTITION BY g, vi, vj, x) - 1 AS HUGEINT)
            AS r2
        FROM pool),
      pp AS (SELECT g, vi, vj,
          CAST(sum(CASE WHEN j THEN 1 ELSE 0 END) AS BIGINT) AS njp,
          sum(CASE WHEN j THEN r2 ELSE CAST(0 AS HUGEINT) END) AS s2j
        FROM r GROUP BY g, vi, vj),
      ja AS (SELECT g,
          sum(s2j - CAST(njp AS HUGEINT) * (njp + 1)) AS j2
        FROM pp GROUP BY g),
      f AS (SELECT tot.g, n, k, snsq, sn25, sn3, sn2, st25, st3, st2,
          j2
        FROM tot LEFT JOIN tie ON tie.g = tot.g
        LEFT JOIN ja ON ja.g = tot.g),
      v AS (SELECT g, n, k, j2, snsq,
          2 * j2 - (CAST(n AS HUGEINT) * n - snsq) AS num4,
          CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
              - sn25 - st25 AS DOUBLE) / 72e0
            + CASE WHEN n > 2 THEN CAST(sn3 AS DOUBLE)
                  * CAST(st3 AS DOUBLE)
                / (36e0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0)
                  * (CAST(n AS DOUBLE) - 2e0))
              ELSE 0e0 END
            + CASE WHEN n > 1 THEN CAST(sn2 AS DOUBLE)
                  * CAST(st2 AS DOUBLE)
                / (8e0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0))
              ELSE 0e0 END AS var
        FROM f)
      SELECT g AS event_type, n, k,
        CASE WHEN j2 IS NOT NULL THEN CAST(j2 AS DOUBLE) / 2e0 END
          AS j_stat,
        CAST(CAST(n AS HUGEINT) * n - snsq AS DOUBLE) / 4e0 AS mu,
        CASE WHEN k >= 2 AND n >= 2 AND var > 0e0
          THEN CAST(num4 AS DOUBLE) / (4e0 * sqrt(var)) END AS z
      FROM v ORDER BY event_type""") { (s, dir) =>
      // does value increase MONOTONICALLY with the cohort index, per
      // event type? the ordered-alternative trend test KW wastes power
      // on: J = Σ U_ij over ordered cohort pairs, exact HW moments
      Probes.jonckheereTerpstra(col("user_id") % 3, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.cochranQ: the same pre-aggregated pass/fail
    // cells, the friedman completeness screen, then Q from exact
    // HUGEINT counts with float only at the one final division
    Query("cochran_q", """
      WITH cells AS (SELECT event_type AS g, user_id % 200 AS b,
          CAST(event_id % 3 AS VARCHAR) AS t,
          (count(*) FILTER (value >= 100) > 0) AS s
        FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL
        GROUP BY 1, 2, 3),
      kg AS (SELECT g, CAST(count(DISTINCT t) AS BIGINT) AS k
        FROM cells GROUP BY g),
      bl AS (SELECT g, b, CAST(count(*) AS BIGINT) AS cnt,
          CAST(count(DISTINCT t) AS BIGINT) AS dt,
          CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS r
        FROM cells GROUP BY g, b),
      blk AS (SELECT bl.g, bl.b, bl.r, (cnt = k AND dt = k) AS complete
        FROM bl JOIN kg ON kg.g = bl.g),
      bs AS (SELECT g,
          CAST(sum(CASE WHEN complete THEN 1 ELSE 0 END) AS BIGINT)
            AS n_blocks,
          CAST(sum(CASE WHEN complete THEN 0 ELSE 1 END) AS BIGINT)
            AS n_dropped,
          sum(CASE WHEN complete THEN CAST(r AS HUGEINT)
            ELSE CAST(0 AS HUGEINT) END) AS tt,
          sum(CASE WHEN complete THEN CAST(r AS HUGEINT) * r
            ELSE CAST(0 AS HUGEINT) END) AS sr2
        FROM blk GROUP BY g),
      pt AS (SELECT c.g, c.t,
          CAST(sum(CASE WHEN c.s THEN 1 ELSE 0 END) AS BIGINT) AS cc
        FROM cells c JOIN blk ON blk.g = c.g AND blk.b = c.b
          AND blk.complete
        GROUP BY c.g, c.t),
      sc AS (SELECT g, sum(CAST(cc AS HUGEINT) * cc) AS sc2
        FROM pt GROUP BY g),
      f AS (SELECT bs.g, n_blocks, n_dropped, k,
          (k - 1) * (k * sc2 - tt * tt) AS num,
          k * tt - sr2 AS den
        FROM bs JOIN kg ON kg.g = bs.g LEFT JOIN sc ON sc.g = bs.g)
      SELECT g AS event_type, n_blocks, n_dropped, k,
        CASE WHEN k >= 2 AND n_blocks >= 1 AND den > 0
          THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS q
      FROM f ORDER BY event_type""") { (s, dir) =>
      // did ANY of the three arms' pass rates move, per event type?
      // blocks = user cohorts (user_id % 200), one pass/fail per
      // (block, arm) cell (any value >= 100 among its events) — the
      // k-sample McNemar, fully exact to the one final division
      val cells = table(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull)
        .groupBy(col("event_type"), (col("user_id") % 200).as("blk"),
          (col("event_id") % 3).as("arm"))
        .agg((sum(when(col("value") >= 100, 1L).otherwise(0L)) > 0L)
          .as("ok"))
      Probes.cochranQ("blk", "arm", col("ok"), Seq("event_type"))(cells)
        .orderBy("event_type")
    },
    // mirrors Probes.oneWayAnova: 1e-9-quantized exact per-variant
    // sums, the k-sized variant-pinned ssb/ssw folds, one fixed F dag
    Query("one_way_anova", """
      WITH b AS (SELECT event_type AS g, CAST(user_id % 3 AS VARCHAR) AS v,
          CAST(round(CAST(value AS DOUBLE) * 1e9, 0) AS DECIMAL(19,0))
            AS z9
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      pv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS ng,
          CAST(sum(CAST(z9 AS DECIMAL(38,0))) AS HUGEINT) AS s1,
          CAST(sum(CAST(z9 * z9 AS DECIMAL(38,0))) AS HUGEINT) AS s2
        FROM b GROUP BY g, v),
      tt AS (SELECT g, CAST(sum(ng) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS k, sum(s1) AS ss1
        FROM pv GROUP BY g),
      j AS (SELECT pv.g, pv.v, ng, s1, s2, n, k,
          CAST(s1 AS DOUBLE) / CAST(ng AS DOUBLE) AS zg,
          CAST(ss1 AS DOUBLE) / CAST(n AS DOUBLE) AS zbar
        FROM pv JOIN tt ON tt.g = pv.g),
      s AS (SELECT g, max(n) AS n, max(k) AS k,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(ng AS DOUBLE) * (zg - zbar) * (zg - zbar)
              ORDER BY v)), (a, t) -> a + t) AS ssb,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(greatest(CAST(s2 AS DOUBLE) - CAST(ng AS DOUBLE) * zg * zg,
              0e0) ORDER BY v)), (a, t) -> a + t) AS ssw
        FROM j GROUP BY g)
      SELECT g AS event_type, n, k,
        CASE WHEN k >= 2 AND n > k THEN
          CASE WHEN ssw > 0e0 THEN
            (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
              / (CAST(k AS DOUBLE) - 1e0) * ssb / ssw END END AS f,
        CASE WHEN k >= 2 AND ssb + ssw > 0e0
          THEN ssb / (ssb + ssw) END AS eta_sq
      FROM s ORDER BY event_type""") { (s, dir) =>
      // do the three cohorts' MEAN values differ, per event type? the
      // parametric companion of kruskal_wallis on 1e-9-quantized exact
      // sums, with the eta² variance-explained effect size
      Probes.oneWayAnova(col("user_id") % 3, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.brownForsytheK: per-(group, variant) selection
    // medians, |x − med| 1e-9-quantized, then the SAME shared ANOVA-F
    // dag as one_way_anova over the deviation samples
    Query("brown_forsythe_k", """
      WITH b0 AS (SELECT event_type AS g, CAST(user_id % 3 AS VARCHAR) AS v,
          CAST(value AS DOUBLE) AS x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      r AS (SELECT g, v, x,
          CAST(row_number() OVER (PARTITION BY g, v ORDER BY x)
            AS BIGINT) AS rn,
          CAST(count(*) OVER (PARTITION BY g, v) AS BIGINT) AS c
        FROM b0),
      md AS (SELECT g, v, (min(x) + max(x)) / CAST(2 AS DOUBLE) AS med
        FROM r WHERE rn = (c + 1) // 2 OR rn = c // 2 + 1 GROUP BY g, v),
      b AS (SELECT b0.g, b0.v,
          CAST(round(abs(b0.x - md.med) * 1e9, 0) AS DECIMAL(19,0)) AS z9
        FROM b0 JOIN md ON md.g = b0.g AND md.v = b0.v),
      pv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS ng,
          CAST(sum(CAST(z9 AS DECIMAL(38,0))) AS HUGEINT) AS s1,
          CAST(sum(CAST(z9 * z9 AS DECIMAL(38,0))) AS HUGEINT) AS s2
        FROM b GROUP BY g, v),
      tt AS (SELECT g, CAST(sum(ng) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS k, sum(s1) AS ss1
        FROM pv GROUP BY g),
      j AS (SELECT pv.g, pv.v, ng, s1, s2, n, k,
          CAST(s1 AS DOUBLE) / CAST(ng AS DOUBLE) AS zg,
          CAST(ss1 AS DOUBLE) / CAST(n AS DOUBLE) AS zbar
        FROM pv JOIN tt ON tt.g = pv.g),
      s AS (SELECT g, max(n) AS n, max(k) AS k,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(ng AS DOUBLE) * (zg - zbar) * (zg - zbar)
              ORDER BY v)), (a, t) -> a + t) AS ssb,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(greatest(CAST(s2 AS DOUBLE) - CAST(ng AS DOUBLE) * zg * zg,
              0e0) ORDER BY v)), (a, t) -> a + t) AS ssw
        FROM j GROUP BY g)
      SELECT g AS event_type, n, k,
        CASE WHEN k >= 2 AND n > k THEN
          CASE WHEN ssw > 0e0 THEN
            (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
              / (CAST(k AS DOUBLE) - 1e0) * ssb / ssw END END AS f,
        CASE WHEN k >= 2 AND ssb + ssw > 0e0
          THEN ssb / (ssb + ssw) END AS eta_sq
      FROM s ORDER BY event_type""") { (s, dir) =>
      // did the SPREAD move across ANY of the three cohorts, per event
      // type? per-variant selection medians, |x − med| deviations, the
      // same shared ANOVA-F dag — the scale axis at k samples
      Probes.brownForsytheK(col("user_id") % 3, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.friedmanTest: the same pre-aggregated cells, the
    // completeness screen (count = k AND distinct = k against the
    // group's global treatment set), within-block 2·rank carries in
    // HUGEINT, Conover's tie-robust Q with every term exact and float
    // only at the one final division
    Query("friedman_test", """
      WITH cells AS (SELECT event_type AS g, user_id % 40 AS b,
          CAST(event_id % 3 AS VARCHAR) AS t, max(value) AS x
        FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL
        GROUP BY 1, 2, 3),
      kg AS (SELECT g, CAST(count(DISTINCT t) AS BIGINT) AS k
        FROM cells GROUP BY g),
      bl AS (SELECT g, b, CAST(count(*) AS BIGINT) AS cnt,
          CAST(count(DISTINCT t) AS BIGINT) AS dt
        FROM cells GROUP BY g, b),
      blk AS (SELECT bl.g, bl.b, (cnt = k AND dt = k) AS complete
        FROM bl JOIN kg ON kg.g = bl.g),
      bs AS (SELECT g,
          CAST(sum(CASE WHEN complete THEN 1 ELSE 0 END) AS BIGINT)
            AS n_blocks,
          CAST(sum(CASE WHEN complete THEN 0 ELSE 1 END) AS BIGINT)
            AS n_dropped
        FROM blk GROUP BY g),
      kept AS (SELECT c.g, c.b, c.t, c.x FROM cells c
        JOIN blk ON blk.g = c.g AND blk.b = c.b AND blk.complete),
      r AS (SELECT g, t,
          CAST(2 * rank() OVER (PARTITION BY g, b ORDER BY x)
            + count(*) OVER (PARTITION BY g, b, x) - 1 AS HUGEINT)
            AS r2
        FROM kept),
      pt AS (SELECT g, t, sum(r2) AS rr2 FROM r GROUP BY g, t),
      s1 AS (SELECT g, sum(rr2 * rr2) AS sr2 FROM pt GROUP BY g),
      s2 AS (SELECT g, sum(r2 * r2) AS a2 FROM r GROUP BY g),
      f AS (SELECT bs.g, n_blocks, n_dropped, k,
          sr2 - CAST(n_blocks AS HUGEINT) * n_blocks * k
            * (k + 1) * (k + 1) AS num,
          a2 - CAST(n_blocks AS HUGEINT) * k * (k + 1) * (k + 1) AS den
        FROM bs JOIN kg ON kg.g = bs.g
        LEFT JOIN s1 ON s1.g = bs.g LEFT JOIN s2 ON s2.g = bs.g)
      SELECT g AS event_type, n_blocks, n_dropped, k,
        CASE WHEN k >= 2 AND n_blocks >= 1 AND den > 0
          THEN CAST((k - 1) * num AS DOUBLE) / CAST(den AS DOUBLE) END
          AS q,
        CASE WHEN k >= 2 AND n_blocks >= 1 AND den > 0
          THEN (CAST((k - 1) * num AS DOUBLE) / CAST(den AS DOUBLE))
            / (CAST(n_blocks AS DOUBLE) * (CAST(k AS DOUBLE) - 1e0))
          END AS w
      FROM f ORDER BY event_type""") { (s, dir) =>
      // paired k-treatment comparison per event type: blocks = user
      // cohorts (user_id % 40), treatments = event_id % 3 arms, one
      // observation per cell via max(value); incomplete blocks drop
      // and are REPORTED; exact integer carries into ONE division
      Probes.friedmanTest("blk", "arm", col("v"), Seq("event_type"))(
        friedmanCells(s, dir))
        .orderBy("event_type")
    },
    // mirrors Probes.friedmanConover: the friedman_test rank CTEs
    // verbatim, per-treatment exact rank sums paired, the one exact
    // residual numerator 2(n·A2 − ΣR2²) into one division and sqrt
    Query("friedman_posthoc", s"""
      WITH cells AS (SELECT event_type AS g, user_id % 40 AS b,
          CAST(event_id % 3 AS VARCHAR) AS t, max(value) AS x
        FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL
        GROUP BY 1, 2, 3),
      kg AS (SELECT g, CAST(count(DISTINCT t) AS BIGINT) AS k
        FROM cells GROUP BY g),
      bl AS (SELECT g, b, CAST(count(*) AS BIGINT) AS cnt,
          CAST(count(DISTINCT t) AS BIGINT) AS dt
        FROM cells GROUP BY g, b),
      blk AS (SELECT bl.g, bl.b, (cnt = k AND dt = k) AS complete
        FROM bl JOIN kg ON kg.g = bl.g),
      bs AS (SELECT g,
          CAST(sum(CASE WHEN complete THEN 1 ELSE 0 END) AS BIGINT)
            AS n_blocks,
          CAST(sum(CASE WHEN complete THEN 0 ELSE 1 END) AS BIGINT)
            AS n_dropped
        FROM blk GROUP BY g),
      kept AS (SELECT c.g, c.b, c.t, c.x FROM cells c
        JOIN blk ON blk.g = c.g AND blk.b = c.b AND blk.complete),
      r AS (SELECT g, t,
          CAST(2 * rank() OVER (PARTITION BY g, b ORDER BY x)
            + count(*) OVER (PARTITION BY g, b, x) - 1 AS HUGEINT)
            AS r2
        FROM kept),
      pt AS (SELECT g, t, sum(r2) AS rr2 FROM r GROUP BY g, t),
      s1 AS (SELECT g, sum(rr2 * rr2) AS sr2 FROM pt GROUP BY g),
      s2 AS (SELECT g, sum(r2 * r2) AS a2 FROM r GROUP BY g),
      tot AS (SELECT bs.g, n_blocks, n_dropped, k, sr2, a2
        FROM bs JOIN kg ON kg.g = bs.g
        LEFT JOIN s1 ON s1.g = bs.g LEFT JOIN s2 ON s2.g = bs.g),
      pr AS (SELECT a.g, a.t AS treatment_a, c.t AS treatment_b,
          a.rr2 AS r2a, c.rr2 AS r2b
        FROM pt a JOIN pt c ON c.g = a.g AND a.t < c.t),
      f AS (SELECT pr.g, treatment_a, treatment_b, n_blocks, n_dropped,
          CAST(r2a AS DOUBLE) / (2e0 * CAST(n_blocks AS DOUBLE))
            AS mean_rank_a,
          CAST(r2b AS DOUBLE) / (2e0 * CAST(n_blocks AS DOUBLE))
            AS mean_rank_b,
          CASE WHEN k >= 2 AND n_blocks >= 2
              AND 2 * (CAST(n_blocks AS HUGEINT) * a2 - sr2) > 0 THEN
            CAST(r2a - r2b AS DOUBLE)
              / sqrt(CAST(2 * (CAST(n_blocks AS HUGEINT) * a2 - sr2)
                  AS DOUBLE)
                / CAST((n_blocks - 1) * (k - 1) AS DOUBLE)) END AS t
        FROM pr JOIN tot ON tot.g = pr.g)
      SELECT g AS event_type, treatment_a, treatment_b, n_blocks,
        n_dropped, mean_rank_a, mean_rank_b, t,
        coalesce(abs(t) > ${litD(1.96)}, false) AS reject
      FROM f ORDER BY event_type, treatment_a, treatment_b""") { (s, dir) =>
      // friedman_test said "some arm moved" across the paired blocks —
      // Conover–Iman says WHICH pair: LSD-on-ranks t over the SAME
      // within-block ranks, exact integer residual numerator
      Probes.friedmanConover("blk", "arm", col("v"),
        Seq("event_type"))(friedmanCells(s, dir))
        .orderBy("event_type", "treatment_a", "treatment_b")
    },
    // mirrors Probes.pageTest: the friedman_test rank CTEs with the
    // arm kept in its NATURAL BIGINT order, 4L = Σ 2j·R2_j exact, the
    // tie-exact variance k(k+1)(A2 − nk(k+1)²)/48, one-sided z
    Query("page_trend", """
      WITH cells AS (SELECT event_type AS g, user_id % 40 AS b,
          event_id % 3 AS t, max(value) AS x
        FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL
        GROUP BY 1, 2, 3),
      kg AS (SELECT g, CAST(count(DISTINCT t) AS BIGINT) AS k
        FROM cells GROUP BY g),
      bl AS (SELECT g, b, CAST(count(*) AS BIGINT) AS cnt,
          CAST(count(DISTINCT t) AS BIGINT) AS dt
        FROM cells GROUP BY g, b),
      blk AS (SELECT bl.g, bl.b, (cnt = k AND dt = k) AS complete
        FROM bl JOIN kg ON kg.g = bl.g),
      bs AS (SELECT g,
          CAST(sum(CASE WHEN complete THEN 1 ELSE 0 END) AS BIGINT)
            AS n_blocks,
          CAST(sum(CASE WHEN complete THEN 0 ELSE 1 END) AS BIGINT)
            AS n_dropped
        FROM blk GROUP BY g),
      kept AS (SELECT c.g, c.b, c.t, c.x FROM cells c
        JOIN blk ON blk.g = c.g AND blk.b = c.b AND blk.complete),
      r AS (SELECT g, t,
          CAST(2 * rank() OVER (PARTITION BY g, b ORDER BY x)
            + count(*) OVER (PARTITION BY g, b, x) - 1 AS HUGEINT)
            AS r2
        FROM kept),
      pt AS (SELECT g, t, sum(r2) AS rr2 FROM r GROUP BY g, t),
      pj AS (SELECT g, rr2,
          CAST(row_number() OVER (PARTITION BY g ORDER BY t)
            AS HUGEINT) AS j
        FROM pt),
      lf AS (SELECT g, sum(2 * j * rr2) AS l4 FROM pj GROUP BY g),
      s2 AS (SELECT g, sum(r2 * r2) AS a2 FROM r GROUP BY g),
      f AS (SELECT bs.g, n_blocks, n_dropped, k,
          lf.l4 AS l4,
          lf.l4 - CAST(n_blocks AS HUGEINT) * k * (k + 1) * (k + 1)
            AS num4,
          CAST(k AS HUGEINT) * (k + 1)
            * (s2.a2 - CAST(n_blocks AS HUGEINT) * k * (k + 1)
              * (k + 1)) AS vnum
        FROM bs JOIN kg ON kg.g = bs.g
        LEFT JOIN lf ON lf.g = bs.g LEFT JOIN s2 ON s2.g = bs.g)
      SELECT g AS event_type, n_blocks, n_dropped, k,
        CASE WHEN k >= 2 AND n_blocks >= 1
          THEN CAST(l4 AS DOUBLE) / 4e0 END AS l,
        CASE WHEN k >= 2 AND n_blocks >= 1 AND vnum > 0
          THEN CAST(num4 AS DOUBLE)
            / (4e0 * sqrt(CAST(vnum AS DOUBLE) / 48e0)) END AS z
      FROM f ORDER BY event_type""") { (s, dir) =>
      // does value rise MONOTONICALLY with the arm index across the
      // paired blocks? the ordered-alternative Friedman (the paired
      // jonckheere_terpstra): the SAME within-block ranks, L = Σ j·R_j
      // against its tie-exact permutation variance, one-sided z
      Probes.pageTest("blk", "arm", col("v"), Seq("event_type"))(
        friedmanCells(s, dir))
        .orderBy("event_type")
    },
    // mirrors the composed bh_correct row: the SHARED permutation-test
    // body supplies the family of p-values, then the BH step-up —
    // (p, id)-pinned ranks, one p·m/rank dag per row, suffix min,
    // clamp — exactly as Probes.bhCorrect plans it
    Query("bh_correct", s"""
      WITH pt AS ($permutationTestSql),
      r AS (SELECT event_type, p_value,
          CAST(count(*) OVER () AS BIGINT) AS m,
          CAST(row_number() OVER (ORDER BY p_value, event_type)
            AS BIGINT) AS rnk
        FROM pt),
      a AS (SELECT event_type, p_value, m, rnk,
          p_value * CAST(m AS DOUBLE) / CAST(rnk AS DOUBLE) AS raw
        FROM r),
      f AS (SELECT event_type, p_value AS p, rnk, m,
          least(CAST(1 AS DOUBLE), min(raw) OVER (
            ORDER BY p_value, event_type
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_adj
        FROM a)
      SELECT event_type, p, rnk AS rank, m, p_adj,
        p_adj <= ${litD(0.25)} AS reject
      FROM f ORDER BY event_type""") { (s, dir) =>
      // the eval-suite composition: one permutation test per event
      // type (the permutation_test row's exact frame), then the BH
      // step-up over the family of p-values — which "significant"
      // slices survive FDR control at 25%?
      val p = Probes.permutationTest(col("event_id"), col("value"),
        lit(20.0), reps = 100, groupCols = Seq("event_type"))(
        table(s, dir, "events").filter(col("event_id") % 3 === 0))
      Probes.bhCorrect("event_type", "p_value", alpha = 0.25)(p)
        .orderBy("event_type")
    },
    // mirrors Probes.brownForsythe: per-(group, side) selection
    // medians, 1e-9-quantized deviations into exact HUGEINT sums, the
    // one fixed ANOVA-F dag with its empty-side/zero-variance guards
    Query("brown_forsythe", """
      WITH b AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
          CAST(value AS DOUBLE) AS x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      r AS (SELECT g, a, x,
          CAST(row_number() OVER (PARTITION BY g, a ORDER BY x)
            AS BIGINT) AS rn,
          CAST(count(*) OVER (PARTITION BY g, a) AS BIGINT) AS c
        FROM b),
      md AS (SELECT g, a, (min(x) + max(x)) / CAST(2 AS DOUBLE) AS med
        FROM r WHERE rn = (c + 1) // 2 OR rn = c // 2 + 1 GROUP BY g, a),
      dv AS (SELECT b.g AS g, b.a AS a, md.med AS med,
          CAST(round(abs(b.x - md.med) * 1e9, 0) AS DECIMAL(19,0)) AS z9
        FROM b JOIN md ON md.g = b.g AND md.a = b.a),
      sa AS (SELECT g, a, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(z9 AS DECIMAL(38,0))) AS HUGEINT) AS s1,
          CAST(sum(CAST(z9 * z9 AS DECIMAL(38,0))) AS HUGEINT) AS s2,
          max(med) AS med
        FROM dv GROUP BY g, a),
      bt AS (SELECT g,
          CAST(sum(CASE WHEN a THEN n ELSE 0 END) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN NOT a THEN n ELSE 0 END) AS BIGINT) AS n_b,
          max(CASE WHEN a THEN med END) AS med_a,
          max(CASE WHEN NOT a THEN med END) AS med_b,
          sum(CASE WHEN a THEN s1 ELSE CAST(0 AS HUGEINT) END) AS s1a,
          sum(CASE WHEN NOT a THEN s1 ELSE CAST(0 AS HUGEINT) END) AS s1b,
          sum(CASE WHEN a THEN s2 ELSE CAST(0 AS HUGEINT) END) AS s2a,
          sum(CASE WHEN NOT a THEN s2 ELSE CAST(0 AS HUGEINT) END) AS s2b
        FROM sa GROUP BY g),
      v AS (SELECT *,
          CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) AS za,
          CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE) AS zb,
          CAST(s1a + s1b AS DOUBLE)
            / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS grand
        FROM bt),
      w AS (SELECT *,
          CAST(n_a AS DOUBLE) * (za - grand) * (za - grand)
            + CAST(n_b AS DOUBLE) * (zb - grand) * (zb - grand) AS ssb,
          (CAST(s2a AS DOUBLE) - CAST(n_a AS DOUBLE) * za * za)
            + (CAST(s2b AS DOUBLE) - CAST(n_b AS DOUBLE) * zb * zb)
            AS ssw
        FROM v)
      SELECT g AS event_type, n_a, n_b, med_a, med_b,
        CASE WHEN n_a > 0 AND n_b > 0 AND ssw > CAST(0 AS DOUBLE)
          THEN (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
              - CAST(2 AS DOUBLE)) * ssb / ssw END AS f
      FROM w ORDER BY event_type""") { (s, dir) =>
      // did the SPREAD of value move between even and odd users, per
      // event type? median-centered Levene on 1e-9-quantized
      // deviations — the scale axis of the same drift battery
      Probes.brownForsythe(col("user_id") % 2 === 0, col("value"),
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.proportionZTest: exact counts, the one pooled-
    // variance dag with its empty-side/degenerate-pool NULL guards
    Query("proportion_z", """
      WITH b AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
          (value >= 20) AS s
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      ag AS (SELECT g,
          CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN a AND s THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
          CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(sum(CASE WHEN NOT a AND s THEN 1 ELSE 0 END) AS BIGINT)
            AS k_b
        FROM b GROUP BY g),
      v AS (SELECT *,
          CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
          CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
          ((CAST(k_a AS DOUBLE) + CAST(k_b AS DOUBLE))
            / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
            * (CAST(1 AS DOUBLE) - (CAST(k_a AS DOUBLE)
              + CAST(k_b AS DOUBLE))
              / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
            * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
              + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE)) AS variance
        FROM ag)
      SELECT g AS event_type, n_a, k_a, n_b, k_b,
        CASE WHEN n_a > 0 THEN pa END AS p_a,
        CASE WHEN n_b > 0 THEN pb END AS p_b,
        CASE WHEN n_a > 0 AND n_b > 0 THEN pa - pb END AS risk_diff,
        CASE WHEN n_a > 0 AND n_b > 0 AND variance > CAST(0 AS DOUBLE)
          THEN (pa - pb) / sqrt(variance) END AS z
      FROM v ORDER BY event_type""") { (s, dir) =>
      // do even and odd users pass the value >= 20 gate at the same
      // rate, per event type? pooled two-sample z on exact counts
      Probes.proportionZTest(col("user_id") % 2 === 0,
        col("value") >= 20, Seq("event_type"))(
        table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.cochranArmitage: exact (group, dose) cells, the
    // exact HUGEINT T and variance legs multiplying as doubles of
    // exact integers, the prop.trend.test /n normalization
    Query("cochran_armitage", """
      WITH b AS (SELECT event_type AS g, user_id % 4 AS w,
          (value >= 20) AS s
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      c AS (SELECT g, w, CAST(count(*) AS BIGINT) AS ni,
          CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS ki
        FROM b GROUP BY g, w),
      ag AS (SELECT g, CAST(count(*) AS BIGINT) AS k,
          CAST(sum(ni) AS BIGINT) AS n,
          CAST(sum(ki) AS BIGINT) AS successes,
          sum(CAST(w AS HUGEINT) * ni) AS swn,
          sum(CAST(w AS HUGEINT) * w * ni) AS sw2n,
          sum(CAST(w AS HUGEINT) * ki) AS swk
        FROM c GROUP BY g),
      f AS (SELECT g, k, n, successes,
          CAST(n AS HUGEINT) * swk
            - CAST(successes AS HUGEINT) * swn AS t,
          CAST(CAST(successes AS HUGEINT) * (n - successes) AS DOUBLE)
            * CAST(CAST(n AS HUGEINT) * sw2n - swn * swn AS DOUBLE)
            / CAST(n AS DOUBLE) AS vart
        FROM ag)
      SELECT g AS event_type, k, n, successes,
        CAST(t AS DOUBLE) AS t_trend,
        CASE WHEN k >= 2 AND vart > 0e0
          THEN CAST(t AS DOUBLE) / sqrt(vart) END AS z
      FROM f ORDER BY event_type""") { (s, dir) =>
      // does the value >= 20 pass rate rise MONOTONICALLY across the
      // four ordered user tiers, per event type? the proportions
      // corner of the trend matrix: exact integer T and variance
      // legs off (group, dose) cells, one division, one sqrt
      Probes.cochranArmitage(col("user_id") % 4, col("value") >= 20,
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors Probes.theilSen: the same i<j pair frame with vertical
    // pairs dropped, (value, pair-id)-pinned row_number selection,
    // (min+max)/2 of the one or two middle rows for both medians
    Query("theil_sen", """
      WITH b AS (SELECT event_type AS g, event_id AS i,
          CAST(event_id AS DOUBLE) AS x, value AS y
        FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
          AND event_id % 20 = 0),
      sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY g),
      p AS (SELECT a.g AS g, a.i AS ia, c.i AS ib,
          (c.y - a.y) / (c.x - a.x) AS s
        FROM b a JOIN b c ON a.g = c.g AND a.i < c.i AND a.x <> c.x),
      pr AS (SELECT g, s,
          CAST(row_number() OVER (PARTITION BY g ORDER BY s, ia, ib)
            AS BIGINT) AS rn,
          CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS c
        FROM p),
      ms AS (SELECT g, max(c) AS n_pairs,
          (min(s) + max(s)) / CAST(2 AS DOUBLE) AS slope
        FROM pr WHERE rn = (c + 1) // 2 OR rn = c // 2 + 1 GROUP BY g),
      res AS (SELECT b.g AS g, b.i AS i, b.y - ms.slope * b.x AS r
        FROM b JOIN ms ON ms.g = b.g),
      rr AS (SELECT g, r,
          CAST(row_number() OVER (PARTITION BY g ORDER BY r, i)
            AS BIGINT) AS rn,
          CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS c
        FROM res),
      mi AS (SELECT g, (min(r) + max(r)) / CAST(2 AS DOUBLE) AS intercept
        FROM rr WHERE rn = (c + 1) // 2 OR rn = c // 2 + 1 GROUP BY g)
      SELECT sz.g AS event_type, sz.n,
        coalesce(n_pairs, CAST(0 AS BIGINT)) AS n_pairs, slope, intercept
      FROM sz LEFT JOIN ms ON ms.g = sz.g LEFT JOIN mi ON mi.g = sz.g
      ORDER BY event_type""") { (s, dir) =>
      // robust drift rate of value over event_id per type, on the
      // 1/20-sampled slice (the op's bounded-slice contract): median
      // pairwise slope + median-residual intercept
      Probes.theilSen("event_type", "event_id", "event_id", "value")(
        table(s, dir, "events").filter(col("event_id") % 20 === 0))
        .orderBy("event_type")
    },
    // mirrors Probes.mannKendall: the same i<j pair frame with exact
    // sgn(dt)*sgn(dx) S, tie-group masses per value and per time in
    // HUGEINT, the bivariate variance with cross products as doubles
    // of exact integers, the continuity-corrected z
    Query("mann_kendall", """
      WITH b AS (SELECT event_type AS g, event_id AS i, event_id AS t,
          value AS x
        FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
          AND event_id % 20 = 0),
      sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY g),
      p AS (SELECT a.g AS g,
          (CASE WHEN a.t < c.t THEN 1 WHEN a.t > c.t THEN -1 ELSE 0 END)
          * (CASE WHEN a.x < c.x THEN 1 WHEN a.x > c.x THEN -1 ELSE 0
            END) AS sp
        FROM b a JOIN b c ON a.g = c.g AND a.i < c.i),
      sa AS (SELECT g, CAST(sum(sp) AS BIGINT) AS s FROM p GROUP BY g),
      xt AS (SELECT g, CAST(count(*) AS HUGEINT) AS tc
        FROM b GROUP BY g, x),
      xs AS (SELECT g, sum(tc * (tc - 1) * (tc * 2 + 5)) AS xt25,
          sum(tc * (tc - 1) * (tc - 2)) AS xt3,
          sum(tc * (tc - 1)) AS xt2
        FROM xt GROUP BY g),
      ut AS (SELECT g, CAST(count(*) AS HUGEINT) AS tc
        FROM b GROUP BY g, t),
      us AS (SELECT g, sum(tc * (tc - 1) * (tc * 2 + 5)) AS ut25,
          sum(tc * (tc - 1) * (tc - 2)) AS ut3,
          sum(tc * (tc - 1)) AS ut2
        FROM ut GROUP BY g),
      f AS (SELECT sz.g, sz.n, coalesce(sa.s, CAST(0 AS BIGINT)) AS s,
          CAST(CAST(sz.n AS HUGEINT) * (sz.n - 1) * (sz.n * 2 + 5)
              - xs.xt25 - us.ut25 AS DOUBLE) / 18e0
            + CASE WHEN sz.n > 2 THEN
                CAST(xs.xt3 AS DOUBLE) * CAST(us.ut3 AS DOUBLE)
                / (9e0 * CAST(sz.n AS DOUBLE)
                  * (CAST(sz.n AS DOUBLE) - 1e0)
                  * (CAST(sz.n AS DOUBLE) - 2e0)) ELSE 0e0 END
            + CASE WHEN sz.n > 1 THEN
                CAST(xs.xt2 AS DOUBLE) * CAST(us.ut2 AS DOUBLE)
                / (2e0 * CAST(sz.n AS DOUBLE)
                  * (CAST(sz.n AS DOUBLE) - 1e0)) ELSE 0e0 END AS vs
        FROM sz LEFT JOIN sa ON sa.g = sz.g
          LEFT JOIN xs ON xs.g = sz.g LEFT JOIN us ON us.g = sz.g)
      SELECT g AS event_type, n, s,
        CASE WHEN n >= 2 THEN vs END AS var_s,
        CASE WHEN n >= 2 AND vs > 0e0 THEN
          CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1e0) / sqrt(vs)
               WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1e0) / sqrt(vs)
               ELSE 0e0 END END AS z
      FROM f ORDER BY event_type""") { (s, dir) =>
      // is the theil_sen drift REAL? the monotone-trend significance
      // gate on the SAME 1/20 slice: exact S over time-ordered pairs,
      // the bivariate tie-corrected variance, continuity-corrected z
      Probes.mannKendall("event_type", "event_id", "event_id", "value")(
        table(s, dir, "events").filter(col("event_id") % 20 === 0))
        .orderBy("event_type")
    },
    // mirrors Probes.theilSenCI: the theil_sen pair frame, the
    // mann_kendall tie-mass variance over the same points, C =
    // 1.96*sqrt(Var(S)), round-outward rank limits clamped to
    // [1, N'], the same two-middle-ranks median
    Query("theil_sen_ci", s"""
      WITH b AS (SELECT event_type AS g, event_id AS i,
          CAST(event_id AS DOUBLE) AS x, value AS y
        FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
          AND event_id % 20 = 0),
      sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY g),
      p AS (SELECT a.g AS g, a.i AS ia, c.i AS ib,
          (c.y - a.y) / (c.x - a.x) AS s
        FROM b a JOIN b c ON a.g = c.g AND a.i < c.i AND a.x <> c.x),
      npr AS (SELECT g, CAST(count(*) AS BIGINT) AS np
        FROM p GROUP BY g),
      yt0 AS (SELECT g, CAST(count(*) AS HUGEINT) AS tc
        FROM b GROUP BY g, y),
      yt AS (SELECT g, sum(tc * (tc - 1) * (tc * 2 + 5)) AS yt25,
          sum(tc * (tc - 1) * (tc - 2)) AS yt3,
          sum(tc * (tc - 1)) AS yt2
        FROM yt0 GROUP BY g),
      ut0 AS (SELECT g, CAST(count(*) AS HUGEINT) AS tc
        FROM b GROUP BY g, x),
      ut AS (SELECT g, sum(tc * (tc - 1) * (tc * 2 + 5)) AS ux25,
          sum(tc * (tc - 1) * (tc - 2)) AS ux3,
          sum(tc * (tc - 1)) AS ux2
        FROM ut0 GROUP BY g),
      vs AS (SELECT sz.g, sz.n,
          coalesce(npr.np, CAST(0 AS BIGINT)) AS np,
          CAST(CAST(sz.n AS HUGEINT) * (sz.n - 1) * (sz.n * 2 + 5)
              - yt.yt25 - ut.ux25 AS DOUBLE) / 18e0
            + CASE WHEN sz.n > 2 THEN
                CAST(yt.yt3 AS DOUBLE) * CAST(ut.ux3 AS DOUBLE)
                / (9e0 * CAST(sz.n AS DOUBLE)
                  * (CAST(sz.n AS DOUBLE) - 1e0)
                  * (CAST(sz.n AS DOUBLE) - 2e0)) ELSE 0e0 END
            + CASE WHEN sz.n > 1 THEN
                CAST(yt.yt2 AS DOUBLE) * CAST(ut.ux2 AS DOUBLE)
                / (2e0 * CAST(sz.n AS DOUBLE)
                  * (CAST(sz.n AS DOUBLE) - 1e0)) ELSE 0e0 END AS v
        FROM sz LEFT JOIN npr ON npr.g = sz.g
          LEFT JOIN yt ON yt.g = sz.g LEFT JOIN ut ON ut.g = sz.g),
      bd AS (SELECT g, n, np,
          CASE WHEN np > 0 AND v > 0e0 THEN
            greatest(CAST(1 AS BIGINT), CAST(floor(
              (CAST(np AS DOUBLE) - ${litD(1.96)} * sqrt(v)) / 2e0)
              AS BIGINT)) END AS rlo,
          CASE WHEN np > 0 AND v > 0e0 THEN
            least(np, CAST(floor(
              (CAST(np AS DOUBLE) + ${litD(1.96)} * sqrt(v)) / 2e0)
              AS BIGINT) + 1) END AS rhi,
          (np + 1) // 2 AS md1, np // 2 + 1 AS md2
        FROM vs),
      pr AS (SELECT g, s,
          CAST(row_number() OVER (PARTITION BY g ORDER BY s, ia, ib)
            AS BIGINT) AS rn
        FROM p),
      sel AS (SELECT pr.g,
          min(CASE WHEN rn = rlo THEN s END) AS slo,
          min(CASE WHEN rn = rhi THEN s END) AS shi,
          min(CASE WHEN rn = md1 THEN s END) AS sm1,
          min(CASE WHEN rn = md2 THEN s END) AS sm2
        FROM pr JOIN bd ON bd.g = pr.g GROUP BY pr.g)
      SELECT bd.g AS event_type, n, np AS n_pairs,
        (sm1 + sm2) / 2e0 AS slope, slo AS slope_lo, shi AS slope_hi
      FROM bd LEFT JOIN sel ON sel.g = bd.g ORDER BY event_type""") { (s, dir) =>
      // and HOW FAST, with brackets: Sen's distribution-free slope CI
      // on the SAME slice — rank-selected limits off the shared slope
      // pair frame, widths from the Mann-Kendall variance
      Probes.theilSenCI("event_type", "event_id", "event_id", "value")(
        table(s, dir, "events").filter(col("event_id") % 20 === 0))
        .orderBy("event_type")
    },
    // mirrors Probes.seasonalMannKendall: the mann_kendall dag keyed
    // by (event_type, month) — only same-season pairs — then the
    // Hirsch-Slack sums: exact S totals, season-ordered variance
    // fold, the same continuity-corrected z
    Query("seasonal_mann_kendall", """
      WITH b AS (SELECT event_type AS g,
          CAST(month(CAST(ts AS TIMESTAMP)) AS BIGINT) AS sea,
          event_id AS i, event_id AS t, value AS x
        FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL AND event_id % 20 = 0),
      sz AS (SELECT g, sea, CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY g, sea),
      p AS (SELECT a.g AS g, a.sea AS sea,
          (CASE WHEN a.t < c.t THEN 1 WHEN a.t > c.t THEN -1 ELSE 0 END)
          * (CASE WHEN a.x < c.x THEN 1 WHEN a.x > c.x THEN -1 ELSE 0
            END) AS sp
        FROM b a JOIN b c ON a.g = c.g AND a.sea = c.sea AND a.i < c.i),
      sa AS (SELECT g, sea, CAST(sum(sp) AS BIGINT) AS s
        FROM p GROUP BY g, sea),
      xt AS (SELECT g, sea, CAST(count(*) AS HUGEINT) AS tc
        FROM b GROUP BY g, sea, x),
      xs AS (SELECT g, sea, sum(tc * (tc - 1) * (tc * 2 + 5)) AS xt25,
          sum(tc * (tc - 1) * (tc - 2)) AS xt3,
          sum(tc * (tc - 1)) AS xt2
        FROM xt GROUP BY g, sea),
      ut AS (SELECT g, sea, CAST(count(*) AS HUGEINT) AS tc
        FROM b GROUP BY g, sea, t),
      us AS (SELECT g, sea, sum(tc * (tc - 1) * (tc * 2 + 5)) AS ut25,
          sum(tc * (tc - 1) * (tc - 2)) AS ut3,
          sum(tc * (tc - 1)) AS ut2
        FROM ut GROUP BY g, sea),
      f AS (SELECT sz.g, sz.sea, sz.n,
          coalesce(sa.s, CAST(0 AS BIGINT)) AS s,
          CAST(CAST(sz.n AS HUGEINT) * (sz.n - 1) * (sz.n * 2 + 5)
              - xs.xt25 - us.ut25 AS DOUBLE) / 18e0
            + CASE WHEN sz.n > 2 THEN
                CAST(xs.xt3 AS DOUBLE) * CAST(us.ut3 AS DOUBLE)
                / (9e0 * CAST(sz.n AS DOUBLE)
                  * (CAST(sz.n AS DOUBLE) - 1e0)
                  * (CAST(sz.n AS DOUBLE) - 2e0)) ELSE 0e0 END
            + CASE WHEN sz.n > 1 THEN
                CAST(xs.xt2 AS DOUBLE) * CAST(us.ut2 AS DOUBLE)
                / (2e0 * CAST(sz.n AS DOUBLE)
                  * (CAST(sz.n AS DOUBLE) - 1e0)) ELSE 0e0 END AS vs
        FROM sz LEFT JOIN sa ON sa.g = sz.g AND sa.sea = sz.sea
          LEFT JOIN xs ON xs.g = sz.g AND xs.sea = sz.sea
          LEFT JOIN us ON us.g = sz.g AND us.sea = sz.sea),
      ag AS (SELECT g, CAST(sum(n) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS n_seasons,
          CAST(sum(s) AS BIGINT) AS s,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(vs ORDER BY sea)), (acc, x) -> acc + x) AS vsum
        FROM f GROUP BY g)
      SELECT g AS event_type, n, n_seasons, s,
        CASE WHEN n >= 2 THEN vsum END AS var_s,
        CASE WHEN n >= 2 AND vsum > 0e0 THEN
          CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1e0) / sqrt(vsum)
               WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1e0) / sqrt(vsum)
               ELSE 0e0 END END AS z
      FROM ag ORDER BY event_type""") { (s, dir) =>
      // does value trend WITHIN each month, per event type, with the
      // monthly cycle cancelled by design? only same-season pairs
      // count (Hirsch-Slack): per-(type, month) S and variance off
      // the shared mann_kendall dag, summed, one continuity z
      Probes.seasonalMannKendall("event_type", "sea", "event_id",
        "event_id", "value")(
        table(s, dir, "events")
          .filter(col("event_id") % 20 === 0)
          .withColumn("sea", month(col("ts"))))
        .orderBy("event_type")
    },
    // mirrors Probes.seasonalTheilSen: the theil_sen pair frame keyed
    // by (group, season) — only same-month pairs produce slopes —
    // then ONE pooled (slope, season, pair-id)-pinned two-middle-ranks
    // selection median over all per-season slopes (Hirsch-Slack)
    Query("seasonal_theil_sen", """
      WITH b AS (SELECT event_type AS g,
          CAST(month(CAST(ts AS TIMESTAMP)) AS BIGINT) AS sea,
          event_id AS i, CAST(event_id AS DOUBLE) AS x, value AS y
        FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL AND event_id % 20 = 0),
      sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT sea) AS BIGINT) AS n_seasons
        FROM b GROUP BY g),
      p AS (SELECT a.g AS g, a.sea AS sea, a.i AS ia, c.i AS ib,
          (c.y - a.y) / (c.x - a.x) AS s
        FROM b a JOIN b c ON a.g = c.g AND a.sea = c.sea
          AND a.i < c.i AND a.x <> c.x),
      pr AS (SELECT g, s,
          CAST(row_number() OVER (PARTITION BY g
            ORDER BY s, sea, ia, ib) AS BIGINT) AS rn,
          CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS c
        FROM p),
      sel AS (SELECT g, max(c) AS np,
          (min(s) + max(s)) / 2e0 AS slope
        FROM pr WHERE rn = (c + 1) // 2 OR rn = c // 2 + 1
        GROUP BY g)
      SELECT sz.g AS event_type, n, n_seasons,
        coalesce(np, CAST(0 AS BIGINT)) AS n_pairs, slope
      FROM sz LEFT JOIN sel ON sel.g = sz.g ORDER BY event_type""") { (s, dir) =>
      // and the de-seasonalized RATE beside that gate: the
      // Hirsch-Slack slope — median over the pooled same-month
      // pairwise slopes on the SAME fixture, monthly shape cancelled
      // by construction (only same-season pairs produce slopes)
      Probes.seasonalTheilSen("event_type", "sea", "event_id",
        "event_id", "value")(
        table(s, dir, "events")
          .filter(col("event_id") % 20 === 0)
          .withColumn("sea", month(col("ts"))))
        .orderBy("event_type")
    },
    // mirrors Probes.mcnemarTest: exact contingency counts, the
    // continuity-corrected squared-integer numerator in HUGEINT, one
    // final division; b+c = 0 -> NULL (zero evidence, not zero diff)
    Query("mcnemar_test", """
      WITH b AS (SELECT event_type AS g,
          ((value >= 15) = (value >= 20)) AS a,
          ((user_id % 3 > 0) = (value >= 20)) AS bb
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
      ag AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN a AND bb THEN 1 ELSE 0 END) AS BIGINT)
            AS both_correct,
          CAST(sum(CASE WHEN a AND NOT bb THEN 1 ELSE 0 END) AS BIGINT)
            AS a_only,
          CAST(sum(CASE WHEN NOT a AND bb THEN 1 ELSE 0 END) AS BIGINT)
            AS b_only,
          CAST(sum(CASE WHEN NOT a AND NOT bb THEN 1 ELSE 0 END)
            AS BIGINT) AS both_wrong
        FROM b GROUP BY g)
      SELECT g AS event_type, n, both_correct, a_only, b_only,
        both_wrong,
        CASE WHEN a_only + b_only > 0 THEN
          CAST(CAST(greatest(CAST(0 AS BIGINT),
              abs(a_only - b_only) - 1) AS HUGEINT)
            * CAST(greatest(CAST(0 AS BIGINT),
              abs(a_only - b_only) - 1) AS HUGEINT) AS DOUBLE)
          / CAST(a_only + b_only AS DOUBLE) END AS chi2
      FROM ag ORDER BY event_type""") { (s, dir) =>
      // paired comparison of two deterministic "classifiers" of the
      // value >= 20 target on the SAME events: a threshold system vs
      // a user-hash system — only the discordant cells carry evidence
      val truth = col("value") >= 20
      Probes.mcnemarTest(
        (col("value") >= 15) === truth,
        (col("user_id") % 3 > 0) === truth,
        Seq("event_type"))(table(s, dir, "events"))
        .orderBy("event_type")
    },
  )

  /** The paired-block cells shared by friedman_test, friedman_posthoc and
    * page_trend: blocks = user cohorts (user_id % 40), treatments =
    * event_id % 3 arms, one observation per cell via max(value). */
  private def friedmanCells(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
        col("value").isNotNull)
      .groupBy(col("event_type"), (col("user_id") % 40).as("blk"),
        (col("event_id") % 3).as("arm"))
      .agg(max(col("value")).as("v"))

  /** Shared dunn pair-z oracle body (no ORDER BY): the pooled 2·rank
    * carry, per-variant exact HUGEINT rank sums, the k² pair frame
    * and its z dag — used standalone (`dunn_posthoc`) AND as the z
    * source inside the composed `dunn_bh` row, so the corrected
    * family rides the identical pair z's by construction. */
  private lazy val dunnZSql: String = """
      WITH b AS (SELECT event_type AS g,
          CAST(user_id % 3 AS VARCHAR) AS v, value AS x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      r AS (SELECT g, v,
          CAST(2 * rank() OVER (PARTITION BY g ORDER BY x)
            + count(*) OVER (PARTITION BY g, x) - 1 AS HUGEINT) AS r2,
          CAST(count(*) OVER (PARTITION BY g, x)
            * count(*) OVER (PARTITION BY g, x) - 1 AS HUGEINT) AS tt
        FROM b),
      pv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS nv,
          sum(r2) AS s2, sum(tt) AS ttv
        FROM r GROUP BY g, v),
      ag AS (SELECT g, CAST(sum(nv) AS BIGINT) AS n,
          sum(ttv) AS ties
        FROM pv GROUP BY g),
      pr AS (SELECT a.g, a.v AS variant_a, pb.v AS variant_b,
          a.nv AS na, pb.nv AS nb, a.s2 AS s2a, pb.s2 AS s2b, n, ties
        FROM pv a JOIN pv pb ON pb.g = a.g AND a.v < pb.v
        JOIN ag ON ag.g = a.g),
      f AS (SELECT g, variant_a, variant_b, na, nb, n,
          s2a * CAST(nb AS HUGEINT) - s2b * CAST(na AS HUGEINT) AS num,
          (CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
            - CAST(n AS HUGEINT)) - ties AS vnum,
          CAST(s2a AS DOUBLE) / (2e0 * CAST(na AS DOUBLE))
            AS mean_rank_a,
          CAST(s2b AS DOUBLE) / (2e0 * CAST(nb AS DOUBLE))
            AS mean_rank_b
        FROM pr)
      SELECT g, variant_a, variant_b, na, nb,
        mean_rank_a, mean_rank_b,
        CASE WHEN n >= 2 AND vnum > 0 THEN
          (CAST(num AS DOUBLE)
            / (2e0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
          / sqrt(CAST(vnum AS DOUBLE)
              * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
            / (12e0 * (CAST(n AS DOUBLE) - 1e0)
              * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) END AS z
      FROM f"""

  /** Shared `permutation_test` oracle body (no ORDER BY) — used
    * standalone AND as the p-value source inside the composed
    * `bh_correct` row, so the corrected family is byte-identical to
    * the per-test row by construction. */
  private lazy val permutationTestSql: String = s"""
      WITH b AS (SELECT event_type AS g,
          CAST(event_id AS VARCHAR) AS k,
          CAST(round((value - 2e1) * 1e9, 0) AS BIGINT) AS d9
        FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
          AND event_id % 3 = 0),
      o AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(d9) AS HUGEINT) AS sd FROM b GROUP BY g),
      e AS (SELECT g, k, d9, CAST(r.rep AS INT) AS rep
        FROM b CROSS JOIN range(0, 100) r(rep)),
      u AS (SELECT g, rep, d9,
          ${md5u32Sql("k || '_' || CAST(rep AS VARCHAR)", "pt")} AS u32
        FROM e),
      t AS (SELECT g, rep, CAST(sum(CAST(
          CASE WHEN u32 < 2147483648 THEN 1 ELSE -1 END AS HUGEINT) * d9)
          AS HUGEINT) AS t
        FROM u GROUP BY g, rep),
      h AS (SELECT t.g, CAST(sum(CASE WHEN abs(t.t) >= abs(o.sd)
          THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM t JOIN o ON t.g = o.g GROUP BY t.g)
      SELECT o.g AS event_type, n,
        CAST(sd AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) AS mean_diff,
        CAST(100 AS BIGINT) AS reps,
        CAST(hits + 1 AS DOUBLE) / ${litD(101.0)} AS p_value
      FROM o JOIN h ON o.g = h.g"""

  /** Shared oracle bodies — used standalone AND inside the composed
    * `label_qa` row, so the composed metrics are byte-identical to the
    * per-probe rows by construction. */
  private val labelAgreementSql: String = s"""
      WITH $langPredCteSql,
      conf AS (SELECT lang AS a, lang_pred AS b, count(*) AS cn FROM pred
        WHERE lang IS NOT NULL AND lang_pred IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT CAST(sum(cn) AS BIGINT) AS n,
          CAST(sum(CASE WHEN a = b THEN cn ELSE 0 END) AS BIGINT) AS agree_n
        FROM conf),
      ma AS (SELECT a AS k, CAST(sum(cn) AS BIGINT) AS na FROM conf GROUP BY 1),
      mb AS (SELECT b AS k, CAST(sum(cn) AS BIGINT) AS nb FROM conf GROUP BY 1),
      pen AS (SELECT coalesce(sum(CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)),
          CAST(0 AS HUGEINT)) AS pe_num
        FROM ma JOIN mb USING (k))
      SELECT n, agree_n, po, pe,
        CASE WHEN pe = CAST(1 AS DOUBLE) THEN NULL
             ELSE (po - pe) / (CAST(1 AS DOUBLE) - pe) END AS kappa
      FROM (SELECT n, agree_n,
          CAST(agree_n AS DOUBLE) / n AS po,
          CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
        FROM tot CROSS JOIN pen) __ka"""

  private val scoreCalibrationSql: String = s"""
      WITH s AS (SELECT
          least(CAST(floor(sc * 10) AS INT), 9) AS bin,
          CAST(round(sc * 1e9, 0) AS BIGINT) AS s9,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM (SELECT lang,
            least(${stopRatio("['the','a','of','and','to','in','is']")}
              * CAST(5 AS DOUBLE), CAST(1 AS DOUBLE)) AS sc
          FROM documents) __sb
        WHERE sc IS NOT NULL AND lang IS NOT NULL),
      b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(s9) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9)
            AS mean_score,
          CAST(sum(pos) AS DOUBLE) / count(*) AS pos_rate
        FROM s GROUP BY bin),
      g AS (SELECT bin, n, mean_score, pos_rate,
          abs(mean_score - pos_rate) AS gap FROM b),
      e AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(n AS DOUBLE) * gap ORDER BY bin)), (a, x) -> a + x)
          / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) AS ece
        FROM g)
      SELECT CAST(bin AS INTEGER) AS bin, n, mean_score, pos_rate, gap, ece
      FROM g CROSS JOIN e ORDER BY bin"""
}
