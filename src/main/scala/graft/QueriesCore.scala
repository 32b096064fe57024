package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{BinaryOps, Dedup, Frequency, GraphOps, Similarity, TextOps}
import graft.ops.{Ops, TemporalOps, WindowOps}
import graft.probes.Probes

/** Relational core: aggregation, sampling, joins, stats, normalization, and allocation queries — split from the ExtQueries monolith (round 14):
  * same entries, same keys, byte-identical bodies; [[ExtQueries]]
  * merges every family back into the single driver-facing map. */
private[graft] object QueriesCore {
  import SparkEntry.table
  import QueryHelpers._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quota_sample" -> { (s, dir) =>
      // absolute per-language cap (50 docs each), content-hash chosen —
      // the domain/source mixture cap, engine-reproducible
      Ops.quotaSample("lang", "doc_id", n = 50)(
        table(s, dir, "documents").select("doc_id", "lang"))
        .orderBy("doc_id")
    },
    "weighted_sample" -> { (s, dir) =>
      // length-weighted πps draw, 10 docs per source: sequential Poisson
      // priorities u/w from the content hash — deterministic and
      // engine-reproducible like every sampler here
      Ops.weightedSample("source", "doc_id", "n_chars", n = 10,
        salt = "wsamp")(
        table(s, dir, "documents").select("doc_id", "source", "n_chars"))
        .orderBy("doc_id")
    },
    "train_split" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(TextOps.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        .groupBy("split").agg(count(lit(1)).as("record_count"))
        .orderBy("split")
    },
    "k_fold" -> { (s, dir) =>
      // 5-fold CV assignment with the stratification diagnostic a user
      // runs first: per-(fold, lang) counts — content-keyed, so folds
      // are stable under corpus growth; pure projection + one hash-agg
      table(s, dir, "documents")
        .select(TextOps.kFold(col("doc_id"), 5).as("fold"), col("lang"))
        .groupBy("fold", "lang").agg(count(lit(1)).as("record_count"))
        .orderBy("fold", "lang")
    },
    "stratified_sample" -> { (s, dir) =>
      Ops.sampleStratifiedHash("o_orderstatus", "o_orderkey",
        Map("F" -> 0.05, "O" -> 0.2, "P" -> 0.5))(
        table(s, dir, "orders"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },
    "filter_funnel" -> { (s, dir) =>
      // the cleaning-chain attrition report: independent + cumulative
      // pass counts per rule, one aggregation pass
      val (dupFrac, _) = TextOps.repetitionStats(col("text"))
      Probes.filterFunnel(Seq(
        "min_tokens" -> (TextOps.tokenCount(col("text")) >= 20),
        "english" -> (col("lang") === "en"),
        "quality" -> (TextOps.qualityScore(col("text")) > 0.45),
        "not_repetitive" -> (dupFrac < 0.4)))(
        corpus(s, dir, "documents"))
        .orderBy("step")
    },
    "budget_allocation" -> { (s, dir) =>
      // Hamilton apportionment: 1000 budget units across sources by
      // doc-count weight — integer allocations that sum to EXACTLY 1000
      val weights = corpus(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("docs"))
      Ops.proportionalAllocate("source", "docs", total = 1000L)(weights)
        .orderBy("source")
    },
    "impute_median" -> { (s, dir) =>
      // the missing-data FIX: null out a deterministic 1/7 slice, then
      // fill from the per-type exact median
      val e = table(s, dir, "events")
        .withColumn("value", when(col("event_id") % 7 === 0,
          lit(null).cast("double")).otherwise(col("value")))
      Ops.imputeMedian("value", keys = Seq("event_type"),
        outField = "value_filled")(e)
        .select("event_id", "event_type", "value", "value_filled")
        .orderBy("event_id")
    },
    "histogram_2d" -> { (s, dir) =>
      // joint (quality, length) mass: where the corpus actually sits
      Ops.histogram2d("quality", 0.0, 1.0, 10,
        "n_chars", 0.0, 2000.0, 10)(
        corpus(s, dir, "documents").select(
          TextOps.qualityScore(col("text")).as("quality"), col("n_chars")))
    },
    "minmax_norm" -> { (s, dir) =>
      // per-flag min-max scaling; bounds from the FULL table, value
      // check on the l_orderkey < 1000 slice (the winsorize pattern)
      Ops.minMaxNormalize(Seq("l_returnflag"), "l_extendedprice")(
        table(s, dir, "lineitem"))
        .filter(col("l_orderkey") < 1000)
        .select("l_orderkey", "l_linenumber", "l_returnflag",
          "l_extendedprice", "l_extendedprice_mm")
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag",
          "l_extendedprice", "l_extendedprice_mm")
    },
    "quantile_normalize" -> { (s, dir) =>
      // cross-source score equalizer: each source's n_chars mapped
      // onto the POOLED distribution at its within-source quantile —
      // normalized values are exact copies of pooled inputs, index
      // math is pure integers
      Ops.quantileNormalize("source", "n_chars", "doc_id")(
        table(s, dir, "documents"))
        .orderBy("source", "rank")
    },
    "zscore_norm" -> { (s, dir) =>
      // explicit-sufficient-statistics z-scores on the integral-valued
      // quantity (engine stddev is Welford-ordered and never
      // hash-matches; this formula is deterministic IEEE)
      Ops.zscoreNormalize(Seq("l_returnflag"), "l_quantity")(
        table(s, dir, "lineitem"))
        .filter(col("l_orderkey") < 1000)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
          "l_quantity_z")
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
          "l_quantity_z")
    },
    "robust_z" -> { (s, dir) =>
      // median/MAD outlier scores — stats from the FULL table, value
      // check on the l_orderkey < 1000 slice (the winsorize pattern)
      Ops.robustZScore(Seq("l_returnflag"), "l_extendedprice")(
        table(s, dir, "lineitem"))
        .filter(col("l_orderkey") < 1000)
        .select("l_orderkey", "l_linenumber", "l_returnflag",
          "l_extendedprice", "l_extendedprice_rz")
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag",
          "l_extendedprice", "l_extendedprice_rz")
    },
    "mode_lang" -> { (s, dir) =>
      // dominant language per source, count ties broken on the smaller
      // value — the per-domain profile every mixture report starts from
      Ops.modeAgg(Seq("source"), "lang")(
        table(s, dir, "documents").select("source", "lang"))
        .select("source", "lang_mode", "lang_mode_count")
        .orderBy("source")
    },
    // ---- set ops / rollup / pivot / percentile -----------------------------
    "intersect_keys" -> { (s, dir) =>
      val c = table(s, dir, "customer")
      Ops.intersect(c.filter(col("c_acctbal") > 5000).select("c_custkey"))(
        c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey"))
        .orderBy("c_custkey")
    },
    "except_keys" -> { (s, dir) =>
      // BUILDING customers minus high-balance customers (non-empty slice)
      val c = table(s, dir, "customer")
      Ops.except(c.filter(col("c_acctbal") > 5000).select("c_custkey"))(
        c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey"))
        .orderBy("c_custkey")
    },
    "intersect_all_keys" -> { (s, dir) =>
      val o = table(s, dir, "orders")
      Ops.intersectAll(
        o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))(
        o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },
    "except_all_keys" -> { (s, dir) =>
      val o = table(s, dir, "orders").select(col("o_custkey"))
      val b = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      Ops.exceptAll(b)(o).orderBy("o_custkey")
    },
    "rollup_agg" -> { (s, dir) =>
      // min/max measures are order-insensitive and exact on doubles, so the
      // rollup needs no money-scaling to hash-match.
      Ops.aggregateRollup(Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_totalprice" -> "min", "o_totalprice" -> "max"))(
        table(s, dir, "orders"))
        .orderBy(col("grouping_id"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    "cube_agg" -> { (s, dir) =>
      Ops.aggregateCube(Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_totalprice" -> "max"))(table(s, dir, "orders"))
        .orderBy(col("grouping_id"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    "grouping_sets_agg" -> { (s, dir) =>
      // by-status and by-priority in ONE pass — the level list ROLLUP and
      // CUBE cannot express (no (status, priority) level, no total)
      Ops.aggregateGroupingSets(
        Seq(Seq("o_orderstatus"), Seq("o_orderpriority")),
        Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_totalprice" -> "sum", "o_totalprice" -> "max"),
        scales = Map("o_totalprice" -> 1e2))(table(s, dir, "orders"))
        .orderBy(col("grouping_id"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    "cube_money" -> { (s, dir) =>
      // sum/average across every cube level via integer-scaled exact
      // sums (Ops.scaledSum) — order-insensitive, so all 2^k grouping
      // levels hash-match the oracle bit-for-bit
      Ops.aggregateCube(Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_totalprice" -> "sum", "o_totalprice" -> "average",
          "o_totalprice" -> "min"),
        scales = Map("o_totalprice" -> 1e2))(table(s, dir, "orders"))
        .orderBy(col("grouping_id"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    "pivot_status" -> { (s, dir) =>
      // money-scaled sums (the Ops.scaledSum pattern) so the wide
      // cells are bit-identical across engines
      val money = (sum(round(col("o_totalprice") * 1e2, 0).cast("long"))
        .cast("long") / 1e2)
      Ops.pivot(Seq("o_orderpriority"), "o_orderstatus", Seq("F", "O", "P"),
        money, suffix = "_total")(table(s, dir, "orders"))
        .orderBy("o_orderpriority")
    },
    "unpivot_lineitem" -> { (s, dir) =>
      // melt four measure columns to (variable, value) rows — pure
      // reshaping, values pass through bit-identically
      Ops.unpivot(Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))(
        table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax"))
        // (l_orderkey, l_linenumber) is NOT unique in lineitem: order by
        // every output column for a total order (a pre-sort pin was
        // A/B'd in r20 and reverted: checkpointing the 2.4M-row melt
        // costs what the sampling-pass re-melt saves)
        .orderBy("l_orderkey", "l_linenumber", "variable", "value")
    },
    "balance_classes" -> { (s, dir) =>
      // every language downsampled to the smallest class's size,
      // deterministic hash order — the label-skew prep
      Ops.balanceClasses("lang", "doc_id")(
        corpus(s, dir, "documents").select("doc_id", "lang"))
        .orderBy("doc_id")
    },
    "semi_join" -> { (s, dir) =>
      // customers with at least one order — left columns only, each
      // left row at most once, short-circuit hash join
      Ops.semiJoin(
        table(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"))(
        table(s, dir, "customer")
          .select("c_custkey", "c_name", "c_mktsegment"))
        .orderBy("c_custkey")
    },
    "anti_join" -> { (s, dir) =>
      // customers with no order in the %5 order slice (every customer
      // has SOME order in this fixture — the slice makes real orphans)
      Ops.antiJoin(
        table(s, dir, "orders").filter(col("o_orderkey") % 5 === 0)
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"))(
        table(s, dir, "customer")
          .select("c_custkey", "c_name", "c_mktsegment"))
        .orderBy("c_custkey")
    },
    "intersect_distinct" -> { (s, dir) =>
      // (status, priority) combos present in BOTH order-key parities
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
      Ops.intersect(
        o.filter(col("o_orderkey") % 2 =!= 0)
          .select("o_orderstatus", "o_orderpriority"))(
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderstatus", "o_orderpriority"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },
    "except_distinct" -> { (s, dir) =>
      // combos outside the urgent slice: EXCEPT removes every
      // 1-URGENT pairing, the non-urgent ones survive
      val o = table(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
      Ops.except(
        o.filter(col("o_orderpriority") === "1-URGENT"))(o)
        .orderBy("o_orderstatus", "o_orderpriority")
    },
    "corr_measures" -> { (s, dir) =>
      // pairwise Pearson r from explicit sufficient statistics (the
      // engine corr() is Welford-ordered and never hash-matches):
      // integral-valued measures (quantity, whole dollars, line
      // numbers) keep every sum exact, then the r formula is the same
      // IEEE op sequence on both sides
      val li = table(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity"),
        round(col("l_extendedprice"), 0).as("dollars"),
        col("l_linenumber").cast("double").as("linenum"))
      Ops.corrMatrix(Seq("l_returnflag"),
        Seq("l_quantity", "dollars", "linenum"))(li)
        .orderBy("l_returnflag", "field_a", "field_b")
    },
    "histogram_price" -> { (s, dir) =>
      // equal-width audit histogram: fixed [0, 60000]×12 grid per flag,
      // out-of-range/NULL under the NULL bin, only occupied bins emitted
      Ops.histogram(Seq("l_returnflag"), "l_extendedprice",
        0.0, 60000.0, 12)(
        table(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"))
        .orderBy(col("l_returnflag"), col("l_extendedprice_bin").asc)
    },
    "pivot_returnflag" -> { (s, dir) =>
      // crosstab with explicit values: one conditional-sum column per
      // return flag inside a single hash aggregate (l_quantity is
      // integral-valued, so double sums are order-independent)
      Ops.pivotAgg(Seq("l_linestatus"), "l_returnflag", Seq("A", "N", "R"),
        "l_quantity", "sum")(
        table(s, dir, "lineitem")
          .select("l_linestatus", "l_returnflag", "l_quantity"))
        .orderBy("l_linestatus")
    },
    "percentile_price" -> { (s, dir) =>
      Ops.percentileAgg(Seq("l_returnflag"), "l_extendedprice",
        Seq(0.25, 0.5, 0.9))(table(s, dir, "lineitem"))
        .orderBy("l_returnflag")
    },
    "winsorize_price" -> { (s, dir) =>
      // per-flag exact-percentile clipping; bounds from the FULL table,
      // value check on the l_orderkey < 1000 slice
      Ops.winsorize(Seq("l_returnflag"), "l_extendedprice", 0.05, 0.95)(
        table(s, dir, "lineitem"))
        .filter(col("l_orderkey") < 1000)
        .select("l_orderkey", "l_linenumber", "l_returnflag",
          "l_extendedprice", "l_extendedprice_w")
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag",
          "l_extendedprice", "l_extendedprice_w")
    },
    "incremental_rollup" -> { (s, dir) =>
      // materialized-rollup maintenance: history folded to mergeable
      // state once, the new batch folded in WITHOUT re-reading history;
      // the oracle recomputes over the full table — the maintenance
      // identity finalize(merge(state(A), state(B))) = aggregate(A∪B)
      val keys = Seq("l_returnflag", "l_linestatus")
      val ms = Seq("l_quantity" -> "sum", "l_quantity" -> "min",
        "l_quantity" -> "max", "l_quantity" -> "average")
      val li = table(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey")
      val stored = Ops.aggregateState(keys, ms)(
        li.filter(col("l_orderkey") < 30000))
      val batch = Ops.aggregateState(keys, ms)(
        li.filter(col("l_orderkey") >= 30000))
      Ops.finalizeAggregate(keys, ms)(
        Ops.mergeAggregateStates(keys, ms)(stored, batch))
        .orderBy("l_returnflag", "l_linestatus")
    },
    "incremental_distinct" -> { (s, dir) =>
      // the count_distinct leg of rollup maintenance: per-group HLL
      // sketches merge register-wise (merged ≡ direct sketch of the
      // union, spec-pinned); at this group cardinality the sketch is
      // still a coupon list, so the estimate is the exact distinct and
      // the oracle can assert it
      val keys = Seq("l_returnflag")
      val li = table(s, dir, "lineitem")
        .select("l_returnflag", "l_suppkey", "l_orderkey")
      val stored = Ops.aggregateStateHll(keys, Seq("l_suppkey"))(
        li.filter(col("l_orderkey") < 30000))
      val batch = Ops.aggregateStateHll(keys, Seq("l_suppkey"))(
        li.filter(col("l_orderkey") >= 30000))
      Ops.finalizeAggregateHll(keys, Seq("l_suppkey"))(
        Ops.mergeAggregateStatesHll(keys, Seq("l_suppkey"))(stored, batch))
        .orderBy("l_returnflag")
    },
    "regression_price" -> { (s, dir) =>
      // per-flag OLS price-vs-quantity line from exact sufficient
      // statistics (the corr_measures doctrine: integral inputs keep
      // every sum exact, then one shared IEEE op sequence)
      Ops.regression(Seq("l_returnflag"), "l_quantity", "dollars")(
        table(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_quantity"),
          round(col("l_extendedprice"), 0).as("dollars")))
        .orderBy("l_returnflag")
    },
    "pareto_front" -> { (s, dir) =>
      // multi-objective selection: the quality/cost frontier — no doc on
      // it is beaten on BOTH quality and brevity by any other doc
      val q = corpus(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"), col("n_chars"))
        .withColumn("__negc", -col("n_chars"))
      Ops.paretoFront("quality", "__negc")(q)
        .select("doc_id", "quality", "n_chars")
        .orderBy("doc_id")
    },
    "pareto_by_group" -> { (s, dir) =>
      // per-language frontier: each language keeps its own
      // quality/brevity front — the grouped form of pareto_front
      val q = corpus(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.qualityScore(col("text")).as("quality"), col("n_chars"))
        .withColumn("__negc", -col("n_chars"))
      Ops.paretoFront("quality", "__negc", groupCols = Seq("lang"))(q)
        .select("lang", "doc_id", "quality", "n_chars")
        .orderBy("lang", "doc_id")
    },
    "pareto_front_3d" -> { (s, dir) =>
      // the d=3 corpus-selection frontier: quality maximized, length and
      // (synthetic, oracle-reproducible) dup score minimized — the ask
      // the 2-D window front cannot answer, via the SFS-fold skyline
      val q = corpus(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"), col("n_chars"))
        .withColumn("dup_score", col("doc_id") % 97)
        .withColumn("__negc", -col("n_chars"))
        .withColumn("__negd", -col("dup_score"))
      Ops.paretoFrontNd(Seq("quality", "__negc", "__negd"))(q)
        .select("doc_id", "quality", "n_chars", "dup_score")
        .orderBy("doc_id")
    },
    "preference_pairs" -> { (s, dir) =>
      // DPO-style preference-pair assembly: per language, pair the two
      // best-quality docs with the two worst at a real score margin —
      // best vs worst, 2nd-best vs 2nd-worst, rank-matched
      val q = corpus(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.qualityScore(col("text")).as("quality"))
      Ops.preferencePairs("lang", "doc_id", "quality",
        minMargin = 0.05, pairsPerGroup = 2)(q)
        .orderBy("lang", "chosen_id", "rejected_id")
    },
    "z_order" -> { (s, dir) =>
      // the Z-order layout code: bit-interleave (custkey, orderkey)
      // residues — locality-preserving in both dimensions, the sort key
      // zorderRepartition lays files out by
      table(s, dir, "orders")
        .select(col("o_orderkey"),
          Ops.mortonCode(pmod(col("o_custkey"), lit(65536L)),
            pmod(col("o_orderkey"), lit(65536L))).as("z"))
        .orderBy("o_orderkey")
    },
    "target_encode" -> { (s, dir) =>
      // leakage-safe categorical encoding: each order's priority is
      // replaced by the smoothed mean totalprice of the priority's
      // OTHER orders (leave-one-out) — integer-scaled sums so the
      // doubles hash-match
      Ops.targetEncode("o_orderpriority", "o_totalprice",
        smoothing = 10.0, scale = 1e2)(
        table(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"))
        .orderBy("o_orderkey")
    },
    "feature_hash" -> { (s, dir) =>
      // hashing-trick vectorizer: segment + nation project into an
      // 8-dim signed vector with no vocabulary — pure projection;
      // exploded to (key, dim, value) rows for the oracle hash (list
      // columns cannot cross the arrow dtype compare)
      table(s, dir, "customer")
        .select(col("c_custkey"),
          posexplode(Ops.featureHash(Seq("c_mktsegment", "c_nationkey"),
            dims = 8)).as(Seq("dim", "value")))
        .select(col("c_custkey"), col("dim").cast("long").as("dim"),
          col("value"))
        .orderBy("c_custkey", "dim")
    },
    "target_encode_serve" -> { (s, dir) =>
      // train/serve split: stats fit on the even-key half, applied
      // WITHOUT leave-one-out to the odd half — unseen categories
      // would encode to the pure prior
      val orders = table(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val trainStats = Ops.targetEncodeStats("o_orderpriority",
        "o_totalprice", scale = 1e2)(
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0))
      Ops.targetEncodeApply(trainStats, "o_orderpriority",
        "o_totalprice_te", smoothing = 10.0, scale = 1e2)(
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 1))
        .orderBy("o_orderkey")
    },
    "golden_record" -> { (s, dir) =>
      // survivorship merge: each customer's orders collapse to one
      // golden record — majority status, max price, first-seen date,
      // the priority carried by the NEWEST order ((date, key) stamp),
      // and the smallest key; one hash-agg, every rule partial-merge
      Ops.goldenRecord("o_custkey",
        rules = Seq("o_orderstatus" -> "majority", "o_totalprice" -> "max",
          "o_orderdate" -> "earliest", "o_orderpriority" -> "latest",
          "o_orderkey" -> "min"),
        recencyField = Some("o_orderdate"), tieField = Some("o_orderkey"))(
        table(s, dir, "orders"))
        .orderBy("o_custkey")
    },
    "pareto_3d_by_group" -> { (s, dir) =>
      // per-language 3-D frontier: the grouped form of pareto_front_3d —
      // dominance judged only within the same language, one independent
      // SFS-fold front per group
      val q = corpus(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.qualityScore(col("text")).as("quality"), col("n_chars"))
        .withColumn("dup_score", col("doc_id") % 97)
        .withColumn("__negc", -col("n_chars"))
        .withColumn("__negd", -col("dup_score"))
      Ops.paretoFrontNd(Seq("quality", "__negc", "__negd"),
        groupCols = Seq("lang"))(q)
        .select("lang", "doc_id", "quality", "n_chars", "dup_score")
        .orderBy("lang", "doc_id")
    },
    "pareto_layers" -> { (s, dir) =>
      // onion-peeled selection: the three best quality/brevity/dup
      // shells, layer-ranked — the budgeted form of the 3-D frontier
      val q = corpus(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"), col("n_chars"))
        .withColumn("dup_score", col("doc_id") % 97)
        .withColumn("__negc", -col("n_chars"))
        .withColumn("__negd", -col("dup_score"))
      Ops.paretoLayers(Seq("quality", "__negc", "__negd"), layers = 3)(q)
        .select("doc_id", "quality", "n_chars", "dup_score", "layer")
        .orderBy("layer", "doc_id")
    },
    "theta_overlap" -> { (s, dir) =>
      // the set-algebra distinct state HLL structurally lacks: per-flag
      // supplier theta sketches, then pairwise intersection/difference
      // estimates off the |groups|-sized state frame (broadcast pair
      // join) — exact at this cardinality (pre-capacity regime), which
      // is what the oracle's exact set arithmetic asserts
      val st = Ops.aggregateStateTheta(
        Seq("l_returnflag"), Seq("l_suppkey"))(
        table(s, dir, "lineitem").select("l_returnflag", "l_suppkey"))
        .localCheckpoint()
      val a = st.select(col("l_returnflag").as("flag_a"),
        col("l_suppkey_theta").as("__sa"))
      val b = st.select(col("l_returnflag").as("flag_b"),
        col("l_suppkey_theta").as("__sb"))
      import graft.functions.GraftFunctions
      a.join(broadcast(b), col("flag_a") < col("flag_b"))
        .select(col("flag_a"), col("flag_b"),
          GraftFunctions.thetaEstimate(col("__sa")).as("n_a"),
          GraftFunctions.thetaEstimate(col("__sb")).as("n_b"),
          GraftFunctions.thetaIntersect(col("__sa"), col("__sb"))
            .as("n_common"),
          GraftFunctions.thetaDiff(col("__sa"), col("__sb"))
            .as("n_only_a"))
        .orderBy("flag_a", "flag_b")
    },
    "incremental_quantile" -> { (s, dir) =>
      // the QUANTILE leg of rollup maintenance (KLL sketches, k=200):
      // the event_id % 41 slice keeps every group ≤ k values at the
      // oracle SF, so sketches never compact — each rank is the exact
      // ⌈r·n⌉-th order statistic and merged ≡ direct (spec-pinned);
      // beyond k the ~1.65% band applies and only percentileAgg stays
      // hash-exact
      val keys = Seq("event_type")
      val ev = table(s, dir, "events")
        .filter(col("event_id") % 41 === 0)
        .select("event_type", "value", "event_id")
      val stored = Ops.aggregateStateKll(keys, Seq("value"))(
        ev.filter(col("event_id") % 2 === 0))
      val batch = Ops.aggregateStateKll(keys, Seq("value"))(
        ev.filter(col("event_id") % 2 =!= 0))
      Ops.finalizeAggregateKll(keys, Seq("value"), Seq(0.5, 0.9))(
        Ops.mergeAggregateStatesKll(keys, Seq("value"))(stored, batch))
        .orderBy("event_type")
    },
    "incremental_freq" -> { (s, dir) =>
      // the POINT-FREQUENCY leg of rollup maintenance (count-min
      // sketches, 5×4096): per-source lang-frequency state as two
      // folded halves, probed for the full lang domain — in the
      // collision-free regime every estimate is the exact count
      // (absent keys 0), so the oracle is a plain source×lang count
      // spine; beyond it only the one-sided ≥ band holds (spec-pinned)
      val keys = Seq("source")
      val d = corpus(s, dir, "documents").select("doc_id", "source", "lang")
      val stored = Ops.aggregateStateCms(keys, Seq("lang"))(
        d.filter(col("doc_id") % 2 === 0))
      val batch = Ops.aggregateStateCms(keys, Seq("lang"))(
        d.filter(col("doc_id") % 2 =!= 0))
      Ops.finalizeAggregateCms(keys, "lang",
        Seq("de", "en", "es", "fr", "zh"))(
        Ops.mergeAggregateStatesCms(keys, Seq("lang"))(stored, batch))
        .orderBy("source", "item")
    },
    "equal_freq_bins" -> { (s, dir) =>
      // per-flag deciles of extended price, verified via the per-bin
      // population + passthrough min/max (bin edges are exact
      // percentiles — the quantile_cont-equality precedent)
      Ops.equalFreqBins(Seq("l_returnflag"), "l_extendedprice", bins = 10)(
        table(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"))
        .groupBy("l_returnflag", "l_extendedprice_bin")
        .agg(count(lit(1)).as("n_rows"),
          min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
        .orderBy("l_returnflag", "l_extendedprice_bin")
    },
    "salted_agg" -> { (s, dir) =>
      // 3-value key = aggregation skew by construction; l_quantity is
      // integral-valued so double sums are exact in any order
      Ops.saltedAggregate(Seq("l_returnflag"),
        Seq("l_quantity" -> "sum", "l_quantity" -> "average"),
        saltSource = col("l_orderkey"), buckets = 16)(
        table(s, dir, "lineitem"))
        .orderBy("l_returnflag")
    },
    "key_skew" -> { (s, dir) =>
      // the salting-decision diagnostic: heaviest customer keys in orders
      Probes.keySkew(Seq("o_custkey"), topN = 20)(table(s, dir, "orders"))
    },
    "join_salted" -> { (s, dir) =>
      // the skew-join half of the toolkit: rows identical to the plain
      // join (oracle IS the plain join), hot keys split 8 ways
      val li = table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val ord = table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      // pinned before the global sort: the range exchange's sampling
      // pass re-executed both salted map sides + the join (measured
      // 2 × ~1.4 s of the ~3 s cell); output bit-identical
      Ops.saltedJoin(ord, Seq("l_orderkey"), buckets = 8)(li)
        .localCheckpoint()
        .orderBy("l_orderkey", "l_linenumber", "l_quantity",
          "o_orderstatus", "o_totalprice")
    },
    "rendezvous_shard" -> { (s, dir) =>
      // stable placement: per-(key, shard) hash scores, max wins —
      // unlike pmod(hash, n), growing the shard list moves only the
      // stolen keys (spec-pinned); the oracle replays the per-shard
      // md5-prefix scores and the (score, name)-max election
      corpus(s, dir, "documents")
        .select(col("doc_id"),
          Ops.rendezvousShard(col("doc_id"),
            Seq("s0", "s1", "s2", "s3")).as("shard"))
        .orderBy("doc_id")
    },
    "shuffle_rank" -> { (s, dir) =>
      // training-epoch shuffle order: two-pass bucketed rank (256-way
      // parallel), bit-identical to the single-partition global window
      // the oracle runs
      Ops.shuffleRank("doc_id")(
        corpus(s, dir, "documents").select("doc_id"))
        .orderBy("doc_id")
    },
  )

  def oracleSql: Map[String, String] = Map(
    // mirrors Ops.paretoFront on (quality, −n_chars): textbook NOT-EXISTS
    // dominance — the distributed two-stage skyline must equal it exactly
    "pareto_front" -> s"""
      WITH q AS (SELECT d.doc_id, qq.quality, d.n_chars
        FROM documents d JOIN ($qualityPerDocSql) qq ON d.doc_id = qq.doc_id)
      SELECT doc_id, quality, n_chars FROM q r
      WHERE NOT EXISTS (SELECT 1 FROM q s
        WHERE s.quality >= r.quality AND s.n_chars <= r.n_chars
          AND (s.quality > r.quality OR s.n_chars < r.n_chars))
      ORDER BY doc_id""",
    // mirrors Ops.paretoFront with groupCols = lang: dominance judged
    // only within the same language
    "pareto_by_group" -> s"""
      WITH q AS (SELECT d.doc_id, d.lang, qq.quality, d.n_chars
        FROM documents d JOIN ($qualityPerDocSql) qq ON d.doc_id = qq.doc_id)
      SELECT lang, doc_id, quality, n_chars FROM q r
      WHERE NOT EXISTS (SELECT 1 FROM q s
        WHERE s.lang = r.lang
          AND s.quality >= r.quality AND s.n_chars <= r.n_chars
          AND (s.quality > r.quality OR s.n_chars < r.n_chars))
      ORDER BY lang, doc_id""",
    // mirrors Ops.paretoFrontNd on (quality, −n_chars, −dup_score):
    // textbook 3-way NOT-EXISTS dominance — the bucketed SFS fold must
    // equal it exactly, ties included
    "pareto_front_3d" -> s"""
      WITH q AS (SELECT d.doc_id, qq.quality, d.n_chars,
          d.doc_id % 97 AS dup_score
        FROM documents d JOIN ($qualityPerDocSql) qq ON d.doc_id = qq.doc_id)
      SELECT doc_id, quality, n_chars, dup_score FROM q r
      WHERE NOT EXISTS (SELECT 1 FROM q s
        WHERE s.quality >= r.quality AND s.n_chars <= r.n_chars
          AND s.dup_score <= r.dup_score
          AND (s.quality > r.quality OR s.n_chars < r.n_chars
            OR s.dup_score < r.dup_score))
      ORDER BY doc_id""",
    // mirrors Ops.preferencePairs: mirrored rank windows (desc/id-asc vs
    // asc/id-desc), rank-position join, self-pair exclusion, margin gate
    "preference_pairs" -> s"""
      WITH q AS (SELECT d.doc_id, d.lang, qq.quality
        FROM documents d JOIN ($qualityPerDocSql) qq ON d.doc_id = qq.doc_id),
      t AS (SELECT lang, doc_id, quality, row_number() OVER (
          PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rk,
          count(*) OVER (PARTITION BY lang) AS n
        FROM q),
      b AS (SELECT lang, doc_id, quality, row_number() OVER (
          PARTITION BY lang ORDER BY quality ASC, doc_id DESC) AS rk
        FROM q)
      SELECT t.lang AS lang, t.doc_id AS chosen_id, b.doc_id AS rejected_id,
        t.quality AS chosen_score, b.quality AS rejected_score,
        t.quality - b.quality AS margin
      FROM t JOIN b ON t.lang = b.lang AND t.rk = b.rk
      WHERE t.rk <= 2 AND b.rk <= 2 AND t.rk * 2 <= t.n
        AND t.quality - b.quality >= ${litD(0.05)}
      ORDER BY t.lang, chosen_id, rejected_id""",
    // mirrors Ops.paretoFrontNd with groupCols = lang: dominance judged
    // only within the same language
    // mirrors Ops.mortonCode: the shift-or-mask spread chain on 16-bit
    // residues, b's bits shifted into odd positions
    "z_order" -> s"""
      SELECT o_orderkey,
        ${mortonSql("(o_custkey % 65536)", "(o_orderkey % 65536)")} AS z
      FROM orders ORDER BY o_orderkey""",
    // mirrors Ops.targetEncode: per-category and global integer-scaled
    // sums, LOO subtraction for non-NULL targets, smoothing prior 10,
    // null-safe category join; division shapes replayed exactly
    "target_encode" -> """
      WITH stats AS (SELECT o_orderpriority AS cat,
          CAST(sum(CAST(round(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT)
            AS cs,
          count(o_totalprice) AS cn
        FROM orders GROUP BY o_orderpriority),
      g AS (SELECT
          CAST(sum(CAST(round(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT)
            AS gs,
          count(o_totalprice) AS gn
        FROM orders)
      SELECT o_orderkey, o_orderpriority, o_totalprice,
        (CAST(coalesce(cs, 0) - CASE WHEN o_totalprice IS NOT NULL
             THEN CAST(round(o_totalprice * 1e2, 0) AS BIGINT)
             ELSE 0 END AS DOUBLE) / 1e2
          + 10e0 * ((CAST(gs AS DOUBLE) / 1e2) / gn))
        / (CAST(cn - CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END
             AS DOUBLE) + 10e0) AS o_totalprice_te
      FROM orders
      LEFT JOIN stats ON o_orderpriority IS NOT DISTINCT FROM cat
      CROSS JOIN g
      ORDER BY o_orderkey""",
    // mirrors Ops.featureHash over (c_mktsegment, c_nationkey), dims 8:
    // bucket = md5p32('fh' || 'field=value') mod 8, sign from the
    // independent 'fh:s' hash bit, NULLs contribute nothing
    "feature_hash" -> """
      SELECT c_custkey, CAST(j AS BIGINT) AS dim,
        (CASE WHEN c_mktsegment IS NOT NULL
           AND CAST(list_sum(list_transform(range(1,9), k ->
             (strpos('0123456789abcdef', substr(md5('fh' ||
                'c_mktsegment=' || CAST(c_mktsegment AS VARCHAR)), k, 1)) - 1)
             * CAST(16**(8-k) AS BIGINT))) AS BIGINT) % 8 = j
         THEN CASE WHEN CAST(list_sum(list_transform(range(1,9), k ->
             (strpos('0123456789abcdef', substr(md5('fh:s' ||
                'c_mktsegment=' || CAST(c_mktsegment AS VARCHAR)), k, 1)) - 1)
             * CAST(16**(8-k) AS BIGINT))) AS BIGINT) % 2 = 0
           THEN 1e0 ELSE -1e0 END
         ELSE 0e0 END)
        + (CASE WHEN c_nationkey IS NOT NULL
           AND CAST(list_sum(list_transform(range(1,9), k ->
             (strpos('0123456789abcdef', substr(md5('fh' ||
                'c_nationkey=' || CAST(c_nationkey AS VARCHAR)), k, 1)) - 1)
             * CAST(16**(8-k) AS BIGINT))) AS BIGINT) % 8 = j
         THEN CASE WHEN CAST(list_sum(list_transform(range(1,9), k ->
             (strpos('0123456789abcdef', substr(md5('fh:s' ||
                'c_nationkey=' || CAST(c_nationkey AS VARCHAR)), k, 1)) - 1)
             * CAST(16**(8-k) AS BIGINT))) AS BIGINT) % 2 = 0
           THEN 1e0 ELSE -1e0 END
         ELSE 0e0 END) AS value
      FROM customer, unnest(range(0, 8)) AS u(j)
      ORDER BY c_custkey, dim""",
    // mirrors targetEncodeStats(even half) + targetEncodeApply(odd
    // half): no LOO term, global derived from the stats frame itself
    "target_encode_serve" -> """
      WITH stats AS (SELECT o_orderpriority AS cat,
          CAST(sum(CAST(round(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT)
            AS cs,
          count(o_totalprice) AS cn
        FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority),
      g AS (SELECT CAST(sum(cs) AS BIGINT) AS gs,
              CAST(sum(cn) AS BIGINT) AS gn FROM stats)
      SELECT o_orderkey, o_orderpriority, o_totalprice,
        (CAST(coalesce(cs, 0) AS DOUBLE) / 1e2
          + 10e0 * ((CAST(gs AS DOUBLE) / 1e2) / gn))
        / (CAST(coalesce(cn, 0) AS DOUBLE) + 10e0) AS o_totalprice_te
      FROM orders
      LEFT JOIN stats ON o_orderpriority IS NOT DISTINCT FROM cat
      CROSS JOIN g
      WHERE o_orderkey % 2 = 1
      ORDER BY o_orderkey""",
    // mirrors Ops.goldenRecord: majority = most frequent non-NULL value,
    // count ties to the SMALLER value; latest = value on the newest
    // (o_orderdate, o_orderkey) row among non-NULL values; earliest/max/
    // min are plain NULL-ignoring aggregates
    "golden_record" -> """
      WITH maj AS (
        SELECT o_custkey, o_orderstatus FROM (
          SELECT o_custkey, o_orderstatus,
            row_number() OVER (PARTITION BY o_custkey
              ORDER BY count(*) DESC, o_orderstatus ASC) AS rn
          FROM orders WHERE o_orderstatus IS NOT NULL
          GROUP BY o_custkey, o_orderstatus) WHERE rn = 1),
      lat AS (
        SELECT o_custkey, o_orderpriority FROM (
          SELECT o_custkey, o_orderpriority,
            row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders WHERE o_orderpriority IS NOT NULL) WHERE rn = 1),
      agg AS (
        SELECT o_custkey, count(*) AS record_count,
          max(o_totalprice) AS o_totalprice,
          min(o_orderdate) AS o_orderdate,
          min(o_orderkey) AS o_orderkey
        FROM orders GROUP BY o_custkey)
      SELECT agg.o_custkey, record_count, maj.o_orderstatus,
        agg.o_totalprice, agg.o_orderdate, lat.o_orderpriority,
        agg.o_orderkey
      FROM agg
      LEFT JOIN maj USING (o_custkey) LEFT JOIN lat USING (o_custkey)
      ORDER BY o_custkey""",
    "pareto_3d_by_group" -> s"""
      WITH q AS (SELECT d.doc_id, d.lang, qq.quality, d.n_chars,
          d.doc_id % 97 AS dup_score
        FROM documents d JOIN ($qualityPerDocSql) qq ON d.doc_id = qq.doc_id)
      SELECT lang, doc_id, quality, n_chars, dup_score FROM q r
      WHERE NOT EXISTS (SELECT 1 FROM q s
        WHERE s.lang = r.lang
          AND s.quality >= r.quality AND s.n_chars <= r.n_chars
          AND s.dup_score <= r.dup_score
          AND (s.quality > r.quality OR s.n_chars < r.n_chars
            OR s.dup_score < r.dup_score))
      ORDER BY lang, doc_id""",
    // mirrors Ops.paretoLayers: three peels, each a NOT-EXISTS dominance
    // pass over the remainder (doc_id NOT IN the shallower shells)
    "pareto_layers" -> s"""
      WITH q AS (SELECT d.doc_id, qq.quality, d.n_chars,
          d.doc_id % 97 AS dup_score
        FROM documents d JOIN ($qualityPerDocSql) qq ON d.doc_id = qq.doc_id),
      l0 AS (SELECT r.* FROM q r
        WHERE NOT EXISTS (SELECT 1 FROM q s
          WHERE s.quality >= r.quality AND s.n_chars <= r.n_chars
            AND s.dup_score <= r.dup_score
            AND (s.quality > r.quality OR s.n_chars < r.n_chars
              OR s.dup_score < r.dup_score))),
      q1 AS (SELECT * FROM q
        WHERE doc_id NOT IN (SELECT doc_id FROM l0)),
      l1 AS (SELECT r.* FROM q1 r
        WHERE NOT EXISTS (SELECT 1 FROM q1 s
          WHERE s.quality >= r.quality AND s.n_chars <= r.n_chars
            AND s.dup_score <= r.dup_score
            AND (s.quality > r.quality OR s.n_chars < r.n_chars
              OR s.dup_score < r.dup_score))),
      q2 AS (SELECT * FROM q1
        WHERE doc_id NOT IN (SELECT doc_id FROM l1)),
      l2 AS (SELECT r.* FROM q2 r
        WHERE NOT EXISTS (SELECT 1 FROM q2 s
          WHERE s.quality >= r.quality AND s.n_chars <= r.n_chars
            AND s.dup_score <= r.dup_score
            AND (s.quality > r.quality OR s.n_chars < r.n_chars
              OR s.dup_score < r.dup_score)))
      SELECT doc_id, quality, n_chars, dup_score, layer FROM (
        SELECT *, CAST(0 AS INTEGER) AS layer FROM l0
        UNION ALL SELECT *, CAST(1 AS INTEGER) FROM l1
        UNION ALL SELECT *, CAST(2 AS INTEGER) FROM l2)
      ORDER BY layer, doc_id""",
    // md5-prefix hash order per language partition, doc_id tie-break —
    // mirrors Ops.quotaSample exactly
    "quota_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang, row_number() OVER (
             PARTITION BY lang ORDER BY list_sum(list_transform(range(1,9), j ->
               (strpos('0123456789abcdef',
                  substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1)
               * CAST(16**(8-j) AS BIGINT))) ASC, doc_id ASC) AS rk
           FROM documents)
         WHERE rk <= 50 ORDER BY doc_id""",
    // mirrors Ops.weightedSample: priority ((h+1)/2^32)/weight with the
    // salted 32-bit md5 prefix — one IEEE divide chain, bit-identical
    "weighted_sample" ->
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars, row_number() OVER (
             PARTITION BY source ORDER BY
               ((list_sum(list_transform(range(1,9), j ->
                   (strpos('0123456789abcdef',
                      substr(md5('wsamp' || CAST(doc_id AS VARCHAR)), j, 1)) - 1)
                   * CAST(16**(8-j) AS BIGINT))) + 1) / 4294967296.0)
               / n_chars ASC, doc_id ASC) AS rk
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         WHERE rk <= 10 ORDER BY doc_id""",
    // mirrors Ops.proportionalAllocate: same floor-quota + largest-
    // remainder award with the group-ascending tiebreak
    "budget_allocation" -> """
      WITH w AS (SELECT source, CAST(count(*) AS BIGINT) AS docs
        FROM documents GROUP BY 1),
      t AS (SELECT CAST(sum(docs) AS BIGINT) AS bw FROM w),
      b AS (SELECT source, docs, bw,
          CASE WHEN bw = 0 THEN 0 ELSE (1000 * docs) // bw END AS base,
          CASE WHEN bw = 0 THEN 0 ELSE (1000 * docs) % bw END AS rem
        FROM w CROSS JOIN t),
      s AS (SELECT CAST(sum(base) AS BIGINT) AS spent FROM b)
      SELECT source, docs,
        CAST(base + CASE WHEN bw <> 0 AND rn <= 1000 - spent
          THEN 1 ELSE 0 END AS BIGINT) AS allocation
      FROM (SELECT b.*, spent,
          row_number() OVER (ORDER BY rem DESC, source ASC) AS rn
        FROM b CROSS JOIN s) __ba
      ORDER BY source""",
    // mirrors Ops.imputeMedian: same NULL slice, quantile_cont median
    // per type, coalesce fill
    "impute_median" -> """
      WITH e AS (SELECT event_id, event_type,
          CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
        FROM events),
      m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM e GROUP BY 1)
      SELECT event_id, e.event_type, value,
        coalesce(value, med) AS value_filled
      FROM e JOIN m USING (event_type) ORDER BY event_id""",
    // mirrors Ops.histogram2d on (quality, n_chars): caller-range
    // equal-width bins, clamped edges, one-row total broadcast
    "histogram_2d" -> s"""
      WITH q AS (SELECT qq.quality, d.n_chars
        FROM documents d JOIN ($qualityPerDocSql) qq ON d.doc_id = qq.doc_id),
      b AS (SELECT
          least(greatest(CAST(floor((quality - 0e0) / 1e-1) AS INT), 0), 9)
            AS x_bin,
          least(greatest(CAST(floor((CAST(n_chars AS DOUBLE) - 0e0) / 2e2)
            AS INT), 0), 9) AS y_bin
        FROM q WHERE quality IS NOT NULL AND n_chars IS NOT NULL),
      c AS (SELECT x_bin, y_bin, CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY 1, 2),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
      SELECT CAST(x_bin AS INTEGER) AS x_bin,
        CAST(y_bin AS INTEGER) AS y_bin, n,
        CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share
      FROM c CROSS JOIN t ORDER BY x_bin, y_bin""",
    // mirrors Ops.minMaxNormalize: full-table bounds, sliced check
    "minmax_norm" -> """
      WITH st AS (SELECT l_returnflag, min(l_extendedprice) AS lo,
          max(l_extendedprice) AS hi FROM lineitem GROUP BY 1)
      SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        CASE WHEN l_extendedprice IS NULL THEN NULL
             WHEN hi = lo THEN CAST(0 AS DOUBLE)
             ELSE (l_extendedprice - lo) / (hi - lo) END
          AS l_extendedprice_mm
      FROM lineitem JOIN st USING (l_returnflag)
      WHERE l_orderkey < 1000
      ORDER BY l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        l_extendedprice_mm""",
    // mirrors Ops.zscoreNormalize term for term: mean = s/n,
    // ssd = ss - s*mean, std = sqrt(ssd/(n-1)), z = (x-mean)/std —
    // every intermediate the identical IEEE op on exact integral sums
    // mirrors Ops.quantileNormalize: global (v, g, tie) row_number =
    // the zipWithIndex total order, per-group type-1 index
    // ⌈k·N/n_g⌉ as pure integer division, normalized = pooled copy
    "quantile_normalize" -> """
      WITH b AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v,
          doc_id AS tb
        FROM documents WHERE n_chars IS NOT NULL),
      p AS (SELECT v AS pv,
          CAST(row_number() OVER (ORDER BY v, g, tb) AS BIGINT) AS j
        FROM b),
      nn AS (SELECT CAST(max(j) AS BIGINT) AS n FROM p),
      r AS (SELECT g, tb, v,
          CAST(row_number() OVER (PARTITION BY g ORDER BY v, tb)
            AS INTEGER) AS k,
          CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS ng
        FROM b),
      i AS (SELECT g, tb, v, k,
          (CAST(k AS BIGINT) * n + ng - 1) // ng AS idx
        FROM r CROSS JOIN nn)
      SELECT i.g AS source, i.tb AS doc_id, i.v AS n_chars,
        i.k AS rank, p.pv AS normalized
      FROM i JOIN p ON p.j = i.idx
      ORDER BY source, rank""",
    "zscore_norm" -> """
      WITH st AS (SELECT l_returnflag,
          CAST(count(l_quantity) AS BIGINT) AS n,
          sum(l_quantity) AS s,
          sum(l_quantity * l_quantity) AS ss
        FROM lineitem GROUP BY 1),
      d AS (SELECT l_returnflag, n, s / n AS mean,
          ss - s * (s / n) AS ssd FROM st),
      f AS (SELECT l_returnflag, mean,
          CASE WHEN n < 2 OR ssd <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
               ELSE sqrt(ssd / (n - 1)) END AS sd FROM d)
      SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        CASE WHEN l_quantity IS NULL THEN NULL
             WHEN sd = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
             ELSE (l_quantity - mean) / sd END AS l_quantity_z
      FROM lineitem JOIN f USING (l_returnflag)
      WHERE l_orderkey < 1000
      ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity,
        l_quantity_z""",
    // mirrors Ops.robustZScore: median, MAD over deviations, pinned
    // (x - med) / (1.4826 * mad) chain; zero-MAD groups emit 0
    "robust_z" -> """
      WITH m AS (SELECT l_returnflag,
          quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY 1),
      d AS (SELECT l.l_returnflag,
          quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad
        FROM lineitem l JOIN m USING (l_returnflag) GROUP BY 1),
      s AS (SELECT m.l_returnflag, m.med, d.mad
        FROM m JOIN d ON m.l_returnflag = d.l_returnflag)
      SELECT l_orderkey, l_linenumber, l.l_returnflag AS l_returnflag,
        l_extendedprice,
        CASE WHEN l_extendedprice IS NULL THEN NULL
             WHEN mad = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
             ELSE (l_extendedprice - med) / (1.4826 * mad) END
          AS l_extendedprice_rz
      FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
      WHERE l_orderkey < 1000
      ORDER BY l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice,
        l_extendedprice_rz""",
    // mirrors Ops.modeAgg: top-1 by (count DESC, value ASC) per group
    "mode_lang" -> """
      SELECT source, lang AS lang_mode,
        CAST(count(*) AS BIGINT) AS lang_mode_count
      FROM documents WHERE lang IS NOT NULL
      GROUP BY source, lang
      QUALIFY row_number() OVER (PARTITION BY source
        ORDER BY count(*) DESC, lang ASC) = 1
      ORDER BY source""",
    "intersect_keys" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         ORDER BY c_custkey""",
    "except_keys" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         EXCEPT
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         ORDER BY c_custkey""",
    "intersect_all_keys" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT ALL
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY o_custkey""",
    "except_all_keys" ->
      """SELECT o_custkey FROM orders
         EXCEPT ALL
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         ORDER BY o_custkey""",
    "rollup_agg" ->
      """SELECT o_orderstatus, o_orderpriority,
         min(o_totalprice) AS o_totalprice_min,
         max(o_totalprice) AS o_totalprice_max,
         count(*) AS record_count,
         CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS grouping_id
         FROM orders
         GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY grouping_id, o_orderstatus ASC NULLS FIRST,
           o_orderpriority ASC NULLS FIRST""",
    "cube_agg" ->
      """SELECT o_orderstatus, o_orderpriority,
         max(o_totalprice) AS o_totalprice_max,
         count(*) AS record_count,
         CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS grouping_id
         FROM orders
         GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY grouping_id, o_orderstatus ASC NULLS FIRST,
           o_orderpriority ASC NULLS FIRST""",
    "grouping_sets_agg" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(sum(CAST(round(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) / 1e2 AS o_totalprice_sum,
         max(o_totalprice) AS o_totalprice_max,
         count(*) AS record_count,
         CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS grouping_id
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY grouping_id, o_orderstatus ASC NULLS FIRST,
           o_orderpriority ASC NULLS FIRST""",
    "cube_money" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(sum(CAST(round(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) / 1e2 AS o_totalprice_sum,
         (CAST(sum(CAST(round(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) / 1e2)
           / count(o_totalprice) AS o_totalprice_average,
         min(o_totalprice) AS o_totalprice_min,
         count(*) AS record_count,
         CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS grouping_id
         FROM orders
         GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY grouping_id, o_orderstatus ASC NULLS FIRST,
           o_orderpriority ASC NULLS FIRST""",
    "pivot_status" ->
      """SELECT o_orderpriority,
         CAST(sum(CASE WHEN o_orderstatus = 'F'
           THEN CAST(round(o_totalprice * 1e2, 0) AS BIGINT) END) AS BIGINT) / 1e2 AS F_total,
         CAST(sum(CASE WHEN o_orderstatus = 'O'
           THEN CAST(round(o_totalprice * 1e2, 0) AS BIGINT) END) AS BIGINT) / 1e2 AS O_total,
         CAST(sum(CASE WHEN o_orderstatus = 'P'
           THEN CAST(round(o_totalprice * 1e2, 0) AS BIGINT) END) AS BIGINT) / 1e2 AS P_total
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // dialect-portable melt: one UNION ALL branch per measure column
    "unpivot_lineitem" ->
      """SELECT l_orderkey, l_linenumber, variable, value FROM (
           SELECT l_orderkey, l_linenumber,
             'l_quantity' AS variable, l_quantity AS value FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber,
             'l_extendedprice', l_extendedprice FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber,
             'l_discount', l_discount FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber,
             'l_tax', l_tax FROM lineitem)
         ORDER BY l_orderkey, l_linenumber, variable, value""",
    // the same hex-digit md5-prefix order as quota_sample, ranked per
    // class against the data-derived min class size
    "balance_classes" -> """
      WITH c AS (SELECT lang, count(*) AS n FROM documents
                 WHERE lang IS NOT NULL GROUP BY lang),
      m AS (SELECT min(n) AS m FROM c),
      r AS (SELECT doc_id, lang, row_number() OVER (
              PARTITION BY lang ORDER BY
                list_sum(list_transform(range(1, 9), j ->
                  (strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1)
                  * CAST(16**(8-j) AS BIGINT))) ASC, doc_id ASC) AS rk
            FROM documents WHERE lang IS NOT NULL)
      SELECT doc_id, lang FROM r, m WHERE rk <= m ORDER BY doc_id""",
    "semi_join" -> """
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",
    "anti_join" -> """
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderkey % 5 = 0)
      ORDER BY c_custkey""",
    "intersect_distinct" -> """
      SELECT o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderkey % 2 = 0
      INTERSECT
      SELECT o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderkey % 2 <> 0
      ORDER BY o_orderstatus, o_orderpriority""",
    "except_distinct" -> """
      SELECT o_orderstatus, o_orderpriority FROM orders
      EXCEPT
      SELECT o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderpriority = '1-URGENT'
      ORDER BY o_orderstatus, o_orderpriority""",
    // six exact sums per pair then the textbook r in doubles — the
    // same IEEE op order as Ops.corrMatrix; lineitem is NULL-free so
    // pairwise-complete counts collapse to count(*)
    "corr_measures" -> """
      WITH li AS (SELECT l_returnflag AS f, l_quantity AS q,
          round(l_extendedprice, 0) AS d,
          CAST(l_linenumber AS DOUBLE) AS ln2 FROM lineitem),
      s AS (SELECT f, CAST(count(*) AS DOUBLE) AS n,
          sum(q) AS s_q, sum(d) AS s_d, sum(ln2) AS s_l,
          sum(q * d) AS s_qd, sum(q * ln2) AS s_ql, sum(d * ln2) AS s_dl,
          sum(q * q) AS s_qq, sum(d * d) AS s_dd, sum(ln2 * ln2) AS s_ll
        FROM li GROUP BY f)
      SELECT f AS l_returnflag, field_a, field_b, n_pairs, corr FROM (
        SELECT f, 'l_quantity' AS field_a, 'dollars' AS field_b,
          CAST(n AS BIGINT) AS n_pairs,
          CASE WHEN sqrt(n * s_qq - s_q * s_q) * sqrt(n * s_dd - s_d * s_d)
                    = 0e0 THEN NULL
               ELSE (n * s_qd - s_q * s_d) /
                 (sqrt(n * s_qq - s_q * s_q) * sqrt(n * s_dd - s_d * s_d))
          END AS corr FROM s
        UNION ALL
        SELECT f, 'l_quantity', 'linenum', CAST(n AS BIGINT),
          CASE WHEN sqrt(n * s_qq - s_q * s_q) * sqrt(n * s_ll - s_l * s_l)
                    = 0e0 THEN NULL
               ELSE (n * s_ql - s_q * s_l) /
                 (sqrt(n * s_qq - s_q * s_q) * sqrt(n * s_ll - s_l * s_l))
          END FROM s
        UNION ALL
        SELECT f, 'dollars', 'linenum', CAST(n AS BIGINT),
          CASE WHEN sqrt(n * s_dd - s_d * s_d) * sqrt(n * s_ll - s_l * s_l)
                    = 0e0 THEN NULL
               ELSE (n * s_dl - s_d * s_l) /
                 (sqrt(n * s_dd - s_d * s_d) * sqrt(n * s_ll - s_l * s_l))
          END FROM s)
      ORDER BY l_returnflag, field_a, field_b""",
    // bin arithmetic mirrored op for op: subtract lo, divide by span,
    // multiply by nBins, floor, clamp the right-closed top edge
    "histogram_price" -> """
      WITH b AS (SELECT l_returnflag,
          CASE WHEN l_extendedprice IS NULL OR l_extendedprice < 0e0
                    OR l_extendedprice > 6e4 THEN NULL
               ELSE least(CAST(floor((l_extendedprice - 0e0) / 6e4 * 12) + 1
                 AS BIGINT), 12) END AS l_extendedprice_bin
        FROM lineitem)
      SELECT l_returnflag, l_extendedprice_bin,
        CAST(count(*) AS BIGINT) AS n_rows,
        0e0 + (l_extendedprice_bin - 1) * 5e3 AS bin_lo
      FROM b GROUP BY 1, 2 ORDER BY 1, 2 NULLS FIRST""",
    // FILTER is the SQL spelling of the conditional aggregate the
    // pivot lowers to; an unfed bucket is NULL on both sides
    "pivot_returnflag" -> """
      SELECT l_linestatus,
        sum(l_quantity) FILTER (WHERE l_returnflag = 'A') AS A_sum,
        sum(l_quantity) FILTER (WHERE l_returnflag = 'N') AS N_sum,
        sum(l_quantity) FILTER (WHERE l_returnflag = 'R') AS R_sum
      FROM lineitem GROUP BY 1 ORDER BY 1""",
    "percentile_price" ->
      """SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.25) AS l_extendedprice_p25,
         quantile_cont(l_extendedprice, 0.5) AS l_extendedprice_p50,
         quantile_cont(l_extendedprice, 0.9) AS l_extendedprice_p90,
         count(*) AS record_count
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "train_split" -> s"""
      SELECT split, count(*) AS record_count FROM (
        SELECT CASE WHEN h < 3435973836 THEN 'train'
                    WHEN h < 3865470566 THEN 'val'
                    WHEN h < 4294967296 THEN 'test'
                    ELSE 'train' END AS split
        FROM (SELECT list_sum(list_transform(range(1,9), j ->
                (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1)
                * CAST(16**(8-j) AS BIGINT))) AS h
              FROM documents))
      GROUP BY split ORDER BY split""",
    // mirrors TextOps.kFold: md5-prefix-32 hash mod 5
    "k_fold" -> s"""
      SELECT CAST(h % 5 AS BIGINT) AS fold, lang,
        count(*) AS record_count
      FROM (SELECT lang, list_sum(list_transform(range(1,9), j ->
              (strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1)
              * CAST(16**(8-j) AS BIGINT))) AS h
            FROM documents)
      GROUP BY fold, lang ORDER BY fold, lang""",
    "filter_funnel" -> s"""
      WITH q AS ($qualityPerDocSql),
      sig AS (SELECT d.doc_id,
          len(string_split(d.text, ' ')) AS n_tok,
          d.lang, q.quality,
          CASE WHEN len(string_split(d.text, ' ')) = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST(len(string_split(d.text, ' '))
                         - len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
                    / len(string_split(d.text, ' ')) END AS dup_frac
        FROM documents d JOIN q ON d.doc_id = q.doc_id),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS total,
          CAST(sum(CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS p0,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p1,
          CAST(sum(CASE WHEN quality > 45e-2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
          CAST(sum(CASE WHEN dup_frac < 4e-1 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
          CAST(sum(CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
          CAST(sum(CASE WHEN n_tok >= 20 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN n_tok >= 20 AND lang = 'en' AND quality > 45e-2
              THEN 1 ELSE 0 END) AS BIGINT) AS c2,
          CAST(sum(CASE WHEN n_tok >= 20 AND lang = 'en' AND quality > 45e-2
                   AND dup_frac < 4e-1 THEN 1 ELSE 0 END) AS BIGINT) AS c3
        FROM sig)
      SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS step, 'min_tokens' AS rule,
          p0 AS pass_count, c0 AS surviving_count, total FROM agg
        UNION ALL SELECT 1, 'english', p1, c1, total FROM agg
        UNION ALL SELECT 2, 'quality', p2, c2, total FROM agg
        UNION ALL SELECT 3, 'not_repetitive', p3, c3, total FROM agg) t
      ORDER BY step""",
    // md5-prefix uint32 cutoff per stratum — mirrors Ops.sampleStratifiedHash
    "stratified_sample" -> """
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE list_sum(list_transform(range(1,9), j ->
          (strpos('0123456789abcdef',
             substr(md5(CAST(o_orderkey AS VARCHAR)), j, 1)) - 1)
          * CAST(16**(8-j) AS BIGINT)))
        < (CASE WHEN o_orderstatus = 'F' THEN 214748364
                WHEN o_orderstatus = 'O' THEN 858993459
                WHEN o_orderstatus = 'P' THEN 2147483648
                ELSE 0 END)
      ORDER BY o_orderkey""",
    "salted_agg" ->
      """SELECT l_returnflag,
         sum(l_quantity) AS l_quantity_sum,
         avg(l_quantity) AS l_quantity_average,
         count(*) AS record_count
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // winsorize — mirrors Ops.winsorize: quantile_cont ≡ Spark's exact
    // percentile; least/greatest skip NULL bounds on both engines, the
    // explicit CASE keeps NULL values NULL
    "winsorize_price" -> """
      WITH b AS (SELECT l_returnflag,
          quantile_cont(l_extendedprice, 0.05) AS lo,
          quantile_cont(l_extendedprice, 0.95) AS hi
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        CASE WHEN l_extendedprice IS NULL THEN NULL
             ELSE least(greatest(l_extendedprice, lo), hi) END
          AS l_extendedprice_w
      FROM lineitem JOIN b USING (l_returnflag)
      WHERE l_orderkey < 1000
      ORDER BY l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        l_extendedprice_w""",
    // the maintenance identity: the oracle recomputes the rollup over
    // the FULL table — merged state must equal it exactly (l_quantity is
    // integral-valued, so double sums are order-independent; the average
    // is the same single division both sides)
    "incremental_rollup" -> """
      SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS l_quantity_sum,
        min(l_quantity) AS l_quantity_min,
        max(l_quantity) AS l_quantity_max,
        sum(l_quantity) / count(l_quantity) AS l_quantity_average,
        CAST(count(*) AS BIGINT) AS record_count
      FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    // the sketch is in its exact (coupon) regime at this cardinality, so
    // the HLL estimate equals true distinct — what the oracle asserts
    "incremental_distinct" -> """
      SELECT l_returnflag,
        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS l_suppkey_distinct_est
      FROM lineitem GROUP BY 1 ORDER BY 1""",
    // five exact sums then the closed-form OLS line in doubles — the
    // same IEEE op order as Ops.regression; lineitem is NULL-free so
    // pairwise-complete counts collapse to count(*)
    "regression_price" -> """
      WITH li AS (SELECT l_returnflag AS f, l_quantity AS x,
          round(l_extendedprice, 0) AS y FROM lineitem),
      s AS (SELECT f, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
          sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
          sum(y * y) AS syy
        FROM li GROUP BY f)
      SELECT f AS l_returnflag, CAST(n AS BIGINT) AS n_pairs,
        CASE WHEN (n * sxx - sx * sx) = 0e0 THEN NULL
             ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
        END AS slope,
        CASE WHEN (n * sxx - sx * sx) = 0e0 THEN NULL
             ELSE (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                  / n
        END AS intercept,
        CASE WHEN (n * sxx - sx * sx) = 0e0 OR (n * syy - sy * sy) = 0e0
             THEN NULL
             ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                  / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        END AS r2
      FROM s ORDER BY l_returnflag""",
    // pre-capacity theta sketches ARE the distinct sets, so estimate /
    // intersect / aNotB equal exact set arithmetic — replayed here as
    // correlated exact counts over the distinct (flag, suppkey) pairs
    "theta_overlap" -> """
      WITH s AS (SELECT DISTINCT l_returnflag AS f, l_suppkey AS k
                 FROM lineitem),
      fl AS (SELECT DISTINCT f FROM s)
      SELECT a.f AS flag_a, b.f AS flag_b,
        CAST((SELECT count(*) FROM s WHERE s.f = a.f) AS BIGINT) AS n_a,
        CAST((SELECT count(*) FROM s WHERE s.f = b.f) AS BIGINT) AS n_b,
        CAST((SELECT count(*) FROM s x JOIN s y ON x.k = y.k
              WHERE x.f = a.f AND y.f = b.f) AS BIGINT) AS n_common,
        CAST((SELECT count(*) FROM s WHERE s.f = a.f) -
             (SELECT count(*) FROM s x JOIN s y ON x.k = y.k
              WHERE x.f = a.f AND y.f = b.f) AS BIGINT) AS n_only_a
      FROM fl a JOIN fl b ON a.f < b.f
      ORDER BY flag_a, flag_b""",
    // every group in the % 41 slice stays ≤ k = 200 values, so the KLL
    // sketch is a plain sorted buffer and each rank r is the exact
    // order statistic at 1-indexed position ⌈r·n⌉ (INCLUSIVE search
    // semantics, spec-pinned) — which is what this replays
    "incremental_quantile" -> """
      WITH e AS (SELECT event_type, value FROM events
                 WHERE event_id % 41 = 0
                   AND value IS NOT NULL AND NOT isnan(value)),
      r AS (SELECT event_type, value,
              row_number() OVER (PARTITION BY event_type ORDER BY value)
                AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM e)
      SELECT event_type,
        max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END)
          AS value_p50,
        max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END)
          AS value_p90
      FROM r GROUP BY 1 ORDER BY 1""",
    // collision-free CMS regime: every point estimate is the exact
    // (source, lang) count and absent probe keys read 0 — a plain
    // count spine over the full source×lang grid
    "incremental_freq" -> """
      WITH langs AS (SELECT unnest(['de','en','es','fr','zh']) AS item),
      srcs AS (SELECT DISTINCT source FROM documents),
      c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY source, lang)
      SELECT s.source, l.item,
        CAST(coalesce(c.n, 0) AS BIGINT) AS lang_freq_est
      FROM srcs s CROSS JOIN langs l
      LEFT JOIN c ON c.source = s.source AND c.lang = l.item
      ORDER BY s.source, l.item""",
    // mirrors Ops.equalFreqBins: exact interior-decile cutpoints
    // (quantile_cont list ≡ Spark's percentile array), bin = 1 + cuts
    // strictly below the value, ties land low
    "equal_freq_bins" -> """
      WITH c AS (SELECT l_returnflag,
          quantile_cont(l_extendedprice,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag,
        CAST(1 + len(list_filter(cuts, x -> l_extendedprice > x)) AS BIGINT)
          AS l_extendedprice_bin,
        CAST(count(*) AS BIGINT) AS n_rows,
        min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      FROM lineitem JOIN c USING (l_returnflag)
      GROUP BY 1, 2 ORDER BY 1, 2""",
    // the salted join's RESULT is the plain join — the oracle shares
    // the unsalted SQL verbatim, which is the whole correctness claim
    "join_salted" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderstatus,
           o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber, l_quantity, o_orderstatus,
           o_totalprice""",
    "key_skew" ->
      """WITH c AS (SELECT o_custkey, count(*) AS key_count
           FROM orders GROUP BY o_custkey),
         t AS (SELECT count(*) AS total FROM orders)
         SELECT o_custkey, key_count,
           CAST(key_count AS DOUBLE) / CAST(total AS DOUBLE) AS share
         FROM c CROSS JOIN t
         ORDER BY key_count DESC, o_custkey ASC LIMIT 20""",
    // the naive single-partition global rank IS the spec the
    // 256-bucket two-pass form must equal: bucket prefix = leading
    // radix of the ordering hash
    // per-shard md5-prefix scores, (score, shard)-max election via
    // DESC/DESC row_number — mirrors Ops.rendezvousShard incl. the
    // tie discipline
    "rendezvous_shard" -> s"""
      WITH sc AS (SELECT doc_id, sh,
          ${hash32Sql("'rv|' || sh || '|' || CAST(doc_id AS VARCHAR)")}
            AS h
        FROM documents, unnest(['s0','s1','s2','s3']) u(sh)),
      r AS (SELECT doc_id, sh, row_number() OVER (
          PARTITION BY doc_id ORDER BY h DESC, sh DESC) AS rn
        FROM sc)
      SELECT doc_id, sh AS shard FROM r WHERE rn = 1 ORDER BY doc_id""",
    "shuffle_rank" -> """
      SELECT doc_id,
        CAST(row_number() OVER (
          ORDER BY md5('epoch0|' || CAST(doc_id AS VARCHAR)), doc_id)
          AS BIGINT) AS shuffle_rank
      FROM documents ORDER BY doc_id""",
  )

  /** SQL mirror of Ops.mortonCode: 16-bit shift-or-mask spread of each
    * dimension, b interleaved into the odd bit positions. */
  private def mortonSql(a: String, b: String): String = {
    def spread(e: String): String = {
      val v0 = s"(($e) & 65535)"
      val v1 = s"(($v0 | ($v0 << 8)) & 16711935)"
      val v2 = s"(($v1 | ($v1 << 4)) & 252645135)"
      val v3 = s"(($v2 | ($v2 << 2)) & 858993459)"
      s"(($v3 | ($v3 << 1)) & 1431655765)"
    }
    s"(${spread(a)} | (${spread(b)} << 1))"
  }
}
