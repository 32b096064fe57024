package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{BinaryOps, Conversations, Dedup, Frequency, GraphOps, Similarity, TextOps}
import graft.ops.{Ops, TemporalOps, WindowOps}
import graft.probes.Probes

/** Event, window, temporal-join and graph queries. */
private[graft] object QueriesTemporal {
  import SparkEntry.table
  import QueryHelpers._

  /** The shared censoring-aware subject frame of the four survival
    * rows (`retention_curve`, `logrank_test`, `rmst_retention`,
    * `survival_median`): per user on the sparse 1/13 event slice,
    * duration = active span in whole days, censored = still active
    * within 2 days of the corpus end. ONE definition so the slice,
    * the 86400 day quantum, and the 172800 censoring horizon cannot
    * drift between the four queries (review-caught ×4 copy); keeps
    * `user_id` so callers can derive side splits. */
  private def survivalSubjects(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val ev = table(s, dir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_id") % 13 === 0)
    val mx = ev.agg(max(col("ts").cast("long")).as("__gmax"))
    ev
      .groupBy((col("user_id") % 3).as("cohort"), col("user_id"))
      .agg(min(col("ts").cast("long")).as("__mn"),
        max(col("ts").cast("long")).as("__mxu"))
      .crossJoin(broadcast(mx))
      .select(col("cohort"), col("user_id"),
        floor((col("__mxu") - col("__mn")) / lit(86400L)).cast("long")
          .as("t0"),
        (col("__gmax") - col("__mxu") < lit(172800L)).as("cen"))
  }

  /** The events fixture's purchase and signup rows: the two sides of
    * the temporal-join rows (`asof_join*`, `band_join`). */
  private def purchasesAndSignups(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = table(s, dir, "events")
    (e.filter(col("event_type") === "purchase"),
      e.filter(col("event_type") === "signup"))
  }

  /** The three as-of rows, which differ only in direction and
    * tolerance: each purchase attaches one signup's id and value. */
  private def asOfPurchases(s: SparkSession, dir: String,
      direction: String = "backward",
      toleranceSeconds: Option[Long] = None): DataFrame = {
    val (purchases, signups) = purchasesAndSignups(s, dir)
    TemporalOps.asOfJoin(signups.select("event_id", "user_id", "ts", "value"),
      "user_id", "ts", "ts", rightVals = Seq("event_id", "value"),
      rightTieBreak = "event_id", direction = direction,
      toleranceSeconds = toleranceSeconds)(
      purchases.select("event_id", "user_id", "ts"))
      .select("event_id", "user_id", "asof_event_id", "asof_value")
      .orderBy("user_id", "event_id")
  }

  /** The hazard_gate fixture's stored reference hazard — ONE Scala
    * value feeding both the Spark query and the DuckDB mirror's
    * interpolated literals, so the two cannot drift. Rates sit near
    * the corpus-global per-bucket hazards (~0.077) so most windows
    * read quiet and the noisy ones exercise the gate. */
  private[graft] val hazardRef: Seq[Double] =
    Seq(0.08, 0.078, 0.072, 0.078, 0.078, 0.077)

  def registry: Seq[Query] = Seq(
    // ---- events: JSON + windows + sessions ---------------------------------
    Query("events_json_agg",
      """SELECT event_type,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
         count(*) AS record_count
         FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      table(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("record_count"))
        .orderBy("event_type")
    },
    Query("events_json_struct",
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""") { (s, dir) =>
      // document storage type (SURVEY §1.2): JSON text parsed on demand
      // with an explicit schema via from_json — typed struct access, no
      // per-field re-parse
      table(s, dir, "events")
        .withColumn("p", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG")))
        .select(col("event_id"), col("p.k").as("k"))
        .orderBy("event_id")
    },
    Query("topk_per_group",
      """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rank
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_orderpriority, rank""") { (s, dir) =>
      WindowOps.topKPerGroup(Seq("o_orderpriority"), "o_totalprice",
        "o_orderkey", 3)(table(s, dir, "orders"))
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
        .orderBy("o_orderpriority", "rank")
    },
    Query("running_sum",
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
         sum(l_quantity) OVER (PARTITION BY l_suppkey
           ORDER BY l_shipdate ASC NULLS FIRST, l_orderkey ASC NULLS FIRST,
             l_linenumber ASC NULLS FIRST, l_quantity ASC NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_sum
         FROM lineitem
         ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
           running_sum""") { (s, dir) =>
      WindowOps.runningSum(Seq("l_suppkey"),
        Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"),
        "l_quantity")(table(s, dir, "lineitem"))
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity", "running_sum")
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity", "running_sum")
    },
    Query("sessionize",
      """WITH o AS (SELECT user_id, event_id, ts,
           lag(ts) OVER (PARTITION BY user_id
             ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS prev
         FROM events),
         st AS (SELECT user_id, event_id, ts,
           CASE WHEN prev IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(prev)) AS BIGINT) > 1800
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS s
         FROM o)
         SELECT user_id, event_id,
           CAST(sum(s) OVER (PARTITION BY user_id
             ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM st ORDER BY user_id, event_id""") { (s, dir) =>
      WindowOps.sessionize("user_id", "ts", gapSeconds = 1800,
        tieBreak = Seq("event_id"))(table(s, dir, "events"))
        .select("user_id", "event_id", "session_id")
        .orderBy("user_id", "event_id")
    },
    // mirrors WindowOps.latestPerKey: greatest (ts, event_id) per user
    Query("latest_event",
      """SELECT user_id, event_id, event_type, value
         FROM events WHERE ts IS NOT NULL
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY ts DESC, event_id DESC) = 1
         ORDER BY user_id""") { (s, dir) =>
      // current state per user from the event history — the SCD1
      // read-side primitive as a standalone catalog op
      WindowOps.latestPerKey("user_id", "ts", tieBreak = "event_id")(
        table(s, dir, "events")
          .select("user_id", "ts", "event_id", "event_type", "value"))
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    },
    // mirrors WindowOps.cumulativeDistinct: first-occurrence flags per
    // (key, value) in event order, running-summed per key
    Query("cumulative_distinct",
      """WITH f AS (SELECT user_id, event_id, event_type, ts,
           CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
             ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) = 1
             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS fst
         FROM events)
         SELECT user_id, event_id, event_type,
           CAST(sum(fst) OVER (PARTITION BY user_id
             ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS distinct_so_far
         FROM f ORDER BY user_id, event_id""") { (s, dir) =>
      // per user: distinct event types seen so far at each event — the
      // count(DISTINCT) OVER Spark lacks, decomposed into two exact
      // integer windows
      WindowOps.cumulativeDistinct("user_id", "event_type",
        Seq("ts", "event_id"))(table(s, dir, "events"))
        .select("user_id", "event_id", "event_type", "distinct_so_far")
        .orderBy("user_id", "event_id")
    },
    // the sessionize CTE with the per-session rollup on top — duration
    // uses the SAME truncated-epoch arithmetic as the gap criterion
    Query("session_stats",
      """WITH o AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
             ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS prev
         FROM events),
         st AS (SELECT user_id, event_id, ts,
           CASE WHEN prev IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(prev)) AS BIGINT) > 1800
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS s
         FROM o),
         sess AS (SELECT user_id, event_id, ts,
           CAST(sum(s) OVER (PARTITION BY user_id
             ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
         FROM st)
         SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(floor(epoch(max(ts))) AS BIGINT)
             - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s,
           CAST(count(*) AS BIGINT) AS n_events
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id""") { (s, dir) =>
      // one row per session: bounds, whole-second duration, event count
      WindowOps.sessionStats("user_id", "ts", gapSeconds = 1800,
        tieBreak = Seq("event_id"))(table(s, dir, "events"))
        .orderBy("user_id", "session_id")
    },
    Query("event_deltas",
      """SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
               ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST))) AS BIGINT)
           AS delta_seconds
         FROM events ORDER BY user_id, event_id""") { (s, dir) =>
      WindowOps.eventDeltas("user_id", "ts", tieBreak = Seq("event_id"))(
        table(s, dir, "events"))
        .select("user_id", "event_id", "delta_seconds")
        .orderBy("user_id", "event_id")
    },
    // identical lead window, conditional pair counts, one integer
    // division — mirrors WindowOps.eventTransitions
    Query("event_transitions", """
      WITH o AS (SELECT user_id, event_type,
          lead(event_type) OVER (PARTITION BY user_id
            ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS nxt
        FROM events),
      c AS (SELECT event_type AS from_type, nxt AS to_type,
          CAST(count(*) AS BIGINT) AS n
        FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        FROM c GROUP BY 1)
      SELECT c.from_type, c.to_type, c.n,
        CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
      FROM c JOIN t USING (from_type)
      ORDER BY from_type, to_type""") { (s, dir) =>
      // the Markov journey view: consecutive in-user event pairs →
      // (from, to, n, p) with p an exact integer division; the oracle
      // replays the identical lead window and conditional counts
      WindowOps.eventTransitions("user_id", "ts", "event_type",
        tieBreak = Seq("event_id"))(table(s, dir, "events"))
        .orderBy("from_type", "to_type")
    },
    // mirrors WindowOps.activityProfile: floor-epoch arithmetic dow
    // (0 = Monday) and hour — integer division both engines agree on,
    // where dayofweek()/strftime conventions would not
    Query("activity_profile", """
      WITH e AS (SELECT event_type,
          CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events WHERE ts IS NOT NULL),
      c AS (SELECT event_type,
          CAST((CAST(floor(CAST(ep AS DOUBLE) / 86400) AS BIGINT) + 3) % 7
            AS INT) AS dow,
          CAST(floor(CAST(ep % 86400 AS DOUBLE) / 3600) AS INT) AS hour,
          CAST(count(*) AS BIGINT) AS n
        FROM e GROUP BY 1, 2, 3),
      t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot FROM c
        GROUP BY 1)
      SELECT c.event_type, dow, hour, n,
        CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share
      FROM c JOIN t USING (event_type)
      ORDER BY event_type, dow, hour""") { (s, dir) =>
      // (dow × hour) heatmap per event type: arithmetic day/hour, not
      // calendar functions (engine week conventions disagree)
      WindowOps.activityProfile("event_type", "ts")(
        table(s, dir, "events"))
    },
    // mirrors WindowOps.burstiness: integer-second gaps, HUGEINT
    // sufficient statistics, the same floored-variance IEEE dag
    Query("burstiness", """
      WITH g AS (SELECT user_id,
          CAST(floor(epoch(ts)) AS BIGINT)
            - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                PARTITION BY user_id
                ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)
            AS gp
        FROM events WHERE ts IS NOT NULL),
      s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          CAST(count(gp) AS BIGINT) AS n_gaps,
          coalesce(sum(CAST(gp AS HUGEINT)), CAST(0 AS HUGEINT)) AS sg,
          coalesce(sum(CAST(gp AS HUGEINT) * CAST(gp AS HUGEINT)),
            CAST(0 AS HUGEINT)) AS sg2
        FROM g GROUP BY user_id HAVING count(gp) >= 1),
      m AS (SELECT user_id, n_events, n_gaps,
          CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_sec,
          greatest((CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
              - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
            / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)),
            CAST(0 AS DOUBLE)) AS varp
        FROM s)
      SELECT user_id, n_events, n_gaps, mean_gap_sec,
        CASE WHEN mean_gap_sec = CAST(0 AS DOUBLE) THEN NULL
             ELSE sqrt(varp) / mean_gap_sec END AS cv_gap,
        CASE WHEN mean_gap_sec = CAST(0 AS DOUBLE) THEN NULL
             ELSE (sqrt(varp) / mean_gap_sec - CAST(1 AS DOUBLE))
                  / (sqrt(varp) / mean_gap_sec + CAST(1 AS DOUBLE)) END
          AS burstiness
      FROM m ORDER BY user_id""") { (s, dir) =>
      // Goh–Barabási inter-arrival index per user: metronome vs
      // Poisson vs bursty-bot behavioral fingerprint
      WindowOps.burstiness("user_id", "ts", tieBreak = Seq("event_id"))(
        table(s, dir, "events"))
        .orderBy("user_id")
    },
    // mirrors TemporalOps.decayedCounts: same clamped half-life bucket,
    // integer bit-shift weights summed as HUGEINT (decimal(38,0) on the
    // Spark side), one final division by 2^40. The "now" epoch is
    // computed by the SAME Scala expression the query uses, so the two
    // engines agree regardless of the box timezone.
    Query("decayed_counts", s"""
      WITH b AS (SELECT event_type,
          least(greatest(CAST(floor(CAST(
            ${java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime / 1000L}
            - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) / 259200)
            AS BIGINT), 0), 40) AS k
        FROM events WHERE ts IS NOT NULL)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(1 AS BIGINT) << CAST(40 - k AS INT)) AS DOUBLE)
          / 1099511627776e0 AS decayed
      FROM b GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      // recency-weighted type activity at a pinned "now": 3-day
      // half-life, exact dyadic weights (see scaladoc)
      TemporalOps.decayedCounts(Seq("event_type"), "ts",
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        halfLifeSeconds = 259200L)(table(s, dir, "events"))
        .orderBy("event_type")
    },
    // mirrors TemporalOps.ohlcBuckets: ordered-aggregate first/last for
    // the min_by/max_by composite-key picks, same bucket alignment as
    // events_time_buckets
    Query("ohlc_buckets", """
      SELECT event_type,
        time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP))
          AS bucket_start,
        first(value ORDER BY ts, event_id) AS open,
        max(value) AS high, min(value) AS low,
        last(value ORDER BY ts, event_id) AS close,
        CAST(count(*) AS BIGINT) AS n
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2 ORDER BY event_type, bucket_start""") { (s, dir) =>
      // candlestick view of the value series per event type, 6h buckets
      TemporalOps.ohlcBuckets("ts", "value", "6 hours",
        keys = Seq("event_type"), tieBreak = Seq("event_id"))(
        table(s, dir, "events"))
        .orderBy("event_type", "bucket_start")
    },
    // mirrors WindowOps.eventPaths: two leads over one per-user window,
    // hash-agg on the step tuple, top-k by (n desc, path asc)
    Query("event_paths", """
      WITH o AS (SELECT user_id, event_type AS s0,
          lead(event_type, 1) OVER w AS s1,
          lead(event_type, 2) OVER w AS s2
        FROM events
        WINDOW w AS (PARTITION BY user_id
          ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)),
      c AS (SELECT s0 || ' -> ' || s1 || ' -> ' || s2 AS path,
          CAST(count(*) AS BIGINT) AS n
        FROM o WHERE s1 IS NOT NULL AND s2 IS NOT NULL GROUP BY 1)
      SELECT path, n FROM c ORDER BY n DESC, path ASC LIMIT 20""") { (s, dir) =>
      // journey mining one level above the transition matrix: top
      // 3-step consecutive routes per user
      WindowOps.eventPaths("user_id", "ts", "event_type", steps = 3,
        k = 20, tieBreak = Seq("event_id"))(table(s, dir, "events"))
    },
    // ---- temporal joins ----------------------------------------------------
    // Mirrors TemporalOps.asOfJoin's union+window shape exactly (DuckDB's
    // ASOF JOIN leaves equal-timestamp tie-breaks unspecified; the window
    // form pins them). CAST(ts AS TIMESTAMP) truncates the fixture's nanos
    // to micros the same way SparkEntry.table does.
    Query("asof_join", """
      WITH u AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS t, 0 AS side,
               event_id AS tb,
               event_id AS r_event_id, value AS r_value,
               NULL::BIGINT AS l_event_id
        FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
        UNION ALL
        SELECT user_id, CAST(ts AS TIMESTAMP), 1, NULL, NULL, NULL, event_id
        FROM events WHERE event_type = 'purchase'),
      m AS (SELECT user_id, side, l_event_id,
              last_value(r_event_id IGNORE NULLS) OVER w AS asof_event_id,
              last_value(r_value IGNORE NULLS) OVER w AS asof_value
            FROM u
            WINDOW w AS (PARTITION BY user_id
              ORDER BY t ASC NULLS FIRST, side ASC, tb ASC NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT l_event_id AS event_id, user_id, asof_event_id, asof_value
      FROM m WHERE side = 1 ORDER BY user_id, event_id""") { (s, dir) => asOfPurchases(s, dir) },
    // sequential funnel — mirrors WindowOps.eventFunnel: per-step
    // first-qualifying-occurrence CTE chain, strictly-after ordering,
    // one division for the conversion rate
    Query("event_funnel", """
      WITH ev AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t,
          event_type AS e
        FROM events WHERE ts IS NOT NULL),
      s0 AS (SELECT u, min(t) AS pt FROM ev WHERE e = 'view' GROUP BY u),
      s1 AS (SELECT ev.u, min(ev.t) AS pt FROM ev JOIN s0 USING (u)
        WHERE ev.e = 'click' AND ev.t > s0.pt GROUP BY ev.u),
      s2 AS (SELECT ev.u, min(ev.t) AS pt FROM ev JOIN s1 USING (u)
        WHERE ev.e = 'purchase' AND ev.t > s1.pt GROUP BY ev.u),
      c AS (
        SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name,
          CAST(count(*) AS BIGINT) AS users FROM s0
        UNION ALL SELECT 1, 'click', count(*) FROM s1
        UNION ALL SELECT 2, 'purchase', count(*) FROM s2),
      n0 AS (SELECT users AS entered FROM c WHERE step = 0)
      SELECT step, step_name, users,
        CASE WHEN entered = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(users AS DOUBLE) / CAST(entered AS DOUBLE) END
          AS conversion
      FROM c CROSS JOIN n0 ORDER BY step""") { (s, dir) =>
      // sequential conversion: view -> click -> purchase, first
      // qualifying occurrence per user, strictly-after ordering
      WindowOps.eventFunnel("user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))(table(s, dir, "events"))
        .orderBy("step")
    },
    // cohort retention — mirrors WindowOps.cohortRetention: Monday-start
    // week truncs on both engines, whole-week offsets, distinct users
    Query("cohort_retention", """
      WITH ev AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t
        FROM events WHERE ts IS NOT NULL),
      f AS (SELECT u, CAST(date_trunc('week', min(t)) AS DATE) AS cw
        FROM ev GROUP BY u)
      SELECT cw AS cohort_week,
        CAST(datediff('day', cw, CAST(date_trunc('week', t) AS DATE)) / 7
          AS BIGINT) AS week_offset,
        CAST(count(DISTINCT u) AS BIGINT) AS active_users
      FROM ev JOIN f USING (u)
      GROUP BY cw, week_offset
      ORDER BY cohort_week, week_offset""") { (s, dir) =>
      WindowOps.cohortRetention("user_id", "ts")(table(s, dir, "events"))
        .orderBy("cohort_week", "week_offset")
    },
    // Forward as-of + tolerance — mirrors TemporalOps.asOfJoin
    // (direction = forward): the same union+window on the REVERSED time
    // axis (earlier-wins tie-break there), matched timestamp carried for
    // the tolerance CASE
    // both directional window passes replayed over one union frame,
    // then the closer candidate per purchase, equidistant ties backward
    // — mirrors the nearest branch op for op
    Query("asof_join_nearest", """
      WITH u AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS t, 0 AS side,
               event_id AS tb,
               event_id AS r_event_id, value AS r_value,
               CAST(ts AS TIMESTAMP) AS r_mt,
               NULL::BIGINT AS l_event_id
        FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
        UNION ALL
        SELECT user_id, CAST(ts AS TIMESTAMP), 1, NULL, NULL, NULL, NULL,
               event_id
        FROM events WHERE event_type = 'purchase'),
      m AS (SELECT user_id, side, l_event_id, t,
              last_value(r_event_id IGNORE NULLS) OVER wb AS b_id,
              last_value(r_value IGNORE NULLS) OVER wb AS b_val,
              last_value(r_mt IGNORE NULLS) OVER wb AS b_mt,
              last_value(r_event_id IGNORE NULLS) OVER wf AS f_id,
              last_value(r_value IGNORE NULLS) OVER wf AS f_val,
              last_value(r_mt IGNORE NULLS) OVER wf AS f_mt
            FROM u
            WINDOW wb AS (PARTITION BY user_id
              ORDER BY t ASC NULLS FIRST, side ASC, tb ASC NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wf AS (PARTITION BY user_id
              ORDER BY t DESC NULLS FIRST, side ASC, tb DESC NULLS LAST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT l_event_id AS event_id, user_id,
        CASE WHEN b_mt IS NULL THEN f_id WHEN f_mt IS NULL THEN b_id
          WHEN epoch_us(t) - epoch_us(b_mt) <= epoch_us(f_mt) - epoch_us(t)
          THEN b_id ELSE f_id END AS asof_event_id,
        CASE WHEN b_mt IS NULL THEN f_val WHEN f_mt IS NULL THEN b_val
          WHEN epoch_us(t) - epoch_us(b_mt) <= epoch_us(f_mt) - epoch_us(t)
          THEN b_val ELSE f_val END AS asof_value
      FROM m WHERE side = 1 ORDER BY user_id, event_id""") { (s, dir) =>
      // nearest as-of: each purchase attaches whichever signup sits
      // closer in time (either direction), equidistant ties backward —
      // both directional passes inside ONE key shuffle
      asOfPurchases(s, dir, direction = "nearest")
    },
    Query("asof_join_fwd", """
      WITH u AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS t, 0 AS side,
               event_id AS tb,
               event_id AS r_event_id, value AS r_value,
               CAST(ts AS TIMESTAMP) AS r_t,
               NULL::BIGINT AS l_event_id
        FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
        UNION ALL
        SELECT user_id, CAST(ts AS TIMESTAMP), 1, NULL, NULL, NULL, NULL,
               event_id
        FROM events WHERE event_type = 'purchase'),
      m AS (SELECT user_id, side, l_event_id, t,
              last_value(r_event_id IGNORE NULLS) OVER w AS a_event_id,
              last_value(r_value IGNORE NULLS) OVER w AS a_value,
              last_value(r_t IGNORE NULLS) OVER w AS a_t
            FROM u
            WINDOW w AS (PARTITION BY user_id
              ORDER BY t DESC NULLS FIRST, side ASC, tb DESC NULLS LAST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT l_event_id AS event_id, user_id,
        CASE WHEN a_t IS NOT NULL
               AND abs(epoch_us(t) - epoch_us(a_t)) <= 86400000000
             THEN a_event_id END AS asof_event_id,
        CASE WHEN a_t IS NOT NULL
               AND abs(epoch_us(t) - epoch_us(a_t)) <= 86400000000
             THEN a_value END AS asof_value
      FROM m WHERE side = 1 ORDER BY user_id, event_id""") { (s, dir) =>
      // forward as-of with tolerance: each purchase attaches the NEXT
      // signup within 24h, or NULLs when the nearest one is too far
      asOfPurchases(s, dir, direction = "forward",
        toleranceSeconds = Some(86400L))
    },
    // SCD2 — mirrors TemporalOps.scd2History: lag-compare change
    // compression, lead interval close, both over (user, ts, event_id)
    Query("scd2_history", """
      WITH src AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t,
          event_id
        FROM events WHERE ts IS NOT NULL),
      o AS (SELECT *, lag(event_type) OVER w AS prev,
          CASE WHEN lag(t) OVER w IS NULL THEN true ELSE false END AS first
        FROM src
        WINDOW w AS (PARTITION BY user_id
          ORDER BY t ASC NULLS FIRST, event_id ASC NULLS FIRST)),
      kept AS (SELECT * FROM o
        WHERE first OR event_type IS DISTINCT FROM prev),
      v AS (SELECT user_id, event_type, t,
          lead(t) OVER (PARTITION BY user_id
            ORDER BY t ASC NULLS FIRST, event_id ASC NULLS FIRST) AS vt
        FROM kept)
      SELECT user_id, event_type,
        epoch_us(t) AS valid_from_us, epoch_us(vt) AS valid_to_us,
        CASE WHEN vt IS NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
          AS is_current
      FROM v
      ORDER BY user_id, valid_from_us, valid_to_us, event_type, is_current""") { (s, dir) =>
      // SCD2 dimension build: each user's event_type change stream
      // compressed to versions with validity intervals (emitted as epoch
      // micros — timestamps stay engine-internal)
      TemporalOps.scd2History("user_id", "ts", Seq("event_type"),
        tieBreak = "event_id")(table(s, dir, "events"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))
        .orderBy("user_id", "valid_from_us", "valid_to_us", "event_type",
          "is_current")
    },
    // mirrors WindowOps.timeWeightedAvg: lead-derived holding
    // durations, exact integer v*dur sums, one final division; last
    // events carry no weight, zero-duration keys emit NULL
    Query("twa_value", """
      WITH e AS (SELECT user_id,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          CAST(round(value * 1e2, 0) AS BIGINT) AS v, event_id
        FROM events WHERE ts IS NOT NULL),
      d AS (SELECT user_id, v,
          lead(us) OVER (PARTITION BY user_id
            ORDER BY us ASC, event_id ASC) - us AS dur
        FROM e),
      a AS (SELECT user_id, CAST(sum(v * dur) AS BIGINT) AS wv,
          CAST(sum(dur) AS BIGINT) AS dur_us
        FROM d WHERE dur IS NOT NULL GROUP BY 1)
      SELECT user_id,
        CASE WHEN dur_us = 0 THEN NULL
             ELSE CAST(wv AS DOUBLE) / CAST(dur_us AS DOUBLE) END AS twa,
        dur_us
      FROM a ORDER BY user_id""") { (s, dir) =>
      // duration-weighted mean of the cent-scaled value per user — the
      // irregular-sampling-correct average; integral value x µs
      // products stay exact 64-bit, one final division
      val e = table(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"), round(col("value") * 1e2, 0).cast("long").as("v"))
      WindowOps.timeWeightedAvg("user_id", "ts", "v", tieBreak = "event_id")(e)
        .orderBy("user_id")
    },
    // mirrors WindowOps.rollingAgg: same ROWS frame; integral cent sums
    // are order-free; the mean is true division (BIGINT / -> DOUBLE in
    // DuckDB, long/long -> double in Spark)
    Query("rolling_agg", """
      WITH e AS (SELECT user_id, ts, event_id,
          CAST(round(value * 1e2, 0) AS BIGINT) AS v FROM events)
      SELECT user_id, event_id, v,
        CAST(sum(v) OVER w AS BIGINT) AS rolling_sum,
        CAST(count(v) OVER w AS BIGINT) AS rolling_n,
        CAST(sum(v) OVER w AS BIGINT) / CAST(count(v) OVER w AS BIGINT)
          AS rolling_mean
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""") { (s, dir) =>
      // trailing-5-row moving sum/mean per user on the cent-scaled
      // value (frame sums visit rows in engine order — only integral
      // sums hash-match, the money doctrine)
      val e = table(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"), round(col("value") * 1e2, 0).cast("long").as("v"))
      WindowOps.rollingAgg(Seq("user_id"), Seq("ts", "event_id"), "v", k = 5)(e)
        .select("user_id", "event_id", "v", "rolling_sum", "rolling_n",
          "rolling_mean")
        .orderBy("user_id", "event_id")
    },
    // mirrors WindowOps.ewmaSmooth: y1 = v1, yi = a*vi + b*y(i-1) as a
    // recursive CTE — the identical two-multiply-one-add step, with the
    // Scala-printed double constants so both engines fold the same bits
    Query("ewma_value", s"""
      WITH RECURSIVE o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) AS i
        FROM events WHERE ts IS NOT NULL),
      r AS (
        SELECT user_id, ts, event_id, value, i, value AS ewma
        FROM o WHERE i = 1
        UNION ALL
        SELECT o.user_id, o.ts, o.event_id, o.value, o.i,
          ${0.3} * o.value + ${1.0 - 0.3} * r.ewma
        FROM o JOIN r ON o.user_id = r.user_id AND o.i = r.i + 1)
      SELECT user_id, ts, event_id, value, ewma
      FROM r ORDER BY user_id, ts, event_id""") { (s, dir) =>
      // per-user exponential smoothing of the value stream; the fold is
      // a literal sequential recurrence, mirrored by the oracle's
      // recursive CTE step for step
      WindowOps.ewmaSmooth("user_id", "ts", "value", alpha = 0.3,
        tieBreak = "event_id")(table(s, dir, "events"))
        .orderBy("user_id", "ts", "event_id")
    },
    // mirrors WindowOps.holtSmooth: recursive per-user replay of the
    // level/trend recurrences — level seeds at the first value, trend
    // at 0, NULL value (or a NULL-poisoned level) propagates NULL, and
    // the trend step re-spells the level expression verbatim (same
    // IEEE sequence the fold computes once)
    Query("holt_smooth", s"""
      WITH RECURSIVE o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) AS i
        FROM events WHERE ts IS NOT NULL),
      r AS (
        SELECT user_id, ts, event_id, value, i, value AS level,
          CASE WHEN value IS NULL THEN NULL
               ELSE CAST(0 AS DOUBLE) END AS trend
        FROM o WHERE i = 1
        UNION ALL
        SELECT o.user_id, o.ts, o.event_id, o.value, o.i,
          CASE WHEN o.value IS NULL OR r.level IS NULL THEN NULL
            ELSE ${0.3} * o.value
               + ${1.0 - 0.3} * (r.level + r.trend) END,
          CASE WHEN o.value IS NULL OR r.level IS NULL THEN NULL
            ELSE ${0.1} * ((${0.3} * o.value
                 + ${1.0 - 0.3} * (r.level + r.trend)) - r.level)
               + ${1.0 - 0.1} * r.trend END
        FROM o JOIN r ON o.user_id = r.user_id AND o.i = r.i + 1)
      SELECT user_id, ts, event_id, value, level, trend,
        level + trend AS forecast
      FROM r ORDER BY user_id, ts, event_id""") { (s, dir) =>
      // trend-aware double smoothing of each user's value stream:
      // level/trend recurrences replayed step-for-step by the oracle's
      // recursive CTE; forecast = level + trend is the drift baseline
      WindowOps.holtSmooth("user_id", "ts", "value", alpha = 0.3,
        beta = 0.1, tieBreak = "event_id")(table(s, dir, "events"))
        .orderBy("user_id", "ts", "event_id")
    },
    // mirrors WindowOps.holtSmooth(phi = 0.8): the holt_smooth
    // recursive CTE with the carried trend phi-scaled in both
    // recurrences and in the forecast — every phi multiply spelled in
    // the same position the Spark fold evaluates it
    Query("holt_damped", s"""
      WITH RECURSIVE o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) AS i
        FROM events WHERE ts IS NOT NULL),
      r AS (
        SELECT user_id, ts, event_id, value, i, value AS level,
          CASE WHEN value IS NULL THEN NULL
               ELSE CAST(0 AS DOUBLE) END AS trend
        FROM o WHERE i = 1
        UNION ALL
        SELECT o.user_id, o.ts, o.event_id, o.value, o.i,
          CASE WHEN o.value IS NULL OR r.level IS NULL THEN NULL
            ELSE ${0.3} * o.value
               + ${1.0 - 0.3} * (r.level + ${0.8} * r.trend) END,
          CASE WHEN o.value IS NULL OR r.level IS NULL THEN NULL
            ELSE ${0.1} * ((${0.3} * o.value
                 + ${1.0 - 0.3} * (r.level + ${0.8} * r.trend))
                 - r.level)
               + ${1.0 - 0.1} * (${0.8} * r.trend) END
        FROM o JOIN r ON o.user_id = r.user_id AND o.i = r.i + 1)
      SELECT user_id, ts, event_id, value, level, trend,
        level + ${0.8} * trend AS forecast
      FROM r ORDER BY user_id, ts, event_id""") { (s, dir) =>
      // Gardner-damped Holt (phi = 0.8): the trend-overshoot fix for
      // ramp-then-plateau metrics — the same recurrences with the
      // carried trend phi-scaled, forecast = level + phi*trend
      WindowOps.holtSmooth("user_id", "ts", "value", alpha = 0.3,
        beta = 0.1, tieBreak = "event_id", phi = 0.8)(
        table(s, dir, "events"))
        .orderBy("user_id", "ts", "event_id")
    },
    // mirrors WindowOps.holtWinters: the holt_smooth recursive CTE
    // extended with the seasonal ring carried as a LIST(DOUBLE) —
    // q[1] is the slot one cycle back, each step pops it and appends
    // the fresh seasonal; every expression repeated verbatim where
    // the fold names it once
    Query("holt_winters", s"""
      WITH RECURSIVE o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) AS i
        FROM events WHERE ts IS NOT NULL),
      r AS (
        SELECT user_id, ts, event_id, value, i, value AS level,
          CASE WHEN value IS NULL THEN NULL
               ELSE CAST(0 AS DOUBLE) END AS trend,
          CASE WHEN value IS NULL THEN NULL
               ELSE CAST(0 AS DOUBLE) END AS seasonal,
          CASE WHEN value IS NULL THEN NULL
               ELSE [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                     CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)] END AS q
        FROM o WHERE i = 1
        UNION ALL
        SELECT o.user_id, o.ts, o.event_id, o.value, o.i,
          CASE WHEN o.value IS NULL OR r.level IS NULL THEN NULL
            ELSE ${0.3} * (o.value - r.q[1])
               + ${1.0 - 0.3} * (r.level + r.trend) END,
          CASE WHEN o.value IS NULL OR r.level IS NULL THEN NULL
            ELSE ${0.1} * ((${0.3} * (o.value - r.q[1])
                 + ${1.0 - 0.3} * (r.level + r.trend)) - r.level)
               + ${1.0 - 0.1} * r.trend END,
          CASE WHEN o.value IS NULL OR r.level IS NULL THEN NULL
            ELSE ${0.2} * (o.value - (${0.3} * (o.value - r.q[1])
                 + ${1.0 - 0.3} * (r.level + r.trend)))
               + ${1.0 - 0.2} * r.q[1] END,
          CASE WHEN o.value IS NULL OR r.level IS NULL THEN NULL
            ELSE list_append(r.q[2:4],
              ${0.2} * (o.value - (${0.3} * (o.value - r.q[1])
                 + ${1.0 - 0.3} * (r.level + r.trend)))
               + ${1.0 - 0.2} * r.q[1]) END
        FROM o JOIN r ON o.user_id = r.user_id AND o.i = r.i + 1)
      SELECT user_id, ts, event_id, value, level, trend, seasonal,
        level + trend + q[1] AS forecast
      FROM r ORDER BY user_id, ts, event_id""") { (s, dir) =>
      // the seasonal rung above holt_smooth: level/trend/seasonal
      // recurrences (period 4) replayed step-for-step by the oracle's
      // recursive CTE carrying the seasonal ring as a list
      WindowOps.holtWinters("user_id", "ts", "value", alpha = 0.3,
        beta = 0.1, gamma = 0.2, period = 4, tieBreak = "event_id")(
        table(s, dir, "events"))
        .orderBy("user_id", "ts", "event_id")
    },
    // mirrors WindowOps.rollingCorr: 1e-9-quantized decimal sufficient
    // statistics over the identical 10-row frame, HUGEINT-exact
    // (n·Sxy − Sx·Sy) assembly, two sqrts and one division; partial
    // frames and zero variance report NULL
    Query("rolling_corr", """
      WITH b AS (SELECT l_returnflag, l_shipdate, l_orderkey,
          l_linenumber, l_quantity, l_extendedprice,
          CAST(round(l_quantity * 1e9, 0) AS DECIMAL(19,0)) AS x9,
          CAST(round(l_extendedprice * 1e9, 0) AS DECIMAL(19,0)) AS y9
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      c AS (SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber,
          l_quantity, l_extendedprice,
          CAST(count(*) OVER w AS BIGINT) AS n,
          CAST(sum(x9) OVER w AS HUGEINT) AS sx,
          CAST(sum(y9) OVER w AS HUGEINT) AS sy,
          CAST(sum(CAST(x9 * x9 AS DECIMAL(38,0))) OVER w AS HUGEINT)
            AS sxx,
          CAST(sum(CAST(y9 * y9 AS DECIMAL(38,0))) OVER w AS HUGEINT)
            AS syy,
          CAST(sum(CAST(x9 * y9 AS DECIMAL(38,0))) OVER w AS HUGEINT)
            AS sxy
        FROM b WINDOW w AS (PARTITION BY l_returnflag
          ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity,
            l_extendedprice
          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
      SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber,
        l_quantity, l_extendedprice, n,
        CASE WHEN n < 10 THEN NULL
             WHEN CAST(n * sxx - sx * sx AS DOUBLE) <= 0
               OR CAST(n * syy - sy * sy AS DOUBLE) <= 0 THEN NULL
             ELSE CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS corr
      FROM c
      ORDER BY l_returnflag, l_shipdate, l_orderkey, l_linenumber,
        l_quantity, l_extendedprice""") { (s, dir) =>
      // does extended price still track quantity? 10-row rolling
      // Pearson per return flag — exact decimal sufficient statistics,
      // full frames only, order made total by including the measures
      // pinned before the global sort: a range-partitioned orderBy
      // SAMPLES its child to pick bounds and then shuffles it — the
      // child executes twice, and here the child is the heaviest
      // window pipeline on the surface (5 exact decimal cumsum legs
      // over 600 k rows; measured 2 × ~4 s of the ~10 s sf0.1 cell).
      // localCheckpoint materializes the window output once; the sort
      // then samples+shuffles the pinned rows. Output bit-identical.
      WindowOps.rollingCorr(Seq("l_returnflag"),
        Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice"),
        "l_quantity", "l_extendedprice", window = 10)(
        table(s, dir, "lineitem"))
        .localCheckpoint()
        .orderBy("l_returnflag", "l_shipdate", "l_orderkey",
          "l_linenumber", "l_quantity", "l_extendedprice")
    },
    // the plain non-equi overlap join the bucket-exploded equi-join
    // provably equals; half-open [s, e) overlap, integer overlap_us
    Query("interval_join", """
      WITH iv AS (SELECT event_id, user_id, event_type,
          epoch_us(CAST(ts AS TIMESTAMP)) AS s,
          epoch_us(CAST(ts AS TIMESTAMP))
            + (event_id % 14400 + 1800) * 1000000 AS e
        FROM events WHERE ts IS NOT NULL)
      SELECT a.event_id AS signup_id, b.event_id AS purchase_id,
        a.user_id,
        CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_us
      FROM iv a JOIN iv b ON a.user_id = b.user_id
      WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
        AND a.s < b.e AND b.s < a.e
      ORDER BY a.user_id, signup_id, purchase_id""") { (s, dir) =>
      // signup sessions vs purchase sessions that overlap in time for
      // the same user — both sides INTERVALS (event_id-derived lengths,
      // 0.5-4.5 h), bucket-exploded to a pure equi-join; the oracle is
      // the plain non-equi join the bucket plan provably equals
      val ev = table(s, dir, "events")
      def iv(t: String) = ev.filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"),
          col("ts").as("start_ts"),
          timestamp_micros(unix_micros(col("ts")) +
            (col("event_id") % 14400 + 1800) * 1000000L).as("end_ts"))
      TemporalOps.intervalJoin(iv("purchase"), "user_id",
        "start_ts", "end_ts", "start_ts", "end_ts", widthSeconds = 7200L)(
        iv("signup"))
        .select(col("l_event_id").as("signup_id"),
          col("r_event_id").as("purchase_id"),
          col("l_user_id").as("user_id"), col("overlap_us"))
        .orderBy("user_id", "signup_id", "purchase_id")
    },
    // the merge result spelled out set-wise: untouched snapshot keys +
    // upserted latest changes; deletes vanish (each key has exactly one
    // change in this stream, so last-wins needs no dedup here)
    Query("apply_changes", """
      WITH snap AS (SELECT c_custkey, c_name, c_mktsegment
          FROM customer WHERE c_custkey <= 1000),
      chg AS (SELECT c_custkey, c_name,
          c_mktsegment || '_V2' AS c_mktsegment,
          CASE WHEN c_custkey % 2 = 1 THEN 'U' ELSE 'D' END AS op
        FROM customer WHERE c_custkey > 500)
      SELECT c_custkey, c_name, c_mktsegment FROM snap
      WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
      UNION ALL
      SELECT c_custkey, c_name, c_mktsegment FROM chg WHERE op = 'U'
      ORDER BY c_custkey""") { (s, dir) =>
      // CDC merge: the pre-cutoff customer snapshot maintained with the
      // post-cutoff rows replayed as a change stream (odd custkeys
      // upsert with a refreshed segment, even custkeys delete) — the
      // warehouse MERGE INTO, last-wins per key
      val c = table(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
      val snapshot = c.filter(col("c_custkey") <= 1000)
      val changes = table(s, dir, "customer")
        .filter(col("c_custkey") > 500)
        .select(col("c_custkey"), col("c_name"),
          concat(col("c_mktsegment"), lit("_V2")).as("c_mktsegment"),
          when(col("c_custkey") % 2 === 1, lit("U")).otherwise(lit("D"))
            .as("op"),
          col("c_custkey").cast("timestamp").as("chg_ts"),
          col("c_custkey").as("chg_id"))
      TemporalOps.applyChanges(changes, "c_custkey", "chg_ts", "chg_id",
        "op")(snapshot)
        .orderBy("c_custkey")
    },
    // mirrors TemporalOps.resample: integer bucket index, per-bucket
    // latest value by (ts, event_id), generate_series spine per user,
    // IGNORE NULLS last_value forward fill — values never aggregated
    Query("resample_ffill", """
      WITH e AS (SELECT user_id, value, event_id,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events WHERE ts IS NOT NULL),
      e2 AS (SELECT *, (us - (us % 21600000000)) // 21600000000 AS bi FROM e),
      agg AS (SELECT user_id, bi, CAST(count(*) AS BIGINT) AS n_events
        FROM e2 GROUP BY 1, 2),
      lastv AS (SELECT user_id, bi, value AS v_last FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, bi
            ORDER BY us DESC, event_id DESC) AS rn FROM e2)
        WHERE rn = 1),
      sp AS (SELECT user_id, unnest(generate_series(mn, mx)) AS bi
        FROM (SELECT user_id, min(bi) AS mn, max(bi) AS mx
              FROM agg GROUP BY 1)),
      j AS (SELECT sp.user_id, sp.bi,
          coalesce(agg.n_events, CAST(0 AS BIGINT)) AS n_events, lastv.v_last
        FROM sp LEFT JOIN agg ON sp.user_id = agg.user_id AND sp.bi = agg.bi
        LEFT JOIN lastv ON sp.user_id = lastv.user_id AND sp.bi = lastv.bi)
      SELECT user_id, make_timestamp(bi * 21600000000) AS bucket_ts,
        n_events, v_last,
        last_value(v_last IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY bi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS v_ffill
      FROM j ORDER BY user_id, bucket_ts""") { (s, dir) =>
      // 6h regularized per-user series with gaps forward-filled; values
      // ride through unaggregated (last event per bucket) so doubles
      // hash-match bit-for-bit
      TemporalOps.resample("user_id", "ts", "value", stepSeconds = 21600L,
        tieBreak = "event_id")(table(s, dir, "events"))
        .orderBy("user_id", "bucket_ts")
    },
    Query("band_join", """
      SELECT a.event_id AS signup_id, b.event_id AS purchase_id, a.user_id,
        epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS delta_us
      FROM events a JOIN events b ON a.user_id = b.user_id
      WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
        AND epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
            BETWEEN 0 AND 3600000000
      ORDER BY a.user_id, signup_id, purchase_id""") { (s, dir) =>
      val (purchases, signups) = purchasesAndSignups(s, dir)
      TemporalOps.bandJoin(purchases.select("event_id", "user_id", "ts"),
        "user_id", "ts", "ts", widthSeconds = 3600)(
        signups.select("event_id", "user_id", "ts"))
        .select(col("l_event_id").as("signup_id"),
          col("r_event_id").as("purchase_id"),
          col("l_user_id").as("user_id"), col("delta_us"))
        .orderBy("user_id", "signup_id", "purchase_id")
    },
    Query("events_time_buckets",
      """SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS window_start,
         event_type, count(*) AS event_count
         FROM events WHERE ts IS NOT NULL
         GROUP BY 1, 2 ORDER BY window_start, event_type""") { (s, dir) =>
      // batch form of the streaming tumbling window; 6h buckets align
      // across engines (DuckDB's time_bucket origin 2000-01-01 is a
      // whole number of 6h periods past Spark's 1970 epoch origin)
      table(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("event_count"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("event_count"))
        .orderBy("window_start", "event_type")
    },
    // mirrors Streaming.windowedValueDrift on the batch path: clamped
    // 8-bin histogram per 6h bucket, exact HUGEINT cross numerators
    // (cum_w·N_r − cum_r·N_w like Spark's decimal(38,0)), ONE division
    // per statistic, the 1.358·sqrt two-sample gate
    Query("value_drift_gate", {
      val ref = Seq(3000L, 2500L, 1500L, 1000L, 800L, 600L, 400L, 200L)
      val refCum = ref.scanLeft(0L)(_ + _).tail
      val rt = ref.sum
      val cnt = (0 until 8).map(i =>
        s"CAST(count(*) FILTER (bin = $i) AS BIGINT) AS c$i")
        .mkString(",\n          ")
      def cum(i: Int) = (0 to i).map(j => s"c$j").mkString(" + ")
      val ksTerms = (0 until 8).map(i =>
        s"abs(CAST(${cum(i)} AS HUGEINT) * $rt" +
          s" - ${refCum(i)} * CAST(total AS HUGEINT))")
        .mkString(",\n            ")
      val tvdTerms = (0 until 8).map(i =>
        s"abs(CAST(c$i AS HUGEINT) * $rt" +
          s" - ${ref(i)} * CAST(total AS HUGEINT))")
        .mkString("\n            + ")
      s"""
      WITH b AS (SELECT
          time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS w,
          -- NaN values exclude like NULLs (the Spark op filters them
          -- from bins AND total; an unguarded NaN would error here on
          -- the BIGINT cast where Spark's floor(NaN) is silently 0)
          CASE WHEN value IS NULL OR isnan(CAST(value AS DOUBLE))
                 THEN NULL
               ELSE least(greatest(CAST(floor((CAST(value AS DOUBLE)
                 - 0e0) * 8 / 5e2) AS BIGINT), 0), 7) END AS bin
        -- ts IS NOT NULL: Spark's window() silently drops NULL-ts
        -- rows where time_bucket would keep a NULL-bucket row (r18
        -- ADVICE — latent parity split if the fixture gains NULL ts)
        FROM events WHERE ts IS NOT NULL),
      h AS (SELECT w,
          $cnt,
          CAST(count(bin) AS BIGINT) AS total
        FROM b GROUP BY w),
      n AS (SELECT w, total,
          greatest(
            $ksTerms) AS ksnum,
          $tvdTerms AS tvdnum
        FROM h),
      s AS (SELECT w AS window_start, total AS n_window,
          CASE WHEN total = 0 THEN NULL
               ELSE CAST(ksnum AS DOUBLE)
                 / (CAST(total AS DOUBLE) * ${litD(rt.toDouble)}) END
            AS ks_stat,
          CASE WHEN total = 0 THEN NULL
               ELSE CAST(tvdnum AS DOUBLE)
                 / (2e0 * CAST(total AS DOUBLE) * ${litD(rt.toDouble)})
            END AS tvd,
          CASE WHEN total = 0 THEN NULL
               ELSE ${litD(1.358)} * sqrt(
                 (CAST(total AS DOUBLE) + ${litD(rt.toDouble)})
                 / (CAST(total AS DOUBLE) * ${litD(rt.toDouble)})) END
            AS threshold
        FROM n)
      SELECT window_start, n_window, ks_stat, tvd, threshold,
        ks_stat > threshold AS drift
      FROM s ORDER BY window_start"""
    }) { (s, dir) =>
      // the windowed two-sample value-drift gate on its batch path
      // (window() plans identically on batch; the stream twin is the
      // same function): 6h value histograms vs a STORED 8-bin
      // reference, exact integer KS/TVD numerators, the 1.358
      // two-sample 95% gate
      graft.streaming.Streaming.windowedValueDrift(
        table(s, dir, "events"), "value",
        refHist = Seq(3000L, 2500L, 1500L, 1000L, 800L, 600L, 400L,
          200L),
        lo = 0.0, hi = 500.0, windowLength = "6 hours")
        .orderBy("window_start")
    },
    // mirrors Streaming.windowedAnovaGate on batch: per-6h-window
    // per-variant exact quantized sums, the same zero-clamped ssw list
    // fold and F/eta² dag as one_way_anova, the 3.0 gate
    Query("anova_gate", s"""
      WITH b AS (SELECT
          time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS w,
          CAST(user_id % 3 AS VARCHAR) AS v,
          CAST(round(CAST(value AS DOUBLE) * 1e9, 0) AS DECIMAL(19,0))
            AS z9
        FROM events
        -- ts IS NOT NULL: window() drops NULL-ts rows (r18 ADVICE)
        WHERE ts IS NOT NULL
          AND user_id IS NOT NULL AND value IS NOT NULL
          AND CAST(user_id % 3 AS VARCHAR) IN ('0', '1', '2')),
      pv AS (SELECT w, v, CAST(count(*) AS BIGINT) AS ng,
          CAST(sum(CAST(z9 AS DECIMAL(38,0))) AS HUGEINT) AS s1,
          CAST(sum(CAST(z9 * z9 AS DECIMAL(38,0))) AS HUGEINT) AS s2
        FROM b GROUP BY w, v),
      tt AS (SELECT w, CAST(sum(ng) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS k, sum(s1) AS ss1
        FROM pv GROUP BY w),
      j AS (SELECT pv.w, pv.v, ng, s1, s2, n, k,
          CAST(s1 AS DOUBLE) / CAST(ng AS DOUBLE) AS zg,
          CAST(ss1 AS DOUBLE) / CAST(n AS DOUBLE) AS zbar
        FROM pv JOIN tt ON tt.w IS NOT DISTINCT FROM pv.w),
      s AS (SELECT w, max(n) AS n, max(k) AS k,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(ng AS DOUBLE) * (zg - zbar) * (zg - zbar)
              ORDER BY v)), (a, t) -> a + t) AS ssb,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(greatest(CAST(s2 AS DOUBLE) - CAST(ng AS DOUBLE) * zg * zg,
              0e0) ORDER BY v)), (a, t) -> a + t) AS ssw
        FROM j GROUP BY w),
      f AS (SELECT w AS window_start,
          w + INTERVAL '6 hours' AS window_end, n, k,
          CASE WHEN k >= 2 AND n > k THEN
            CASE WHEN ssw > 0e0 THEN
              (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                / (CAST(k AS DOUBLE) - 1e0) * ssb / ssw END END AS f,
          CASE WHEN k >= 2 AND ssb + ssw > 0e0
            THEN ssb / (ssb + ssw) END AS eta_sq
        FROM s)
      SELECT window_start, window_end, n, k, f, eta_sq,
        coalesce(f > ${litD(3.0)}, false) AS significant
      FROM f ORDER BY window_start""") { (s, dir) =>
      // the live k-arm mean-drift gate on its batch path (window()
      // plans identically on batch): per 6h window, the one-way ANOVA
      // F across the three declared cohorts on the shared quantized
      // dag, gated at the driver-literal F = 3.0
      graft.streaming.Streaming.windowedAnovaGate(
        table(s, dir, "events"), col("user_id") % 3, col("value"),
        variantValues = Seq("0", "1", "2"), fCrit = 3.0,
        windowLength = "6 hours")
        .orderBy("window_start")
    },
    // mirrors WindowOps.survivalQuantile: the retention_curve KM
    // recurrence, then the smallest t whose pinned survival double
    // drops to 1-q (same doubles both engines compute)
    Query("survival_median", s"""
      WITH RECURSIVE e AS (SELECT user_id % 3 AS cohort, user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_id % 13 = 0),
      subj AS (SELECT cohort,
          CAST(floor((max(ep) - min(ep)) / 86400) AS BIGINT) AS t,
          ((SELECT max(ep) FROM e) - max(ep) < 172800) AS cen
        FROM e GROUP BY cohort, user_id),
      cells AS (SELECT cohort, t,
          CAST(sum(CASE WHEN cen THEN 0 ELSE 1 END) AS BIGINT) AS d,
          CAST(sum(CASE WHEN cen THEN 1 ELSE 0 END) AS BIGINT) AS cn
        FROM subj GROUP BY cohort, t),
      n0 AS (SELECT cohort, CAST(sum(d + cn) AS BIGINT) AS n0
        FROM cells GROUP BY cohort),
      o AS (SELECT cohort, t, d, cn,
          row_number() OVER (PARTITION BY cohort ORDER BY t) AS i
        FROM cells),
      r AS (
        SELECT o.cohort, o.t, o.d, o.cn, o.i, n0.n0 AS nr,
          1e0 * (1e0 - CAST(o.d AS DOUBLE) / CAST(n0.n0 AS DOUBLE))
            AS s
        FROM o JOIN n0 ON n0.cohort = o.cohort WHERE o.i = 1
        UNION ALL
        SELECT o.cohort, o.t, o.d, o.cn, o.i,
          r.nr - r.d - r.cn AS nr,
          r.s * (1e0 - CAST(o.d AS DOUBLE)
            / CAST(r.nr - r.d - r.cn AS DOUBLE)) AS s
        FROM o JOIN r ON o.cohort = r.cohort AND o.i = r.i + 1),
      tq AS (SELECT cohort, min(t) AS t FROM r
        WHERE s <= ${litD(0.5)} GROUP BY cohort)
      SELECT n0.cohort, CAST(n0.n0 AS BIGINT) AS n,
        ${litD(0.5)} AS q, tq.t
      FROM n0 LEFT JOIN tq ON tq.cohort = n0.cohort
      ORDER BY n0.cohort""") { (s, dir) =>
      // when has HALF the cohort churned? the smallest day with
      // S(t) <= 0.5 off the same censoring-aware KM curve; a cohort
      // whose curve never crosses reads NULL honestly
      WindowOps.survivalQuantile(col("t0"), col("cen"), q = 0.5,
        Seq("cohort"))(survivalSubjects(s, dir))
        .orderBy("cohort")
    },
    // mirrors WindowOps.rmst: the retention_curve KM recurrence, then
    // lag/clip segments against the 21-day horizon and one
    // time-ordered fold — the area under the step curve
    Query("rmst_retention", s"""
      WITH RECURSIVE e AS (SELECT user_id % 3 AS cohort, user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_id % 13 = 0),
      subj AS (SELECT cohort,
          CAST(floor((max(ep) - min(ep)) / 86400) AS BIGINT) AS t,
          ((SELECT max(ep) FROM e) - max(ep) < 172800) AS cen
        FROM e GROUP BY cohort, user_id),
      cells AS (SELECT cohort, t,
          CAST(sum(CASE WHEN cen THEN 0 ELSE 1 END) AS BIGINT) AS d,
          CAST(sum(CASE WHEN cen THEN 1 ELSE 0 END) AS BIGINT) AS cn
        FROM subj GROUP BY cohort, t),
      n0 AS (SELECT cohort, CAST(sum(d + cn) AS BIGINT) AS n0
        FROM cells GROUP BY cohort),
      o AS (SELECT cohort, t, d, cn,
          row_number() OVER (PARTITION BY cohort ORDER BY t) AS i
        FROM cells),
      r AS (
        SELECT o.cohort, o.t, o.d, o.cn, o.i, n0.n0 AS nr,
          1e0 * (1e0 - CAST(o.d AS DOUBLE) / CAST(n0.n0 AS DOUBLE))
            AS s
        FROM o JOIN n0 ON n0.cohort = o.cohort WHERE o.i = 1
        UNION ALL
        SELECT o.cohort, o.t, o.d, o.cn, o.i,
          r.nr - r.d - r.cn AS nr,
          r.s * (1e0 - CAST(o.d AS DOUBLE)
            / CAST(r.nr - r.d - r.cn AS DOUBLE)) AS s
        FROM o JOIN r ON o.cohort = r.cohort AND o.i = r.i + 1),
      sg AS (SELECT cohort, t, s,
          lag(s, 1, 1e0) OVER (PARTITION BY cohort ORDER BY t)
            AS prevs,
          coalesce(CAST(lag(t) OVER (PARTITION BY cohort ORDER BY t)
            AS DOUBLE), 0e0) AS prevt,
          (lead(t) OVER (PARTITION BY cohort ORDER BY t) IS NULL)
            AS is_last
        FROM r),
      tm AS (SELECT cohort, t,
          prevs * (least(CAST(t AS DOUBLE), ${litD(21.0)})
            - least(prevt, ${litD(21.0)}))
          + CASE WHEN is_last THEN s * (${litD(21.0)}
              - least(CAST(t AS DOUBLE), ${litD(21.0)}))
            ELSE 0e0 END AS seg
        FROM sg),
      ag AS (SELECT cohort,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(seg ORDER BY t)), (a, x) -> a + x) AS rmst
        FROM tm GROUP BY cohort)
      SELECT n0.cohort, CAST(n0.n0 AS BIGINT) AS n,
        ${litD(21.0)} AS tau, ag.rmst
      FROM n0 JOIN ag ON ag.cohort = n0.cohort
      ORDER BY n0.cohort""") { (s, dir) =>
      // the single retention NUMBER per cohort: average days retained
      // within a 21-day horizon — the area under the Kaplan–Meier
      // step curve, censoring-aware, on the same sparse subject frame
      WindowOps.rmst(col("t0"), col("cen"), tau = 21.0,
        Seq("cohort"))(survivalSubjects(s, dir))
        .orderBy("cohort")
    },
    // mirrors Probes.logRankTest over the same subject frame as
    // retention_curve: per-(cohort, day) cells, at-risk via
    // total-minus-exclusive-cumsum windows, exact HUGEINT O−E and
    // hypergeometric-variance numerators into one division per term,
    // time-ordered list folds, one final sqrt
    Query("logrank_test", """
      WITH e AS (SELECT user_id % 3 AS cohort, user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_id % 13 = 0),
      subj AS (SELECT cohort, (user_id % 2 = 0) AS a,
          CAST(floor((max(ep) - min(ep)) / 86400) AS BIGINT) AS t,
          ((SELECT max(ep) FROM e) - max(ep) < 172800) AS cen
        FROM e GROUP BY cohort, user_id),
      cells AS (SELECT cohort, t,
          CAST(sum(CASE WHEN a AND NOT cen THEN 1 ELSE 0 END)
            AS BIGINT) AS da,
          CAST(sum(CASE WHEN a AND cen THEN 1 ELSE 0 END)
            AS BIGINT) AS ca,
          CAST(sum(CASE WHEN NOT a AND NOT cen THEN 1 ELSE 0 END)
            AS BIGINT) AS db,
          CAST(sum(CASE WHEN NOT a AND cen THEN 1 ELSE 0 END)
            AS BIGINT) AS cb
        FROM subj GROUP BY cohort, t),
      w AS (SELECT cohort, t, da, db, ca, cb,
          CAST(sum(da + ca) OVER (PARTITION BY cohort)
            - coalesce(sum(da + ca) OVER (PARTITION BY cohort ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS na,
          CAST(sum(db + cb) OVER (PARTITION BY cohort)
            - coalesce(sum(db + cb) OVER (PARTITION BY cohort ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS nb
        FROM cells),
      tm AS (SELECT cohort, t, da, db, ca, cb, na, nb,
          CASE WHEN da + db > 0 AND na + nb > 1 THEN
            CAST(CAST(da AS HUGEINT) * (na + nb)
                - CAST(da + db AS HUGEINT) * na AS DOUBLE)
              / CAST(na + nb AS DOUBLE) ELSE 0e0 END AS oe,
          CASE WHEN da + db > 0 AND na + nb > 1 THEN
            CAST(CAST(da + db AS HUGEINT) * na * nb
                * (na + nb - da - db) AS DOUBLE)
              / (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
                * (CAST(na + nb AS DOUBLE) - 1e0)) ELSE 0e0 END AS vv
        FROM w),
      ag AS (SELECT cohort,
          CAST(sum(da + ca) AS BIGINT) AS n_a,
          CAST(sum(db + cb) AS BIGINT) AS n_b,
          CAST(sum(da) AS BIGINT) AS deaths_a,
          CAST(sum(db) AS BIGINT) AS deaths_b,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(oe ORDER BY t)), (acc, x) -> acc + x) AS osum,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(vv ORDER BY t)), (acc, x) -> acc + x) AS vsum
        FROM tm GROUP BY cohort)
      SELECT cohort, n_a, n_b, deaths_a, deaths_b, osum AS o_minus_e,
        CASE WHEN deaths_a > 0 AND deaths_b > 0
            AND CAST(deaths_a AS DOUBLE) - osum > 0e0
            AND CAST(deaths_b AS DOUBLE) + osum > 0e0
          THEN (CAST(deaths_a AS DOUBLE)
              / (CAST(deaths_a AS DOUBLE) - osum))
            / (CAST(deaths_b AS DOUBLE)
              / (CAST(deaths_b AS DOUBLE) + osum)) END AS hazard_ratio,
        CASE WHEN vsum > 0e0 THEN osum / sqrt(vsum) END AS z
      FROM ag ORDER BY cohort""") { (s, dir) =>
      // did even and odd users churn at different rates, per cohort?
      // the whole-curve companion of retention_curve on the SAME
      // subject frame: exact O−E and hypergeometric-variance terms
      // per distinct day, time-pinned folds, one final z
      Probes.logRankTest(col("user_id") % 2 === 0, col("t0"),
        col("cen"), Seq("cohort"))(survivalSubjects(s, dir))
        .orderBy("cohort")
    },
    // mirrors Probes.gehanBreslowTest: the logrank_test dag with each
    // day's O−E and V terms weighted by the at-risk total n_t — the
    // n_t / n_t² factors cancel into exact-integer numerators (O−E
    // needs no division at all; V keeps one by n_t − 1)
    Query("logrank_gehan", """
      WITH e AS (SELECT user_id % 3 AS cohort, user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_id % 13 = 0),
      subj AS (SELECT cohort, (user_id % 2 = 0) AS a,
          CAST(floor((max(ep) - min(ep)) / 86400) AS BIGINT) AS t,
          ((SELECT max(ep) FROM e) - max(ep) < 172800) AS cen
        FROM e GROUP BY cohort, user_id),
      cells AS (SELECT cohort, t,
          CAST(sum(CASE WHEN a AND NOT cen THEN 1 ELSE 0 END)
            AS BIGINT) AS da,
          CAST(sum(CASE WHEN a AND cen THEN 1 ELSE 0 END)
            AS BIGINT) AS ca,
          CAST(sum(CASE WHEN NOT a AND NOT cen THEN 1 ELSE 0 END)
            AS BIGINT) AS db,
          CAST(sum(CASE WHEN NOT a AND cen THEN 1 ELSE 0 END)
            AS BIGINT) AS cb
        FROM subj GROUP BY cohort, t),
      w AS (SELECT cohort, t, da, db, ca, cb,
          CAST(sum(da + ca) OVER (PARTITION BY cohort)
            - coalesce(sum(da + ca) OVER (PARTITION BY cohort ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS na,
          CAST(sum(db + cb) OVER (PARTITION BY cohort)
            - coalesce(sum(db + cb) OVER (PARTITION BY cohort ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS nb
        FROM cells),
      tm AS (SELECT cohort, t, da, db, ca, cb, na, nb,
          CASE WHEN da + db > 0 AND na + nb > 1 THEN
            CAST(CAST(da AS HUGEINT) * (na + nb)
                - CAST(da + db AS HUGEINT) * na AS DOUBLE)
            ELSE 0e0 END AS oe,
          CASE WHEN da + db > 0 AND na + nb > 1 THEN
            CAST(CAST(da + db AS HUGEINT) * na * nb
                * (na + nb - da - db) AS DOUBLE)
              / (CAST(na + nb AS DOUBLE) - 1e0) ELSE 0e0 END AS vv
        FROM w),
      ag AS (SELECT cohort,
          CAST(sum(da + ca) AS BIGINT) AS n_a,
          CAST(sum(db + cb) AS BIGINT) AS n_b,
          CAST(sum(da) AS BIGINT) AS deaths_a,
          CAST(sum(db) AS BIGINT) AS deaths_b,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(oe ORDER BY t)), (acc, x) -> acc + x) AS osum,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(vv ORDER BY t)), (acc, x) -> acc + x) AS vsum
        FROM tm GROUP BY cohort)
      SELECT cohort, n_a, n_b, deaths_a, deaths_b, osum AS w_o_minus_e,
        CASE WHEN vsum > 0e0 THEN osum / sqrt(vsum) END AS z
      FROM ag ORDER BY cohort""") { (s, dir) =>
      // the early-vs-late follow-up on the SAME subject frame: each
      // day's O−E and V weight by the at-risk total, so early churn
      // differences dominate — exact-integer weighted numerators
      // (the n_t factors cancel), same censoring contract
      Probes.gehanBreslowTest(col("user_id") % 2 === 0, col("t0"),
        col("cen"), Seq("cohort"))(survivalSubjects(s, dir))
        .orderBy("cohort")
    },
    // mirrors Probes.logRankStratified: the logrank_test dag with the
    // user_id % 5 stratum folded into the cells/window keys — each
    // stratum its own risk sets and distinct-time sequence — and the
    // final folds ordered by (stratum, time), the stratum-adjusted
    // Pike hazard ratio off the summed folds
    Query("logrank_stratified", """
      WITH e AS (SELECT user_id % 3 AS cohort, user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_id % 13 = 0),
      subj AS (SELECT cohort, user_id % 5 AS st, (user_id % 2 = 0) AS a,
          CAST(floor((max(ep) - min(ep)) / 86400) AS BIGINT) AS t,
          ((SELECT max(ep) FROM e) - max(ep) < 172800) AS cen
        FROM e GROUP BY cohort, user_id),
      cells AS (SELECT cohort, st, t,
          CAST(sum(CASE WHEN a AND NOT cen THEN 1 ELSE 0 END)
            AS BIGINT) AS da,
          CAST(sum(CASE WHEN a AND cen THEN 1 ELSE 0 END)
            AS BIGINT) AS ca,
          CAST(sum(CASE WHEN NOT a AND NOT cen THEN 1 ELSE 0 END)
            AS BIGINT) AS db,
          CAST(sum(CASE WHEN NOT a AND cen THEN 1 ELSE 0 END)
            AS BIGINT) AS cb
        FROM subj GROUP BY cohort, st, t),
      w AS (SELECT cohort, st, t, da, db, ca, cb,
          CAST(sum(da + ca) OVER (PARTITION BY cohort, st)
            - coalesce(sum(da + ca) OVER (PARTITION BY cohort, st
                ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS na,
          CAST(sum(db + cb) OVER (PARTITION BY cohort, st)
            - coalesce(sum(db + cb) OVER (PARTITION BY cohort, st
                ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS nb
        FROM cells),
      tm AS (SELECT cohort, st, t, da, db, ca, cb, na, nb,
          CASE WHEN da + db > 0 AND na + nb > 1 THEN
            CAST(CAST(da AS HUGEINT) * (na + nb)
                - CAST(da + db AS HUGEINT) * na AS DOUBLE)
              / CAST(na + nb AS DOUBLE) ELSE 0e0 END AS oe,
          CASE WHEN da + db > 0 AND na + nb > 1 THEN
            CAST(CAST(da + db AS HUGEINT) * na * nb
                * (na + nb - da - db) AS DOUBLE)
              / (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
                * (CAST(na + nb AS DOUBLE) - 1e0)) ELSE 0e0 END AS vv
        FROM w),
      ag AS (SELECT cohort,
          CAST(sum(da + ca) AS BIGINT) AS n_a,
          CAST(sum(db + cb) AS BIGINT) AS n_b,
          CAST(sum(da) AS BIGINT) AS deaths_a,
          CAST(sum(db) AS BIGINT) AS deaths_b,
          CAST(count(DISTINCT st) AS BIGINT) AS n_strata,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(oe ORDER BY st, t)), (acc, x) -> acc + x) AS osum,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(vv ORDER BY st, t)), (acc, x) -> acc + x) AS vsum
        FROM tm GROUP BY cohort)
      SELECT cohort, n_a, n_b, deaths_a, deaths_b, n_strata,
        osum AS o_minus_e,
        CASE WHEN deaths_a > 0 AND deaths_b > 0
            AND CAST(deaths_a AS DOUBLE) - osum > 0e0
            AND CAST(deaths_b AS DOUBLE) + osum > 0e0
          THEN (CAST(deaths_a AS DOUBLE)
              / (CAST(deaths_a AS DOUBLE) - osum))
            / (CAST(deaths_b AS DOUBLE)
              / (CAST(deaths_b AS DOUBLE) + osum)) END AS hazard_ratio,
        CASE WHEN vsum > 0e0 THEN osum / sqrt(vsum) END AS z
      FROM ag ORDER BY cohort""") { (s, dir) =>
      // the confounder-adjusted follow-up on the SAME subject frame:
      // is the even/odd churn gap real within the five user strata,
      // or just the mix? per-stratum O−E and V terms (each stratum
      // its own risk sets), summed into one z — the stratified
      // Mantel–Cox, with Pike's stratum-adjusted hazard ratio
      Probes.logRankStratified(col("user_id") % 2 === 0, col("t0"),
        col("cen"), Seq("strat"), Seq("cohort"))(
        survivalSubjects(s, dir)
          .withColumn("strat", col("user_id") % 5))
        .orderBy("cohort")
    },
    // mirrors Probes.logRankK off the SHARED per-arm body (see
    // logRankKArmSql), appending the stored df-table 95% gate —
    // 7.815 at the fixture's k = 4 (df = 3; the r19 ADVICE fix)
    Query("logrank_k", s"""
      WITH az AS ($logRankKArmSql)
      SELECT cohort, variant, n, deaths, expected, o_minus_e, z, k,
        chi2, coalesce(chi2 > ${litD(7.815)}, false) AS reject
      FROM az ORDER BY cohort, variant""") { (s, dir) =>
      // all four user arms at once per cohort: per-arm O−E and z
      // against the pooled curve (exact diagonal variance) plus the
      // textbook chi2 omnibus on the cells-sized |T|·k time grid;
      // the reject gate now picks the df-correct 95% crit from the
      // op's stored chi2 table by the observed k (7.815 at k = 4,
      // df = 3 — the r19 ADVICE fix for the fixed-crit default)
      Probes.logRankK(col("user_id") % 4, col("t0"), col("cen"),
        Seq("cohort"))(survivalSubjects(s, dir))
        .orderBy("cohort", "variant")
    },
    // mirrors the composed logrank_bh row: the SHARED logRankKArmSql
    // per-arm z's, the Chebyshev p = min(1, 1/z²) envelope, then the
    // BH step-up per cohort family (the dunn_bh oracle pattern —
    // NULL-z arms carry no p and drop from the family)
    Query("logrank_bh", s"""
      WITH az AS ($logRankKArmSql),
      pz AS (SELECT cohort, variant,
          CASE WHEN z IS NOT NULL THEN CASE WHEN z = 0e0 THEN 1e0
            ELSE least(1e0, 1e0 / (z * z)) END END AS p
        FROM az),
      nn AS (SELECT cohort, variant, p FROM pz WHERE p IS NOT NULL),
      r AS (SELECT cohort, variant, p,
          CAST(count(*) OVER (PARTITION BY cohort) AS BIGINT) AS m,
          CAST(row_number() OVER (PARTITION BY cohort
            ORDER BY p, variant) AS BIGINT) AS rnk
        FROM nn),
      a AS (SELECT cohort, variant, p, m, rnk,
          p * CAST(m AS DOUBLE) / CAST(rnk AS DOUBLE) AS raw
        FROM r),
      f AS (SELECT cohort, variant, p, rnk, m,
          least(CAST(1 AS DOUBLE), min(raw) OVER (PARTITION BY cohort
            ORDER BY p, variant
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_adj
        FROM a)
      SELECT cohort, variant, p, rnk AS rank, m, p_adj,
        p_adj <= ${litD(0.05)} AS reject
      FROM f ORDER BY cohort, variant""") { (s, dir) =>
      // the survival post-hoc→FDR loop closed as one composed row
      // (the dunn_bh precedent one shelf over): logrank_k's per-arm
      // z's against the pooled curve, bridged through the Chebyshev
      // p envelope, then BH per cohort family — WHICH arm's churn
      // deviates, FDR-controlled at 5%? zero-variance arms carry no
      // p and drop from the family (bhCorrect's NULL contract)
      val arms = Probes.logRankK(col("user_id") % 4, col("t0"),
        col("cen"), Seq("cohort"))(survivalSubjects(s, dir))
        .withColumn("p_raw", Probes.chebyshevP(col("z")))
      Probes.bhCorrect("variant", "p_raw", alpha = 0.05,
        Seq("cohort"))(arms)
        .orderBy("cohort", "variant")
    },
    // mirrors Streaming.windowedHazardGate on batch: per-6h-window
    // fixed 6-bucket death/at-risk counters on the value-as-duration
    // subject rows, the per-bucket binomial z against the SHARED
    // hazardRef literals, hazard ratio, window-max |z| drift gate
    Query("hazard_gate", {
      val cnt = hazardRef.indices.map { i =>
        s"""CAST(count(CASE WHEN ok AND NOT cen
            AND dur >= ${litD(i * 5.0)}
            AND dur < ${litD((i + 1) * 5.0)} THEN 1 END) AS BIGINT)
            AS d$i,
          CAST(count(CASE WHEN ok AND dur >= ${litD(i * 5.0)} THEN 1
            END) AS BIGINT) AS r$i"""
      }.mkString(",\n          ")
      val stack = hazardRef.zipWithIndex.map { case (r, i) =>
        s"""SELECT w, n_window, n_total - n_window AS n_dropped,
            CAST($i AS BIGINT) AS bucket, d$i AS deaths,
            r$i AS at_risk, ${litD(r)} AS ref_hazard,
            CASE WHEN r$i > 0 THEN (CAST(d$i AS DOUBLE)
                - CAST(r$i AS DOUBLE) * ${litD(r)})
              / sqrt(CAST(r$i AS DOUBLE) * ${litD(r)}
                * ${litD(1.0 - r)}) END AS z
          FROM c"""
      }.mkString("\n        UNION ALL\n        ")
      s"""
      WITH b AS (SELECT
          time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS w,
          CAST(value AS DOUBLE) AS dur, (event_id % 5 = 0) AS cen,
          (value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
            AND CAST(value AS DOUBLE) >= 0e0
            AND event_id IS NOT NULL) AS ok
        -- ts IS NOT NULL: window() drops NULL-ts rows (r18 ADVICE)
        FROM events WHERE ts IS NOT NULL),
      c AS (SELECT w, CAST(count(*) AS BIGINT) AS n_total,
          CAST(count(CASE WHEN ok THEN 1 END) AS BIGINT) AS n_window,
          $cnt
        FROM b GROUP BY w),
      st AS ($stack),
      f AS (SELECT w AS window_start, w + INTERVAL '6 hours'
            AS window_end,
          n_window, n_dropped, bucket, deaths, at_risk,
          CASE WHEN at_risk > 0 THEN CAST(deaths AS DOUBLE)
            / CAST(at_risk AS DOUBLE) END AS hazard,
          ref_hazard, z,
          max(abs(z)) OVER (PARTITION BY w) AS max_abs_z
        FROM st)
      SELECT window_start, window_end, n_window, n_dropped, bucket,
        deaths, at_risk, hazard, ref_hazard, z, max_abs_z,
        CASE WHEN max_abs_z IS NOT NULL THEN max_abs_z > ${litD(1.96)}
          END AS drift
      FROM f ORDER BY window_start, bucket"""
    }) { (s, dir) =>
      // the live retention alarm on its batch path: value-as-duration
      // subjects with a 20% censoring arm, the declared 6-bucket
      // horizon grid vs the stored healthy-reference hazard vector,
      // binomial z per bucket, max-|z| drift gate per 6h window
      graft.streaming.Streaming.windowedHazardGate(
        table(s, dir, "events"),
        col("value"), col("event_id") % 5 === 0,
        refHazard = hazardRef, bucketWidth = 5.0,
        windowLength = "6 hours")
        .orderBy("window_start", "bucket")
    },
    // mirrors Streaming.windowedSignMatrix on batch: per-6h-window
    // k-wise-complete blocks, the four exact sign counters per ordered
    // pair, the one-sqrt z, stacked to a row per pair
    Query("sign_matrix", s"""
      WITH b AS (SELECT
          time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS w,
          CAST(value AS DOUBLE) AS va,
          CAST(event_id % 400 AS DOUBLE) AS vb,
          CAST(user_id % 350 AS DOUBLE) AS vc
        -- ts IS NOT NULL: window() drops NULL-ts rows (r18 ADVICE)
        FROM events WHERE ts IS NOT NULL),
      c AS (SELECT w, CAST(count(*) AS BIGINT) AS n_total,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) THEN 1 END) AS BIGINT) AS n_blocks,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) AND va - vb = 0e0 THEN 1 END) AS BIGINT)
            AS z_ab,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) AND va - vb > 0e0 THEN 1 END) AS BIGINT)
            AS p_ab,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) AND va - vb < 0e0 THEN 1 END) AS BIGINT)
            AS n_ab,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) AND va - vc = 0e0 THEN 1 END) AS BIGINT)
            AS z_ac,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) AND va - vc > 0e0 THEN 1 END) AS BIGINT)
            AS p_ac,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) AND va - vc < 0e0 THEN 1 END) AS BIGINT)
            AS n_ac,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) AND vb - vc = 0e0 THEN 1 END) AS BIGINT)
            AS z_bc,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) AND vb - vc > 0e0 THEN 1 END) AS BIGINT)
            AS p_bc,
          CAST(count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
            AND vc IS NOT NULL AND NOT isnan(va) AND NOT isnan(vb)
            AND NOT isnan(vc) AND vb - vc < 0e0 THEN 1 END) AS BIGINT)
            AS n_bc
        FROM b GROUP BY w),
      st AS (
        SELECT w, n_blocks, n_total - n_blocks AS n_dropped,
          'a' AS treatment_a, 'b' AS treatment_b,
          z_ab AS n_zero, p_ab AS n_pos, n_ab AS n_neg FROM c
        UNION ALL
        SELECT w, n_blocks, n_total - n_blocks,
          'a', 'c', z_ac, p_ac, n_ac FROM c
        UNION ALL
        SELECT w, n_blocks, n_total - n_blocks,
          'b', 'c', z_bc, p_bc, n_bc FROM c),
      f AS (SELECT w AS window_start,
          w + INTERVAL '6 hours' AS window_end, n_blocks, n_dropped,
          treatment_a, treatment_b, n_zero, n_pos, n_neg,
          CASE WHEN n_pos + n_neg > 0
            THEN CAST(n_pos - n_neg AS DOUBLE)
              / sqrt(CAST(n_pos + n_neg AS DOUBLE)) END AS z
        FROM st)
      SELECT window_start, window_end, n_blocks, n_dropped,
        treatment_a, treatment_b, n_zero, n_pos, n_neg, z,
        coalesce(abs(z) > ${litD(1.96)}, false) AS significant
      FROM f ORDER BY window_start, treatment_a, treatment_b""") { (s, dir) =>
      // the live paired-k sign matrix on its batch path: three derived
      // "scores" per event row (the block), per 6h window the pairwise
      // sign z over the k²·4 exact counters — which arm beats which,
      // with between-block level differences cancelled by pairing
      graft.streaming.Streaming.windowedSignMatrix(
        table(s, dir, "events"),
        Seq("a" -> col("value"),
          "b" -> (col("event_id") % 400),
          "c" -> (col("user_id") % 350)),
        windowLength = "6 hours")
        .orderBy("window_start", "treatment_a", "treatment_b")
    },
    // mirrors WindowOps.kaplanMeier over the per-user duration frame:
    // epoch-second aggregates, (group, time) cells, then the survival
    // product and Greenwood sum replayed as a recursive CTE — the
    // identical one-division-one-multiply step per distinct time,
    // at-risk carried as exact BIGINT
    Query("retention_curve", """
      WITH RECURSIVE e AS (SELECT user_id % 3 AS cohort, user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_id % 13 = 0),
      subj AS (SELECT cohort,
          CAST(floor((max(ep) - min(ep)) / 86400) AS BIGINT) AS t,
          ((SELECT max(ep) FROM e) - max(ep) < 172800) AS cen
        FROM e GROUP BY cohort, user_id),
      cells AS (SELECT cohort, t,
          CAST(sum(CASE WHEN cen THEN 0 ELSE 1 END) AS BIGINT) AS d,
          CAST(sum(CASE WHEN cen THEN 1 ELSE 0 END) AS BIGINT) AS cn
        FROM subj GROUP BY cohort, t),
      n0 AS (SELECT cohort, CAST(sum(d + cn) AS BIGINT) AS n0
        FROM cells GROUP BY cohort),
      o AS (SELECT cohort, t, d, cn,
          row_number() OVER (PARTITION BY cohort ORDER BY t) AS i
        FROM cells),
      r AS (
        SELECT o.cohort, o.t, o.d, o.cn, o.i, n0.n0 AS nr,
          1e0 * (1e0 - CAST(o.d AS DOUBLE) / CAST(n0.n0 AS DOUBLE))
            AS s,
          0e0 + CASE WHEN o.d < n0.n0 THEN CAST(o.d AS DOUBLE)
            / (CAST(n0.n0 AS DOUBLE) * CAST(n0.n0 - o.d AS DOUBLE)) END
            AS gv,
          0e0 + CAST(o.d AS DOUBLE) / CAST(n0.n0 AS DOUBLE) AS ch
        FROM o JOIN n0 ON n0.cohort = o.cohort WHERE o.i = 1
        UNION ALL
        SELECT o.cohort, o.t, o.d, o.cn, o.i,
          r.nr - r.d - r.cn AS nr,
          r.s * (1e0 - CAST(o.d AS DOUBLE)
            / CAST(r.nr - r.d - r.cn AS DOUBLE)) AS s,
          r.gv + CASE WHEN o.d < r.nr - r.d - r.cn
            THEN CAST(o.d AS DOUBLE)
              / (CAST(r.nr - r.d - r.cn AS DOUBLE)
                * CAST(r.nr - r.d - r.cn - o.d AS DOUBLE)) END AS gv,
          r.ch + CAST(o.d AS DOUBLE)
            / CAST(r.nr - r.d - r.cn AS DOUBLE) AS ch
        FROM o JOIN r ON o.cohort = r.cohort AND o.i = r.i + 1)
      SELECT cohort, t, nr AS n_risk, d AS n_death, cn AS n_censor,
        s AS survival,
        CASE WHEN gv IS NOT NULL THEN s * sqrt(gv) END AS se,
        ch AS cum_hazard
      FROM r ORDER BY cohort, t""") { (s, dir) =>
      // per-cohort Kaplan–Meier retention: each user's duration = its
      // active span in whole days, censored = still active within 2
      // days of the corpus end (the observation window simply hasn't
      // finished watching it) — exact at-risk folds, the survival
      // product and Greenwood se as time-pinned float folds. The
      // 1/13 event slice keeps per-user activity sparse so durations
      // and churn times actually vary (the dense table censors nearly
      // everyone at the corpus edge)
      WindowOps.kaplanMeier(col("t0"), col("cen"), Seq("cohort"))(
        survivalSubjects(s, dir))
        .orderBy("cohort", "t")
    },
    // IS DISTINCT FROM is the null-safe struct compare the Spark side
    // spells <=>; unchanged keys are absent by construction
    Query("snapshot_diff", """
      WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey % 3 <> 0),
      a AS (SELECT o_orderkey, o_orderstatus,
              CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1e0
                   ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 4 <> 0)
      , d AS (SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
        CASE WHEN b.o_orderkey IS NULL THEN 'added'
             WHEN a.o_orderkey IS NULL THEN 'removed'
             WHEN (b.o_orderstatus, b.o_totalprice) IS DISTINCT FROM
                  (a.o_orderstatus, a.o_totalprice) THEN 'changed'
        END AS change_type
        FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
      SELECT o_orderkey, change_type FROM d
      WHERE change_type IS NOT NULL
      ORDER BY o_orderkey""") { (s, dir) =>
      // two derived snapshots of orders: %3-dropped rows vs %4-dropped
      // rows with %11 prices bumped — diff emits added/removed/changed
      // only, the asymmetry that keeps a 100 TB diff small
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val before = o.filter(col("o_orderkey") % 3 =!= 0)
      val after = o.filter(col("o_orderkey") % 4 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      Ops.snapshotDiff(Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))(before, after)
        .orderBy("o_orderkey")
    },
    Query("temporal_split", """
      SELECT event_id,
        CASE WHEN ts IS NULL THEN NULL
             WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
               THEN 'train'
             WHEN epoch_us(CAST(ts AS TIMESTAMP)) >=
                  epoch_us(TIMESTAMP '2024-01-20 00:00:00') + 86400000000
               THEN 'test'
             ELSE 'embargo' END AS split
      FROM events ORDER BY event_id""") { (s, dir) =>
      // purged/embargoed time split: train before the cutoff, test at
      // least one embargo day after it, the gap excluded from both
      TemporalOps.temporalSplit("ts", "2024-01-20 00:00:00",
        embargoSeconds = 86400L)(table(s, dir, "events"))
        .select("event_id", "split")
        .orderBy("event_id")
    },
    Query("page_rank", pageRankSql(
      s"SELECT s, d, CAST(1 AS DOUBLE) AS w FROM ($graphEdgesSql)",
      iterations = 3, damping = 0.85)) { (s, dir) =>
      // host-importance prior over the derived 40-node link graph:
      // 3 fixed iterations, contribution folds order-pinned so even
      // the float ranks hash-match the unrolled oracle
      val ev = table(s, dir, "events")
        .select((col("user_id") % 40).as("src"),
          ((col("user_id") * 7 + col("event_id")) % 40).as("dst"))
      GraphOps.pageRank("src", "dst")(ev).orderBy("node")
    },
    Query("page_rank_weighted", pageRankSql(
      weightedGraphEdgesSql, iterations = 3, damping = 0.85)) { (s, dir) =>
      // weighted form: per-event integer weights, multi-edges summed —
      // each link votes in proportion to its weight
      val ev = table(s, dir, "events")
        .select((col("user_id") % 40).as("src"),
          ((col("user_id") * 7 + col("event_id")) % 40).as("dst"),
          (col("event_id") % 5 + 1).cast("double").as("w"))
      GraphOps.pageRank("src", "dst", weightField = "w")(ev)
        .orderBy("node")
    },
    Query("degree_stats", s"""
      WITH e AS ($graphEdgesSql),
      o AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS out_degree
            FROM e GROUP BY 1),
      i AS (SELECT d AS node, CAST(count(*) AS BIGINT) AS in_degree
            FROM e GROUP BY 1)
      SELECT node, coalesce(out_degree, 0) AS out_degree,
        coalesce(in_degree, 0) AS in_degree,
        coalesce(out_degree, 0) + coalesce(in_degree, 0) AS degree
      FROM o FULL OUTER JOIN i USING (node) ORDER BY node""") { (s, dir) =>
      // the first diagnostic over any link graph: per-node out/in/total
      // degree with orphan sides zero-filled
      val ev = table(s, dir, "events")
        .select((col("user_id") % 40).as("src"),
          ((col("user_id") * 7 + col("event_id")) % 40).as("dst"))
      GraphOps.degreeStats("src", "dst")(ev).orderBy("node")
    },
    // mirrors GraphOps.linkPrediction uncapped: wedge enumeration over
    // the undirected adjacency, exact integer counts/degrees, one
    // division for jaccard, apex-ordered pinned fold for the RA index
    Query("link_prediction", s"""
      WITH e AS (SELECT DISTINCT user_id % 200 AS s,
            (user_id * 7 + event_id) % 200 AS d
          FROM events
          WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            AND user_id % 200 <> (user_id * 7 + event_id) % 200),
      und AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
              FROM e),
      adj AS (SELECT u AS a, v AS b FROM und
              UNION ALL SELECT v AS a, u AS b FROM und),
      deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
              FROM adj GROUP BY 1),
      w AS (SELECT x.a AS a, x.b AS b1, y.b AS b2
            FROM adj x JOIN adj y ON y.a = x.a AND x.b < y.b),
      agg AS (SELECT b1, b2, CAST(count(*) AS BIGINT) AS cn,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(1 AS DOUBLE) / CAST(deg AS DOUBLE) ORDER BY a)),
            (x, y) -> x + y) AS ra
        FROM w JOIN deg ON deg.node = w.a GROUP BY b1, b2
        HAVING count(*) >= 50),
      ne AS (SELECT agg.* FROM agg
             ANTI JOIN und ON und.u = agg.b1 AND und.v = agg.b2)
      SELECT b1 AS node_a, b2 AS node_b, cn AS common_neighbors,
        CAST(cn AS DOUBLE) / CAST(d1.deg + d2.deg - cn AS DOUBLE)
          AS jaccard,
        ra AS resource_allocation
      FROM ne JOIN deg d1 ON d1.node = ne.b1
        JOIN deg d2 ON d2.node = ne.b2
      ORDER BY node_a, node_b""") { (s, dir) =>
      // missing-edge mining over a SPARSER 200-node derivation (the
      // 40-node graph is complete-ish — nothing left to predict):
      // non-adjacent pairs sharing >= 50 neighbors, scored by count /
      // Jaccard / resource allocation — wedge-enumerated, never
      // all-pairs
      val ev = table(s, dir, "events")
        .select((col("user_id") % 200).as("src"),
          ((col("user_id") * 7 + col("event_id")) % 200).as("dst"))
      GraphOps.linkPrediction("src", "dst", minCommon = 50)(ev)
        .orderBy("node_a", "node_b")
    },
    Query("bradley_terry", bradleyTerrySql(
      """SELECT user_id % 8 AS w, (user_id * 3 + event_id) % 8 AS l
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL
           AND user_id % 8 <> (user_id * 3 + event_id) % 8""",
      iterations = 5)) { (s, dir) =>
      // pairwise duels between 8 derived arms (annotator-verdict /
      // model-eval shape): 5 MM rounds, folds order-pinned so the
      // float strengths hash-match the unrolled oracle
      val cmp = table(s, dir, "events")
        .select((col("user_id") % 8).as("winner"),
          ((col("user_id") * 3 + col("event_id")) % 8).as("loser"))
      Ops.bradleyTerry("winner", "loser", iterations = 5)(cmp)
        .orderBy("item")
    },
    Query("hits_scores", hitsSql(graphEdgesSql, iterations = 3)) { (s, dir) =>
      // directed-role scores over the link graph: 3 HITS rounds,
      // auth-then-hub, L1-normalized, folds order-pinned so even the
      // float scores hash-match the unrolled oracle
      val ev = table(s, dir, "events")
        .select((col("user_id") % 40).as("src"),
          ((col("user_id") * 7 + col("event_id")) % 40).as("dst"))
      GraphOps.hits("src", "dst")(ev).orderBy("node")
    },
    // id-ordered triple join finds the same triangle set the
    // degree-ordered orientation does (the ALGORITHM differs, the
    // COUNT cannot); clustering is one exact-integer division
    Query("triangle_stats", s"""
      WITH e AS ($graphEdgesSql),
      und AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
              FROM e),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
          (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        GROUP BY node),
      tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM und e1
        JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v),
      pn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM
          (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
           UNION ALL SELECT z FROM tri)
        GROUP BY node)
      SELECT deg.node, degree, coalesce(triangles, 0) AS triangles,
        CASE WHEN degree < 2 THEN NULL
             ELSE CAST(2 * coalesce(triangles, 0) AS DOUBLE)
                  / CAST(degree * (degree - 1) AS DOUBLE)
        END AS clustering
      FROM deg LEFT JOIN pn USING (node) ORDER BY node""") { (s, dir) =>
      // community structure over the same derived 40-node graph:
      // degree-ordered orientation bounds per-apex fan-out at O(√m),
      // the one float is a single exact-integer division
      val ev = table(s, dir, "events")
        .select((col("user_id") % 40).as("src"),
          ((col("user_id") * 7 + col("event_id")) % 40).as("dst"))
      GraphOps.triangleStats("src", "dst")(ev).orderBy("node")
    },
    // mirrors GraphOps.modularity over the LPA labels: exact e_c/d_c/m
    // counts, the fixed two-division contribution, community-ordered Q
    // fold repeated per row
    Query("graph_modularity", s"""
      WITH lp AS (${labelPropagationSql(
        """SELECT user_id % 2000 AS s,
             (user_id * 13 + event_id * 7) % 2000 AS d
           FROM events
           WHERE user_id IS NOT NULL AND event_id IS NOT NULL""",
        rounds = 4)}),
      raw AS (SELECT user_id % 2000 AS s,
          (user_id * 13 + event_id * 7) % 2000 AS d
        FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
      eu AS (SELECT DISTINCT least(s, d) AS s, greatest(s, d) AS d
        FROM raw WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d),
      el AS (SELECT eu.s, eu.d, ls.community AS cs, ld.community AS cd
        FROM eu JOIN lp ls ON ls.node = eu.s
                JOIN lp ld ON ld.node = eu.d),
      m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM el),
      cn AS (SELECT community AS c,
          CAST(count(DISTINCT node) AS BIGINT) AS nodes
        FROM lp GROUP BY community),
      deg AS (SELECT c, CAST(count(*) AS BIGINT) AS degree_sum
        FROM (SELECT s AS v, cs AS c FROM el
              UNION ALL SELECT d, cd FROM el) GROUP BY c),
      i AS (SELECT cs AS c, CAST(count(*) AS BIGINT) AS internal_edges
        FROM el WHERE cs = cd GROUP BY cs),
      perc AS (SELECT cn.c, nodes,
          coalesce(internal_edges, CAST(0 AS BIGINT)) AS internal_edges,
          coalesce(degree_sum, CAST(0 AS BIGINT)) AS degree_sum,
          CASE WHEN m = 0 THEN 0e0 ELSE
            CAST(coalesce(internal_edges, CAST(0 AS BIGINT)) AS DOUBLE)
              / CAST(m AS DOUBLE)
            - (CAST(coalesce(degree_sum, CAST(0 AS BIGINT)) AS DOUBLE)
                / (2e0 * CAST(m AS DOUBLE)))
              * (CAST(coalesce(degree_sum, CAST(0 AS BIGINT)) AS DOUBLE)
                / (2e0 * CAST(m AS DOUBLE)))
          END AS contribution
        FROM cn LEFT JOIN deg ON deg.c = cn.c
                LEFT JOIN i ON i.c = cn.c CROSS JOIN m),
      q AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(contribution ORDER BY c)), (a, x) -> a + x) AS modularity
        FROM perc)
      SELECT c AS community, nodes, internal_edges, degree_sum,
        contribution, modularity
      FROM perc CROSS JOIN q ORDER BY community""") { (s, dir) =>
      // did LPA find structure? Newman Q of the 4-round communities
      // over a sparser 2000-node derived graph (label_propagation's
      // dense 500-node frame collapses to one community — Q there is
      // uninformative) — per-community contributions + the global
      // score, all exact-count ratios
      val ev = table(s, dir, "events")
        .select((col("user_id") % 2000).as("src"),
          ((col("user_id") * 13 + col("event_id") * 7) % 2000).as("dst"))
      GraphOps.modularity(
        GraphOps.labelPropagation("src", "dst", rounds = 4)(ev))(ev)
        .orderBy("community")
    },
    // mirrors GraphOps.kCore: 6 unrolled peel rounds over the doubled
    // edge list, induced degree per round, final-degree + fixpoint flag
    Query("k_core", kCoreSql(
      """SELECT user_id % 2000 AS s,
           (user_id * 13 + event_id * 7) % 2000 AS d
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL""",
      k = 9, rounds = 6)) { (s, dir) =>
      // density filter over the sparse 2000-node derived graph: peel
      // everything that cannot keep >= k neighbors, 6 rounds (the flag
      // reads converged at sf0.01), exact integer degrees throughout
      val ev = table(s, dir, "events")
        .select((col("user_id") % 2000).as("src"),
          ((col("user_id") * 13 + col("event_id") * 7) % 2000).as("dst"))
      GraphOps.kCore("src", "dst", k = 9, rounds = 6)(ev)
        .orderBy("node")
    },
    // mirrors GraphOps.kTruss: 5 unrolled support-peel rounds, wedge
    // join per round, final induced support + fixpoint flag
    Query("k_truss", kTrussSql(
      """SELECT user_id % 2000 AS s,
           (user_id * 13 + event_id * 7) % 2000 AS d
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL""",
      k = 4, rounds = 5)) { (s, dir) =>
      // edge-level cohesion over the same 2000-node derived graph as
      // k_core: every surviving edge must close >= 2 triangles among
      // survivors; 5 rounds reach the fixpoint at sf0.01 (68 edges)
      val ev = table(s, dir, "events")
        .select((col("user_id") % 2000).as("src"),
          ((col("user_id") * 13 + col("event_id") * 7) % 2000).as("dst"))
      GraphOps.kTruss("src", "dst", k = 4, rounds = 5)(ev)
        .orderBy("node_a", "node_b")
    },
    // mirrors GraphOps.labelPropagation: doubled neighbor list, 4
    // unrolled rounds, (count DESC, label ASC) election, keep-previous
    Query("label_propagation", labelPropagationSql(
      """SELECT user_id % 500 AS s,
           (user_id * 13 + event_id * 7) % 500 AS d
         FROM events
         WHERE user_id IS NOT NULL AND event_id IS NOT NULL""",
      rounds = 4)) { (s, dir) =>
      // community detection INSIDE components: 4 synchronous LPA
      // rounds over a sparser 500-node derived graph, deterministic
      // (count, smallest-label) election the oracle replays round by
      // round
      val ev = table(s, dir, "events")
        .select((col("user_id") % 500).as("src"),
          ((col("user_id") * 13 + col("event_id") * 7) % 500).as("dst"))
      GraphOps.labelPropagation("src", "dst", rounds = 4)(ev)
        .orderBy("node")
    },
    Query("lag_features", """
      SELECT user_id, event_id, value,
        lag(value, 1) OVER w AS value_lag_1,
        lag(value, 2) OVER w AS value_lag_2,
        lead(value, 1) OVER w AS value_lead_1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      ORDER BY event_id""") { (s, dir) =>
      // supervised-row assembly: two lags + one lead of value per user
      // in (ts, event_id) order — ONE window partitioning serves all
      // three offsets, boundary rows honestly NULL
      WindowOps.lagFeatures(Seq("user_id"), Seq("ts", "event_id"),
        "value", lags = Seq(1, 2, -1))(
        table(s, dir, "events")
          .select("user_id", "ts", "event_id", "value"))
        .select("user_id", "event_id", "value", "value_lag_1",
          "value_lag_2", "value_lead_1")
        .orderBy("event_id")
    },
    // mirrors WindowOps.cusumShift: recursive per-user replay of the
    // one-sided CUSUM recurrences with the identical arithmetic shape
    // (0-start base case, greatest(0, prev + (v - t - s)), NULL value
    // updates nothing)
    Query("cusum_shift", """
      WITH RECURSIVE o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
          CAST(value AS DOUBLE) AS value,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC) AS i
        FROM events WHERE ts IS NOT NULL),
      r AS (
        SELECT user_id, ts, event_id, value, i,
          CASE WHEN value IS NULL THEN 0e0
               ELSE greatest(0e0, 0e0 + (value - 20e0 - 2e0)) END AS sp,
          CASE WHEN value IS NULL THEN 0e0
               ELSE greatest(0e0, 0e0 + (20e0 - 2e0 - value)) END AS sn
        FROM o WHERE i = 1
        UNION ALL
        SELECT o.user_id, o.ts, o.event_id, o.value, o.i,
          CASE WHEN o.value IS NULL THEN r.sp
               ELSE greatest(0e0, r.sp + (o.value - 20e0 - 2e0)) END,
          CASE WHEN o.value IS NULL THEN r.sn
               ELSE greatest(0e0, r.sn + (20e0 - 2e0 - o.value)) END
        FROM o JOIN r ON o.user_id = r.user_id AND o.i = r.i + 1)
      SELECT user_id, ts, event_id, value,
        sp AS cusum_pos, sn AS cusum_neg,
        (sp > 60e0 OR sn > 60e0) AS shift_flag
      FROM r ORDER BY user_id, ts, event_id""") { (s, dir) =>
      // mean-shift localization: one-sided CUSUM statistics per user
      // stream, exact sequential fold, flag while evidence > threshold
      WindowOps.cusumShift("user_id", "ts", "value", target = 20.0,
        slack = 2.0, threshold = 60.0, tieBreak = "event_id")(
        table(s, dir, "events"))
        .orderBy("user_id", "ts", "event_id")
    },
    // mirrors Conversations.assemble over the convTurns frame: ordered
    // list aggregation, '<|role|>\n content \n' template, 0-based
    // [start,end) content spans of assistant turns via prefix sums of
    // rendered lengths (len(role)+5+len(content)+1 per turn)
    Query("conversation_assemble", s"""
      WITH t AS ($convTurnsSql),
      g AS (SELECT user_id,
              list(struct_pack(r := r, c := c) ORDER BY ts, event_id) AS tl
            FROM t GROUP BY user_id),
      x AS (SELECT user_id, tl,
              list_transform(tl, u ->
                '<|' || u.r || '|>' || chr(10) || u.c || chr(10)) AS rend,
              list_transform(tl, u ->
                CAST(len(u.r) + 5 + len(u.c) + 1 AS BIGINT)) AS rl
            FROM g)
      SELECT user_id,
        CAST(len(tl) AS BIGINT) AS n_turns,
        CAST(len(string_split(array_to_string(rend, ''), ' ')) AS BIGINT)
          AS token_count,
        array_to_string(rend, '') AS text,
        array_to_string(list_transform(
          list_filter(range(1, len(tl) + 1), j -> tl[CAST(j AS INT)].r = 'assistant'),
          j -> CAST(coalesce(list_sum(rl[1:CAST(j AS INT)-1]), 0)
                 + len(tl[CAST(j AS INT)].r) + 5 AS VARCHAR)
               || ':' ||
               CAST(coalesce(list_sum(rl[1:CAST(j AS INT)-1]), 0)
                 + len(tl[CAST(j AS INT)].r) + 5
                 + len(tl[CAST(j AS INT)].c) AS VARCHAR)), ',') AS loss_spans,
        CAST(coalesce(list_sum(list_transform(
          list_filter(tl, u -> u.r = 'assistant'), u -> len(u.c))), 0)
          AS BIGINT) AS loss_chars
      FROM x ORDER BY user_id""") { (s, dir) =>
      // SFT assembly: the event stream becomes per-user dialogues —
      // role from the event class, content from type+props, turn order
      // (ts, event_id) total; one row per user with rendered template,
      // char-offset loss spans over assistant turns, exact counts
      Conversations.assemble("user_id", Seq("ts", "event_id"),
        "role", "content")(convTurns(s, dir)).orderBy("user_id")
    },
    // mirrors Conversations.truncate: leading system turn always kept,
    // cut = smallest k whose content-token suffix sum fits the remaining
    // budget (30 minus system tokens, floored at 0), whole turns only
    Query("conversation_truncate", conversationTruncateSql) { (s, dir) =>
      // context-window enforcement: leading system turn always kept,
      // then the longest whole-turn suffix fitting 30 content tokens
      Conversations.truncate("user_id", Seq("ts", "event_id"),
        "role", "content", budget = 30)(convTurns(s, dir))
        .orderBy("user_id")
    },
    // the COMPOSED SFT chain: turns -> whole-turn truncation -> k-fold
    // assignment -> per-fold example/token/loss accounting; pins the
    // truncate output schema and the kFold compose seam
    Query("sft_pipeline", s"""
      WITH ex AS ($conversationTruncateSql)
      SELECT CAST(h % 3 AS BIGINT) AS fold,
        count(*) AS record_count,
        CAST(sum(kept_tokens) AS BIGINT) AS kept_tokens_sum,
        CAST(sum(loss_chars) AS BIGINT) AS loss_chars_sum
      FROM (SELECT ex.*,
              CAST(list_sum(list_transform(range(1,9), j ->
                (strpos('0123456789abcdef',
                   substr(md5(CAST(user_id AS VARCHAR)), j, 1)) - 1)
                * CAST(16**(8-j) AS BIGINT))) AS BIGINT) AS h
            FROM ex)
      GROUP BY fold ORDER BY fold""") { (s, dir) =>
      // the COMPOSED SFT chain: turns -> budget truncation -> k-fold
      // assignment -> per-fold example/token/loss accounting — one row
      // pinning the truncate output schema and the kFold compose seam
      Conversations.truncate("user_id", Seq("ts", "event_id"),
        "role", "content", budget = 30)(convTurns(s, dir))
        .withColumn("fold", TextOps.kFold(col("user_id"), 3))
        .groupBy("fold")
        .agg(count(lit(1)).as("record_count"),
          sum("kept_tokens").as("kept_tokens_sum"),
          sum("loss_chars").as("loss_chars_sum"))
        .orderBy("fold")
    },
  )

  /** Shared turn frame for the conversation queries: role class from the
    * event type (signup opens as system context; views/errors are the
    * user side; clicks/purchases the assistant side), content is
    * `event_type + " " + props`. */
  private def convTurns(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").select(
      col("user_id"), col("ts"), col("event_id"),
      when(col("event_type") === "signup", "system")
        .when(col("event_type").isin("view", "error"), "user")
        .otherwise("assistant").as("role"),
      concat_ws(" ", col("event_type"), col("props")).as("content"))

  /** Shared k-sample log-rank per-arm oracle body (no ORDER BY, no
    * reject gate): the dense |T|·k grid, per-variant at-risk windows,
    * the per-arm time-ordered O−E/V folds and the variant-ordered χ²
    * fold — used standalone (`logrank_k`, which appends the stored
    * df-table reject) AND as the z source inside the composed
    * `logrank_bh` row, so the FDR family provably corrects the SAME
    * per-arm z's the omnibus row reports (the `dunnZSql`
    * discipline). */
  private lazy val logRankKArmSql: String = """
      WITH e AS (SELECT user_id % 3 AS cohort, user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS ep
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_id % 13 = 0),
      subj AS (SELECT cohort, CAST(user_id % 4 AS VARCHAR) AS v,
          CAST(floor((max(ep) - min(ep)) / 86400) AS BIGINT) AS t,
          ((SELECT max(ep) FROM e) - max(ep) < 172800) AS cen
        FROM e GROUP BY cohort, user_id),
      cells AS (SELECT cohort, v, t,
          CAST(sum(CASE WHEN cen THEN 0 ELSE 1 END) AS BIGINT) AS d,
          CAST(sum(CASE WHEN cen THEN 1 ELSE 0 END) AS BIGINT) AS cn
        FROM subj GROUP BY cohort, v, t),
      tms AS (SELECT DISTINCT cohort, t FROM cells),
      vrs AS (SELECT DISTINCT cohort, v FROM cells),
      grid AS (SELECT tms.cohort, tms.t, vrs.v
        FROM tms JOIN vrs ON vrs.cohort = tms.cohort),
      gc AS (SELECT grid.cohort, grid.v, grid.t,
          coalesce(c.d, CAST(0 AS BIGINT)) AS d,
          coalesce(c.cn, CAST(0 AS BIGINT)) AS cn
        FROM grid LEFT JOIN cells c ON c.cohort = grid.cohort
          AND c.v = grid.v AND c.t = grid.t),
      w AS (SELECT cohort, v, t, d, cn,
          CAST(sum(d + cn) OVER (PARTITION BY cohort, v)
            - coalesce(sum(d + cn) OVER (PARTITION BY cohort, v
                ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS nv
        FROM gc),
      tt AS (SELECT cohort, v, t, d, cn, nv,
          CAST(sum(nv) OVER (PARTITION BY cohort, t) AS BIGINT) AS nt,
          CAST(sum(d) OVER (PARTITION BY cohort, t) AS BIGINT) AS dt
        FROM w),
      tm AS (SELECT cohort, v, t, d, cn, nv, nt, dt,
          CASE WHEN dt > 0 AND nt > 1 THEN
            CAST(CAST(d AS HUGEINT) * nt - CAST(dt AS HUGEINT) * nv
              AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0e0 END AS oe,
          CASE WHEN dt > 0 AND nt > 1 THEN
            CAST(CAST(dt AS HUGEINT) * nv * (nt - nv) * (nt - dt)
              AS DOUBLE)
              / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
                * (CAST(nt AS DOUBLE) - 1e0)) ELSE 0e0 END AS vv
        FROM tt),
      arm AS (SELECT cohort, v,
          CAST(sum(d + cn) AS BIGINT) AS n,
          CAST(sum(d) AS BIGINT) AS deaths,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(oe ORDER BY t)), (acc, x) -> acc + x) AS osum,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(vv ORDER BY t)), (acc, x) -> acc + x) AS vsum
        FROM tm GROUP BY cohort, v),
      arm2 AS (SELECT *, CAST(deaths AS DOUBLE) - osum AS ev FROM arm),
      kk AS (SELECT cohort, CAST(count(*) AS BIGINT) AS k
        FROM vrs GROUP BY cohort),
      om AS (SELECT cohort, CAST(sum(deaths) AS BIGINT) AS dtot,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CASE WHEN ev > 0e0 THEN osum * osum / ev ELSE 0e0 END
              ORDER BY v)), (acc, x) -> acc + x) AS chi2
        FROM arm2 GROUP BY cohort),
      f AS (SELECT arm2.cohort, v, n, deaths, ev, osum, vsum, kk.k,
          CASE WHEN kk.k >= 2 AND om.dtot > 0 THEN om.chi2 END AS chi2
        FROM arm2 JOIN kk ON kk.cohort = arm2.cohort
          JOIN om ON om.cohort = arm2.cohort)
      SELECT cohort, v AS variant, n, deaths, ev AS expected,
        osum AS o_minus_e,
        CASE WHEN vsum > 0e0 THEN osum / sqrt(vsum) END AS z,
        k, chi2
      FROM f"""

  /** DuckDB mirror of the whole conversation_truncate query — shared by
    * its own oracle row and the composed sft_pipeline row. */
  private lazy val conversationTruncateSql: String = s"""
      WITH t AS ($convTurnsSql),
      g AS (SELECT user_id,
              list(struct_pack(r := r, c := c) ORDER BY ts, event_id) AS tl
            FROM t GROUP BY user_id),
      x AS (SELECT user_id, tl, len(tl) AS n,
              list_transform(tl, u ->
                CAST(len(string_split(u.c, ' ')) AS BIGINT)) AS tk,
              (tl[1].r = 'system') AS has_sys
            FROM g),
      y AS (SELECT *,
              CASE WHEN has_sys THEN tk[1] ELSE 0 END AS sys_tok,
              CASE WHEN has_sys THEN 1 ELSE 0 END AS start_idx
            FROM x),
      z AS (SELECT *, greatest(30 - sys_tok, 0) AS rem FROM y),
      w AS (SELECT *, list_min(list_filter(range(start_idx, n + 1),
              k -> coalesce(list_sum(tk[CAST(k AS INT)+1:CAST(n AS INT)]), 0) <= rem))
              AS cut
            FROM z),
      v AS (SELECT *,
              CASE WHEN has_sys
                   THEN list_concat(tl[1:1], tl[CAST(cut AS INT)+1:CAST(n AS INT)])
                   ELSE tl[CAST(cut AS INT)+1:CAST(n AS INT)] END AS kl
            FROM w),
      v2 AS (SELECT *, list_transform(kl, u ->
               CAST(len(u.r) + 5 + len(u.c) + 1 AS BIGINT)) AS rlk
             FROM v)
      SELECT user_id,
        CAST(n AS BIGINT) AS n_turns,
        CAST(CASE WHEN has_sys THEN 1 ELSE 0 END + (n - cut) AS BIGINT)
          AS kept_turns,
        CAST(sys_tok + coalesce(
          list_sum(tk[CAST(cut AS INT)+1:CAST(n AS INT)]), 0) AS BIGINT)
          AS kept_tokens,
        array_to_string(list_transform(kl,
          u -> '<|' || u.r || '|>' || chr(10) || u.c || chr(10)), '') AS text,
        coalesce(array_to_string(list_transform(
          list_filter(range(1, len(kl) + 1), j -> kl[CAST(j AS INT)].r = 'assistant'),
          j -> CAST(coalesce(list_sum(rlk[1:CAST(j AS INT)-1]), 0)
                 + len(kl[CAST(j AS INT)].r) + 5 AS VARCHAR)
               || ':' ||
               CAST(coalesce(list_sum(rlk[1:CAST(j AS INT)-1]), 0)
                 + len(kl[CAST(j AS INT)].r) + 5
                 + len(kl[CAST(j AS INT)].c) AS VARCHAR)), ','), '')
          AS loss_spans,
        CAST(coalesce(list_sum(list_transform(
          list_filter(kl, u -> u.r = 'assistant'), u -> len(u.c))), 0)
          AS BIGINT) AS loss_chars
      FROM v2 ORDER BY user_id"""

  /** DuckDB mirror of [[convTurns]]. */
  private val convTurnsSql: String = """
    SELECT user_id, ts, event_id,
      CASE WHEN event_type = 'signup' THEN 'system'
           WHEN event_type IN ('view', 'error') THEN 'user'
           ELSE 'assistant' END AS r,
      concat_ws(' ', event_type, props) AS c
    FROM events"""
}
