package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Ops
import graft.probes.Probes
import scala.util.control.NonFatal

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 (and the §2.12 extensions)
  * has a named [[Query]] here, registered with its DuckDB-equivalent oracle.
  * Determinism rules (SURVEY.md §7.4): every query imposes a total output
  * order, mirrored by ORDER BY in the oracle; aggregates over money columns
  * use an exact integer-scaling pattern (`sum(round(x*s) as long)/s`) that
  * is bit-identical across engines regardless of summation order.
  */
object SparkEntry {

  /** Conf that lets Spark's parquet reader surface TIMESTAMP(NANOS)
    * columns (which it cannot model — micros only) as raw long nanos
    * instead of failing. Session-builder-scoped: [[sessionBuilder]] sets
    * it for every main and the test harness. [[table]] does NOT
    * mutate the session (an unscoped `conf.set` inside a loader is racy
    * under concurrent queries); a session that reads the nanos fixtures
    * (`events`) must carry this conf from construction. */
  val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** The one session configuration, shared by every main and the test
    * harness: `local[cpus]`, one shuffle partition per core, UTC, nanos
    * timestamps read as longs ([[NanosAsLongKey]]) and no UI. Callers add
    * their own settings to the returned builder. */
  def sessionBuilder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(NanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")

  /** Fixture loader. Nanos timestamp columns (the events fixture's `ts`)
    * surface as LongType under [[NanosAsLongKey]]; they are converted to
    * micros timestamps with exact integer floor-division — nano epochs
    * (~1.7e18) overflow a double's 53-bit mantissa, so no floating-point
    * detour is allowed, and `pmod` keeps floor semantics for pre-epoch
    * (negative) nanos where `div` alone would truncate toward zero.
    * Conversion is keyed on the observed schema (ts-named Long column),
    * not the fixture name: a fixture already shipping micros stays a
    * TimestampType and is left untouched. Sub-microsecond ordering ties
    * are lost to the oracle (which reads full nanos) — irrelevant for the
    * fixtures, noted for the sessionize oracle. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // no per-read option exists for nanos columns (SQLConf-only), so the
    // best a loader can do without mutating session state is turn the
    // reader's opaque failure into an actionable one
    val df =
      try spark.read.parquet(s"$dir/$name.parquet")
      catch {
        case NonFatal(e)
            if spark.conf.get(NanosAsLongKey, "false") != "true" &&
              String.valueOf(e.getMessage).contains("NANOS") =>
          throw new IllegalStateException(
            s"$name.parquet carries TIMESTAMP(NANOS) columns: build the session " +
              s"with .config(\"$NanosAsLongKey\", \"true\") (see SparkEntry.NanosAsLongKey)",
            e)
      }
    normalizeTs(df)
  }

  /** The fixtures' `ts` column as a TIMESTAMP, keyed on the observed
    * schema so either fixture vintage loads identically: nanos int64
    * (read as a long under [[NanosAsLongKey]]) is truncated to micros;
    * the 2026-08-13 regeneration's micros isAdjustedToUTC=false, which
    * Spark reads as TIMESTAMP_NTZ, is cast to the session-zone instant
    * type (UTC session ⇒ identical wall-clock values) so the temporal
    * surface (unix_micros, window, sessionize) keeps its TIMESTAMP
    * contract. Works on batch and streaming frames alike. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference README's flagship: source -> aggregate -> output. */
  def entry(spark: SparkSession): DataFrame =
    queries("aggregate_flagship")(spark, "/root/testdata/sf0.001")

  /** Every driver query, each with its oracle: the catalog queries below,
    * then the extension families. */
  lazy val registry: Seq[Query] = baseRegistry ++ ExtQueries.registry

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  private def baseRegistry: Seq[Query] = Seq(
    // ---- §2.5 aggregate --------------------------------------------------
    Query("aggregate_flagship",
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS l_quantity_sum,
         min(l_quantity) AS l_quantity_min,
         max(l_quantity) AS l_quantity_max,
         avg(l_quantity) AS l_quantity_average,
         count(*) AS record_count
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
      // reference ops/rows.py::aggregate semantics + naming (<f>_<fn>, record_count)
      Ops.aggregate(
        keys = Seq("l_returnflag", "l_linestatus"),
        measures = Seq(
          "l_quantity" -> "sum", "l_quantity" -> "min",
          "l_quantity" -> "max", "l_quantity" -> "average"))(
        table(s, dir, "lineitem"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Query("aggregate_distinct",
      """SELECT l_returnflag,
         count(DISTINCT l_suppkey) AS l_suppkey_count_distinct,
         count(l_suppkey) AS l_suppkey_count,
         sum(l_quantity) AS l_quantity_sum,
         count(*) AS record_count
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      Ops.aggregate(
        keys = Seq("l_returnflag"),
        measures = Seq("l_suppkey" -> "count_distinct", "l_suppkey" -> "count",
          "l_quantity" -> "sum"))(table(s, dir, "lineitem"))
        .orderBy("l_returnflag")
    },
    Query("aggregate_money",
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(round(l_extendedprice * 1e2, 0) AS BIGINT)) AS BIGINT) / 1e2 AS base_price_sum,
         CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1e4, 0) AS BIGINT)) AS BIGINT) / 1e4 AS disc_price_sum,
         CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1e6, 0) AS BIGINT)) AS BIGINT) / 1e6 AS charge_sum,
         (CAST(sum(CAST(round(l_extendedprice * 1e2, 0) AS BIGINT)) AS BIGINT) / 1e2) / count(*) AS avg_price,
         count(*) AS record_count
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
      // exact, order-insensitive money sums; the oracle mirrors them as
      // `CAST(SUM(CAST(round(x*1eS,0) AS BIGINT)) AS BIGINT)/1eS`
      val l = table(s, dir, "lineitem")
      l.groupBy("l_returnflag", "l_linestatus").agg(
          Ops.scaledSum(col("l_extendedprice"), 1e2).as("base_price_sum"),
          Ops.scaledSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
            1e4).as("disc_price_sum"),
          Ops.scaledSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")) *
              (lit(1) + col("l_tax")), 1e6).as("charge_sum"),
          (Ops.scaledSum(col("l_extendedprice"), 1e2) / count(lit(1)))
            .as("avg_price"),
          count(lit(1)).as("record_count"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    // ---- §2.2 field_filter ----------------------------------------------
    Query("field_filter",
      """SELECT p_partkey, p_name AS part_name, p_retailprice
         FROM part ORDER BY p_partkey""") { (s, dir) =>
      Ops.fieldFilter(
        keep = Seq("p_partkey", "p_name", "p_retailprice"),
        rename = Map("p_name" -> "part_name"))(table(s, dir, "part"))
        .orderBy("p_partkey")
    },
    // ---- §2.3 filters ----------------------------------------------------
    Query("filter_by_value",
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
         FROM lineitem WHERE l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber, l_quantity""") { (s, dir) =>
      // lineitem's (orderkey, linenumber) is not unique in the fixture, so
      // row-emitting lineitem queries order by EVERY output column: tied
      // rows are then identical and any tie order hash-matches.
      Ops.filterByValue("l_returnflag", "R")(table(s, dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },
    Query("filter_by_value_discard",
      """SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders WHERE NOT coalesce(o_orderstatus = 'F', false)
         ORDER BY o_orderkey""") { (s, dir) =>
      Ops.filterByValue("o_orderstatus", "F", discard = true)(table(s, dir, "orders"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Query("filter_by_set",
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
         ORDER BY c_custkey""") { (s, dir) =>
      Ops.filterBySet("c_mktsegment", Seq("BUILDING", "AUTOMOBILE"))(
        table(s, dir, "customer"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Query("filter_by_range",
      """SELECT l_orderkey, l_linenumber, l_quantity
         FROM lineitem WHERE l_quantity >= 10 AND l_quantity < 20
         ORDER BY l_orderkey, l_linenumber, l_quantity""") { (s, dir) =>
      // half-open [10, 20) — bound semantics documented in Ops.filterByRange
      Ops.filterByRange("l_quantity", 10, 20)(table(s, dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },
    Query("filter_not_empty",
      """SELECT p_partkey, regexp_replace(p_type, '^SMALL$', '', 'g') AS p_type
         FROM part
         WHERE regexp_replace(p_type, '^SMALL$', '', 'g') IS NOT NULL
           AND regexp_replace(p_type, '^SMALL$', '', 'g') <> ''
         ORDER BY p_partkey""") { (s, dir) =>
      val cleaned = Ops.textSubstitute("p_type", Seq("^SMALL$" -> ""))(
        table(s, dir, "part"))
      Ops.filterNotEmpty("p_type")(cleaned)
        .select("p_partkey", "p_type").orderBy("p_partkey")
    },
    Query("filter_by_predicate",
      """SELECT l_orderkey, l_linenumber, l_quantity
         FROM lineitem WHERE l_quantity >= 30
         ORDER BY l_orderkey, l_linenumber, l_quantity""") { (s, dir) =>
      // the UDF surface (SURVEY §2.3/§2.11): a typed Row predicate —
      // opaque to Catalyst (no pushdown), which is why the Column-based
      // filters above are preferred; oracle mirrors the semantics in SQL
      Ops.filterByPredicate(r => r.getAs[Double]("l_quantity") >= 30.0)(
        table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },
    Query("filter_empty",
      """SELECT p_partkey, regexp_replace(p_type, '^SMALL$', '', 'g') AS p_type
         FROM part
         WHERE regexp_replace(p_type, '^SMALL$', '', 'g') IS NULL
            OR regexp_replace(p_type, '^SMALL$', '', 'g') = ''
         ORDER BY p_partkey""") { (s, dir) =>
      val cleaned = Ops.textSubstitute("p_type", Seq("^SMALL$" -> ""))(
        table(s, dir, "part"))
      Ops.filterEmpty("p_type")(cleaned)
        .select("p_partkey", "p_type").orderBy("p_partkey")
    },
    Query("empty_to_missing",
      """SELECT p_partkey, NULLIF(regexp_replace(p_type, '^SMALL$', '', 'g'), '') AS p_type
         FROM part ORDER BY p_partkey""") { (s, dir) =>
      val cleaned = Ops.textSubstitute("p_type", Seq("^SMALL$" -> ""))(
        table(s, dir, "part"))
      Ops.emptyToMissing(Seq("p_type"))(cleaned)
        .select("p_partkey", "p_type").orderBy("p_partkey")
    },
    // ---- §2.5 distinct / duplicates -------------------------------------
    Query("distinct_keys",
      """SELECT DISTINCT o_orderpriority, o_orderstatus
         FROM orders ORDER BY o_orderpriority, o_orderstatus""") { (s, dir) =>
      Ops.distinct(Seq("o_orderpriority", "o_orderstatus"))(table(s, dir, "orders"))
        .orderBy("o_orderpriority", "o_orderstatus")
    },
    Query("distinct_rows",
      """SELECT DISTINCT * FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      Ops.distinct()(table(s, dir, "nation")).orderBy("n_nationkey")
    },
    Query("count_duplicates",
      """SELECT l_orderkey, count(*) AS duplicate_count
         FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
         ORDER BY l_orderkey""") { (s, dir) =>
      Probes.countDuplicates(Seq("l_orderkey"))(table(s, dir, "lineitem"))
        .orderBy("l_orderkey")
    },
    Query("duplicate_stats",
      """SELECT count(*) AS record_count,
         count(DISTINCT l_orderkey) AS distinct_count,
         count(*) - count(DISTINCT l_orderkey) AS duplicate_count
         FROM lineitem""") { (s, dir) =>
      Probes.duplicateStats(Seq("l_orderkey"))(table(s, dir, "lineitem"))
    },
    Query("unique_violations",
      """SELECT s_nationkey, count(*) AS duplicate_count
         FROM supplier GROUP BY s_nationkey HAVING count(*) > 1
         ORDER BY s_nationkey""") { (s, dir) =>
      Probes.uniqueViolations(Seq("s_nationkey"))(table(s, dir, "supplier"))
        .orderBy("s_nationkey")
    },
    // ---- §2.10 audit -----------------------------------------------------
    Query("audit_customer",
      """WITH stats AS (
           SELECT 'c_acctbal' AS field_name, count(*) AS record_count,
             count(CASE WHEN c_acctbal IS NULL THEN 1 END) AS null_count,
             CAST(count(CASE WHEN c_acctbal IS NULL THEN 1 END) AS DOUBLE) / count(*) AS null_ratio,
             CAST(0 AS BIGINT) AS empty_string_count,
             CASE WHEN count(DISTINCT c_acctbal) <= 1000000 THEN count(DISTINCT c_acctbal) END AS distinct_count
           FROM customer
           UNION ALL
           SELECT 'c_mktsegment', count(*),
             count(CASE WHEN c_mktsegment IS NULL THEN 1 END),
             CAST(count(CASE WHEN c_mktsegment IS NULL THEN 1 END) AS DOUBLE) / count(*),
             count(CASE WHEN c_mktsegment = '' THEN 1 END),
             CASE WHEN count(DISTINCT c_mktsegment) <= 1000000 THEN count(DISTINCT c_mktsegment) END
           FROM customer
           UNION ALL
           SELECT 'c_name', count(*),
             count(CASE WHEN c_name IS NULL THEN 1 END),
             CAST(count(CASE WHEN c_name IS NULL THEN 1 END) AS DOUBLE) / count(*),
             count(CASE WHEN c_name = '' THEN 1 END),
             CASE WHEN count(DISTINCT c_name) <= 1000000 THEN count(DISTINCT c_name) END
           FROM customer)
         SELECT field_name, record_count,
           CAST(null_count AS BIGINT) AS null_count, null_ratio,
           CAST(empty_string_count AS BIGINT) AS empty_string_count,
           CAST(distinct_count AS BIGINT) AS distinct_count
         FROM stats ORDER BY field_name""") { (s, dir) =>
      Probes.audit(Seq("c_mktsegment", "c_name", "c_acctbal"))(
        table(s, dir, "customer"))
    },
    // ---- §2.7 sort / sample ---------------------------------------------
    Query("sort_multi",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
         FROM orders
         ORDER BY o_orderpriority ASC NULLS FIRST,
           o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST""") { (s, dir) =>
      Ops.sort(Seq("o_orderpriority" -> true, "o_totalprice" -> false,
        "o_orderkey" -> true))(
        table(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"))
    },
    Query("sample_first",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
           l_quantity ASC NULLS FIRST
         LIMIT 100""") { (s, dir) =>
      Ops.sample(100)(
        Ops.sort(Seq("l_orderkey" -> true, "l_linenumber" -> true,
          "l_quantity" -> true))(
          table(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity")))
    },
    Query("sample_random",
      // md5-prefix uint32 < 0.1 * 2^32 — mirrors Ops.sampleHash exactly
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE list_sum(list_transform(range(1,9), j ->
           (strpos('0123456789abcdef',
              substr(md5(CAST(o_orderkey AS VARCHAR)), j, 1)) - 1)
           * CAST(16**(8-j) AS BIGINT))) < 429496729
         ORDER BY o_orderkey""") { (s, dir) =>
      // deterministic seeded sample: content-keyed hash filter, not RNG
      Ops.sampleHash("o_orderkey", fraction = 0.1)(
        table(s, dir, "orders").select("o_orderkey", "o_totalprice"))
        .orderBy("o_orderkey")
    },
    Query("sample_nth",
      """SELECT o_orderkey, o_totalprice FROM (
           SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders)
         WHERE (rn - 1) % 7 = 0 ORDER BY o_orderkey""") { (s, dir) =>
      // every 7th row of the o_orderkey total order — zipWithIndex plan,
      // no single-partition window
      Ops.sample(7, "nth")(
        Ops.sort(Seq("o_orderkey" -> true))(
          table(s, dir, "orders").select("o_orderkey", "o_totalprice")))
        .orderBy("o_orderkey")
    },
    Query("sample_n_exact",
      // 200 smallest md5-prefix hashes, key-ascending tie-break —
      // mirrors Ops.sampleHashTopN exactly
      """SELECT o_orderkey, o_totalprice FROM (
           SELECT o_orderkey, o_totalprice FROM orders
           ORDER BY list_sum(list_transform(range(1,9), j ->
             (strpos('0123456789abcdef',
                substr(md5(CAST(o_orderkey AS VARCHAR)), j, 1)) - 1)
             * CAST(16**(8-j) AS BIGINT))) ASC, o_orderkey ASC
           LIMIT 200)
         ORDER BY o_orderkey""") { (s, dir) =>
      // exact-count deterministic sample: 200 smallest content hashes —
      // TakeOrderedAndProject, no global sort
      Ops.sampleHashTopN("o_orderkey", 200)(
        table(s, dir, "orders").select("o_orderkey", "o_totalprice"))
        .orderBy("o_orderkey")
    },
    // ---- §2.8 append ------------------------------------------------------
    Query("append_slices",
      """SELECT * FROM (
           SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice,
             'a' AS slice FROM orders WHERE o_orderstatus = 'P'
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice,
             'b' AS slice FROM orders WHERE o_orderpriority = '1-URGENT')
         ORDER BY o_orderkey, slice""") { (s, dir) =>
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      val a = Ops.filterByValue("o_orderstatus", "P")(o).withColumn("slice", lit("a"))
      val b = Ops.filterByValue("o_orderpriority", "1-URGENT")(o)
        .withColumn("slice", lit("b"))
      Ops.append(Seq(a, b)).orderBy("o_orderkey", "slice")
    },
    // ---- §2.4 join_details ------------------------------------------------
    Query("join_details_star",
      """SELECT o_orderkey, o_totalprice, c_name, n_name, r_name
         FROM orders
         LEFT OUTER JOIN customer ON o_custkey = c_custkey
         LEFT OUTER JOIN nation ON c_nationkey = n_nationkey
         LEFT OUTER JOIN region ON n_regionkey = r_regionkey
         ORDER BY o_orderkey""") { (s, dir) =>
      // dimension chain, every detail broadcast: zero shuffles of the fact side
      Ops.joinDetailsChain(Seq(
        (table(s, dir, "customer"), "o_custkey", "c_custkey"),
        (table(s, dir, "nation"), "c_nationkey", "n_nationkey"),
        (table(s, dir, "region"), "n_regionkey", "r_regionkey")))(
        table(s, dir, "orders"))
        .select("o_orderkey", "o_totalprice", "c_name", "n_name", "r_name")
        .orderBy("o_orderkey")
    },
    Query("join_details_large",
      """SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice, o_orderpriority
         FROM lineitem LEFT OUTER JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber, l_quantity, o_totalprice,
           o_orderpriority""") { (s, dir) =>
      // fact-to-fact: detail too large to broadcast -> shuffled join on the key
      Ops.joinDetails(table(s, dir, "orders"), "l_orderkey", "o_orderkey",
        broadcastDetail = false)(table(s, dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "o_totalprice",
          "o_orderpriority")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "o_totalprice",
          "o_orderpriority")
    },
    // ---- §2.9 scalar transforms -------------------------------------------
    Query("split_date",
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS o_orderdate_year,
         CAST(month(o_orderdate) AS INTEGER) AS o_orderdate_month,
         CAST(day(o_orderdate) AS INTEGER) AS o_orderdate_day
         FROM orders ORDER BY o_orderkey""") { (s, dir) =>
      Ops.splitDate("o_orderdate")(table(s, dir, "orders"))
        .select("o_orderkey", "o_orderdate_year", "o_orderdate_month",
          "o_orderdate_day")
        .orderBy("o_orderkey")
    },
    Query("string_ops",
      """SELECT p_partkey, regexp_replace(trim(p_name), '[aeiou]', '*', 'g') AS p_name,
         p_brand FROM part ORDER BY p_partkey""") { (s, dir) =>
      val p = Ops.stringStrip(Seq("p_name"))(table(s, dir, "part"))
      Ops.textSubstitute("p_name", Seq("[aeiou]" -> "*"))(p)
        .select("p_partkey", "p_name", "p_brand").orderBy("p_partkey")
    },
    Query("string_to_date",
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date_str,
         CAST(o_orderdate AS DATE) AS o_date
         FROM orders ORDER BY o_orderkey""") { (s, dir) =>
      val o = table(s, dir, "orders")
        .withColumn("o_date_str", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      Ops.stringToDate("o_date_str", "yyyy-MM-dd", target = Some("o_date"))(o)
        .select("o_orderkey", "o_date_str", "o_date").orderBy("o_orderkey")
    },
    Query("threshold_bins",
      """SELECT c_custkey, c_acctbal,
         CASE WHEN c_acctbal < 0e0 THEN 'low'
              WHEN c_acctbal > 5e3 THEN 'high'
              WHEN c_acctbal IS NOT NULL THEN 'pass' END AS c_acctbal_bin
         FROM customer ORDER BY c_custkey""") { (s, dir) =>
      Ops.threshold("c_acctbal", 0.0, 5000.0)(table(s, dir, "customer"))
        .select("c_custkey", "c_acctbal", "c_acctbal_bin").orderBy("c_custkey")
    },
    Query("derive_disc_price",
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
         l_extendedprice * (1 - l_discount) AS disc_price
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_extendedprice, disc_price""") { (s, dir) =>
      // per-row IEEE arithmetic: identical expression shape in the oracle
      Ops.derive("disc_price",
        col("l_extendedprice") * (lit(1) - col("l_discount")))(
        table(s, dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "disc_price")
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "disc_price")
    },
    // ---- EP1 composed pipeline -------------------------------------------
    Query("pipeline_relational",
      """SELECT o_orderpriority,
         sum(l_quantity) AS l_quantity_sum,
         avg(l_quantity) AS l_quantity_average,
         count(*) AS record_count
         FROM lineitem LEFT OUTER JOIN orders ON l_orderkey = o_orderkey
         WHERE l_quantity >= 5 AND l_quantity < 45
         GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
      val filtered = Ops.filterByRange("l_quantity", 5, 45)(table(s, dir, "lineitem"))
      val joined = Ops.joinDetails(table(s, dir, "orders"), "l_orderkey",
        "o_orderkey", broadcastDetail = false)(filtered)
      Ops.aggregate(Seq("o_orderpriority"),
        Seq("l_quantity" -> "sum", "l_quantity" -> "average"))(joined)
        .orderBy("o_orderpriority")
    },
  )
}
