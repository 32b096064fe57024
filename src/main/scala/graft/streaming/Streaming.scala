package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface — the SURVEY §2.9/§2.12 north star. The
  * reference is strictly batch (pull-based iterators); on Spark the same
  * declarative operator catalog runs unmodified over unbounded input, and
  * these helpers add the streaming-only pieces: event-time windows,
  * watermarks, and session windows.
  *
  * Every function here takes and returns a plain DataFrame and builds an
  * identical logical plan for batch and streaming inputs — the batch runs
  * are what the unit tests and oracle can check, the streaming runs get
  * incremental execution + state store for free.
  *
  * Scale notes: windowed counts shuffle once on (window, key) with
  * map-side partial aggregation; the watermark bounds state size (late
  * data beyond the delay is dropped, closed windows are evicted). Session
  * windows use Spark's native `session_window` (state-store-backed gap
  * sessionization) rather than a hand-rolled
  * `flatMapGroupsWithState` — native windows keep whole-stage codegen and
  * AQE on the batch path.
  */
object Streaming {

  /** Tumbling-window count per key with a watermark. */
  def windowedEventCounts(
      events: DataFrame,
      tsField: String = "ts",
      keyField: String = "event_type",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsField, watermarkDelay)
      .groupBy(window(col(tsField), windowLength), col(keyField))
      .agg(count(lit(1)).as("event_count"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(keyField),
        col("event_count"))

  /** Windowed heavy hitters over an unbounded key stream: per tumbling
    * window, only the keys whose count reaches `minCount` — trending
    * terms / hot entities per interval. Same state story as
    * [[windowedEventCounts]]: state is the ACTIVE windows' key counts
    * and the watermark evicts closed windows, so state never grows with
    * stream age — the property an all-time streaming counter cannot
    * have. For all-time heavy hitters over the accumulated corpus run
    * the batch two-pass ([[graft.ext.Frequency.heavyHitters]]) over the
    * stored stream — the standard lambda split this library's
    * incremental-index ops follow. The threshold filters POST-aggregate
    * (sub-threshold keys still count state — they must, any of them
    * may still reach `minCount` before the window closes). */
  def windowedHeavyHitters(
      events: DataFrame,
      minCount: Long,
      tsField: String = "ts",
      keyField: String = "event_type",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    windowedEventCounts(events, tsField, keyField, windowLength,
      watermarkDelay)
      .filter(col("event_count") >= minCount)

  /** Distinct keys per tumbling window — the "unique users per hour"
    * stream: per (window, group), a DataSketches HLL sketch aggregates
    * incrementally in the state store (`hll_sketch_agg` is a native
    * mergeable aggregate, so partial sketches merge across
    * micro-batches instead of buffering the value set), the estimate
    * projects out per emission, and the watermark evicts closed
    * windows — state is one ~1.5 KB sketch per open (window, group)
    * regardless of stream rate. Exact while a window's distincts stay
    * in the coupon regime (the batch-equivalence spec's regime);
    * ~2% band beyond. The batch form over a stored stream is one
    * `groupBy(window(...), …).agg(approx_count_distinct …)` — or the
    * EXACT `aggregate` with count_distinct when history is bounded. */
  def windowedDistinct(
      events: DataFrame,
      distinctField: String,
      tsField: String = "ts",
      keyField: String = "event_type",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes",
      lgK: Int = 12): DataFrame =
    events
      .withWatermark(tsField, watermarkDelay)
      .groupBy(window(col(tsField), windowLength), col(keyField))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col(distinctField), lit(lgK))).as("distinct_est"))
      .select(
        col("window.start").as("window_start"),
        col(keyField),
        col("distinct_est"))

  /** Windowed categorical drift against a STATIC baseline — the
    * streaming form of [[graft.probes.Probes.categoryDrift]] and the
    * live mixing dashboard ("did the crawler's language mix move in
    * the last hour?"): per tumbling window and category value, the
    * window share, the reference share, the delta, and the chi-square
    * contribution `(share_w − share_ref)² / share_ref` — the exact
    * formula the batch probe emits, so alerts calibrate identically.
    *
    * Categories are EXPLICIT (`values`) — the [[graft.ops.Ops
    * .pivotAgg]] doctrine: a single stateful aggregation per window
    * computes the total plus one conditional count per value (state is
    * one fixed-width row per open window — no second streaming
    * aggregation, which Spark would reject, and no per-value state
    * growth), then a projection explodes the counts to rows and joins
    * the broadcastable |values|+1-row reference-share frame. Rows
    * outside `values` (NULL included) pool under `__other__` on BOTH
    * sides, so shares always sum to 1 and a drift INTO unlisted
    * territory is visible rather than silently dropped. Brand-new
    * categories (reference share 0) carry NULL chi2 but show via
    * their window share — the batch probe's convention.
    *
    * The reference frame is batch (a stored table); its shares
    * compute once per query start. Identical plan on a batch frame —
    * the spec pins batch/stream row equality. */
  def windowedCategoryDrift(
      events: DataFrame,
      field: String,
      reference: DataFrame,
      values: Seq[String],
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(values.nonEmpty, "at least one explicit category value")
    require(values.distinct.length == values.length, "duplicate values")
    val other = "__other__"
    require(!values.contains(other),
      s"explicit value '$other' collides with the pool bucket")
    def bucket(c: Column): Column =
      when(c.isin(values.map(_.asInstanceOf[Any]): _*), c.cast("string"))
        .otherwise(lit(other))
    // reference shares: one |values|+1-row frame, broadcast into the join
    val refTotal = reference.agg(count(lit(1)).as("__rt"))
    val refShares = reference
      .groupBy(bucket(col(field)).as("value"))
      .agg(count(lit(1)).as("__rn"))
      .crossJoin(broadcast(refTotal))
      .select(col("value"),
        (col("__rn").cast("double") / col("__rt").cast("double"))
          .as("share_ref"))
    // counters named by INDEX, not value: a value containing '.' or a
    // backtick would break col()-resolution of a value-derived name
    val aggs =
      values.zipWithIndex.map { case (v, i) =>
        count(when(col(field) === v, lit(1))).as(s"__c_$i")
      } :+ count(lit(1)).as("__total")
    val windowed = events
      .withWatermark(tsField, watermarkDelay)
      .groupBy(window(col(tsField), windowLength))
      .agg(aggs.head, aggs.tail: _*)
    val cells = values.zipWithIndex.map { case (v, i) =>
      struct(lit(v).as("value"), col(s"__c_$i").as("n_window"))
    } :+
      struct(lit(other).as("value"),
        (col("__total") - values.indices.map(i => col(s"__c_$i"))
          .reduce(_ + _)).as("n_window"))
    windowed
      .select(col("window.start").as("window_start"), col("__total"),
        explode(array(cells: _*)).as("__cell"))
      .select(col("window_start"), col("__cell.value").as("value"),
        col("__cell.n_window").as("n_window"),
        (col("__cell.n_window").cast("double") /
          col("__total").cast("double")).as("share_window"))
      .join(broadcast(refShares), Seq("value"), "left")
      .withColumn("share_ref", coalesce(col("share_ref"), lit(0.0)))
      .withColumn("delta", col("share_window") - col("share_ref"))
      .withColumn("chi2",
        when(col("share_ref") === 0.0, lit(null).cast("double"))
          .otherwise((col("delta") * col("delta")) / col("share_ref")))
      .select("window_start", "value", "n_window", "share_window",
        "share_ref", "delta", "chi2")
  }

  /** Streaming numeric drift — the [[graft.probes.Probes.numericDrift]]
    * KS probe per tumbling window against a STATIC reference ("did the
    * price distribution move in the last hour?"): per window and bin,
    * the window count, window/reference empirical CDFs, the CDF delta,
    * and `ks_stat` = max |ΔCDF| over the bin grid — the same
    * bin-arithmetic contract as the batch probe (caller-supplied
    * [lo, hi), clamped edges, NULLs out).
    *
    * Shape ([[windowedCategoryDrift]]'s doctrine, numeric edition): ONE
    * stateful aggregation per window computes `bins` conditional
    * counters + the non-null total (fixed-width state per open window,
    * no per-value growth, no second streaming aggregation — which
    * Spark would reject); the CDFs, deltas, and the max then ride ARRAY
    * FOLDS inside one stateless projection (the running-sum fold is
    * [[graft.ops.WindowOps.ewmaSmooth]]'s concat-fold over `bins`
    * elements); the reference CDF is ONE broadcast row of per-bin
    * counts computed once at query start from the static frame.
    * `bins` is capped at 1000 — the state row and the fold are both
    * O(bins). Identical plan on a batch frame — spec-pinned. */
  def windowedNumericDrift(
      events: DataFrame,
      field: String,
      reference: DataFrame,
      lo: Double, hi: Double, bins: Int,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(bins >= 1 && bins <= 1000, s"bins must be in [1, 1000]: $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    def binOf(c: Column): Column = least(greatest(
      floor((c.cast("double") - lit(lo)) * lit(bins) / lit(hi - lo)),
      lit(0L)), lit((bins - 1).toLong))
    // reference per-bin counts as ONE broadcastable row (computed once
    // at query start; an equi-join on a literal key, not a cross join —
    // stream-static nested-loop joins are not in the supported set)
    val spine = reference.sparkSession.range(0, bins)
      .select(col("id").as("__b"))
    val refRow = spine
      .join(reference.filter(col(field).isNotNull)
        .select(binOf(col(field)).as("__b"))
        .groupBy("__b").agg(count(lit(1)).as("__n")),
        Seq("__b"), "left")
      .agg(array_sort(collect_list(struct(col("__b"),
        coalesce(col("__n"), lit(0L)).as("__n")))).as("__rc"))
      .select(transform(col("__rc"), x => x.getField("__n"))
        .as("__ref_counts"))
      .withColumn("__one", lit(1))
    val aggs = (0 until bins).map { i =>
      count(when(binOf(col(field)) === i, lit(1))).as(s"__c_$i")
    } :+ count(when(col(field).isNotNull, lit(1))).as("__total")
    val windowed = events
      .withWatermark(tsField, watermarkDelay)
      .groupBy(window(col(tsField), windowLength))
      .agg(aggs.head, aggs.tail: _*)
    val countsArr = array((0 until bins).map(i => col(s"__c_$i")): _*)
    def running(c: Column): Column = aggregate(c,
      array().cast("array<bigint>"),
      // size guard, not coalesce: ANSI element_at throws on an empty
      // array before null-coalescing could ever see it
      (acc, x) => concat(acc, array(
        when(size(acc) === 0, x).otherwise(element_at(acc, -1) + x))))
    def toCdf(cum: Column, total: Column): Column = transform(cum,
      c => when(total === 0L, lit(null).cast("double"))
        .otherwise(c.cast("double") / total.cast("double")))
    windowed
      .withColumn("__one", lit(1))
      .join(broadcast(refRow), Seq("__one"))
      .withColumn("__ref_total",
        aggregate(col("__ref_counts"), lit(0L), (a, x) => a + x))
      .withColumn("__cdf_w", toCdf(running(countsArr), col("__total")))
      .withColumn("__cdf_r",
        toCdf(running(col("__ref_counts")), col("__ref_total")))
      .withColumn("__delta",
        zip_with(col("__cdf_w"), col("__cdf_r"), (a, b) => a - b))
      .withColumn("ks_stat",
        array_max(transform(col("__delta"), d => abs(d))))
      .select(col("window.start").as("window_start"),
        posexplode(arrays_zip(countsArr.as("n"),
          col("__cdf_w").as("cw"), col("__cdf_r").as("cr"),
          col("__delta").as("d"))),
        col("ks_stat"))
      .select(col("window_start"), col("pos").cast("long").as("bin"),
        col("col.n").as("n_window"),
        col("col.cw").as("cdf_window"), col("col.cr").as("cdf_ref"),
        col("col.d").as("cdf_delta"), col("ks_stat"))
  }

  /** Windowed two-sample VALUE-drift gate — the live twin the exact
    * rank tests ([[graft.probes.Probes.mannWhitneyU]] /
    * [[graft.probes.Probes.ksTest]]) cannot have directly: per-window
    * ranks are unbounded state, so the stream routes through a
    * FIXED-BIN quantized histogram instead (≤ 64 bins over the
    * caller's [lo, hi), clamped edges — the [[windowedNumericDrift]]
    * bin contract) compared against a STORED reference histogram
    * (`refHist`, per-bin counts — a bounded model artifact on the
    * plan, the [[windowedCorpusDrift]] seam; build it once from the
    * healthy corpus with [[graft.probes.Probes.numericDrift]]-style
    * binning and ship the counts).
    *
    * Per window, with exact integer numerators end to end:
    *   `ks_stat = max_i |cum_w(i)·N_r − cum_r(i)·N_w| / (N_w·N_r)`
    *   `tvd     = Σ_i |c_w(i)·N_r − c_r(i)·N_w| / (2·N_w·N_r)`
    * (numerators carried in decimal(38,0) — no float until the one
    * final division each), and the GATE
    *   `drift = ks_stat > 1.358·√((N_w+N_r)/(N_w·N_r))`
    * — the asymptotic α=0.05 two-sample KS critical value (1.358 IS
    * the 95% gate, the no-libm doctrine: one correctly-rounded sqrt,
    * no p-value). The binned statistic is a LOWER bound on the
    * unbinned D, so the gate is conservative: a firing alarm is real,
    * a quiet one bounds the binned — not the pointwise — gap.
    *
    * Shape: ONE stateful aggregation per window (`bins` conditional
    * counters + the non-null total — fixed-width state, no second
    * streaming agg); the statistics ride array folds over
    * driver-literal reference arrays inside a stateless projection.
    * NULL and NaN observations drop from both the bin counters and
    * `n_window` (a NaN is not evidence about the value distribution;
    * unguarded, Spark's floor(NaN) would silently count it into bin 0
    * where the DuckDB mirror errors — the silent-vs-loud split this
    * repo guards against). An empty window reads NULL statistics and
    * NULL gate (no evidence, not "no drift"). Identical plan on a
    * batch frame —
    * batch/stream parity is spec-pinned, and the batch form carries
    * its own DuckDB oracle row. Output per window:
    * `window_start, n_window, ks_stat, tvd, threshold, drift`. */
  def windowedValueDrift(
      events: DataFrame,
      field: String,
      refHist: Seq[Long],
      lo: Double, hi: Double,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val bins = refHist.length
    require(bins >= 2 && bins <= 64,
      s"refHist must carry 2..64 bins, got $bins")
    require(refHist.forall(_ >= 0L), "negative reference bin count")
    val refTotal = refHist.sum
    require(refTotal > 0L, "empty reference histogram")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val refCum = refHist.scanLeft(0L)(_ + _).tail
    def binOf(c: Column): Column = least(greatest(
      floor((c.cast("double") - lit(lo)) * lit(bins) / lit(hi - lo)),
      lit(0L)), lit((bins - 1).toLong))
    // NaN values are EXCLUDED from both the bin counters and the
    // window total (the scorePercentiles / krippendorffAlphaWeighted
    // NaN doctrine): floor(NaN).toLong = 0 under non-ANSI Spark, so an
    // unguarded NaN would silently count into bin 0 and skew
    // ks_stat/tvd toward low-bin drift — while the DuckDB oracle's
    // BIGINT cast would instead error loudly (r17 ADVICE: a
    // silent-vs-loud cross-engine split). A NaN observation is not
    // evidence about the value distribution.
    val valid = col(field).isNotNull && !isnan(col(field).cast("double"))
    val aggs = (0 until bins).map { i =>
      count(when(valid && binOf(col(field)) === i, lit(1))).as(s"__c_$i")
    } :+ count(when(valid, lit(1))).as("__total")
    val windowed = events
      .withWatermark(tsField, watermarkDelay)
      .groupBy(window(col(tsField), windowLength))
      .agg(aggs.head, aggs.tail: _*)
    val countsArr = array((0 until bins).map(i => col(s"__c_$i")): _*)
    def running(c: Column): Column = aggregate(c,
      array().cast("array<bigint>"),
      (acc, x) => concat(acc, array(
        when(size(acc) === 0, x).otherwise(element_at(acc, -1) + x))))
    val refCumArr = array(refCum.map(lit): _*)
    val refCntArr = array(refHist.map(lit): _*)
    val d38 = "decimal(38,0)"
    def crossNum(w: Column, r: Column): Column =
      abs(w.cast(d38) * lit(refTotal).cast(d38) -
        r.cast(d38) * col("__total").cast(d38))
    val nw = col("__total").cast("double")
    val nr = lit(refTotal.toDouble)
    windowed
      .withColumn("__cum", running(countsArr))
      .withColumn("__ksNum", aggregate(
        zip_with(col("__cum"), refCumArr, crossNum),
        lit(0).cast(d38), (a, x) => greatest(a, x)))
      .withColumn("__tvdNum", aggregate(
        zip_with(countsArr, refCntArr, crossNum),
        lit(0).cast(d38), (a, x) => a + x))
      .withColumn("ks_stat",
        when(col("__total") === 0L, lit(null).cast("double"))
          .otherwise(col("__ksNum").cast("double") / (nw * nr)))
      .withColumn("tvd",
        when(col("__total") === 0L, lit(null).cast("double"))
          .otherwise(col("__tvdNum").cast("double") /
            (lit(2.0) * nw * nr)))
      .withColumn("threshold",
        when(col("__total") === 0L, lit(null).cast("double"))
          .otherwise(lit(1.358) * sqrt((nw + nr) / (nw * nr))))
      .select(col("window.start").as("window_start"),
        col("__total").as("n_window"), col("ks_stat"), col("tvd"),
        col("threshold"),
        (col("ks_stat") > col("threshold")).as("drift"))
  }

  /** Gap-based session windows per user: a session closes after
    * `gap` of event-time silence. */
  def sessionCounts(
      events: DataFrame,
      tsField: String = "ts",
      keyField: String = "user_id",
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsField, watermarkDelay)
      .groupBy(session_window(col(tsField), gap), col(keyField))
      .agg(count(lit(1)).as("event_count"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyField),
        col("event_count"))

  /** Streaming SFT assembly: gap-closed conversations from an unbounded
    * turn stream. A conversation is DONE when `gap` of event-time
    * silence follows its last turn — `session_window` keyed by the
    * conversation id holds the open session's turns as state, and once
    * the watermark passes a session's end the closed conversation emits
    * exactly once (append mode) through THE SAME rendered-example
    * projection the batch [[graft.ext.Conversations.assemble]] uses
    * (shared `assembledColumns` — template and spans cannot diverge
    * between batch and stream). Turn order inside a session is event
    * time, ties broken by (role, content) in the struct sort — pass
    * uniquely-timestamped turns for a guaranteed total order, exactly as
    * the batch op's `orderFields` contract demands. State per open
    * conversation is its turn list — the same "a training example must
    * materialize" bound as batch; the watermark bounds how long it is
    * held. Also runs verbatim on a batch frame (session_window is a
    * plain grouping there) — the parity spec pins the two. */
  def streamingConversationAssemble(
      events: DataFrame,
      convField: String = "user_id",
      tsField: String = "ts",
      roleField: String = "role",
      contentField: String = "content",
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes",
      lossRole: String = "assistant"): DataFrame = {
    val turnStruct = struct(
      col(tsField).as("__o0"),
      coalesce(col(roleField).cast("string"), lit("")).as("r"),
      coalesce(col(contentField).cast("string"), lit("")).as("c"))
    val base =
      if (events.isStreaming) events.withWatermark(tsField, watermarkDelay)
      else events
    base
      .groupBy(session_window(col(tsField), gap), col(convField))
      .agg(array_sort(collect_list(turnStruct)).as("__ts"))
      .select(Seq(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(convField)) ++
        graft.ext.Conversations.assembledColumns(lossRole): _*)
  }

  /** Continuous rollup maintenance: attach a
    * [[graft.ext.RollupState]] to an unbounded stream — each
    * micro-batch folds into the persisted sufficient-statistics frame
    * via `foreachBatch` (the canonical stream-to-maintained-table
    * shape: the aggregation itself is batch code, so batch and
    * streaming rollups CANNOT disagree). Exactly-once caveat,
    * documented rather than hidden: `foreachBatch` gives at-least-once
    * on restart — a re-delivered batch would double-count, so
    * production restarts need an idempotence key (batchId recorded
    * with the state) or an upstream exactly-once source; the dedup
    * triad's append-survivors loops carry the same contract. Returns
    * the started query. */
  def streamingRollup(
      events: DataFrame, state: graft.ext.RollupState):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => state.fold(batch) }
      .start()

  /** [[streamingRollup]]'s distinct-count sibling: fold each
    * micro-batch's HLL sketches into a persisted
    * [[graft.ext.RollupStateHll]]. Same foreachBatch shape, same
    * at-least-once caveat — though HLL unions are IDEMPOTENT under
    * re-delivery of the same rows (a max of maxes), so a replayed batch
    * distorts nothing here, unlike the additive measure form. */
  def streamingRollupHll(
      events: DataFrame, state: graft.ext.RollupStateHll):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => state.fold(batch) }
      .start()

  /** [[streamingRollup]]'s SET-ALGEBRA sibling: fold each micro-batch's
    * theta sketches into a persisted [[graft.ext.RollupStateTheta]].
    * Theta unions are idempotent under re-delivery (set union), so the
    * at-least-once caveat vanishes here, as with HLL. */
  def streamingRollupTheta(
      events: DataFrame, state: graft.ext.RollupStateTheta):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => state.fold(batch) }
      .start()

  /** [[streamingRollup]]'s QUANTILE sibling: fold each micro-batch's
    * KLL sketches into a persisted [[graft.ext.RollupStateKll]]. Same
    * foreachBatch shape. NOTE the at-least-once caveat BINDS here as it
    * does for the additive form (and unlike HLL): a re-delivered batch
    * re-merges its values and shifts every rank estimate — production
    * restarts need an idempotence key recorded with the state. */
  def streamingRollupKll(
      events: DataFrame, state: graft.ext.RollupStateKll):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => state.fold(batch) }
      .start()

  /** [[streamingRollup]]'s POINT-FREQUENCY sibling: fold each
    * micro-batch's count–min sketches into a persisted
    * [[graft.ext.RollupStateCms]]. Same foreachBatch shape. The
    * at-least-once caveat BINDS (counters add — a re-delivered batch
    * double-counts): production restarts need an idempotence key
    * recorded with the state, as for the additive and KLL forms. */
  def streamingRollupCms(
      events: DataFrame, state: graft.ext.RollupStateCms):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => state.fold(batch) }
      .start()

  /** Unbounded parquet-directory source: new files under `dir` become
    * micro-batches. Schema must be supplied — a streaming source cannot
    * pay an inference pass per batch. */
  def readParquetStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Running totals per user — the custom-state shape
    * (`mapGroupsWithState`) for logic the native windows can't express.
    * State is one tiny struct per key, carried across micro-batches by
    * the state store; on a batch input the same code runs with empty
    * initial state (asserted equal to a groupBy in the spec). Streaming
    * output mode must be `update`. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          val prior = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
          var n = prior.events
          var sum = prior.value_sum
          rows.foreach { e => n += 1; sum += e.value }
          val updated = UserTotals(user, n, sum)
          state.update(updated)
          updated
      }
  }

  /** Windowed value-shape monitor — the streaming form of
    * [[graft.probes.Probes.patternProfile]]: per tumbling event-time
    * window and column, the count of every observed A/a/9 value shape
    * (the SAME [[graft.probes.Probes.valueShape]] mapping, so batch
    * and stream bucket identically). A new shape appearing in TODAY'S
    * window — a feed that switched date formats, a key that grew a
    * digit — is the ingest regression this catches live; compare
    * consecutive windows with [[windowedCategoryDrift]]'s machinery
    * downstream. One stateful windowed hash-agg, watermark-bounded
    * state, shapes bounded by the columns' format diversity. Output:
    * `window_start, window_end, column, pattern, n`. Same plan on
    * batch frames — spec-pinned parity with the batch probe's
    * counts. */
  def windowedPatternProfile(
      events: DataFrame,
      columns: Seq[String],
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    require(columns.nonEmpty, "at least one column required")
    require(columns.distinct.size == columns.size,
      s"duplicate columns: ${columns.mkString(", ")}")
    events
      .withWatermark(tsField, watermarkDelay)
      .select(window(col(tsField), windowLength).as("__w"),
        explode(map(columns.flatMap(c =>
          Seq(lit(c), graft.probes.Probes.valueShape(col(c)))): _*))
          .as(Seq("column", "pattern")))
      .groupBy(col("__w"), col("column"), col("pattern"))
      .agg(count(lit(1)).as("n"))
      .select(col("__w.start").as("window_start"),
        col("__w.end").as("window_end"),
        col("column"), col("pattern"), col("n"))
  }

  /** Windowed OOV-rate monitor — the streaming form of
    * [[graft.ext.TextOps.oovRate]] rolled up per tumbling event-time
    * window instead of per document: the live vocabulary-drift alarm
    * ("today's crawl is 40% OOV — a new language, a new spam family,
    * or a broken extractor upstream"). Same token mapping as the
    * batch probe (whitespace split, the engines' shared
    * empty-string-token convention), one stream-static LEFT join
    * against the vocab (broadcast when it fits — vocabularies are
    * vocabulary-sized), one watermark-bounded windowed hash-agg of
    * exact counts, one division. Output per window:
    * `window_start, window_end, n_tokens, n_oov, oov_rate`. Same plan
    * on batch frames — spec-pinned parity with the batch probe's
    * corpus totals. */
  def windowedOovRate(
      events: DataFrame,
      vocab: DataFrame,
      textField: String,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    require(vocab.columns.length == 1,
      s"vocab must be a single token column, got ${vocab.columns.mkString(", ")}")
    val v = vocab.select(col(vocab.columns.head).as("__vt"))
      .filter(col("__vt").isNotNull).distinct()
    events
      .withWatermark(tsField, watermarkDelay)
      .select(window(col(tsField), windowLength).as("__w"),
        explode(graft.ext.TextOps.tokens(
          coalesce(col(textField), lit("")))).as("__t"))
      .join(v, col("__t") === col("__vt"), "left")
      .groupBy(col("__w"))
      .agg(count(col("__t")).as("n_tokens"),
        count(when(col("__t").isNotNull && col("__vt").isNull, lit(1)))
          .as("n_oov"))
      .select(col("__w.start").as("window_start"),
        col("__w.end").as("window_end"),
        col("n_tokens"), col("n_oov"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_oov").cast("double") /
            col("n_tokens").cast("double")).as("oov_rate"))
  }

  /** Windowed corpus-drift gate — the streaming companion of
    * [[graft.ext.TextOps.corpusDivergence]]: per tumbling event-time
    * window, total-variation distance between the live token
    * distribution and a STORED reference distribution (`reference`, a
    * `(term, count)` frame — e.g. the unigram rows of a persisted
    * [[graft.ext.TextOps.lmCountTable]]), alarming when the feed stops
    * looking like the corpus the pipeline was tuned on.
    *
    * The comparison vocabulary is the reference's top-`topR` terms +
    * one `<rest>` bucket (BOTH distributions still sum to 1) — the
    * same top-V + rest design as the batch op, shrunk to a FIXED,
    * construction-time list so the per-window state is one row of
    * `topR + 1` counters (the [[windowedFleissKappa]] fixed-width
    * doctrine; a streaming groupBy over an unbounded term dimension
    * would chain two stateful aggs over unbounded state instead). The
    * reference's term list, counts and total are collected driver-side
    * at construction — a ≤ `topR`-row bounded seam, the
    * [[graft.ext.ModelStore]] model-artifact doctrine — so the plan
    * carries reference probabilities as literals and the stream pays
    * ZERO joins: one explode, one windowed agg. TVD is a fixed
    * literal-ordered dag over ≤ topR+1 terms (exact integer counts,
    * IEEE divisions) — deterministic, batch-replayable (the spec runs
    * the same function on the same rows as a batch frame). Batch
    * [[graft.ext.TextOps.corpusDivergence]] remains the full-fidelity
    * pairwise report; this is the bounded-vocabulary live alarm.
    * Output per window: `window_start, window_end, n_tokens, tvd,
    * drifted` (empty windows emit nothing; a window with zero tokens
    * cannot exist — every doc carries ≥ 1 token under the library-wide
    * split convention). */
  def windowedCorpusDrift(
      events: DataFrame,
      reference: DataFrame,
      textField: String,
      topR: Int = 32,
      maxTvd: Double = 0.2,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    require(topR >= 1 && topR <= 256, s"topR must be in [1, 256]: $topR")
    require(maxTvd > 0.0 && maxTvd <= 1.0,
      s"maxTvd must be in (0, 1]: $maxTvd")
    require(reference.columns.length == 2,
      s"reference must be (term, count) rows, got " +
        reference.columns.mkString(", "))
    val Seq(tc, cc) = reference.columns.toSeq
    val refCnt = reference
      .select(col(tc).cast("string").as("__t"), col(cc).cast("long").as("__c"))
      .filter(col("__t").isNotNull && col("__c").isNotNull && col("__c") > 0)
      .groupBy(col("__t")).agg(sum(col("__c")).as("__c"))
      .localCheckpoint()
    // bounded model-artifact seam: topR (term, count) rows + the 1-row
    // total come to the driver so the streaming plan is join-free
    val refN = refCnt.agg(coalesce(sum(col("__c")), lit(0L))).head()
      .getLong(0)
    require(refN > 0, "reference distribution is empty")
    val top = refCnt.orderBy(col("__c").desc, col("__t").asc).limit(topR)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val restC = refN - top.map(_._2).sum
    val counters = top.zipWithIndex.map { case ((t, _), j) =>
      count(when(col("__t") === t, 1)).as(s"__n$j") }
    val agged = events
      .withWatermark(tsField, watermarkDelay)
      .select(window(col(tsField), windowLength).as("__w"),
        explode(graft.ext.TextOps.tokens(
          coalesce(col(textField), lit("")))).as("__t"))
      .groupBy(col("__w"))
      .agg(counters.head,
        (counters.tail :+ count(lit(1)).as("n_tokens")): _*)
    val nD = col("n_tokens").cast("double")
    val vocabSum = top.zipWithIndex.foldLeft(lit(0.0)) {
      case (acc, ((_, c), j)) =>
        acc + abs(col(s"__n$j").cast("double") / nD -
          lit(c.toDouble / refN.toDouble))
    }
    val restN = top.indices.foldLeft(col("n_tokens")) {
      case (acc, j) => acc - col(s"__n$j") }
    val tvd = (vocabSum + abs(restN.cast("double") / nD -
      lit(restC.toDouble / refN.toDouble))) / lit(2.0)
    agged.select(col("__w.start").as("window_start"),
      col("__w.end").as("window_end"), col("n_tokens"),
      tvd.as("tvd"), (tvd > maxTvd).as("drifted"))
  }

  /** Windowed two-sample proportion z-gate — the LIVE A/B monitor:
    * per tumbling event-time window, the pooled two-sample z of
    * [[graft.probes.Probes.proportionZTest]] between side A's and
    * side B's success rates (canary vs control pass rate, new-variant
    * vs old gate hit rate), alarming when |z| clears `zCrit`. The
    * state per window is FOUR exact counters (the
    * [[windowedFleissKappa]] fixed-width doctrine) and the statistic
    * is the batch op's dag verbatim — deterministic, batch-replayable
    * (the spec runs the same function on the same rows as a batch
    * frame and cross-checks the batch probe). A window missing a side
    * (or with a degenerate pool) reads NULL z and `significant`
    * false — no evidence is not an alarm. NULL side/success rows
    * drop. Output per window: `window_start, window_end, n_a, k_a,
    * n_b, k_b, p_a, p_b, risk_diff, z, significant`. */
  def windowedProportionZ(
      events: DataFrame,
      side: Column,
      success: Column,
      zCrit: Double = 1.96,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(zCrit > 0.0 && zCrit <= 100.0,
      s"zCrit must be in (0, 100]: $zCrit")
    // the batch op's counters and dag, SHARED (Probes.pooledZStats) —
    // the "batch dag verbatim" promise is structural
    val counters = graft.probes.Probes.sideSuccessCounters
    val agged = events
      .withWatermark(tsField, watermarkDelay)
      .filter(side.isNotNull && success.isNotNull)
      .select(window(col(tsField), windowLength).as("__w"),
        side.cast("boolean").as("__a"), success.cast("boolean").as("__s"))
      .groupBy(col("__w"))
      .agg(counters.head, counters.tail: _*)
    val (pa, pb, riskDiff, z) = graft.probes.Probes.pooledZStats
    agged.select(col("__w.start").as("window_start"),
      col("__w.end").as("window_end"),
      col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      pa, pb, riskDiff, z.as("z"),
      coalesce(abs(z) > lit(zCrit), lit(false)).as("significant"))
  }

  /** Windowed sign-test gate — the live PAIRED drift monitor: per
    * tumbling window over paired observations (a metric and its
    * baseline on the same row: predicted vs realized, variant vs
    * control on matched traffic), the sign counters and
    * `z = (n_pos − n_neg)/√(n_pos + n_neg)`. This is the streaming
    * twin [[graft.probes.Probes.wilcoxonSignedRank]] CANNOT have
    * (per-window magnitude ranks are unbounded state); the sign test's
    * state is FOUR COUNTERS per open window — and both the counters
    * and the z dag are SHARED with the batch op
    * ([[graft.probes.Probes.signCounters]] /
    * [[graft.probes.Probes.signZ]]), so the batch-dag-verbatim promise
    * is structural (the [[windowedProportionZ]] discipline, which this
    * gate mirrors exactly: same shape, paired-difference edition).
    * NULL sides drop the pair; zero differences count into `n_zero`
    * only; a window with no nonzero difference reads NULL z and a
    * false `significant`. Identical plan on a batch frame
    * (spec-pinned). Output per window: `window_start, window_end,
    * n_pairs, n_zero, n_pos, n_neg, z, significant`. */
  def windowedSignTest(
      events: DataFrame,
      aValue: Column,
      bValue: Column,
      zCrit: Double = 1.96,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(zCrit > 0.0 && zCrit <= 100.0,
      s"zCrit must be in (0, 100]: $zCrit")
    val counters = graft.probes.Probes.signCounters
    val agged = events
      .withWatermark(tsField, watermarkDelay)
      .filter(aValue.isNotNull && bValue.isNotNull)
      .select(window(col(tsField), windowLength).as("__w"),
        (aValue.cast("double") - bValue.cast("double")).as("__d"))
      .groupBy(col("__w"))
      .agg(counters.head, counters.tail: _*)
    val z = graft.probes.Probes.signZ
    agged.select(col("__w.start").as("window_start"),
      col("__w.end").as("window_end"),
      col("n_pairs"), col("n_zero"), col("n_pos"), col("n_neg"),
      z.as("z"),
      coalesce(abs(z) > lit(zCrit), lit(false)).as("significant"))
  }

  /** Windowed paired-k sign matrix — the live twin
    * [[graft.probes.Probes.friedmanTest]] can only have THIS way:
    * per-window within-block ranks are unbounded state, but each
    * ordered treatment pair's SIGN counters are four exact integers
    * (the [[windowedSignTest]] insight, k-arm edition — k²·4 counters,
    * k ≤ 8, fixed-width state). A block is one ROW carrying all k
    * treatment scores (one request scored by k model variants, one
    * item judged by k gate versions) — between-block level differences
    * cancel exactly as in Friedman. Per window and ordered pair (i, j)
    * the matrix emits `z = (n_pos − n_neg)/√(n_pos + n_neg)` (the
    * [[graft.probes.Probes.signZOf]] dag, one definition) and gates at
    * `zCrit` PER PAIR — for family-wise control across the k(k−1)/2
    * comparisons pass the Bonferroni-adjusted critical value (2.64 is
    * the 95% gate at m = 10), or feed the emitted family into
    * [[graft.probes.Probes.bhCorrect]]-style step-up offline.
    *
    * Block contract, streamed: a row with ANY NULL or NaN treatment
    * drops from every pair's counters and is REPORTED (`n_dropped`) —
    * the complete-block doctrine of the batch op (silent imputation is
    * how paired becomes unpaired; a NaN score is not evidence, and
    * unguarded it would sort above every value and count as a win for
    * the earlier-listed arm); note this is k-wise, stricter than
    * [[graft.probes.Probes.signTest]]'s per-pair NULL drop. Zero
    * differences count into `n_zero` only. A pair with no nonzero
    * difference reads NULL z and false `significant`. Identical plan
    * on a batch frame (spec-pinned; each pair's counters equal
    * [[graft.probes.Probes.signTest]] on the same two columns when no
    * NULLs intervene). Output per (window, ordered pair):
    * `window_start, window_end, n_blocks, n_dropped, treatment_a,
    * treatment_b, n_zero, n_pos, n_neg, z, significant`. */
  def windowedSignMatrix(
      events: DataFrame,
      treatments: Seq[(String, Column)],
      zCrit: Double = 1.96,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(treatments.size >= 2 && treatments.size <= 8,
      s"2..8 treatments (k^2*4 fixed-width counters), got " +
        s"${treatments.size}")
    val names = treatments.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate treatment names: ${names.mkString(", ")}")
    require(zCrit > 0.0 && zCrit <= 100.0,
      s"zCrit must be in (0, 100]: $zCrit")
    val k = treatments.size
    val base = events
      .select(col(tsField) +: treatments.zipWithIndex.map {
        case ((_, c), i) => c.cast("double").as(s"__v$i") }: _*)
      .withWatermark(tsField, watermarkDelay)
    // NULL OR NaN in any treatment drops the block: a NaN score is
    // not evidence (the windowedValueDrift doctrine) — unguarded,
    // Spark's total-order double comparison sorts NaN above every
    // value, so a NaN difference would silently count as a WIN for
    // the earlier-listed arm (review-caught)
    val complete = treatments.indices
      .map(i => col(s"__v$i").isNotNull && !isnan(col(s"__v$i")))
      .reduce(_ && _)
    val pairsIdx = for { i <- 0 until k; j <- i + 1 until k } yield (i, j)
    val counters = Seq(
      count(lit(1)).as("__n_total"),
      count(when(complete, 1)).as("n_blocks")) ++
      pairsIdx.flatMap { case (i, j) =>
        val d = col(s"__v$i") - col(s"__v$j")
        Seq(count(when(complete && d === 0.0, 1)).as(s"__z_${i}_$j"),
          count(when(complete && d > 0.0, 1)).as(s"__p_${i}_$j"),
          count(when(complete && d < 0.0, 1)).as(s"__n_${i}_$j"))
      }
    val agged = base
      .groupBy(window(col(tsField), windowLength).as("__w"))
      .agg(counters.head, counters.tail: _*)
    val pairStructs = array(pairsIdx.map { case (i, j) =>
      val pos = col(s"__p_${i}_$j")
      val neg = col(s"__n_${i}_$j")
      val z = graft.probes.Probes.signZOf(pos, neg)
      struct(lit(names(i)).as("treatment_a"),
        lit(names(j)).as("treatment_b"),
        col(s"__z_${i}_$j").as("n_zero"), pos.as("n_pos"),
        neg.as("n_neg"), z.as("z"),
        coalesce(abs(z) > lit(zCrit), lit(false)).as("significant"))
    }: _*)
    agged
      .select(col("__w.start").as("window_start"),
        col("__w.end").as("window_end"), col("n_blocks"),
        (col("__n_total") - col("n_blocks")).as("n_dropped"),
        explode(pairStructs).as("__pair"))
      .select(col("window_start"), col("window_end"), col("n_blocks"),
        col("n_dropped"), col("__pair.treatment_a").as("treatment_a"),
        col("__pair.treatment_b").as("treatment_b"),
        col("__pair.n_zero").as("n_zero"),
        col("__pair.n_pos").as("n_pos"),
        col("__pair.n_neg").as("n_neg"), col("__pair.z").as("z"),
        col("__pair.significant").as("significant"))
  }

  /** Windowed churn-hazard gate — the live retention alarm the
    * survival shelf ([[graft.ops.WindowOps.kaplanMeier]],
    * [[graft.probes.Probes.logRankTest]]) can legally have: a full
    * per-window KM is UNBOUNDED state (one step per distinct event
    * time), so the stream routes through a DECLARED fixed
    * horizon-bucket grid instead — ≤ 32 buckets of `bucketWidth`
    * starting at 0 (the [[windowedSignTest]]-vs-Wilcoxon trade, the
    * fleissCells fixed-vocabulary doctrine) — and compares each
    * bucket's DISCRETE HAZARD against a STORED reference vector
    * (`refHazard`, per-bucket death rates — a bounded model artifact
    * on the plan, the [[windowedValueDrift]] seam; build it once from
    * the healthy cohort's KM readout and ship the rates).
    *
    * Each arriving row is one COMPLETED subject (duration + censored
    * flag — a churn event or a censoring snapshot emits exactly one
    * record; the batch twin's subject frame, streamed). Per window
    * and bucket b over [b·w, (b+1)·w):
    *   `at_risk_b = #{duration ≥ b·w}` — subjects departing INSIDE b
    *     count (the kaplanMeier "at risk at t" contract verbatim;
    *     censored subjects leave the risk set without dying),
    *   `deaths_b  = #{b·w ≤ duration < (b+1)·w, not censored}`,
    *   `hazard_b  = deaths_b / at_risk_b`,
    * and the gate is the per-bucket binomial z against the reference
    *   `z_b = (deaths_b − at_risk_b·r_b) / √(at_risk_b·r_b·(1−r_b))`
    * — exact integer counts into one fixed IEEE dag per bucket, with
    * `drift = max_b |z_b| > zCrit`. CAVEAT on `zCrit` (r19 ADVICE —
    * this is a MAX over up to 32 per-bucket z tests): 1.96 is the
    * 95% gate PER BUCKET, so the family-wise false-alarm rate of the
    * default drift verdict sits well above 5% — fine for a paging
    * alarm that a human triages, wrong for an automated rollback.
    * For family-wise control set `bonferroni = true`: the gate
    * becomes `zCrit·√m` (m = the count of reference buckets with a
    * live gate, i.e. r ∈ (0,1)), which under the house
    * distribution-free Chebyshev envelope `p ≤ 1/z²` caps each
    * bucket's tail at `1/(zCrit²·m)` and the union bound caps the
    * family at `1/zCrit²` — valid for ANY distribution, no libm;
    * under normality it is conservative (the exact normal Bonferroni
    * z for α = 5%, m = 6 would be ≈ 2.64 where this gates at 4.80).
    * Per-bucket `z` values are emitted un-inflated either way — the
    * flag moves only the `drift` threshold. No p-value, no libm.
    *
    * Honest reads: durations past the grid stay in every bucket's
    * risk set but their deaths fall OUTSIDE the declared horizon and
    * are not judged (the horizon is the contract, not a clamp — a
    * clamped death would alarm the last bucket for a subject the
    * reference never scored). NULL/NaN/negative durations and NULL
    * censored flags drop and are REPORTED (`n_dropped` — a NaN
    * duration is not evidence). A reference rate of exact 0 or 1 has
    * zero binomial variance → that bucket reads NULL z by
    * construction (no calibrated gate exists there); an empty risk
    * set reads NULL hazard and z. A window with NO live bucket reads
    * NULL `max_abs_z` and NULL `drift` (no evidence is not "no
    * drift"). State per window is 2·buckets + 2 exact counters —
    * fixed width. Identical plan on a batch frame (MemoryStream
    * parity spec-pinned; the batch form carries its own DuckDB oracle
    * row). Output per (window, bucket): `window_start, window_end,
    * n_window, n_dropped, bucket, deaths, at_risk, hazard,
    * ref_hazard, z, max_abs_z, drift`. */
  def windowedHazardGate(
      events: DataFrame,
      duration: Column,
      censored: Column,
      refHazard: Seq[Double],
      bucketWidth: Double,
      zCrit: Double = 1.96,
      bonferroni: Boolean = false,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val nb = refHazard.length
    require(nb >= 2 && nb <= 32,
      s"refHazard must carry 2..32 buckets, got $nb")
    require(refHazard.forall(r => r >= 0.0 && r <= 1.0),
      "reference hazard out of [0, 1]")
    require(bucketWidth > 0.0,
      s"bucketWidth must be positive: $bucketWidth")
    require(zCrit > 0.0 && zCrit <= 100.0,
      s"zCrit must be in (0, 100]: $zCrit")
    // family-wise drift gate: zCrit·√m over the m live-gated buckets
    // (Chebyshev-envelope Bonferroni — see the scaladoc); a driver
    // constant, so the executor dag is one literal either way
    val mLive = refHazard.count(r => r > 0.0 && r < 1.0)
    val zGate =
      if (bonferroni && mLive > 0) zCrit * math.sqrt(mLive.toDouble)
      else zCrit
    val base = events
      .select(col(tsField), duration.cast("double").as("__dur"),
        censored.cast("boolean").as("__cen"))
      .withWatermark(tsField, watermarkDelay)
    val valid = col("__dur").isNotNull && !isnan(col("__dur")) &&
      col("__dur") >= 0.0 && col("__cen").isNotNull
    val counters = Seq(
      count(lit(1)).as("__n_total"),
      count(when(valid, 1)).as("n_window")) ++
      (0 until nb).flatMap { i =>
        val lo = lit(i * bucketWidth)
        val hi = lit((i + 1) * bucketWidth)
        Seq(
          count(when(valid && !col("__cen") &&
            col("__dur") >= lo && col("__dur") < hi, 1)).as(s"__d_$i"),
          count(when(valid && col("__dur") >= lo, 1)).as(s"__r_$i"))
      }
    val agged = base
      .groupBy(window(col(tsField), windowLength).as("__w"))
      .agg(counters.head, counters.tail: _*)
    def zOf(i: Int): Column = {
      val r = refHazard(i)
      if (r <= 0.0 || r >= 1.0) lit(null).cast("double")
      else {
        val n = col(s"__r_$i").cast("double")
        when(col(s"__r_$i") > 0L,
          (col(s"__d_$i").cast("double") - n * lit(r)) /
            sqrt(n * lit(r) * lit(1.0 - r)))
      }
    }
    // greatest SKIPS NULL buckets (all-NULL -> NULL), so a dead
    // reference bucket never poisons the gate
    val maxAbs = greatest((0 until nb).map(i => abs(zOf(i))): _*)
    val bucketStructs = array((0 until nb).map { i =>
      struct(lit(i.toLong).as("bucket"),
        col(s"__d_$i").as("deaths"),
        col(s"__r_$i").as("at_risk"),
        when(col(s"__r_$i") > 0L,
          col(s"__d_$i").cast("double") / col(s"__r_$i").cast("double"))
          .as("hazard"),
        lit(refHazard(i)).as("ref_hazard"),
        zOf(i).as("z"))
    }: _*)
    agged
      .select(col("__w.start").as("window_start"),
        col("__w.end").as("window_end"), col("n_window"),
        (col("__n_total") - col("n_window")).as("n_dropped"),
        maxAbs.as("max_abs_z"),
        when(maxAbs.isNotNull, maxAbs > lit(zGate)).as("drift"),
        explode(bucketStructs).as("__b"))
      .select(col("window_start"), col("window_end"), col("n_window"),
        col("n_dropped"), col("__b.bucket").as("bucket"),
        col("__b.deaths").as("deaths"), col("__b.at_risk").as("at_risk"),
        col("__b.hazard").as("hazard"),
        col("__b.ref_hazard").as("ref_hazard"), col("__b.z").as("z"),
        col("max_abs_z"), col("drift"))
  }

  /** Windowed k-arm mean-drift gate — the live
    * [[graft.probes.Probes.oneWayAnova]]: per tumbling event-time
    * window, did ANY of the k declared variants' MEAN values move
    * (canary vs control vs shadow cost-per-request, per-arm latency
    * means)? This streaming twin CAN exist where a windowed
    * Kruskal–Wallis cannot: per-variant `(n, Σz9, Σz9²)` on the
    * 1e-9-quantized values is FIXED-WIDTH state — 3 exact counters per
    * declared variant, pivoted into columns (the [[fleissCells]]
    * ≤ 32-label doctrine; rows outside the declared variant vocabulary
    * DROP, the loud alternative being no streaming form at all).
    *
    * The statistic is the batch op's dag STRUCTURALLY: the same
    * [[graft.probes.Probes.quantize9]] money-column bound (|value| ≤
    * 9e9 or a loud raise), the same per-variant within-term zero-clamp,
    * and the same final F/eta² projection
    * ([[graft.probes.Probes.anovaFFromSums]] — one definition, the
    * [[windowedSignTest]] discipline). The ssb/ssw folds run in
    * `variantValues` order over the pivoted columns; pass the variants
    * SORTED and the fold sequence is byte-identical to the batch op's
    * variant-pinned fold (empty variants contribute exact `+0.0`
    * no-ops) — the parity spec pins stream output against
    * [[graft.probes.Probes.oneWayAnova]] per window EXACTLY. No
    * p-value (no-libm): `significant` gates at the driver-literal
    * `fCrit` (3.0 is the 95% F gate at k = 3, large N). A window
    * missing variants reads its honest smaller k; k < 2 or zero
    * within-variance reads NULL F and false `significant` (no
    * evidence is not an alarm). NULL variant/value rows drop. Output
    * per window: `window_start, window_end, n, k, f, eta_sq,
    * significant`. */
  def windowedAnovaGate(
      events: DataFrame,
      variant: Column,
      value: Column,
      variantValues: Seq[String],
      fCrit: Double = 3.0,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(variantValues.nonEmpty, "at least one declared variant")
    require(variantValues.distinct.size == variantValues.size,
      s"duplicate declared variants: ${variantValues.mkString(", ")}")
    require(variantValues.size <= 32,
      s"at most 32 declared variants (fixed-width streaming state), " +
        s"got ${variantValues.size}")
    require(fCrit > 0.0 && fCrit <= 1e6, s"fCrit must be in (0, 1e6]: $fCrit")
    val v = variant.cast("string")
    val z9 = graft.probes.Probes.quantize9(
      "windowedAnovaGate", "|value|", "values")(value.cast("double"))
    val zero38 = lit(0).cast("decimal(38,0)")
    val base = events
      .filter(variant.isNotNull && value.isNotNull &&
        v.isin(variantValues.map(x => x: Any): _*))
      .select(col(tsField), v.as("__v"), z9.as("__z9"))
      .withWatermark(tsField, watermarkDelay)
    val counters = variantValues.zipWithIndex.flatMap { case (l, j) =>
      Seq(count(when(col("__v") === l, 1)).as(s"__n$j"),
        sum(when(col("__v") === l, col("__z9").cast("decimal(38,0)"))
          .otherwise(zero38)).as(s"__s1_$j"),
        sum(when(col("__v") === l,
          (col("__z9") * col("__z9")).cast("decimal(38,0)"))
          .otherwise(zero38)).as(s"__s2_$j"))
    }
    val agged = base
      .groupBy(window(col(tsField), windowLength).as("__w"))
      .agg(counters.head, counters.tail: _*)
    val idx = variantValues.indices
    def nj(j: Int) = col(s"__n$j")
    val nTot = idx.map(nj).reduce(_ + _)
    val kCol = idx.map(j => when(nj(j) > 0L, 1L).otherwise(0L))
      .reduce(_ + _)
    val s1Tot = idx.map(j => col(s"__s1_$j")).reduce(_ + _)
    val zbar = s1Tot.cast("double") / nTot.cast("double")
    def zg(j: Int) = col(s"__s1_$j").cast("double") / nj(j).cast("double")
    // the fold sequence mirrors the batch variant-pinned fold when
    // variantValues are sorted: an empty variant's term is an exact
    // +0.0 no-op, so present-variant partial sums are byte-identical
    val ssb = idx.map { j =>
      when(nj(j) > 0L,
        nj(j).cast("double") * (zg(j) - zbar) * (zg(j) - zbar))
        .otherwise(lit(0.0))
    }.foldLeft(lit(0.0))(_ + _)
    val ssw = idx.map { j =>
      when(nj(j) > 0L, greatest(col(s"__s2_$j").cast("double") -
        nj(j).cast("double") * zg(j) * zg(j), lit(0.0)))
        .otherwise(lit(0.0))
    }.foldLeft(lit(0.0))(_ + _)
    val (f, eta) = graft.probes.Probes.anovaFFromSums(
      nTot, kCol, ssb, ssw)
    agged.select(col("__w.start").as("window_start"),
      col("__w.end").as("window_end"),
      nTot.as("n"), kCol.as("k"), f.as("f"), eta.as("eta_sq"),
      coalesce(f > lit(fCrit), lit(false)).as("significant"))
  }

  /** Per-(window, item) pivoted label-count cells — the shared level-1
    * aggregation of [[windowedFleissKappa]] / [[windowedLabelQa]]. The
    * DECLARED label vocabulary is what makes the streaming form legal
    * and bounded: Fleiss' P̄ needs Σ_j n_ij² per item, a second
    * aggregation over the first — Spark only chains stateful windowed
    * aggs when each is a plain windowed groupBy, so the per-item label
    * counts must pivot into FIXED columns (one per vocabulary label),
    * not rows. Ratings whose label is outside the vocabulary DROP
    * (filtered up front — the loud alternative is no streaming form at
    * all); NULL items/labels drop as in the batch probe. `extra`
    * appends caller partials (the label-QA calibration legs) to the
    * same level-1 state row. */
  private def fleissCells(
      events: DataFrame, item: Column, label: Column,
      labelValues: Seq[String], tsField: String, windowLength: String,
      watermarkDelay: String, extra: Seq[Column] = Nil,
      extraAggs: Seq[Column] = Nil): DataFrame = {
    require(labelValues.nonEmpty, "at least one vocabulary label")
    require(labelValues.distinct.size == labelValues.size,
      s"duplicate vocabulary labels: ${labelValues.mkString(", ")}")
    require(labelValues.size <= 32,
      s"at most 32 vocabulary labels (fixed-width streaming state), " +
        s"got ${labelValues.size}")
    val lab = label.cast("string")
    val base = events
      .filter(item.isNotNull && lab.isNotNull &&
        lab.isin(labelValues.map(x => x: Any): _*))
      .select(Seq(col(tsField), item.as("__i"), lab.as("__l")) ++
        extra: _*)
      .withWatermark(tsField, watermarkDelay)
    val labelAggs = labelValues.zipWithIndex.map { case (l, j) =>
      count(when(col("__l") === l, 1)).as(s"__n$j") }
    val aggs = labelAggs ++ extraAggs
    base
      .groupBy(window(col(tsField), windowLength).as("__w"), col("__i"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Level-1 cells → per-window Fleiss columns. The κ legs honor the
    * batch probe's pairwise-agreement contract — items with < 2
    * in-window ratings are excluded from n_items/n_ratings/P̄/the
    * marginals — but the exclusion is CONDITIONAL inside the window
    * aggregation, not a row filter: `extraAggs` (the label-QA
    * calibration sums) must see EVERY item's partials, single-rated
    * items included — a row filter here silently dropped their scored
    * ratings from the ECE (code-review finding). Each kept item's P_i
    * comes from the pivoted counts (exact integers into one division);
    * the window rollup is the chained `window(window_time(…))`
    * stateful agg. Windows whose every item is single-rated emit
    * n_items = 0 with NULL κ (no agreement evidence). */
  private def fleissWindowAgg(
      cells: DataFrame, nLabels: Int, windowLength: String,
      extraAggs: Seq[Column] = Nil): DataFrame = {
    val idx = 0 until nLabels
    val ni = idx.map(j => col(s"__n$j")).reduce(_ + _)
    val s2 = idx.map(j => col(s"__n$j") * col(s"__n$j")).reduce(_ + _)
    val items = cells
      .withColumn("__ni", ni)
      .withColumn("__pi",
        when(ni >= 2, (s2 - ni).cast("double") /
          (ni * (ni - 1)).cast("double")))
    val kept = col("__ni") >= 2
    val aggs = Seq(count(when(kept, 1)).as("n_items"),
      sum(when(kept, col("__ni"))).as("n_ratings"),
      sum(col("__pi")).as("__psum")) ++
      idx.map(j => sum(when(kept, col(s"__n$j"))).as(s"__c$j")) ++
      extraAggs
    val agged = items
      .groupBy(window(window_time(col("__w")), windowLength).as("__w2"))
      .agg(aggs.head, aggs.tail: _*)
    val pe = idx.map { j =>
      val pj = col(s"__c$j").cast("double") / col("n_ratings").cast("double")
      pj * pj
    }.reduce(_ + _)
    agged
      .withColumn("p_bar", col("__psum") / col("n_items").cast("double"))
      .withColumn("p_e", pe)
      .withColumn("kappa",
        when(col("p_e") === 1.0, lit(null).cast("double"))
          .otherwise((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e"))))
  }

  /** Windowed Fleiss' κ — the streaming form of
    * [[graft.probes.Probes.fleissKappa]] per tumbling event-time
    * window: the live LABELER-DRIFT alarm over an annotation feed (κ
    * sagging across windows means the raters — or the ensemble
    * models — stopped agreeing: a rubric change, a new annotator
    * cohort, a broken model). Input is one row per RATING
    * `(ts, item, label)` against a DECLARED label vocabulary (see
    * [[windowedLabelQa]]'s level-1 note for why the vocabulary must be
    * fixed: the per-item counts pivot into fixed-width streaming
    * state); out-of-vocabulary ratings drop, items with < 2 ratings in
    * a window drop — the batch probe's variable-n convention, per
    * window. TWO chained stateful aggregations (Spark 3.4+'s
    * window_time chaining): (window, item) label counts, then the
    * window rollup; both watermark-bounded. Per-window sums are plain
    * `sum()` (the monitor doctrine — batch-parity spec pins agreement
    * to the exactOrder probe within float rounding, not hash
    * equality). Output per window: `window_start, window_end, n_items,
    * n_ratings, p_bar, p_e, kappa`. Same plan runs on batch frames. */
  def windowedFleissKappa(
      events: DataFrame,
      item: Column, label: Column,
      labelValues: Seq[String],
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    val cells = fleissCells(events, item, label, labelValues, tsField,
      windowLength, watermarkDelay)
    fleissWindowAgg(cells, labelValues.size, windowLength)
      // κ-only form: a window with no multiply-rated item carries no
      // agreement evidence at all — emit nothing (the label-QA gate
      // keeps such windows for their calibration legs instead)
      .filter(col("n_items") > 0)
      .select(col("__w2.start").as("window_start"),
        col("__w2.end").as("window_end"),
        col("n_items"), col("n_ratings"), col("p_bar"), col("p_e"),
        col("kappa"))
  }

  /** Windowed label-QA gate — agreement AND calibration per tumbling
    * event-time window in ONE plan: the streaming twin of the batch
    * `label_qa` composition (Fleiss κ → score calibration). Each
    * rating row carries the annotator's label and the MODEL's score
    * for the item; per window the gate reports inter-rater κ (is the
    * ground truth still trustworthy?) and the model-vs-label ECE over
    * `bins` equal-width score bins with `positiveLabel` as the
    * positive class (is the model still calibrated against it?), plus
    * `passed = κ ≥ minKappa AND ece ≤ maxEce` — the row a quality
    * pipeline alarms on.
    *
    * Why one plan and not a join of [[windowedFleissKappa]] and
    * [[windowedCalibration]]: streams cannot join two aggregated
    * streams (no append-mode stream-stream join after stateful aggs) —
    * but the calibration sums are DISTRIBUTIVE, so their per-bin
    * partials (count, 1e-9-quantized score sum, positive count) ride
    * the SAME level-1 (window, item) state row the κ counts live in,
    * and the window rollup sums partials of partials. Same two
    * chained stateful aggs, fixed-width state
    * (labels + 3·bins columns per open (window, item)). ECE folds the
    * index-ordered bin array in the projection (the
    * [[windowedCalibration]] discipline; empty bins contribute exact
    * 0.0). The calibration sums run over EVERY in-vocabulary rating —
    * single-rated items included (their scores are calibration
    * evidence even though pairwise agreement is undefined on them;
    * only the κ legs apply the ≥ 2-ratings exclusion), so the ECE
    * matches the batch probe on the full rating slice. NULL scores
    * contribute nothing to calibration but still count as ratings for
    * κ. A window with agreement evidence but no multiply-rated item
    * still emits (NULL κ, fail-closed gate). Output per window:
    * `window_start,
    * window_end, n_items, n_ratings, kappa, ece, passed`. Same plan
    * runs on batch frames — spec-pinned against the batch probes. */
  def windowedLabelQa(
      events: DataFrame,
      item: Column, label: Column,
      labelValues: Seq[String],
      score: Column,
      positiveLabel: String,
      minKappa: Double = 0.4,
      maxEce: Double = 0.1,
      bins: Int = 10,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    require(bins >= 1 && bins <= 100, s"bins must be in [1, 100]: $bins")
    require(labelValues.contains(positiveLabel),
      s"positiveLabel '$positiveLabel' must be in the vocabulary")
    val extra = Seq(
      when(score.isNull, lit(null).cast("int"))
        .otherwise(greatest(least(floor(score * bins).cast("int"),
          lit(bins - 1)), lit(0))).as("__bin"),
      round(score * lit(1e9), 0).cast("long").as("__s9"))
    val calibCells = (0 until bins).flatMap { b => Seq(
      count(when(col("__bin") === b, 1)).as(s"__kn$b"),
      sum(when(col("__bin") === b, col("__s9")).otherwise(0L))
        .as(s"__ks$b"),
      sum(when(col("__bin") === b &&
        col("__l") === positiveLabel, 1L).otherwise(0L)).as(s"__kp$b")) }
    val cells = fleissCells(events, item, label, labelValues, tsField,
      windowLength, watermarkDelay, extra, calibCells)
    val calibAggs = (0 until bins).flatMap { b => Seq(
      sum(col(s"__kn$b")).as(s"__wn$b"),
      sum(col(s"__ks$b")).as(s"__ws$b"),
      sum(col(s"__kp$b")).as(s"__wp$b")) }
    val agged = fleissWindowAgg(cells, labelValues.size, windowLength,
      calibAggs)
    val binStructs = array((0 until bins).map { b =>
      struct(col(s"__wn$b").as("n"), col(s"__ws$b").as("s9"),
        col(s"__wp$b").as("pos")) }: _*)
    val totN = (0 until bins).map(b => col(s"__wn$b")).reduce(_ + _)
    val ece = when(totN === 0L, lit(null).cast("double"))
      .otherwise(aggregate(binStructs, lit(0.0), (acc, s) =>
        acc + when(s.getField("n") === 0L, lit(0.0))
          .otherwise(s.getField("n").cast("double") * abs(
            s.getField("s9").cast("double") /
              (s.getField("n").cast("double") * 1e9)
              - s.getField("pos").cast("double") /
                s.getField("n").cast("double")))) / totN.cast("double"))
    agged
      .withColumn("ece", ece)
      .select(col("__w2.start").as("window_start"),
        col("__w2.end").as("window_end"),
        col("n_items"), coalesce(col("n_ratings"), lit(0L)).as("n_ratings"),
        col("kappa"), col("ece"),
        // fail closed: a window with no agreement evidence (NULL κ) or
        // no scored ratings (NULL ece) cannot pass the gate
        (coalesce(col("kappa") >= minKappa, lit(false)) &&
          coalesce(col("ece") <= maxEce, lit(false))).as("passed"))
  }

  /** Windowed stupid-backoff LM quality — the streaming form of
    * [[graft.ext.TextOps.trigramLmQuality]] rolled up per tumbling
    * event-time window: the live "did the crawl's language just
    * change?" alarm — a feed whose mean backoff score sags toward the
    * α²-damped unigram floor stopped looking like the STORED reference
    * model (`counts`, a [[graft.ext.TextOps.lmCountTable]] frame — the
    * trained artifact, typically [[graft.ext.ModelStore.loadCounts]]).
    * Same per-position mathematics as the batch op (shared helpers);
    * the trigram position stream left-joins the table-sized stats
    * frames STATELESSLY (stream-static joins need no watermark state),
    * and one watermark-bounded windowed agg means the scores. The
    * count table's total unigram count is collected driver-side (a
    * 1-row bounded seam, the [[graft.ext.ModelStore]] doctrine) so the
    * streaming plan carries it as a literal. Plain sums (the monitor
    * doctrine) — the spec pins per-window agreement with the batch
    * op's position mean. Output per window: `window_start, window_end,
    * n_positions, lm_score`. Windows with zero trigram positions emit
    * nothing (empty/short docs carry no LM evidence). */
  def windowedLmQuality(
      events: DataFrame,
      textField: String,
      counts: DataFrame,
      alpha: Double = 0.4,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    import graft.ext.TextOps
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1]: $alpha")
    val (triStats, biStats, c1, tot) = TextOps.lmStats(counts)
    val bigT = tot.head().getLong(0) // 1-row bounded seam
    events
      .withWatermark(tsField, watermarkDelay)
      .select(col(tsField),
        explode(TextOps.lmPositions(TextOps.tokens(
          coalesce(col(textField), lit(""))))).as("__t"))
      .select(col(tsField), col("__t.g3").as("__g3"),
        col("__t.g2").as("__g2"), col("__t.w0").as("__w0"))
      .join(triStats, Seq("__g3"), "left")
      .join(biStats, Seq("__g2"), "left")
      .join(c1.select(col("__g1").as("__w0"), col("__c1w")),
        Seq("__w0"), "left")
      .withColumn("__T", lit(bigT))
      .select(col(tsField), TextOps.lmBackoffScore(alpha).as("__p"))
      .groupBy(window(col(tsField), windowLength).as("__w"))
      .agg(count(lit(1)).as("n_positions"), sum(col("__p")).as("__sp"))
      .select(col("__w.start").as("window_start"),
        col("__w.end").as("window_end"), col("n_positions"),
        (col("__sp") / col("n_positions").cast("double")).as("lm_score"))
  }

  /** Windowed Poisson-bootstrap confidence interval — the streaming
    * form of [[graft.probes.Probes.bootstrapCI]] per tumbling
    * event-time window: the live metric WITH honest uncertainty ("the
    * mean quality score this hour is 0.71 ± what?") — a monitor that
    * alarms on a CI excursion instead of a point estimate fires far
    * fewer false pages on thin windows. Same deterministic machinery
    * as the batch probe: each row's multiplicity in resample b is a
    * Poisson(1) draw keyed on `md5(salt ++ key ++ '_' ++ b)`, means
    * are exact-integer ratios, the interval is the percentile method
    * on the (mean, rep)-sorted resample means.
    *
    * Two chained stateful aggs (the [[windowedFleissKappa]] shape):
    * level 1 `(window, rep)` carries each resample's weighted partials
    * (and the unweighted row count/sum, identical across reps — max()
    * is the carrier), level 2 rolls the ≤ `reps` resample rows per
    * window into the sorted-array percentile pick — the one
    * collect_list is reps-bounded BY CONSTRUCTION. The explode
    * multiplies the stream by `reps` before the first agg exactly as
    * the batch op multiplies its scan — map-side partials collapse it
    * to (windows × reps) state rows. `keyCol` must identify rows
    * uniquely (the batch contract: duplicate keys draw correlated
    * weights). Output per window: `window_start, window_end, n, mean,
    * reps, ci_low, ci_high` — bit-equal to the batch probe on the same
    * window slice (spec-pinned). */
  def windowedBootstrapCi(
      events: DataFrame,
      keyCol: Column, value: Column,
      reps: Int = 100, alpha: Double = 0.05, salt: String = "bs",
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    require(reps >= 10 && reps <= 10000,
      s"reps must be in [10, 10000], got $reps")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    val d38 = "decimal(38,0)"
    val perRep = events
      .filter(value.isNotNull && keyCol.isNotNull)
      .select(col(tsField), keyCol.cast("string").as("__key"),
        round(value.cast("double") * 1e9, 0).cast("decimal(19,0)")
          .as("__x9"))
      .withWatermark(tsField, watermarkDelay)
      .select(col(tsField), col("__key"), col("__x9"),
        explode(sequence(lit(0), lit(reps - 1))).as("__rep"))
      .withColumn("__w", graft.probes.Probes.poissonWeight(
        graft.functions.GraftFunctions.md5Prefix32(
          concat(col("__key"), lit("_"), col("__rep")), salt)))
      .groupBy(window(col(tsField), windowLength).as("__w1"),
        col("__rep"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__x9")).cast(d38).as("__sx"),
        sum(col("__w").cast("long")).as("__sw"),
        sum((col("__w") * col("__x9")).cast(d38)).as("__swx"))
    val agged = perRep
      .filter(col("__sw") > 0)
      .withColumn("__m", col("__swx").cast("double") /
        (col("__sw").cast("double") * 1e9))
      .groupBy(window(window_time(col("__w1")), windowLength).as("__w2"))
      .agg(max(col("__cnt")).as("n"), max(col("__sx")).as("__sxm"),
        sort_array(collect_list(struct(col("__m"), col("__rep"))))
          .as("__ms"))
    agged.select(
      col("__w2.start").as("window_start"),
      col("__w2.end").as("window_end"),
      col("n"),
      (col("__sxm").cast("double") /
        (col("n").cast("double") * 1e9)).as("mean"),
      size(col("__ms")).cast("long").as("reps"),
      element_at(col("__ms"), greatest(
        ceil(lit(alpha / 2.0) * size(col("__ms")) - lit(1e-9))
          .cast("int"), lit(1))).getField("__m").as("ci_low"),
      element_at(col("__ms"), greatest(
        ceil(lit(1.0 - alpha / 2.0) * size(col("__ms")) - lit(1e-9))
          .cast("int"), lit(1))).getField("__m").as("ci_high"))
  }

  /** Streaming CUSUM mean-shift monitor: carries each key's one-sided
    * `(sp, sn)` statistics as typed group state and emits one stamped
    * row per arriving event — the unbounded-stream form of
    * [[graft.ops.WindowOps.cusumShift]], with the SAME recurrences
    * (`max(0, prev + (v − target ∓ slack))`, NULL-free input by type).
    * Ordering contract (the [[runningUserTotals]] one): events fold in
    * event-time order WITHIN a micro-batch (sorted here) and in arrival
    * order ACROSS batches — an out-of-order straggler that lands in a
    * later batch folds late. For a source that preserves per-key order
    * (the usual partitioned-log case) the statistics equal the batch
    * op's exactly — spec-pinned across a two-batch split. State per key
    * is two doubles — O(keys) total, no timeout (a monitor is
    * permanent; add a TTL variant upstream if keys churn). */
  def streamingCusum(
      events: Dataset[CusumEvent],
      target: Double, slack: Double, threshold: Double):
      Dataset[CusumStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumStat](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val prior = state.getOption.getOrElse(CusumState(0.0, 0.0))
          var sp = prior.sp; var sn = prior.sn
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.tie)).map { e =>
            sp = math.max(0.0, sp + (e.value - target - slack))
            sn = math.max(0.0, sn + (target - slack - e.value))
            CusumStat(key, e.ts, e.tie, e.value, sp, sn,
              sp > threshold || sn > threshold)
          }
          state.update(CusumState(sp, sn))
          out.iterator
      }
  }

  /** Streaming Holt double-exponential monitor: carries each key's
    * `(level, trend)` as typed group state and emits one stamped row
    * per arriving event with the one-step-ahead `forecast` — the
    * unbounded-stream form of [[graft.ops.WindowOps.holtSmooth]] with
    * the SAME recurrences (level seeds at the first value, trend at
    * 0; NULL-free input by type). Ordering contract =
    * [[streamingCusum]]: event-time order within a micro-batch
    * (sorted here), arrival order across batches; for a per-key
    * ordered source the statistics equal the batch op's exactly —
    * spec-pinned across a two-batch split. State per key is two
    * doubles, no timeout. */
  def streamingHolt(
      events: Dataset[CusumEvent], alpha: Double, beta: Double,
      phi: Double = 1.0):
      Dataset[HoltStat] = {
    import events.sparkSession.implicits._
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0,
      s"beta must be in [0, 1], got $beta")
    require(phi > 0.0 && phi <= 1.0,
      s"phi must be in (0, 1], got $phi")
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[HoltState, HoltStat](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          var st = state.getOption.orNull
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.tie)).map { e =>
            st = if (st == null) HoltState(e.value, 0.0)
            else {
              // Gardner damping, the batch op's dag positions verbatim
              val bD = if (phi == 1.0) st.b else phi * st.b
              val lNew = alpha * e.value + (1.0 - alpha) * (st.l + bD)
              HoltState(lNew,
                beta * (lNew - st.l) + (1.0 - beta) * bD)
            }
            HoltStat(key, e.ts, e.tie, e.value, st.l, st.b,
              st.l + (if (phi == 1.0) st.b else phi * st.b))
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Streaming Holt–Winters monitor: [[streamingHolt]]'s seasonal
    * rung — carries each key's `(level, trend, seasonal ring, slot)`
    * as typed group state and emits one stamped row per arriving
    * event with the seasonal one-step-ahead `forecast` — the
    * unbounded-stream form of [[graft.ops.WindowOps.holtWinters]]
    * with the SAME recurrences and the SAME zero-seeded ring (runs as
    * Holt for the first cycle, learns the seasonals from residuals).
    * Ordering contract = [[streamingCusum]]: event-time order within
    * a micro-batch (sorted here), arrival order across batches; for a
    * per-key ordered source the output equals the batch op's
    * `exactOrder=false` scan BIT-FOR-BIT (identical arithmetic order —
    * spec-pinned across a two-batch split). State per key is
    * `period + 3` numbers (period ≤ 64), no timeout. */
  def streamingHoltWinters(
      events: Dataset[CusumEvent], alpha: Double, beta: Double,
      gamma: Double, period: Int, phi: Double = 1.0): Dataset[HwStat] = {
    import events.sparkSession.implicits._
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0,
      s"beta must be in [0, 1], got $beta")
    require(gamma >= 0.0 && gamma <= 1.0,
      s"gamma must be in [0, 1], got $gamma")
    require(phi > 0.0 && phi <= 1.0,
      s"phi must be in (0, 1], got $phi")
    require(period >= 2 && period <= 64,
      s"period must be in [2, 64], got $period")
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[HwState, HwStat](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          var st = state.getOption.orNull
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.tie)).map { e =>
            var s = 0.0
            st = if (st == null)
              HwState(e.value, 0.0, Vector.fill(period)(0.0), 0)
            else {
              val sm = st.q(st.idx)
              // Gardner damping, the batch op's dag positions verbatim
              val bD = if (phi == 1.0) st.b else phi * st.b
              val lNew = alpha * (e.value - sm) +
                (1.0 - alpha) * (st.l + bD)
              val bNew = beta * (lNew - st.l) + (1.0 - beta) * bD
              val sNew = gamma * (e.value - lNew) + (1.0 - gamma) * sm
              s = sNew
              HwState(lNew, bNew, st.q.updated(st.idx, sNew),
                (st.idx + 1) % period)
            }
            HwStat(key, e.ts, e.tie, e.value, st.l, st.b, s,
              st.l + (if (phi == 1.0) st.b else phi * st.b) +
                st.q(st.idx))
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Streaming rolling-Pearson monitor: carries each key's last
    * `window` observed `(x, y)` pairs (1e-9-quantized to scaled
    * integers — the batch op's money-column discipline) as typed group
    * state and emits one stamped row per arriving event with the
    * full-frame correlation — the unbounded-stream form of
    * [[graft.ops.WindowOps.rollingCorr]] with the SAME arithmetic:
    * exact integer sufficient statistics (BigInt here, decimal(38,0)
    * there — both exact, so identical doubles fall out of the final
    * `(n·Sxy − Sx·Sy)/(√vx·√vy)`), full frames only (NULL `corr` until
    * `window` pairs have arrived), zero variance → NULL. Ordering
    * contract = [[streamingCusum]]: event-time order within a
    * micro-batch (sorted here), arrival order across batches; for a
    * per-key ordered source the output equals the batch op's exactly —
    * spec-pinned across a two-batch split. State per key is `window`
    * long pairs (≤ 160 KB at the op's 10k window cap), no timeout. */
  def streamingRollingCorr(
      events: Dataset[CorrEvent], window: Int): Dataset[CorrStat] = {
    import events.sparkSession.implicits._
    require(window >= 2 && window <= 10000,
      s"window must be in [2, 10000], got $window")
    def q9(v: Double): Long =
      java.math.BigDecimal.valueOf(v * 1e9)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[CorrState, CorrStat](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          var buf = state.getOption.map(s => s.xs.zip(s.ys))
            .getOrElse(Vector.empty[(Long, Long)]).toVector
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.tie)).map { e =>
            buf = (buf :+ (q9(e.x), q9(e.y))).takeRight(window)
            val n = buf.size
            val corr = if (n < window) None else {
              // sum in BigInt from the first add: a Long sum of
              // window x 1e9-scaled values overflows at |x|~1e7,
              // window 1e4 (9.2e18 ceiling) and would silently break
              // the batch-parity contract
              val sx = buf.iterator.map(p => BigInt(p._1)).sum
              val sy = buf.iterator.map(p => BigInt(p._2)).sum
              val sxx = buf.iterator.map(p => BigInt(p._1) * BigInt(p._1)).sum
              val syy = buf.iterator.map(p => BigInt(p._2) * BigInt(p._2)).sum
              val sxy = buf.iterator.map(p => BigInt(p._1) * BigInt(p._2)).sum
              val vx = (n * sxx - sx * sx).doubleValue
              val vy = (n * syy - sy * sy).doubleValue
              if (vx <= 0.0 || vy <= 0.0) None
              else Some((n * sxy - sx * sy).doubleValue /
                (math.sqrt(vx) * math.sqrt(vy)))
            }
            CorrStat(key, e.ts, e.tie, e.x, e.y, n.toLong, corr)
          }
          state.update(CorrState(buf.map(_._1).toList, buf.map(_._2).toList))
          out.iterator
      }
  }

  /** Streaming Fellegi–Sunter scoring — the linkage decision layer
    * over an unbounded candidate-pair feed (a streaming blocker's
    * output, a CDC change stream joined to a master table): the batch
    * scorer [[graft.ext.Dedup.fellegiSunter]] is a pure zero-state
    * projection (driver-side log₂ weights as literals, one fixed-arity
    * when-chain per row), so it lifts to Structured Streaming
    * unmodified — this wrapper exists to make the streaming form
    * discoverable and to pin the batch-parity contract in the spec.
    * No watermark, no state store, append mode; m/u come from a prior
    * [[graft.ext.Dedup.fellegiSunterFit]] over a batch sample (the
    * fit itself is iterative and stays batch — EM over a stream is a
    * different, windowed contract). */
  def streamingFellegiSunter(
      pairs: DataFrame,
      comparisons: Seq[(String, Column, Double, Double)],
      upperThreshold: Double, lowerThreshold: Double): DataFrame =
    graft.ext.Dedup.fellegiSunter(comparisons,
      upperThreshold, lowerThreshold)(pairs)

  /** Exactly-once dedup on key columns over an unbounded stream:
    * `dropDuplicatesWithinWatermark` keeps state only for the watermark
    * window, so a duplicate key is dropped even when it arrives with a
    * fresh event timestamp (a plain `dropDuplicates(keys :+ ts)` would
    * pass retransmissions whose ts differs). The batch equivalent is
    * `dropDuplicates(keys)` (the exact operator `Dedup.exact` refines
    * it with a deterministic keeper). */
  def streamingDedup(
      events: DataFrame,
      keys: Seq[String],
      tsField: String = "ts",
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark(tsField, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Windowed verification suite — [[graft.probes.Probes.verificationSuite]]'s
    * live form: every event-time window grades the same named row
    * checks (each with its own minimum pass fraction) so a feed's
    * quality contracts alarm per window instead of per batch-run. ONE
    * stateful windowed aggregation computes all counters (fixed-width
    * state per window — one long per check — the
    * [[windowedCategoryDrift]] shape), then a projection reshapes to
    * one row per (window, check) with the exact verdict arithmetic the
    * batch form uses (one multiply per side, one division). ROW checks
    * only: a per-window DISTINCTNESS check would hold per-key state —
    * that job belongs to [[windowedDistinct]]'s sketches. Windows
    * exist only where events do, so there is no vacuous-empty branch
    * here. Same logical plan on batch frames (spec parity leg). */
  def windowedVerification(
      events: DataFrame,
      rowChecks: Seq[(String, Column, Double)],
      tsField: String = "ts",
      windowLength: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(rowChecks.nonEmpty, "at least one check required")
    require(rowChecks.map(_._1).distinct.length == rowChecks.length,
      "duplicate check names")
    rowChecks.foreach { case (n, _, t) => require(t >= 0.0 && t <= 1.0,
      s"threshold for '$n' must be in [0, 1], got $t") }
    val counters = rowChecks.zipWithIndex.map { case ((_, c, _), i) =>
      count(when(c, 1)).as(s"__p$i") }
    val rows = rowChecks.zipWithIndex.map { case ((n, _, t), i) =>
      struct(lit(n).as("check_name"), col("__total").as("total"),
        col(s"__p$i").as("pass_count"), lit(t).as("threshold")) }
    events.withWatermark(tsField, watermarkDelay)
      .groupBy(window(col(tsField), windowLength).as("w"))
      .agg(count(lit(1)).as("__total"), counters: _*)
      .select(col("w.start").as("window_start"),
        explode(array(rows: _*)).as("__r"))
      .select(col("window_start"), col("__r.*"))
      .withColumn("pass_frac",
        col("pass_count").cast("double") / col("total").cast("double"))
      .withColumn("passed",
        col("pass_count").cast("double") >=
          col("threshold") * col("total").cast("double"))
  }

  /** Windowed score-calibration monitor — the streaming form of
    * [[graft.probes.Probes.scoreCalibration]], the live answer to "is
    * the quality score still calibrated on TODAY'S traffic?" (a model
    * score drifts the moment the input distribution does; this is the
    * alarm that catches it per event-time window). Per (window, bin):
    * `n`, `mean_score`, `pos_rate`, `gap`, plus the window's `ece` on
    * every row.
    *
    * Single stateful aggregation per window (the
    * [[windowedCategoryDrift]] doctrine): three conditional aggregates
    * per bin — count, 1e-9-quantized score sum (the batch probe's
    * integer-sum determinism discipline), positive count — one
    * fixed-width state row per open window, no second streaming agg
    * (Spark would reject it in append mode). The ECE folds over the
    * index-ordered bin array IN THE PROJECTION; empty bins contribute
    * exact 0.0 to the fold (x + 0.0 == x), so results equal the batch
    * probe's non-empty-bin fold bit-for-bit — the spec pins per-window
    * rows == `scoreCalibration` on the same slice, and the same plan
    * runs on batch frames. */
  def windowedCalibration(
      events: DataFrame,
      score: Column,
      label: Column,
      bins: Int = 10,
      tsField: String = "ts",
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(bins >= 1 && bins <= 100, s"bins must be in [1, 100]: $bins")
    val base = events
      .filter(score.isNotNull && label.isNotNull)
      .select(col(tsField),
        // clamp BOTH edges (the batch scoreCalibration convention): an
        // out-of-contract score < 0 lands in bin 0 rather than falling
        // outside every per-bin conditional and vanishing from the ECE
        greatest(least(floor(score * bins).cast("int"), lit(bins - 1)),
          lit(0)).as("__bin"),
        round(score * lit(1e9), 0).cast("long").as("__s9"),
        when(label, 1L).otherwise(0L).as("__pos"))
    val aggs = (0 until bins).flatMap { b => Seq(
      count(when(col("__bin") === b, 1)).as(s"__n_$b"),
      sum(when(col("__bin") === b, col("__s9")).otherwise(0L))
        .as(s"__s_$b"),
      sum(when(col("__bin") === b, col("__pos")).otherwise(0L))
        .as(s"__p_$b")) }
    val agged = base.withWatermark(tsField, watermarkDelay)
      .groupBy(window(col(tsField), windowLength).as("w"))
      .agg(aggs.head, aggs.tail: _*)
    val binStructs = array((0 until bins).map { b =>
      struct(lit(b).as("bin"), col(s"__n_$b").as("n"),
        col(s"__s_$b").as("s9"), col(s"__p_$b").as("pos")) }: _*)
    val totN = (0 until bins).map(b => col(s"__n_$b")).reduce(_ + _)
    val ece = aggregate(binStructs, lit(0.0), (acc, s) =>
      acc + when(s.getField("n") === 0L, lit(0.0))
        .otherwise(s.getField("n").cast("double") * abs(
          s.getField("s9").cast("double") /
            (s.getField("n").cast("double") * 1e9)
            - s.getField("pos").cast("double") / s.getField("n")))) /
      totN.cast("double")
    agged
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        ece.as("ece"), explode(binStructs).as("__b"))
      .filter(col("__b.n") > 0)
      .select(col("window_start"), col("window_end"),
        col("__b.bin").as("bin"), col("__b.n").as("n"),
        (col("__b.s9").cast("double") /
          (col("__b.n").cast("double") * 1e9)).as("mean_score"),
        (col("__b.pos").cast("double") / col("__b.n")).as("pos_rate"),
        col("ece"))
      .withColumn("gap", abs(col("mean_score") - col("pos_rate")))
      .select("window_start", "window_end", "bin", "n", "mean_score",
        "pos_rate", "gap", "ece")
  }

  /** Stream-STREAM interval join — the one join family the
    * stream-static forms above cannot express: BOTH sides are unbounded
    * and a right event matches a left event on the key within
    * `[leftTs, leftTs + maxDelay]` (the click-attribution /
    * request-response correlation shape). Structured Streaming's
    * stream-stream inner join with watermarks on BOTH sides — the
    * interval bound plus the watermarks let the engine prove when a
    * buffered row can never match again and evict it, so state is
    * bounded by (watermark delay + maxDelay) of traffic, not history.
    * Without the time bound a stream-stream join must buffer a side
    * FOREVER — the bound is not an optimization, it is what makes the
    * join runnable. Inner join only here: outer stream-stream joins
    * emit nulls at watermark expiry and belong to a delivery contract
    * the caller must choose deliberately.
    *
    * Left columns come out prefixed per the aliases `l`/`r` resolved
    * positionally — the output keeps every column of both sides; name
    * collisions beyond the key are the caller's to rename first. The
    * same code path runs on batch frames (the spec's parity leg: batch
    * result == streamed micro-batch accumulation). */
  def streamIntervalJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      maxDelay: String, watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"interval $maxDelay"))
      .drop(col(s"r.$key"))
  }

  /** Streaming incremental dedup — the streaming half of
    * [[graft.ext.Dedup.incrementalByFingerprint]]: drop stream rows whose
    * content fingerprint is already in the historical index (a STATIC
    * frame: stream-static left_anti joins are stateless, so no watermark
    * is needed for that step and the index can be arbitrarily large),
    * then drop in-stream repeats with watermark-bounded state. Every
    * micro-batch therefore sees exactly the semantics the batch operator
    * applies per crawl. The index is re-read per micro-batch only as the
    * join's build side dictates (broadcast when it fits); refreshing it
    * between batches is a swap of the underlying table, not a query
    * change. */
  def streamingIncrementalDedup(
      stream: DataFrame,
      textField: String,
      seen: DataFrame,
      tsField: String = "ts",
      watermarkDelay: String = "1 hour"): DataFrame = {
    require(seen.columns.length == 1,
      s"seen must be a single fingerprint column, got ${seen.columns.mkString(", ")}")
    val indexed = seen.select(col(seen.columns.head).as("__fp"))
    stream
      .withColumn("__fp", graft.ext.TextOps.fingerprint(col(textField)))
      .join(indexed, Seq("__fp"), "left_anti")
      .withWatermark(tsField, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("__fp"))
      .drop("__fp")
  }

  /** Streaming incremental NEAR-dup dedup — the streaming half of
    * [[graft.ext.Dedup.incrementalNearDup]], against the same persisted
    * `(id, sig)` MinHash signature index
    * ([[graft.ext.Dedup.minhashIndexRows]]).
    *
    * Semantics differ from the batch form in one DOCUMENTED way: a
    * stream row is dropped when it shares ANY band bucket with an index
    * document — the LSH *candidate* criterion, with no estimator verify
    * leg. Verification needs the colliding pair on one side of a join;
    * streaming-side that would be a stream-derived self-join, which
    * Structured Streaming cannot run statelessly. The band geometry is
    * therefore the operating-point knob: collision probability for true
    * Jaccard s is 1-(1-s^r)^b per index doc (r = numHashes/bands) — at
    * the default 4×2 a 0.9-similar doc is caught w.p. ≈ 0.99 while a
    * 0.3-similar doc fires ≈ 0.3 per band; bands = 1 tightens to
    * full-signature equality (est = 1.0 only). Use the batch operator
    * for estimator-thresholded precision; use this form where a
    * conservative (recall-leaning) drop is the right trade, which
    * training-corpus ingest usually is.
    *
    * Shape: ONE stateless stream-static left_anti equi-join per band
    * (each on a plain per-row bucket column vs the index's distinct
    * bucket set for that band — AQE broadcasts when it fits), then
    * watermark-bounded in-stream dedup on the FULL signature (exact
    * signature repeats only; cross-micro-batch near-dups are covered by
    * periodically folding survivors' [[graft.ext.Dedup.minhashIndexRows]]
    * into the index, exactly like the batch cycle). */
  def streamingIncrementalNearDup(
      stream: DataFrame,
      textField: String,
      index: DataFrame,
      tsField: String = "ts",
      watermarkDelay: String = "1 hour",
      numHashes: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      useOph: Boolean = false): DataFrame = {
    require(index.columns.length == 2,
      s"index must be (id, signature) rows, got ${index.columns.mkString(", ")}")
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val idxBuckets = graft.ext.Dedup.bandedBucketsOfSigs(
      index.select(col(index.columns(0)).as("__id"),
        col(index.columns(1)).as("__sig")),
      numHashes, bands)
    // useOph must match the family the index was built with
    // (Dedup.minhashIndexRows(useOph = …)) — mixing families silently
    // never collides and the gate stops dropping anything
    val streamSig =
      if (useOph) graft.ext.Dedup.minhashSignatureOph(
        col(textField), numHashes, shingleSize)
      else graft.ext.Dedup.minhashSignature(
        col(textField), numHashes, shingleSize)
    var out = stream.withColumn("__sig", streamSig)
    (0 until bands).foreach { b =>
      out = out
        .withColumn(s"__bk$b",
          md5(concat_ws(",", slice(col("__sig"), b * rows + 1, rows))))
        .join(idxBuckets.filter(col("__band") === b)
          .select(col("__bucket").as(s"__bk$b")).distinct(),
          Seq(s"__bk$b"), "left_anti")
    }
    out
      .withColumn("__sigkey", md5(concat_ws(",", col("__sig"))))
      .withWatermark(tsField, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("__sigkey"))
      .drop((0 until bands).map(b => s"__bk$b") ++ Seq("__sig", "__sigkey"): _*)
  }

  /** Streaming incremental PERCEPTUAL dedup — the streaming half of
    * [[graft.ext.BinaryOps.incrementalPerceptualDedup]], against the
    * same persisted `(id, phash)` rows
    * ([[graft.ext.BinaryOps.phashIndexRows]]).
    *
    * STRONGER than [[streamingIncrementalNearDup]] in one way: the
    * index-leg verify is EXACT, not candidate-only. The full 60-bit
    * hash lives on the static side, so each per-band stream-static
    * left_anti join carries `popcount(xor) <= maxHamming` as its
    * residual condition — a stream row is dropped iff a genuinely
    * in-radius index blob shares that band, which at `maxHamming <= 3`
    * is the complete-by-pigeonhole criterion of the batch operator
    * (larger radii: best-effort recall, exact precision, as
    * documented on [[graft.ext.BinaryOps.perceptualHashPairs]]).
    *
    * The in-stream leg keeps the sibling ops' documented compromise:
    * watermark-bounded dedup on the EXACT hash (near-dup within the
    * stream would need a stream-derived self-join, which Structured
    * Streaming cannot run statelessly). NULL-blob rows never match the
    * index; in the in-stream leg they share a sentinel key and so
    * collapse to one per watermark window — streaming state must key
    * on something bounded (the batch operator, which has no state,
    * keeps them all).
    *
    * Shape: one stateless stream-static left_anti join per band (the
    * static side is band-bucket + hash pairs — 16 B/row, AQE
    * broadcasts when it fits), then one watermark-bounded
    * `dropDuplicatesWithinWatermark` on the hash. */
  /** Streaming incremental EMBEDDING near-dup — the streaming half of
    * [[graft.ext.Dedup.incrementalEmbeddingDedup]], against the same
    * persisted `(id, int8 codes)` rows
    * ([[graft.ext.Dedup.embeddingIndexRows]]), completing the
    * streaming incremental-index triad (text / binary / embeddings).
    *
    * Like [[streamingIncrementalPerceptualDedup]], the index leg
    * verifies EXACTLY: the codes live on the static side, so the one
    * stream-static left_anti join carries
    * `quantizedCosine >= threshold` as its residual condition — a
    * stream vector drops only for a genuinely above-threshold index
    * neighbor sharing its sign-LSH bucket. That is the IDENTICAL
    * candidate criterion + verify the batch operator applies on its
    * index leg (single-table sign-LSH recall, the documented
    * operating point of the embedding family). The in-stream leg is
    * the siblings' compromise: watermark-bounded dedup on the EXACT
    * code array (near-dup within the stream would need a
    * stream-derived self-join).
    *
    * Shape: one stateless stream-static left_anti join (static side =
    * bucket + codes, dim+4 bytes per vector ever seen — AQE
    * broadcasts when it fits), then one
    * `dropDuplicatesWithinWatermark` on the code digest. */
  def streamingIncrementalEmbeddingDedup(
      stream: DataFrame,
      vecField: String,
      index: DataFrame,
      threshold: Double,
      tsField: String = "ts",
      watermarkDelay: String = "1 hour",
      planes: Int = 6,
      dim: Int = 64): DataFrame = {
    import graft.ext.Similarity
    require(index.columns.length == 2,
      s"index must be (id, codes) rows, got ${index.columns.mkString(", ")}")
    require(threshold > -1 && threshold <= 1,
      s"threshold must be in (-1, 1], got $threshold")
    val idx = index.select(col(index.columns(1)).as("__ic"))
      .withColumn("__ibk", Similarity.lshBucket(col("__ic"), planes, dim))
    stream
      .withColumn("__c", Similarity.quantizeInt8(col(vecField)))
      .withColumn("__bk", Similarity.lshBucket(col("__c"), planes, dim))
      .join(idx,
        col("__bk") === col("__ibk") &&
          Similarity.quantizedCosine(col("__c"), col("__ic")) >= threshold,
        "left_anti")
      .withColumn("__ck", md5(concat_ws(",", col("__c"))))
      .withWatermark(tsField, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("__ck"))
      .drop("__bk", "__c", "__ck")
  }

  /** Streaming semantic decontamination — the live form of
    * [[graft.ext.Dedup.semanticDecontaminate]]: a stream document whose
    * embedding lands in the same sign-LSH bucket as an eval-set
    * embedding AND verifies at cosine ≥ `threshold` is dropped before
    * it reaches the training sink; paraphrased benchmark items the
    * n-gram [[streamingContainmentGate]] cannot see.
    *
    * Shape: one stateless stream-static LEFT-ANTI join per LSH table —
    * bucket equality as the join key, the exact cosine as the join's
    * RESIDUAL condition, so the drop criterion is bucket-collide AND
    * verify, identical to the batch op's candidate + verify legs. The
    * eval side is a benchmark set (small by construction) and AQE
    * broadcasts it; no state, no watermark requirement — rows flow
    * through `tables` chained anti-joins and keep every stream column.
    *
    * One documented divergence from the batch op: no `maxBucket` cap —
    * an anti-join never materializes bucket groups, so a degenerate
    * bucket costs per-row eval comparisons (bounded by the eval set's
    * bucket occupancy), not a quadratic reducer. Batch parity therefore
    * holds wherever the batch caps don't fire (spec-pinned).
    *
    * @param evalVecs exactly `(id, vector)` rows — the eval embeddings */
  def streamingSemanticDecontaminate(
      stream: DataFrame,
      vecField: String,
      evalVecs: DataFrame,
      threshold: Double,
      planes: Int = 6,
      dim: Int = 64,
      tables: Int = 1): DataFrame = {
    import graft.ext.Similarity
    require(tables >= 1, "tables must be >= 1")
    require(evalVecs.columns.length == 2,
      s"evalVecs must be (id, vector) rows, got ${evalVecs.columns.mkString(", ")}")
    require(threshold > -1 && threshold <= 1,
      s"threshold must be in (-1, 1], got $threshold")
    (0 until tables).foldLeft(stream) { (df, t) =>
      val idx = evalVecs
        .select(col(evalVecs.columns(1)).as(s"__ev$t"))
        .withColumn(s"__ebk$t",
          Similarity.lshBucket(col(s"__ev$t"), planes, dim, t * planes))
      df.withColumn(s"__bk$t",
          Similarity.lshBucket(col(vecField), planes, dim, t * planes))
        .join(idx,
          col(s"__bk$t") === col(s"__ebk$t") &&
            Similarity.cosine(col(vecField), col(s"__ev$t")) >= threshold,
          "left_anti")
        .drop(s"__bk$t")
    }
  }

  /** Streaming containment gate — the quote/subset detector
    * ([[graft.ext.Dedup.containmentPairs]]'s asymmetric criterion)
    * against a STORED reference gram index
    * ([[graft.ext.Dedup.gramIndexRows]]): a stream document is dropped
    * when ≥ `threshold` of its distinct n-gram digests appear in the
    * reference set — the streaming form of benchmark decontamination,
    * where the reference is the eval set and a document mostly made of
    * its grams must not reach the training sink. Survivors return with
    * all stream columns plus `containment` ∈ [0, 1].
    *
    * Shape: one projection computes each document's distinct gram
    * digests; one stream-static LEFT join marks which digests the
    * index holds (16 B rows, AQE broadcasts when the index fits —
    * reference sets are eval corpora, small by construction); one
    * watermark-bounded aggregation per document computes the ratio
    * (integer hit/total counts, one division — exact). State is one
    * count pair per in-flight document, expired by the watermark;
    * results emit when the watermark passes the document's event time
    * (append-mode aggregation semantics). Documents with no grams
    * (shorter than n, or NULL text) have containment 0 and survive —
    * "too short to quote" is not contamination. */
  def streamingContainmentGate(
      stream: DataFrame,
      idField: String,
      textField: String,
      refGrams: DataFrame,
      n: Int = 8,
      threshold: Double = 0.5,
      tsField: String = "ts",
      watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.ext.TextOps
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val ref = refGrams.select(col(refGrams.columns(0)).as("__rg")).distinct()
    val cols = stream.columns
    // one NULL-gram row keeps zero-gram documents alive through the
    // explode (NULL joins nothing, counts no hits, totals zero)
    val grams = stream
      .withWatermark(tsField, watermarkDelay)
      .withColumn("__gs", graft.functions.GraftFunctions.bind(
        array_distinct(transform(
          coalesce(TextOps.shingles(col(textField), n),
            array().cast("array<string>")),
          g => md5(g)))) { gs =>
        when(size(gs) === 0, array(lit(null).cast("string"))).otherwise(gs)
      })
      .select(cols.map(col) :+ explode(col("__gs")).as("__g"): _*)
    grams
      .join(ref, col("__g") === col("__rg"), "left")
      .groupBy(cols.map(col): _*)
      .agg(
        count(col("__g")).as("__total"),
        count(col("__rg")).as("__hits"))
      .withColumn("containment",
        when(col("__total") === 0, lit(0.0))
          .otherwise(col("__hits").cast("double") / col("__total")))
      .filter(col("containment") < threshold)
      .drop("__total", "__hits")
  }

  /** Streaming incremental EXACT set-similarity dedup — the streaming
    * half of [[graft.ext.Dedup.incrementalSetSimilarity]], against the
    * same persisted `(id, toks, n[, toks_prefix])` index
    * ([[graft.ext.Dedup.ssjIndexRows]]; with the 4-column r16 format
    * the index's committed τ_min must be ≤ `threshold` — the batch
    * op's contract, ENFORCED here via `indexTauMin` exactly as there)
    * — and, unlike the MinHash streaming gate, with the EXACT verify
    * intact: the index row's
    * full token array rides the prefix-collision join, so the drop
    * criterion is true Jaccard ≥ `threshold`, not a band collision.
    *
    * Shape (the [[streamingContainmentGate]] doctrine): each stream
    * document explodes to its τ-prefix tokens in the index's universal
    * hash order (a NULL keeper row carries zero-token docs through —
    * they match nothing and survive); ONE stateless stream-static LEFT
    * join on the prefix token carries the batch op's length +
    * positional filters AND the exact early-terminating merge verify
    * ([[graft.ext.TextOps.hashOrderedJaccardAtLeast]]; both token
    * arrays are in the universal hash order) as RESIDUAL conditions;
    * one watermark-bounded aggregation per
    * document counts verified hits, and hit-free documents pass with
    * all their columns. In-stream repeats: exact-SET duplicates drop
    * via `dropDuplicatesWithinWatermark` on the canonical token-array
    * digest (the perceptual leg's exact-hash discipline); in-stream
    * NEAR-duplicates are covered by periodically folding survivors'
    * [[graft.ext.Dedup.ssjIndexRows]] into the index, exactly like
    * the batch crawl cycle. Recall against the INDEX is guaranteed
    * (prefix pigeonhole + exact verify, no caps, no banding). */
  def streamingIncrementalSetSimilarity(
      stream: DataFrame,
      tokensField: String,
      index: DataFrame,
      threshold: Double,
      tsField: String = "ts",
      watermarkDelay: String = "1 hour",
      indexTauMin: Double = 0.5): DataFrame = {
    import graft.ext.Dedup
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(index.columns.length == 3 || index.columns.length == 4,
      "index must be (id, toks, n[, toks_prefix]) rows, got " +
        index.columns.mkString(", "))
    // the batch op's τ_min contract, enforced here too: a 4-column
    // index's stored prefix only covers τ ≥ its committed tauMin —
    // slicing it at a smaller τ would SILENTLY lose recall (the
    // guarantee this op exists for). Legacy 3-column indexes derive
    // the prefix from the full toks column: any τ is covered.
    require(index.columns.length == 3 || threshold >= indexTauMin - 1e-12,
      s"threshold ($threshold) must be >= the index's committed tauMin " +
        s"($indexTauMin): the stored prefix only covers tau >= tauMin")
    val tau = threshold / (1.0 + threshold)
    def prefLen(n: Column) =
      greatest((n - ceil(lit(threshold) * n - lit(1e-9)) + 1).cast("int"),
        lit(1))
    // the 4-column r16 format carries the committed-τ_min prefix —
    // explode THAT (sliced to the τ-prefix; same values, smaller
    // input). The full __itoks still rides the join for the exact
    // verify, so the batch op's column-pruning win doesn't apply here.
    val idxPrefSrc =
      if (index.columns.length == 4) col(index.columns(3))
      else col(index.columns(1))
    val idxPref = index.select(col(index.columns(1)).as("__itoks"),
      col(index.columns(2)).as("__in"), idxPrefSrc.as("__ipre"))
      .select(col("__itoks"), col("__in"),
        posexplode(slice(col("__ipre"), lit(1), prefLen(col("__in")))))
      .select(col("__itoks"), col("__in"), (col("pos") + 1).as("__ipos"),
        col("col").as("__ipt"))
    val cols = stream.columns
    // in-stream EXACT-set dedup FIRST (watermark-bounded; all empty
    // token sets are the same set - a documented degenerate divergence
    // from the batch op, which never generates candidates for them),
    // so the downstream aggregation is the final stateful operator
    val deduped = stream
      .withWatermark(tsField, watermarkDelay)
      .withColumn("__stoks",
        Dedup.hashOrdered(array_distinct(col(tokensField))))
      .withColumn("__sn", size(col("__stoks")))
      .withColumn("__setkey",
        md5(concat_ws("\u0001", col("__stoks"))))
      .dropDuplicatesWithinWatermark(Seq("__setkey"))
    val toks = deduped
      // NULL keeper row: zero-token docs join nothing and survive
      .withColumn("__pref", graft.functions.GraftFunctions.bind(
        slice(col("__stoks"), lit(1), prefLen(col("__sn")))) { p =>
        when(col("__stoks").isNull || size(col("__stoks")) === 0,
          array(struct(lit(null).cast("integer").as("pos"),
            lit(null).cast("string").as("col"))))
          .otherwise(transform(p, (t, i) =>
            struct((i + 1).cast("integer").as("pos"), t.as("col"))))
      })
      .select(cols.map(col) ++ Seq(col("__stoks"), col("__sn"),
        explode(col("__pref")).as("__pe")): _*)
      .select(cols.map(col) ++ Seq(col("__stoks"), col("__sn"),
        col("__pe.pos").as("__spos"), col("__pe.col").as("__spt")): _*)
    val joined = toks.join(idxPref,
      col("__spt") === col("__ipt") &&
        least(col("__sn"), col("__in")).cast("double") >=
          lit(threshold) * greatest(col("__sn"), col("__in")) - lit(1e-9) &&
        (least(col("__spos"), col("__ipos")) +
          least(col("__sn") - col("__spos"), col("__in") - col("__ipos"))) >=
          ceil(lit(tau) * (col("__sn") + col("__in")) - lit(1e-9)) &&
        graft.ext.TextOps.hashOrderedJaccardAtLeast(col("__stoks"),
          col("__itoks"), threshold),
      "left")
    joined
      .groupBy(cols.map(col): _*)
      .agg(count(col("__ipt")).as("__hits"))
      .filter(col("__hits") === 0)
      .drop("__hits")
  }

  def streamingIncrementalPerceptualDedup(
      stream: DataFrame,
      blobField: String,
      index: DataFrame,
      tsField: String = "ts",
      watermarkDelay: String = "1 hour",
      maxHamming: Int = 3): DataFrame = {
    require(index.columns.length == 2,
      s"index must be (id, phash) rows, got ${index.columns.mkString(", ")}")
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val bands = 4
    val bandBits = 15
    val idxH = index.select(col(index.columns(1)).as("__ih"))
      .filter(col("__ih").isNotNull)
    var out = stream.withColumn("__h",
      graft.ext.BinaryOps.aHash60(col(blobField)))
    (0 until bands).foreach { b =>
      val idxB = idxH.select(
        shiftright(col("__ih"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as(s"__ibk$b"),
        col("__ih").as(s"__ih$b")).distinct()
      out = out
        .withColumn(s"__bk$b", shiftright(col("__h"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)))
        .join(idxB,
          col(s"__bk$b") === col(s"__ibk$b") &&
            bit_count(col("__h").bitwiseXOR(col(s"__ih$b"))) <= maxHamming,
          "left_anti")
    }
    out
      .withColumn("__hkey", coalesce(col("__h"), lit(-1L)))
      .withWatermark(tsField, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("__hkey"))
      .drop((0 until bands).map(b => s"__bk$b") ++ Seq("__h", "__hkey"): _*)
  }

  /** Streaming ANN serving — the READ path that completes the loop the
    * dedup triad closed for ingestion: micro-batches of query vectors
    * answered against the STORED cell-partitioned IVF-PQ index via the
    * batch [[graft.ext.Similarity.ivfPqTopK]] VERBATIM inside
    * `foreachBatch` (the [[streamingRollup]] doctrine: the engine is
    * batch code, so batch and streaming retrieval CANNOT disagree —
    * parity is structural, spec-pinned anyway). Per micro-batch:
    * probe nprobe cells per query, ADC-score only those cells' stored
    * codes (with `pruneIndexPartitions` the probed cells push down as
    * a partition filter — the "read 8 of 1024 cells" guarantee holds
    * per batch), exact-cosine rerank, then `post` (identity by
    * default — pass [[graft.ext.Similarity.mmrRerank]] partially
    * applied for DIVERSIFIED serving: the MMR pool is exactly this
    * pool). Results land in `sink` with the epoch id.
    *
    * Why foreachBatch and not an in-plan stream-static join: per-query
    * top-k needs ranking within unbounded groups — append-mode
    * streaming forbids the window, and a watermarked aggregation would
    * carry every ADC candidate (vectors included, for the rerank) as
    * per-query state. The micro-batch boundary IS the serving unit —
    * each batch is a bounded query set, the exact shape the batch
    * operator is built for. At-least-once on restart (a replayed batch
    * re-serves its answers — harmless for idempotent sinks, the
    * [[streamingRollupHll]] caveat class). */
  def streamingIvfPqServe(
      queries: DataFrame,
      queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      coarseCentroids: DataFrame, nprobe: Int,
      pqCentroids: DataFrame, m: Int, k: Int, rerank: Int = 10,
      index: Option[DataFrame] = None,
      residual: Boolean = false,
      pruneIndexPartitions: Boolean = false,
      post: DataFrame => DataFrame = identity)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty)
          sink(post(graft.ext.Similarity.ivfPqTopK(
            corpus, corpusId, corpusVec, batch, queryId, queryVec,
            coarseCentroids, nprobe, pqCentroids, m, k, rerank,
            // serving queries are EXTERNAL requests, not corpus rows —
            // numeric id coincidence must not hide a valid answer
            excludeSelf = false,
            index, residual, pruneIndexPartitions)), epoch)
      }
      .start()

  /** Streaming BM25 serving — the LEXICAL leg of the serving story
    * [[streamingIvfPqServe]] opened for the dense leg: micro-batches of
    * `(queryId, array<term>)` rows answered against the STORED posting
    * index ([[graft.ext.TextOps.bm25IndexRows]] + `bm25TermDf` +
    * `bm25Stats`) via the batch [[graft.ext.TextOps.bm25ServeTopK]]
    * VERBATIM inside foreachBatch — batch and streaming retrieval share
    * one scoring core and CANNOT disagree (spec-pinned anyway). Per
    * micro-batch the cost is Σ_t df(t) posting rows via the term
    * equi-join (term-bucketed index → pruned scan); corpus text is
    * never touched. `post` composes the hybrid story: pass a
    * [[graft.ext.Similarity.rrfFuse]] against the dense leg's answers
    * for fused serving (the spec does exactly this). Same foreachBatch
    * rationale and at-least-once caveat as the dense leg. */
  def streamingBm25Serve(
      queries: DataFrame,
      queryIdField: String, termsField: String,
      index: DataFrame, termDf: DataFrame, stats: DataFrame,
      outId: String = "doc_id", k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      post: DataFrame => DataFrame = identity)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty)
          sink(post(graft.ext.TextOps.bm25ServeTopK(
            index, termDf, stats, batch, queryIdField, termsField,
            outId, k, k1, b)), epoch)
      }
      .start()

  /** Streaming SCD2 maintenance — the incremental form of
    * [[graft.ops.TemporalOps.scd2History]]: per key, the state store
    * holds the CURRENT version (one tiny struct per key); each
    * micro-batch's changes are processed in (ts, attr) order, unchanged
    * attrs are compressed away, and an attr change emits TWO rows — the
    * previous version CLOSED (`valid_to` = the change's timestamp,
    * `is_current` false) and the new current version (`valid_to` None).
    * Downstream, an upsert sink keyed on (key, valid_from) converges to
    * exactly the batch operator's history table.
    *
    * Ordering doctrine: rows are ordered within each batch, but a
    * change arriving LATE — timestamped before the current version's
    * `valid_from` — is dropped, not retro-spliced (re-opening a closed
    * interval would require emitting corrections for rows already
    * shipped; replay the batch operator for reconciliation). Output
    * mode must be `update`. */
  def streamingScd2Current(changes: Dataset[DimChange]): Dataset[DimVersion] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[DimVersion, DimVersion](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        var cur = state.getOption.orNull
        val out = scala.collection.mutable.ArrayBuffer.empty[DimVersion]
        // iterator order within a group is not guaranteed — impose the
        // batch operator's (ts, tieBreak) order; per-key-per-batch
        // change volume bounds the sort
        rows.toSeq.sortBy(c => (c.ts.getTime, c.attr)).foreach { c =>
          if (cur == null) {
            cur = DimVersion(key, c.attr, c.ts, None, is_current = true)
            out += cur
          } else if (c.attr != cur.attr && !c.ts.before(cur.valid_from)) {
            out += cur.copy(valid_to = Some(c.ts), is_current = false)
            cur = DimVersion(key, c.attr, c.ts, None, is_current = true)
            out += cur
          }
          // same attr (change compression) or late arrival: no emission
        }
        if (cur != null) state.update(cur)
        out.iterator
      }
  }
}

/** Input row for [[Streaming.runningUserTotals]]. */
case class UserEvent(user_id: Long, value: Double)

/** Input event for [[Streaming.streamingCusum]]. */
case class CusumEvent(key: Long, ts: java.sql.Timestamp, tie: Long,
    value: Double)

/** Per-key state of [[Streaming.streamingCusum]]: the two one-sided
  * CUSUM statistics. */
case class CusumState(sp: Double, sn: Double)

/** [[Streaming.streamingHolt]]'s per-key state: current level and
  * trend (absent state ≡ unseen key — the first value seeds). */
case class HoltState(l: Double, b: Double)

/** One [[Streaming.streamingHolt]] output row per arriving event. */
case class HoltStat(key: Long, ts: java.sql.Timestamp, tie: Long,
  value: Double, level: Double, trend: Double, forecast: Double)

/** [[Streaming.streamingHoltWinters]]'s per-key state: level, trend,
  * the seasonal ring (head at `idx`), and the slot pointer. */
case class HwState(l: Double, b: Double, q: Vector[Double], idx: Int)

/** One [[Streaming.streamingHoltWinters]] output row per event. */
case class HwStat(key: Long, ts: java.sql.Timestamp, tie: Long,
  value: Double, level: Double, trend: Double, seasonal: Double,
  forecast: Double)

/** Per-event output of [[Streaming.streamingCusum]]. */
case class CusumStat(key: Long, ts: java.sql.Timestamp, tie: Long,
    value: Double, cusum_pos: Double, cusum_neg: Double,
    shift_flag: Boolean)

/** Input event for [[Streaming.streamingRollingCorr]]: one observed
  * (x, y) measurement pair. */
case class CorrEvent(key: Long, ts: java.sql.Timestamp, tie: Long,
    x: Double, y: Double)

/** [[Streaming.streamingRollingCorr]]'s per-key state: the last ≤
  * `window` quantized (x·1e9, y·1e9) pairs, oldest first. */
case class CorrState(xs: List[Long], ys: List[Long])

/** One [[Streaming.streamingRollingCorr]] output row per event. */
case class CorrStat(key: Long, ts: java.sql.Timestamp, tie: Long,
    x: Double, y: Double, n: Long, corr: Option[Double])

/** Input change row for [[Streaming.streamingScd2Current]]. */
case class DimChange(key: Long, ts: java.sql.Timestamp, attr: String)

/** Version row / per-key state of [[Streaming.streamingScd2Current]]. */
case class DimVersion(key: Long, attr: String,
    valid_from: java.sql.Timestamp, valid_to: Option[java.sql.Timestamp],
    is_current: Boolean)

/** Per-user state/output of [[Streaming.runningUserTotals]]. */
case class UserTotals(user_id: Long, events: Long, value_sum: Double)
