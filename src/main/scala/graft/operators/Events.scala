package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Event-stream operators over the `events` table (north-star extension;
  * SURVEY.md §2.5): time-bucketed rollups, JSON property extraction, and
  * lag-gap sessionization. Batch forms here; the Structured Streaming
  * variants live in [[graft.streaming]].
  *
  * Inputs are the NORMALIZED events frame from [[graft.Tables.events]]:
  * the physical parquet time unit is detected and erased there (the one
  * place a unit exists), so these operators see exact integer epoch-µs
  * `ts_us` plus its µs-precision TimestampType `ts` and never divide by
  * a unit themselves — oracle comparisons stay exact under both µs- and
  * ns-annotated source files.
  *
  * Scale notes: rollups are hash aggregations with map-side combine — one
  * shuffle keyed on (bucket, type), no skew risk at 100 TB because bucket
  * cardinality grows with time span. Sessionization shuffles once on
  * user_id; skewed power-users are bounded by AQE skew-join handling, and
  * the state per key is O(1) (a running lag), not O(events).
  */
object Events {

  /** Ensure the (ts TIMESTAMP, ts_us LONG) pair exists: a pass-through
    * for frames from [[graft.Tables.events]] (already normalized); for a
    * hand-built frame carrying only a µs TimestampType `ts`, derives the
    * exact integer form. No unit arithmetic here — that lives solely in
    * the Tables reader.
    */
  def withEventTime(df: DataFrame): DataFrame =
    if (df.columns.contains("ts_us")) df
    else df.withColumn("ts_us", unix_micros(col("ts")))

  /** The [min, max] `ts_us` of `ev` in one driver-side aggregate, None
    * when `ev` has no rows.
    */
  def timeSpan(ev: DataFrame): Option[(Long, Long)] = {
    val r = ev.agg(min(col("ts_us")), max(col("ts_us"))).head()
    if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
  }

  /** Corpus premise guard for GATE queries over the events table: the
    * event-time span must cover ≥ `minHours` hours or the query REFUSES
    * loudly instead of emitting a confidently wrong answer. The r6
    * unit shift collapsed months of event time 1000× into minutes and
    * every ts-dependent query drained wrong rows; checked once, eagerly,
    * on the driver, semantic drift of that class fails before any plan
    * over `ev` runs, batch and streaming alike. 24 h is the gate
    * corpus's premise (months of data; a 1000× collapse of anything
    * under ~3 years lands below it), not a library constraint —
    * production callers use the operators directly on their own frames.
    *
    * Returns `ev` with `ts` rebuilt from `ts_us`, and its checked span
    * (a, z) for callers that cut by time. An empty frame has no span and
    * passes vacuously with (0, 0): every cut of it is empty.
    */
  def requireSpanHours(ev: DataFrame, label: String,
      minHours: Long = 24L): (DataFrame, (Long, Long)) = {
    val span = timeSpan(ev)
    require(span.forall { case (a, z) => z - a >= minHours * 3600L * 1000000L },
      s"$label premise violated: event-time span < $minHours h — semantic " +
        "drift (wrong time unit? collapsed event time?); refusing to " +
        "emit a wrong answer")
    (ev.withColumn("ts", timestamp_micros(col("ts_us"))),
      span.getOrElse((0L, 0L)))
  }

  private val dec6 = DecimalType(18, 6)

  /** Tumbling-bucket rollup: count + exact-decimal value sum per
    * (date_trunc bucket, event_type). `unit` ∈ hour/day/week/...
    */
  def rollup(df: DataFrame, unit: String): DataFrame =
    withEventTime(df)
      .groupBy(date_trunc(unit, col("ts")).as("bucket"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(dec6)).cast(DoubleType).as("sum_value"))
      .orderBy(col("bucket"), col("event_type"))

  /** JSON property extraction (`props` is a JSON string column) +
    * per-value rollup. At scale this stays in one codegen stage — no UDF.
    */
  def propsRollup(df: DataFrame, jsonPath: String): DataFrame =
    df.withColumn("k", get_json_object(col("props"), jsonPath))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(dec6)).cast(DoubleType).as("sum_value"))
      .orderBy(col("k"))

  /** Sliding-window rollup (1 h windows every `slide` µs) via explicit
    * window-start arithmetic: an event at t belongs to exactly
    * length/slide windows whose starts are the preceding slide multiples.
    * Implemented as an explode (no self-join); equivalence with Spark's
    * built-in `window(ts, len, slide)` is asserted in ScalaTest — the
    * arithmetic form exists so the DuckDB oracle can mirror it exactly.
    */
  def slidingCounts(df: DataFrame, lengthUs: Long = 3600000000L,
      slideUs: Long = 900000000L): DataFrame = {
    val k = lengthUs / slideUs
    withEventTime(df)
      .withColumn("k", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("win_start", timestamp_micros(
        expr(s"(ts_us div $slideUs) * $slideUs") - col("k") * lit(slideUs)))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** As-of join composed from built-ins (SURVEY preference (a)): attach to
    * every `leftType` event the most recent STRICTLY EARLIER `rightType`
    * event of the same user. One shuffle on user_id; per-row state is a
    * single running last-match (no range self-join, no point lookups).
    */
  def asofJoin(df: DataFrame, leftType: String, rightType: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withEventTime(df)
      .withColumn("asof_match",
        last(when(col("event_type") === rightType, col("event_id")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === leftType)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_match").as(s"prev_${rightType}_id"))
      .orderBy(col("event_id"))
  }

  /** As-of join with TOLERANCE and both DIRECTIONS in one pass — the
    * full pandas-`merge_asof` surface ([[asofJoin]] is the plain
    * backward form): per `leftType` event, the nearest `rightType`
    * event strictly before AND strictly after it (in the deterministic
    * (ts_us, event_id) order), each admitted only within `toleranceUs`.
    * The gap columns are exact integer µs; a match outside tolerance
    * nulls BOTH the id and the gap.
    *
    * The nearest preceding/following right event is the ONLY tolerance
    * candidate in its direction, so tolerance is a post-filter on the
    * carried (id, ts) pair — the id and ts ride the same
    * `last/first(… ignoreNulls)` frame, so they always describe the
    * same matched row.
    *
    * Scale: ONE shuffle+sort on (user_id, ts_us, event_id) shared by
    * all four window columns — declared in a single select so Catalyst
    * evaluates them in ONE Window node (plan-verified; chained
    * withColumn stacked four); no join at all — the composed-windows
    * form of SURVEY preference (a), like asofJoin.
    */
  def asofJoinTolerance(df: DataFrame, leftType: String, rightType: String,
      toleranceUs: Long): DataFrame = {
    require(toleranceUs > 0, "tolerance must be positive")
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val back = order.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = order.rowsBetween(1, Window.unboundedFollowing)
    val rightId = when(col("event_type") === rightType, col("event_id"))
    val rightTs = when(col("event_type") === rightType, col("ts_us"))
    withEventTime(df)
      .select(col("*"),
        last(rightId, ignoreNulls = true).over(back).as("p_id"),
        last(rightTs, ignoreNulls = true).over(back).as("p_ts"),
        first(rightId, ignoreNulls = true).over(fwd).as("n_id"),
        first(rightTs, ignoreNulls = true).over(fwd).as("n_ts"))
      .filter(col("event_type") === leftType)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("ts_us") - col("p_ts") <= toleranceUs, col("p_id"))
          .as(s"prev_${rightType}_id"),
        when(col("ts_us") - col("p_ts") <= toleranceUs,
          col("ts_us") - col("p_ts")).as("prev_gap_us"),
        when(col("n_ts") - col("ts_us") <= toleranceUs, col("n_id"))
          .as(s"next_${rightType}_id"),
        when(col("n_ts") - col("ts_us") <= toleranceUs,
          col("n_ts") - col("ts_us")).as("next_gap_us"))
      .orderBy(col("event_id"))
  }

  /** Lag-gap sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapMinutes`. Returns per-user
    * session stats. Exact integer µs arithmetic end-to-end.
    */
  /** Per-SESSION rows via Spark's NATIVE `session_window` — the engine's
    * own sessionizer, the declarative alternative to the stateful forms
    * (q18/q60/q92/q103/q109 implement the same contract by hand). The
    * boundary conventions agree EXACTLY: session_window merges an event
    * arriving at `t ≤ last + gap` (inclusive — spec-verified at the
    * microsecond boundary), the same `diff ≤ gap` the suite's fold
    * continues on. Catalyst plans this as one
    * keyed aggregation with session merging — no window-function sort,
    * map-side partial merge, the 100 TB-preferred form when per-session
    * rollups (not custom per-event state) are the ask.
    */
  def sessionWindows(df: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    withEventTime(df)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapUs microseconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        expr("(max(ts_us) - min(ts_us)) div 1000000").as("span_seconds"))
      .withColumn("session_idx", row_number().over(Window
        .partitionBy(col("user_id")).orderBy(col("sw.start")))
        .cast("long"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("span_seconds"))
  }

  def sessionize(df: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    withEventTime(df)
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(col("new_session")) + lit(1L)).as("n_sessions"),
        // `div` (integer division): `/` on longs is double division under
        // ANSI, whose truncation would have to match DuckDB's — don't.
        expr("(max(ts_us) - min(ts_us)) div 1000000").as("span_seconds"))
      .orderBy(col("user_id"))
  }
}
