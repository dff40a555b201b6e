package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The reference's entire "query engine": aggregate statistics and
  * post-load integrity validation (reference: src/core/db_manager.py:250-293
  * and :314-353), as one-pass DataFrame aggregations.
  *
  * Float policy (oracle determinism at any scale): double summation is
  * order-sensitive, and at 1000 executors partial-aggregate merge order is
  * nondeterministic run-to-run — so every SUM/AVG goes through exact
  * DECIMAL arithmetic on 2-dp business values and is cast to DOUBLE only at
  * the output boundary. MIN/MAX/COUNT are order-insensitive and stay
  * native.
  */
object Stats {

  private val dec = DecimalType(18, 2)

  /** A1 + A3: row count, min/max/avg/sum of `amountCol` in one pass
    * (reference: src/core/db_manager.py:262, :270-278).
    */
  def tableStats(df: DataFrame, amountCol: String = "amount"): DataFrame =
    aggOf(df, tableStatsAggs(amountCol))

  /** [[tableStats]]'s aggregates, to observe on a write. */
  def tableStatsAggs(amountCol: String = "amount"): Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    min(col(amountCol)).as("min_amount"),
    max(col(amountCol)).as("max_amount"),
    (sum(col(amountCol).cast(dec)).cast(DoubleType) / count(lit(1)))
      .as("avg_amount"),
    sum(col(amountCol).cast(dec)).cast(DoubleType).as("sum_amount"))

  private def aggOf(df: DataFrame, aggs: Seq[Column]): DataFrame =
    df.agg(aggs.head, aggs.tail: _*)

  // coalesce: SUM over an empty relation is NULL, but a row counter must
  // read 0 (found by the empty-survivor property test)
  private def countIf(c: Column, name: String): Column =
    coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L)).as(name)

  /** A2: per-status row counts (reference: src/core/db_manager.py:266-267),
    * hash-aggregated (map-side partial combine, one shuffle on `status`).
    */
  def statusCounts(df: DataFrame, statusCol: String = "status"): DataFrame =
    df.groupBy(col(statusCol)).agg(count(lit(1)).as("n"))
      .orderBy(col(statusCol))

  /** A4: post-load integrity validation in ONE scan (the reference issues
    * 7 separate full-table queries — src/core/db_manager.py:326-343; at
    * 100 TB that is 7 scans too many).
    */
  def integrity(df: DataFrame): DataFrame = aggOf(df, integrityAggs)

  /** [[integrity]]'s aggregates, to observe on a write. */
  def integrityAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    countIf(col("transaction_id").isNull, "null_transaction_id"),
    countIf(col("user_id").isNull, "null_user_id"),
    countIf(col("amount").isNull, "null_amount"),
    countIf(col("status").isNull, "null_status"),
    countIf(col("processed_at").isNull, "null_processed_at"),
    countIf(col("amount") < 0, "negative_amount"),
    countIf(lower(trim(col("status"))) === "cancelled", "cancelled_rows"),
    countIf(col("status") === "unknown", "unknown_status"))

  /** A5: pipeline funnel stats over the RAW (dirty) input — how many rows
    * each cleaning rule removes (reference: src/data_processor.py:188-210).
    * Flags mirror TxnTransform's rule order; one scan, one row out.
    */
  def funnel(raw: DataFrame): DataFrame = {
    val keysOk = col("transaction_id").isNotNull && col("user_id").isNotNull
    val parsed = expr("try_cast(amount AS DOUBLE)")
    val statusNorm = lower(trim(coalesce(col("status"), lit("unknown"))))
    raw.agg(
      count(lit(1)).as("n_input"),
      countIf(!keysOk, "n_null_key"),
      countIf(keysOk && parsed.isNull, "n_unparseable_amount"),
      countIf(keysOk && parsed.isNotNull && parsed < 0, "n_negative_amount"),
      countIf(keysOk && parsed.isNotNull && parsed >= 0 &&
        statusNorm === "cancelled", "n_cancelled"),
      countIf(keysOk && parsed.isNotNull && parsed >= 0 &&
        statusNorm =!= "cancelled", "n_output"))
  }

  /** Run-profile metrics via Spark's Observation API (the CollectMetrics
    * plan node): the aggregates ATTACH to the frame, so the single action
    * that materializes the pipeline also produces its profile — zero
    * extra scans, where [[tableStats]] as a separate query re-reads the
    * table. This is the per-job instrumentation path a production load
    * uses (observe → write → harvest), demonstrated here against a noop
    * action; the observed values come back through the listener bus, and
    * the 1-row frame built from them is what a metrics sink would
    * receive. The aggregates are [[tableStats]]'s (avg observed, not
    * emitted), so `amountCol` must be DOUBLE, as in the cleaned frame.
    *
    * At 100 TB this is the difference between "load + profile" costing
    * one scan or two — observe's aggregates ride the write's own pass
    * with map-side partial merge, like any hash aggregate.
    */
  def observedProfile(df: DataFrame, amountCol: String = "amount")
      : DataFrame = {
    val spark = df.sparkSession
    val obs = org.apache.spark.sql.Observation()
    val aggs = tableStatsAggs(amountCol)
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    // min/max/sum observe as null on an empty input AND on a non-empty
    // input whose amount column is entirely NULL — both must surface as
    // NULLs (matching any SQL engine's aggregates over no non-null
    // values), never as unboxed 0.0 fabrications. So the row is built
    // via Row + explicit schema (CLAUDE.md) passing every observed
    // value through AS-IS: an asInstanceOf[Double] on the non-empty
    // branch would silently turn a null min into 0.0.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.List.of(Row(m("n_rows"), m("min_amount"),
        m("max_amount"), m("sum_amount"))),
      StructType(Seq(StructField("n_rows", LongType, false),
        StructField("min_amount", DoubleType, true),
        StructField("max_amount", DoubleType, true),
        StructField("sum_amount", DoubleType, true))))
  }

  /** Declarative data-quality CONTRACT check (the great-expectations /
    * dbt-test shape): each rule is a name plus a violation predicate;
    * the report is one row per rule with its violation count and
    * pass/fail verdict — the artifact a pipeline gates a load on, vs
    * [[integrity]]'s fixed one-row profile.
    *
    * `uniqueKey` adds a primary-key uniqueness expectation
    * (`duplicate_<key>` = rows-with-key − distinct-keys; null keys are
    * the null rule's business, not a duplicate).
    *
    * Scale shape: every row rule folds into ONE aggregation scan
    * (count-distinct included — Catalyst plans the expand in the same
    * pass); the wide→long melt is a `stack` over the single aggregate
    * row. No second scan, no collect, no per-rule query — the
    * reference ran 7 scans for its 7 checks (db_manager.py:326-343);
    * this runs one for any rule count.
    */
  def expectations(df: DataFrame, rules: Seq[(String, Column)],
      uniqueKey: Option[String] = None): DataFrame = {
    require(rules.nonEmpty || uniqueKey.nonEmpty, "an empty contract")
    // leading letter required, not just identifier chars: an all-digit
    // name like "404" would parse inside stack() as the INTEGER LITERAL
    // 404 and silently report it as the violation count
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    require(rules.forall(_._1.matches(ident)),
      "rule names must be identifier-safe (they ride a stack() expr)")
    require(uniqueKey.forall(_.matches(ident)),
      "uniqueKey must be identifier-safe (it rides a stack() expr)")
    val rowAggs = rules.map { case (n, c) => countIf(c, n) }
    val uniqAgg = uniqueKey.map { k =>
      (count(col(k)) - count_distinct(col(k))).as(s"duplicate_$k") }
    val aggs = rowAggs ++ uniqAgg
    val names = rules.map(_._1) ++ uniqueKey.map(k => s"duplicate_$k")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${names.size}, " +
        names.map(n => s"'$n', $n").mkString(", ") +
        ") as (rule, n_violations)"))
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy(col("rule"))
  }

  /** Per-group ordinary-least-squares fit of `yCol` on `xCol` — the
    * closed-form regression every profiling pass wants (is doc length
    * linear in word count? does value drift with time bucket?), computed
    * from EXACT integer power sums so the oracle gate can hash-match it.
    *
    * All five sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate in
    * DECIMAL(38,0) — partial-aggregate merge order cannot perturb integer
    * sums, so a 1000-executor run emits the same bits as local[1] (the
    * same policy as the decimal SUM/AVG above). The three outputs are
    * ppm-scaled integral quotients:
    *
    *   slope_ppm     = (10⁶·(n·Σxy − Σx·Σy))  DIV (n·Σx² − (Σx)²)
    *   intercept_ppm = (10⁶·(Σy·Σx² − Σx·Σxy)) DIV (n·Σx² − (Σx)²)
    *   r2_ppm        = (10⁶·(n·Σxy − Σx·Σy)²) DIV ((n·Σx²−(Σx)²)·(n·Σy²−(Σy)²))
    *
    * DIV is the TRUNCATING integral division on both engines (Spark `div`
    * ≡ DuckDB `//`, both toward zero — floor would disagree on negative
    * numerators, e.g. an inverse correlation's slope). A degenerate group
    * (constant x, or constant y for r²) yields NULL via NULLIF, never an
    * ANSI divide-by-zero. Numerator bound: 10⁶·(n·Σxy)² must fit
    * DECIMAL(38) — at n·Σxy ≈ 10¹⁵ (petabyte-scale groups) r² saturates;
    * drop the ppm pre-scale or split the quotient there (a one-line
    * change on both sides).
    *
    * Scale shape: ONE map-combinable aggregation (the sums), then a
    * per-group scalar projection — no second shuffle, no collect.
    */
  def linearFit(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val big = DecimalType(38, 0)
    val s = df
      .select(col(groupCol), col(xCol).cast(big).as("x"),
        col(yCol).cast(big).as("y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast(big).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    s.select(col(groupCol),
      col("n").cast("long").as("n_rows"),
      expr("(1000000 * (n*sxy - sx*sy)) div nullif(n*sxx - sx*sx, 0)")
        .as("slope_ppm"),
      expr("(1000000 * (sy*sxx - sx*sxy)) div nullif(n*sxx - sx*sx, 0)")
        .as("intercept_ppm"),
      expr("""(1000000 * (n*sxy - sx*sy) * (n*sxy - sx*sy))
              div nullif((n*sxx - sx*sx) * (n*syy - sy*sy), 0)""")
        .as("r2_ppm"))
  }
}
