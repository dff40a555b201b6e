package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic subsampling operators for training-data pipelines
  * (north-star extension; complements q61's deterministic split).
  *
  * [[stratifiedTopK]] draws a REPRODUCIBLE fixed-size sample per stratum:
  * the k rows with the smallest portable hash of their id. Same
  * multiplicative-hash residue arithmetic as the train/val/test split —
  * overflow-safe in BIGINT, identical in any engine, so the DuckDB oracle
  * recomputes the exact same sample. This is the "give me 10k docs per
  * language, same ones every run" primitive.
  *
  * Scale shape: a naive `row_number over (partition by stratum order by
  * hash)` shuffles EVERY row to its stratum's window — with few strata
  * that is a handful of giant single-task sorts at 100 TB. Here a first
  * top-k over (stratum, input-partition-id) runs on a key space of
  * strata × partitions — the exchange is well spread, no giant stratum
  * task exists, and each task sorts only its slice — so the exact
  * per-stratum window in phase 2 sorts at most k × partitions surviving
  * rows. Survivor volume is independent of data size; the stratum window
  * stops being a scale hazard.
  */
object Sampling {

  /** Portable sample-order hash (see q61): bounded residues, BIGINT-safe. */
  private[operators] def portableHash(idCol: Column): Column =
    pmod((pmod(idCol, lit(100003L)) * lit(2654435761L)), lit(1000000007L))

  /** Deterministic WEIGHTED sampling: keep a row iff its portable hash,
    * reduced to a uniform draw in [0, 10⁶), falls under the row's weight
    * in parts-per-million. A row with `weight_ppm ≥ 10⁶` is always kept,
    * `0` never; expected inclusion probability is weight_ppm/10⁶ — the
    * quality-weighted corpus subsample ("keep high-quality docs with
    * certainty, down-weight the rest") that upsampling/downsampling
    * recipes for LLM training mixes are built on.
    *
    * Same multiplicative-hash residue arithmetic as [[stratifiedTopK]] /
    * q61 — exact BIGINT ops that any engine reproduces, so the oracle
    * recomputes the identical sample (no engine RNG, no `rand()` whose
    * stream depends on partitioning). The draw and the weight both live
    * on the row ⇒ a pure narrow filter: no shuffle, fully pushdown-safe,
    * trivially parallel at any scale.
    *
    * @param weightPpm integral weight column/expression in [0, 10⁶]
    *                  (values above 10⁶ simply saturate to always-keep)
    */
  def weightedSample(df: DataFrame, idCol: String, weightPpm: Column)
      : DataFrame =
    df.filter(pmod(portableHash(col(idCol)), lit(1000000L)) < weightPpm)

  /** Data-MIXTURE rebalancing: deterministically subsample every group
    * (source/domain/language) down to the size of the SMALLEST group's
    * total `sizeCol` mass — the uniform-mixture special case of the
    * per-domain reweighting every LLM training mix applies before
    * sampling (heavier domains get proportionally lower keep rates).
    *
    * Per-group acceptance rate in exact integer ppm:
    * `weight_ppm = (10⁶ · min_group_mass) div group_mass` — BIGINT-exact
    * while group mass stays under ~9.2 × 10¹² (≈ 9 TB of text per
    * group at 1 B/char; past that, promote the product to DECIMAL(38,0)
    * — the div semantics are unchanged). Rows are then kept by the same
    * portable-hash draw as [[weightedSample]], so the sample is
    * reproducible in any engine and independent of partitioning.
    *
    * Scale shape: the group-stats frame is |groups| rows — broadcast
    * both ways; the accept/reject itself is [[weightedSample]]'s pure
    * narrow filter. No shuffle of the corpus at any size.
    */
  def mixtureSample(df: DataFrame, idCol: String, groupCol: String,
      sizeCol: String): DataFrame = {
    // totals is consumed twice (weights select + its own min aggregate)
    // — cached, or the corpus-wide sum would execute once per branch
    val totals = graft.CacheScope.scoped(df.groupBy(col(groupCol))
      .agg(sum(col(sizeCol)).cast("long").as("_toks")))
    val mn = totals.agg(min(col("_toks")).as("_mn"))
    val weights = totals.crossJoin(broadcast(mn))
      .select(col(groupCol), expr("(1000000 * _mn) div _toks").as("weight_ppm"))
    weightedSample(df.join(broadcast(weights), Seq(groupCol)),
      idCol, col("weight_ppm"))
  }

  /** TEMPERATURE-scaled mixture sampling — the `p(source) ∝ mass^α`
    * source re-weighting every multi-source LLM training mix applies
    * (T5 uses α ≈ 0.3 for C4 mixtures, XLM-R α = 0.7 across languages;
    * α < 1 upweights small sources relative to their raw mass).
    * Materialized as per-row keep rates: expected kept mass from a
    * source must be ∝ mass^α, so the keep rate is ∝ mass^(α−1),
    * normalized so the SMALLEST source keeps everything —
    * `rate(s) = (min_mass / mass_s)^(1−α)`, in integral ppm.
    * [[mixtureSample]] is exactly the α = 0 point (equal final mass);
    * α = 1 is the identity mix.
    *
    * WHY α IS RESTRICTED to {0.25, 0.5, 0.75}: the gate-grade
    * determinism contract. A general `pow(x, y)` is NOT a correctly-
    * rounded operation in IEEE 754 — engines legally disagree in the
    * last ulp, and a last-ulp disagreement under FLOOR flips a whole
    * ppm step, i.e. a different sample. `sqrt` IS correctly rounded
    * everywhere, so the three quarter-power exponents (1−α ∈
    * {0.75, 0.5, 0.25}) are computed as sqrt COMPOSITIONS — x^0.5 =
    * sqrt(x), x^0.25 = sqrt(sqrt(x)), x^0.75 = sqrt(x)·sqrt(sqrt(x))
    * — a fixed sequence of individually correctly-rounded ops that
    * every IEEE engine reproduces bit-for-bit (the q128 quantization
    * discipline). The oracle mirrors the exact op ORDER:
    * t = double(min_mass)/double(mass), then the composition, then
    * FLOOR(1e6·r). Any other α refuses loudly rather than silently
    * shipping an engine-dependent sample.
    *
    * Premise: group masses must stay under 2⁵³ (exact BIGINT→DOUBLE
    * widening — ~9 PB of text per source at 1 B/char before it trips);
    * checked on the |groups|-row stats frame, not the corpus.
    *
    * Scale shape: identical to [[mixtureSample]] — a |groups|-row
    * stats frame broadcast both ways, then [[weightedSample]]'s pure
    * narrow filter. No corpus shuffle at any size.
    */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
      sizeCol: String, alpha: Double): DataFrame = {
    val comp: Column => Column = alpha match {
      case 0.5 => x => sqrt(x)
      case 0.25 => x => sqrt(x) * sqrt(sqrt(x)) // (1-α) = 0.75
      case 0.75 => x => sqrt(sqrt(x)) // (1-α) = 0.25
      case a => throw new IllegalArgumentException(
        s"temperatureSample: alpha = $a is not gate-grade portable — " +
          "general pow() is not correctly rounded and engines disagree " +
          "in the last ulp, which flips ppm steps under FLOOR. " +
          "Supported: 0.25, 0.5, 0.75 (sqrt compositions; alpha = 0 " +
          "is mixtureSample, alpha = 1 the identity mix).")
    }
    val totals = graft.CacheScope.scoped(df.groupBy(col(groupCol))
      .agg(sum(col(sizeCol)).cast("long").as("_toks")))
    val mn = totals.agg(min(col("_toks")).as("_mn"))
    val weights = totals.crossJoin(broadcast(mn))
      // exact-widening premise consumed through the rate column (+0 on
      // success; a free-standing check column could be pruned before
      // evaluating). The condition is
      // coalesced to PASS on a NULL mass (assert_true(NULL) THROWS in
      // Spark 4 — the r8 gotcha): an all-NULL-size group has no mass
      // to mis-widen; its rate is NULL and its rows drop, exactly
      // mixtureSample's behavior on the same input.
      .select(col(groupCol),
        (floor(lit(1000000d) *
          comp(col("_mn").cast("double") / col("_toks").cast("double")))
          .cast("long") +
          coalesce(assert_true(
            coalesce(col("_toks") < lit(9007199254740992L), lit(true)),
            lit("temperatureSample: a group mass exceeds 2^53 — the " +
              "BIGINT->DOUBLE widening would round and the sample " +
              "stops being engine-portable")).cast("long"),
            lit(0L))).as("weight_ppm"))
    weightedSample(df.join(broadcast(weights), Seq(groupCol)),
      idCol, col("weight_ppm"))
  }

  /** The k rows of each stratum with the smallest (hash, id) order key.
    * Output: stratum column, id column, `sample_rank` (1..k).
    */
  def stratifiedTopK(df: DataFrame, stratumCol: String, idCol: String,
      k: Int): DataFrame = {
    val h = portableHash(col(idCol))
    val wLocal = Window.partitionBy(col(stratumCol), col("_pid"))
      .orderBy(h, col(idCol))
    val wGlobal = Window.partitionBy(col(stratumCol)).orderBy(h, col(idCol))
    df.select(col(stratumCol), col(idCol))
      .withColumn("_pid", spark_partition_id())
      // phase 1: pruning over the (stratum, partition-id) key space —
      // survivors ≤ k per cell, every task sorts only its own slice
      .withColumn("_lrn", row_number().over(wLocal))
      .filter(col("_lrn") <= k)
      .drop("_pid", "_lrn")
      // phase 2: exact global rank over the pruned survivors
      .withColumn("sample_rank", row_number().over(wGlobal).cast("int"))
      .filter(col("sample_rank") <= k)
      .orderBy(asc_nulls_first(stratumCol), col("sample_rank"))
  }
}
