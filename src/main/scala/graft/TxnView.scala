package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic "dirty transactions" view derived from `lineitem`.
  *
  * The reference's domain is a transaction CSV with dirty rows (null keys,
  * unparseable amounts, negatives, padded/mixed-case statuses, cancelled
  * rows — reference: README.md:5-6, src/data_processor.py). The driver's
  * testdata is clean TPC-H-ish parquet, so to exercise the cleaning
  * operators for the DuckDB oracle we derive a transaction table from
  * `lineitem` with dirt injected by deterministic key arithmetic.
  *
  * The derivation is written in a SQL dialect subset evaluated identically
  * by Spark SQL and DuckDB (verified empirically: `%` on positive ints,
  * `||` null-propagating concat, CAST int→STRING, FLOOR before any
  * double→int cast, substr/length 1-based). The SAME text is used to build
  * the Spark DataFrame and embedded as a WITH-clause in every oracle query,
  * so both engines see byte-identical dirty input.
  *
  * Dirt injected (all keyed on l_orderkey arithmetic, disjoint-ish):
  *  - %13, line 1  → NULL transaction_id        (dropped by clean)
  *  - %17, line 2  → NULL user_id               (dropped by clean)
  *  - %19          → amount 'not-a-number'      (dropped after coercion)
  *  - %7           → negative integer amount    (dropped by businessRules)
  *  - %11          → NULL status                (→ 'unknown')
  *  - %5           → '  CANCELLED '             (dropped by businessRules)
  *  - else         → padded mixed-case statuses (normalized by enrich)
  */
object TxnView {

  /** Shared Spark-SQL/DuckDB SELECT producing the dirty view from
    * `lineitem`. `cs` is the amount in cents as a string (built with FLOOR
    * + int casts only: double→BIGINT casts round in DuckDB but truncate in
    * Spark, so raw fractional casts are banned in this subset).
    */
  val selectSql: String = """
    SELECT
      CASE WHEN l_orderkey % 13 = 0 AND l_linenumber = 1 THEN NULL
           ELSE CAST(l_orderkey * 8 + l_linenumber AS STRING) END AS transaction_id,
      CASE WHEN l_orderkey % 17 = 0 AND l_linenumber = 2 THEN NULL
           ELSE CAST(l_suppkey AS STRING) END AS user_id,
      CASE WHEN l_orderkey % 19 = 0 THEN 'not-a-number'
           WHEN l_orderkey % 7 = 0 THEN '-' || CAST(CAST(l_quantity AS BIGINT) AS STRING)
           ELSE substr(cs, 1, length(cs) - 2) || '.' || substr(cs, length(cs) - 1, 2)
      END AS amount,
      CAST(CAST(l_shipdate AS DATE) AS STRING) AS ts,
      CASE WHEN l_orderkey % 11 = 0 THEN NULL
           WHEN l_orderkey % 5 = 0 THEN '  CANCELLED '
           WHEN l_returnflag = 'A' THEN ' Approved'
           WHEN l_returnflag = 'N' THEN 'PENDING  '
           ELSE ' Returned ' END AS status
    FROM (SELECT *, CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS STRING) AS cs
          FROM lineitem) raw_txn
  """

  /** The dirty view as a Spark DataFrame (same SQL text, evaluated by
    * Catalyst over the parquet `lineitem`).
    *
    * Deliberately NO repartition before the per-row string construction:
    * the testdata's single-row-group parquet makes this scan one task
    * locally (~2 s of the staging build), but a round-robin shuffle of
    * the whole fact table to fix a testdata artifact would be an extra
    * full shuffle at 100 TB — the wrong trade (measured locally: the
    * shuffle cost ≈ the parallelism gain even here). Real fact tables
    * arrive in many row groups and parallelize in the scan itself.
    * Contrast q50, where the probe-side repartition IS kept: there each
    * row fans into ~1000 levenshtein DPs, so compute dwarfs any shuffle.
    */
  def dirty(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    spark.sql(selectSql)
  }
}
