package graft

import graft.operators.{Dedup, Stats, TxnTransform}
import graft.sources.CsvSource

/** The reference's CLI entry point (reference: src/etl_manager.py:100-136,
  * `python -m src.etl_manager <csv> [--chunk-size] [--max-workers] ...`)
  * re-expressed Spark-first:
  *
  *   sbt 'runMain graft.EtlMain <input.csv> <output_dir> [--cores N]
  *        [--run-ts ISO] [--corrupt-dir DIR]'
  *
  * What replaced what (SURVEY.md §3 E1):
  *  - --chunk-size      → partitioned scan (spark.sql.files.maxPartitionBytes)
  *  - --max-workers     → --cores (task parallelism; local[N] here, a
  *                        cluster manager in production)
  *  - temp-dir + merge  → gone: no spill-to-CSV, no chunk merge — one
  *                        lazy plan, shuffle managed by the engine
  *  - SQLite upsert     → deterministic last-writer-wins dedup + parquet
  *  - post-load indexes → parquet min/max stats (+ partitionBy if wanted)
  *  - faulty chunk log  → per-ROW corrupt capture written to --corrupt-dir
  *
  * Exit code 0 on success with the reference's stats/validation report
  * printed (A1-A5), 1 on failure. An OutOfMemoryError in a task exits
  * 52 instead: Spark's executor uncaught-exception handler ends the JVM
  * before the catch below can map it to 1 (measured at -Xmx1g on a
  * 1.3 GB input; the fix is ROADMAP item 2).
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: EtlMain <input.csv> <output_dir> [--cores N] " +
          "[--run-ts ISO8601] [--corrupt-dir DIR]")
      sys.exit(1)
    }
    val input = args(0)
    val output = args(1)
    def opt(flag: String, default: String): String =
      args.sliding(2).collectFirst {
        case Array(`flag`, v) => v }.getOrElse(default)
    val cores = opt("--cores", "4")
    val runTs = opt("--run-ts", java.time.Instant.now().toString)
    val corruptDir = opt("--corrupt-dir", s"$output/_corrupt")

    if (!new java.io.File(input).exists()) {
      System.err.println(s"input not found: $input")
      sys.exit(1)
    }

    val spark = LocalSpark.session(cores = cores.toInt)

    try {
      // scan with per-row malformed capture (S1/S2)
      val (clean, corrupt) = CsvSource.splitCorrupt(
        CsvSource.readTxnCsv(spark, input))

      // quarantine corrupt raw lines (the reference's "faulty chunk"
      // log, done per-row; reference: README.md:65)
      corrupt.select(CsvSource.corruptCol).write.mode("overwrite")
        .option("header", "false").csv(corruptDir)

      // transform (P2-P12) + deterministic upsert semantics (S7)
      val piped = TxnTransform.pipeline(runTs)(clean)
      val deduped = Dedup.lastWriterWinsAgg(piped,
        keys = Seq("transaction_id"),
        payload = TxnTransform.outputCols.filterNot(_ == "transaction_id"),
        orderCols = Seq("amount", "user_id", "ts", "status"))

      // sink (S6/S7) — parquet with stats in footers (S8 analogue)
      deduped.write.mode("overwrite").parquet(s"$output/transactions")

      // the reference's read path: stats + integrity report (A1-A5)
      val back = spark.read.parquet(s"$output/transactions")
      println("== table stats ==")
      Stats.tableStats(back).show(truncate = false)
      println("== status counts ==")
      Stats.statusCounts(back).show(truncate = false)
      println("== integrity ==")
      Stats.integrity(back).show(truncate = false)
      val nCorrupt = corrupt.count()
      println(s"== corrupt rows quarantined: $nCorrupt -> $corruptDir ==")
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println(s"pipeline failed: ${e.getMessage}")
        sys.exit(1)
    } finally {
      spark.stop()
    }
  }
}
