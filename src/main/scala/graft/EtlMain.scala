package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.unsafe.types.UTF8String
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
  * Exit codes: 0 on success, with the reference's stats/validation report
  * printed (A1-A4 and the quarantined-row count); 1 on failure; 52 on an
  * OutOfMemoryError in a task, because in local mode Spark's executor
  * uncaught-exception handler ends the JVM before the catch below can
  * map it to 1.
  */
object EtlMain {

  /** [[run]]'s report: the written table's A1+A3 stats, A2 status counts
    * (in status order) and A4 integrity counters, and the quarantined rows.
    */
  final case class Report(tableStats: Map[String, Any],
      statusCounts: Seq[(String, Long)], integrity: Map[String, Any],
      quarantined: Long)

  /** Load `input` into `output`/transactions, quarantine its malformed
    * raw lines under `corruptDir`, print the report and return it.
    */
  def run(spark: SparkSession, input: String, output: String, runTs: String,
      corruptDir: String): Report = CacheScope.withScope {
    // scan with per-row malformed capture (S1/S2)
    val (clean, corrupt) = CsvSource.readTxn(spark, input)

    // quarantine corrupt raw lines (the reference's "faulty chunk" log,
    // done per-row; reference: README.md:65), counted by the write itself
    val quarantined = Observation()
    corrupt.select(CsvSource.corruptCol)
      .observe(quarantined, count(lit(1)).as("n"))
      .write.mode("overwrite").option("header", "false").csv(corruptDir)

    // transform (P2-P12) + deterministic upsert semantics (S7)
    val piped = TxnTransform.pipeline(runTs)(clean)
    val deduped = Dedup.lastWriterWinsAgg(piped,
      keys = Seq("transaction_id"),
      payload = TxnTransform.outputCols.filterNot(_ == "transaction_id"),
      orderCols = Seq("amount", "user_id", "ts", "status"))

    // sink (S6/S7) — parquet with stats in footers (S8 analogue); the
    // A1/A3 and A4 aggregates ride the write's own pass
    val (stats, integrity) = (Observation(), Observation())
    val (sa, ia) = (Stats.tableStatsAggs(), Stats.integrityAggs)
    deduped.observe(stats, sa.head, sa.tail: _*)
      .observe(integrity, ia.head, ia.tail: _*)
      .write.mode("overwrite").parquet(s"$output/transactions")

    // the reference's read path, A2: the one read-back of the table, with
    // the schema just written (no inference job), collected unsorted and
    // sorted on the driver in Spark's string order (UTF-8 bytes): every
    // group comes to the driver anyway, and Stats.statusCounts' orderBy
    // would add a range-sort sample job and a stage
    val statusCounts = spark.read.schema(deduped.schema)
      .parquet(s"$output/transactions").groupBy("status").count()
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      .sortBy(sc => UTF8String.fromString(sc._1))
    val report = Report(stats.get, statusCounts, integrity.get,
      quarantined.get("n").asInstanceOf[Long])

    def kv(m: Iterable[(String, Any)]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
    println(s"== table stats ==\n${kv(report.tableStats)}")
    println(s"== status counts ==\n${kv(report.statusCounts)}")
    println(s"== integrity ==\n${kv(report.integrity)}")
    println(s"== corrupt rows quarantined: ${report.quarantined} -> $corruptDir ==")
    report
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: EtlMain <input.csv> <output_dir> [--cores N] " +
          "[--run-ts ISO8601] [--corrupt-dir DIR]\n" +
          "exit codes: 0 success, 1 failure, 52 a task ran out of memory")
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
    // one reduce partition per 1/32 of the heap of input, so the dedup's
    // sort fits a task's share of a small heap (at -Xmx512m a 1.1 GB input
    // ran out of heap with 4 partitions, exit 52, and loaded with 64)
    val parts = new java.io.File(input).length / (Runtime.getRuntime.maxMemory / 32)
    spark.conf.set("spark.sql.shuffle.partitions", math.max(cores.toLong, parts))
    val code =
      try { run(spark, input, output, runTs, corruptDir); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"pipeline failed: ${e.getMessage}")
          1
      }
    spark.stop()
    sys.exit(code)
  }
}
