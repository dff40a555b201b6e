package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CsvSource

/** E1: the CLI's pipeline and report end to end through [[EtlMain.run]],
  * on a small CSV with one planted row per rule.
  */
class EtlMainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val header = "transaction_id,user_id,amount,ts,status"
  private val runTs = "2024-02-01T00:00:00Z"

  private def runOn(lines: Seq[String]) = {
    val dir = Files.createTempDirectory("graft_etlmain").toString
    val input = s"$dir/txn.csv"
    Files.writeString(java.nio.file.Paths.get(input),
      (header +: lines).mkString("", "\n", "\n"))
    val report = EtlMain.run(spark, input, s"$dir/out", runTs,
      s"$dir/out/_corrupt")
    (input, s"$dir/out", report)
  }

  test("E1: run quarantines, cleans, dedups, writes and reports planted rows") {
    val wrongCount = "t02,u02,20.00"
    val unclosedQuote = "t03,u03,\"30.00,2024-01-03,completed"
    val lines = Seq(
      "t01,u01,10.00,2024-01-01,completed",
      wrongCount,
      unclosedQuote,
      ",u04,40.00,2024-01-04,completed",            // null transaction_id
      "t05,,50.00,2024-01-05,completed",            // null user_id
      "t06,u06,abc,2024-01-06,completed",           // unparseable amount
      "t07,u07,-7.00,2024-01-07,completed",         // negative amount
      "t08,u08,80.00,2024-01-08, CANCELLED ",       // padded cancelled
      "t09,u09,90.00,2024-01-09,",                  // null status
      "t10,u10,100.00,2024-01-10,pending",          // dup: loses
      "t10,u10,150.00,2024-01-11,completed",        // dup: higher amount wins
      "t11,u11,11.00,2024-01-12, Pending ")         // padded status
    val (input, out, report) = runOn(lines)

    // every data line lands on exactly one side of the split
    CacheScope.withScope {
      val (clean, corrupt) = CsvSource.readTxn(spark, input)
      assert(clean.count() == 10)
      assert(corrupt.count() == 2)
      assert(clean.count() + corrupt.count() == lines.size)
    }

    assert(spark.read.parquet(s"$out/transactions").collect().toSet == Set(
      Row("t01", "u01", 10.0, "2024-01-01", "completed", runTs),
      Row("t09", "u09", 90.0, "2024-01-09", "unknown", runTs),
      Row("t10", "u10", 150.0, "2024-01-11", "completed", runTs),
      Row("t11", "u11", 11.0, "2024-01-12", "pending", runTs)))
    assert(spark.read.schema("line STRING").csv(s"$out/_corrupt")
      .collect().map(_.getString(0)).toSet == Set(wrongCount, unclosedQuote))

    assert(report.tableStats == Map("n_rows" -> 4L, "min_amount" -> 10.0,
      "max_amount" -> 150.0, "avg_amount" -> 65.25, "sum_amount" -> 261.0))
    assert(report.statusCounts ==
      Seq("completed" -> 2L, "pending" -> 1L, "unknown" -> 1L))
    assert(report.integrity == Map("n_rows" -> 4L,
      "null_transaction_id" -> 0L, "null_user_id" -> 0L,
      "null_amount" -> 0L, "null_status" -> 0L, "null_processed_at" -> 0L,
      "negative_amount" -> 0L, "cancelled_rows" -> 0L,
      "unknown_status" -> 1L))
    assert(report.quarantined == 2)
  }

  test("E1: run on a header-only CSV completes and reports zeros") {
    val (_, out, report) = runOn(Nil)
    assert(spark.read.parquet(s"$out/transactions").count() == 0)
    assert(report.tableStats == Map("n_rows" -> 0L, "min_amount" -> null,
      "max_amount" -> null, "avg_amount" -> null, "sum_amount" -> null))
    assert(report.statusCounts.isEmpty)
    assert(report.integrity.values.toSet == Set(0L))
    assert(report.quarantined == 0)
  }
}
