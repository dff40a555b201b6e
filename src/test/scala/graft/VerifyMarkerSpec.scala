package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Verify error-marker contract (r6 VERDICT #5): a query that
  * THROWS during the correctness dump must still land an output under its
  * name — a one-row `_graft_error` frame whose schema can never match an
  * oracle — so the gate records a FAIL for it instead of the row silently
  * vanishing from the round's correctness file.
  */
class VerifyMarkerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a throwing query yields a _graft_error marker row, not an absence") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_verify_marker").toString
    Verify.writeErrorMarker(spark, out, "q_boom",
      new IllegalStateException("synthetic failure"))
    val back = spark.read.parquet(s"$out/q_boom")
    assert(back.columns.toSeq == Seq("_graft_error"),
      "marker schema must be the reserved error column (never oracle-matching)")
    val rows = back.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "synthetic failure")
  }

  test("a null-message throwable still writes a non-empty marker") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_verify_marker").toString
    Verify.writeErrorMarker(spark, out, "q_boom2",
      new RuntimeException(null: String))
    val rows = spark.read.parquet(s"$out/q_boom2").collect()
    assert(rows.length == 1 && rows.head.getString(0).nonEmpty)
  }

  test("a named subset writes only its results, every oracle, and refuses " +
      "an unknown name before writing") {
    val out = Files.createTempDirectory("graft_verify_subset").toString
    val names = Seq("q05_status_counts", "q11_region_revenue")
    Verify.run(spark, TestSpark.sf, out, names)
    assert(new File(out).list().toSet == names.toSet + "oracle_sql.json",
      "a subset run must write exactly its own result dirs")
    names.foreach { n =>
      val back = spark.read.parquet(s"$out/$n")
      assert(!back.columns.contains("_graft_error"), s"$n threw")
      assert(back.count() > 0, s"$n wrote no rows")
    }
    val oracles = new ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$out/oracle_sql.json")))
    assert(oracles.fieldNames().asScala.toSet == Oracles.all.keySet,
      "oracle_sql.json must hold every oracle, not just the subset's")

    val refused = s"${Files.createTempDirectory("graft_verify_unknown")}/out"
    val e = intercept[IllegalArgumentException] {
      Verify.run(spark, TestSpark.sf, refused,
        Seq("q05_status_counts", "q_no_such_query"))
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(!new File(refused).exists(),
      "an unknown name must be refused before any dir is written")
  }
}
