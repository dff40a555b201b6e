package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.{EpochStore, RetentionPolicy}

/** The ingestion loops' housekeeping policy (r15 — r14 VERDICT #5):
  * one value type replaces five hand-rolled per-loop lambdas. The
  * gates pin end states (q164's full-compact cadence and q188's
  * retain-1 cadence are unchanged under the DEFAULT-equivalent
  * policies); this spec pins the decision table itself against a
  * recording driver — when the compact fires, with which `below`, and
  * when the policy skips.
  */
class RetentionPolicySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** A small fp artifact with serving 2, floor 0 (base + two folds). */
  private lazy val dir: String = {
    val d = Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
      .limit(120)
    val idx = "/tmp/graft_test_retpol"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(d.filter(col("doc_id") % 3 === 0), idx)
      def fold(wave: org.apache.spark.sql.DataFrame): Unit = {
        val kept = Dedup.dedupAgainstIndex(idx, wave)
          .filter(col("kept")).select("doc_id")
        Dedup.appendFingerprintIndex(idx,
          wave.join(kept, Seq("doc_id"), "left_semi"))
      }
      fold(d.filter(col("doc_id") % 3 === 1))
      fold(d.filter(col("doc_id") % 3 === 2))
    }
    idx
  }

  /** Run the policy once and record what it drove. */
  private def drive(p: RetentionPolicy, batchIndex: Long)
      : (Option[Option[Int]], Boolean) = {
    var compacted: Option[Option[Int]] = None
    var vacuumed = false
    p.housekeep(spark, dir, batchIndex, "RetentionPolicySpec",
      "writeFingerprintIndex")(
      below => { compacted = Some(below); false }, // never mutate here
      () => vacuumed = true)
    (compacted, vacuumed)
  }

  test("defaults reproduce the pre-r15 hardcoded cadence: full " +
      "compact + vacuum on every batch") {
    assert(drive(RetentionPolicy(), 0L) == (Some(None), true))
    assert(drive(RetentionPolicy(), 7L) == (Some(None), true))
  }

  test("everyBatches gates on the 1-based batch count") {
    val p = RetentionPolicy(everyBatches = 3)
    assert(drive(p, 0L) == (None, false))
    assert(drive(p, 1L) == (None, false))
    assert(drive(p, 2L) == (Some(None), true))
    assert(drive(p, 5L) == (Some(None), true))
  }

  test("minSprawlEpochs skips while the artifact is tidier than the " +
      "bar, and 0 never skips") {
    // the fixture's sprawl is serving - floor = 2
    assert(drive(RetentionPolicy(minSprawlEpochs = 2), 0L) ==
      (None, false))
    assert(drive(RetentionPolicy(minSprawlEpochs = 1), 0L) ==
      (Some(None), true))
  }

  test("retainHorizons folds below serving - h; a horizon at or below " +
      "the floor skips the compact but still vacuums") {
    // serving 2, floor 0: retain 1 → compactBelow(1)
    assert(drive(RetentionPolicy(retainHorizons = Some(1)), 0L) ==
      (Some(Some(1)), true))
    // retain 2 → horizon 0 == floor: foldable range empty but legal
    assert(drive(RetentionPolicy(retainHorizons = Some(2)), 0L) ==
      (Some(Some(0)), true))
    // retain 5 → horizon below the floor: nothing to fold, no refusal
    assert(drive(RetentionPolicy(retainHorizons = Some(5)), 0L) ==
      (None, true))
  }

  test("nonsense parameters refuse at construction") {
    intercept[IllegalArgumentException] {
      RetentionPolicy(everyBatches = 0) }
    intercept[IllegalArgumentException] {
      RetentionPolicy(minSprawlEpochs = -1) }
    intercept[IllegalArgumentException] {
      RetentionPolicy(retainHorizons = Some(0)) }
  }

  test("the q188 policy (retain 1) reproduces the loop's exact end " +
      "state when driven for real") {
    // a fresh artifact driven through the recorded decisions MUTATES:
    // fold → housekeep × 3 with retain-1 must land (serving, floor)
    // exactly where the hardcoded q188 lambda did — (5, 3)
    val d = Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
      .limit(120)
    val idx = "/tmp/graft_test_retpol_real"
    val p = RetentionPolicy(retainHorizons = Some(1))
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(d.filter(col("doc_id") % 4 === 0), idx)
      Seq(1, 2, 3).zipWithIndex.foreach { case (r, i) =>
        val wave = d.filter(col("doc_id") % 4 === r)
        val kept = Dedup.dedupAgainstIndex(idx, wave)
          .filter(col("kept")).select("doc_id")
        Dedup.appendFingerprintIndex(idx,
          wave.join(kept, Seq("doc_id"), "left_semi"))
        p.housekeep(spark, idx, i.toLong, "RetentionPolicySpec",
          "writeFingerprintIndex")(
          below => Dedup.index.compact(spark, idx, below),
          () => Dedup.index.vacuum(spark, idx))
      }
    }
    val st = EpochStore.servingState(spark, idx, "RetentionPolicySpec",
      "writeFingerprintIndex")
    assert(st.epoch == 5 && st.floor == 3,
      s"expected the q188 end state (5, 3), got (${st.epoch}, ${st.floor})")
  }
}
