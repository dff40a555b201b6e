package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Ann, Bm25, Dedup, Multimodal, TextDedup, TextIndex}
import graft.sources.{EpochLayer, EpochStore}

/** The append-path SCHEMA PREMISE (r14 — r13 VERDICT #4): every epoch
  * of a table must carry the table's stored schema. Parquet mixed
  * reads do not fail on drift — a renamed column reads as NULLs, a
  * retyped one breaks only at probe time — so the shared write path
  * (`EpochStore.writeEpoch`) refuses a drifted frame BEFORE any bytes
  * land. One test per index family pins the refusal message (extra /
  * renamed / retyped column) and that the attempt leaves the artifact
  * untouched; the check is order-sensitive and nullability-blind by
  * design (parquet read-back is all-nullable while in-flight frames
  * often are not — see the writeEpoch scaladoc).
  *
  * ADDITIVE evolution (r15 — r14 VERDICT #2): the same tests then pin
  * the one evolution the layout accepts — a WIDENING epoch under
  * `allowAdditive` (stored columns an unchanged prefix, new columns
  * appended): it refuses WITHOUT the flag, lands WITH it, the mixed
  * read NULL-backfills the old epochs in one scan, and prefix
  * violations (rename/reorder under the flag) still refuse. The
  * hash-exact gate is q191 (fp family end-to-end).
  */
class EpochSchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def carryMeta(st: EpochStore.Serving)
      : org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
        java.util.Collections.singletonList(st.meta), st.meta.schema)
      .drop("floor_epoch")

  /** Attempt three drifted appends of `table` and require the loud
    * refusal each time, then prove the artifact did not move.
    */
  private def assertDriftRefused(dir: String, table: String): Unit = {
    val st = EpochLayer.servingState(spark, dir, "EpochSchemaSpec",
      "rebuild")
    val meta = carryMeta(st)
    val good = EpochLayer.tableThrough(spark, dir, table, st.floor,
      st.epoch).limit(1)
    def refuse(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        EpochLayer.writeEpoch(dir, st.epoch + 1, Seq(table -> df),
          meta, st.floor)
      }
      assert(e.getMessage.contains("schema drift") &&
        e.getMessage.contains(s"'$table'"),
        s"$what must refuse as schema drift, got: ${e.getMessage}")
    }
    CacheScope.withScope {
      refuse(good.withColumn("extra_col", lit(1)), "an extra column")
      val first = good.schema.fields.head.name
      refuse(good.withColumnRenamed(first, s"${first}_renamed"),
        "a renamed column")
      val retyped =
        if (good.schema.fields.head.dataType ==
            org.apache.spark.sql.types.StringType) "binary"
        else "string"
      refuse(good.withColumn(first, col(first).cast(retyped)),
        "a retyped column")
    }
    val after = EpochLayer.servingState(spark, dir, "EpochSchemaSpec",
      "rebuild")
    assert(after.epoch == st.epoch && after.floor == st.floor,
      "a refused drifted append must leave the artifact untouched")
  }

  /** Pin the additive path on the family artifact: a widening epoch
    * refuses without `allowAdditive`, lands with it, the mixed read
    * NULL-backfills the pre-evolution rows in one scan, and prefix
    * violations refuse even under the flag. Mutates the artifact —
    * run after [[assertDriftRefused]].
    */
  private def assertAdditive(dir: String, table: String): Unit =
    CacheScope.withScope {
      val st = EpochLayer.servingState(spark, dir, "EpochSchemaSpec",
        "rebuild")
      val meta = carryMeta(st)
      val live = EpochLayer.tableThrough(spark, dir, table, st.floor,
        st.epoch)
      val n = live.count()
      assert(n > 0, "test premise: a non-empty stored table")
      val widened = live.withColumn("evo_tag", lit("r15"))
      // refuses without the flag (covered above as "an extra column",
      // re-pinned here against the exact widened frame)
      intercept[IllegalArgumentException] {
        EpochLayer.writeEpoch(dir, st.epoch + 1, Seq(table -> widened),
          meta, st.floor)
      }
      // prefix violations refuse EVEN under the flag
      val cols = live.columns
      if (cols.length >= 2) {
        val reordered = live.select((cols.reverse.map(col) :+
          lit("x").as("evo_tag")): _*)
        val e = intercept[IllegalArgumentException] {
          EpochLayer.writeEpoch(dir, st.epoch + 1,
            Seq(table -> reordered), meta, st.floor,
            allowAdditive = true)
        }
        assert(e.getMessage.contains("schema drift"),
          "a reorder under allowAdditive must refuse as drift")
      }
      // the widening epoch lands with the flag...
      EpochLayer.writeEpoch(dir, st.epoch + 1, Seq(table -> widened),
        meta, st.floor, allowAdditive = true)
      val after = EpochLayer.servingState(spark, dir, "EpochSchemaSpec",
        "rebuild")
      assert(after.epoch == st.epoch + 1,
        "the additive epoch must commit")
      // ...and the mixed read serves old + new epochs in one frame,
      // NULL-backfilling the pre-evolution rows
      val mixed = EpochLayer.tableThrough(spark, dir, table,
        after.floor, after.epoch)
      assert(mixed.columns.last == "evo_tag",
        "the widened column must append after the stored prefix")
      val counts = mixed.agg(count(lit(1)).as("all"),
        count(col("evo_tag")).as("tagged")).head()
      assert(counts.getLong(0) == 2 * n && counts.getLong(1) == n,
        s"NULL backfill: expected ${2 * n} rows with $n tagged, got " +
          s"(${counts.getLong(0)}, ${counts.getLong(1)})")
      // the widened schema IS the stored schema now: a narrow append
      // refuses until the writer carries (or re-widens) the column
      intercept[IllegalArgumentException] {
        EpochLayer.writeEpoch(dir, after.epoch + 1,
          Seq(table -> live.limit(1)), meta, after.floor)
      }
    }

  test("fp: a drifted fps epoch refuses loudly before any bytes land") {
    val d = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").limit(60)
    val dir = "/tmp/graft_test_schema_fp"
    CacheScope.withScope { Dedup.writeFingerprintIndex(d, dir) }
    assertDriftRefused(dir, "fps")
    assertAdditive(dir, "fps")
  }

  test("text: a drifted docs epoch refuses loudly") {
    val d = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").limit(60)
    val dir = "/tmp/graft_test_schema_txt"
    CacheScope.withScope {
      TextIndex.writeJaccardIndex(d, dir, threshold = 0.6) }
    assertDriftRefused(dir, "docs")
    assertAdditive(dir, "docs")
  }

  test("bm25: a drifted postings epoch refuses loudly") {
    val d = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").limit(60)
    val dir = "/tmp/graft_test_schema_bm25"
    CacheScope.withScope { Bm25.writeBm25Index(d, dir) }
    assertDriftRefused(dir, "postings")
    assertAdditive(dir, "postings")
  }

  test("cp: a drifted vectors epoch refuses loudly") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding").limit(120)
    val dir = "/tmp/graft_test_schema_cp"
    CacheScope.withScope {
      Ann.writeCpIndex(e, dir, threshold = 0.4) }
    assertDriftRefused(dir, "vectors")
    assertAdditive(dir, "vectors")
  }

  test("dhash: a drifted hashes epoch refuses loudly") {
    val d = Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 3 === 0).limit(30)
    val dir = "/tmp/graft_test_schema_dh"
    CacheScope.withScope { Multimodal.writeDHashIndex(d, dir) }
    assertDriftRefused(dir, "hashes")
    assertAdditive(dir, "hashes")
  }

  test("decon: a drifted grams epoch refuses loudly") {
    val d = Tables.documents(spark, TestSpark.sf)
      .filter(length(col("text")) >= 60)
      .select("doc_id", "text").limit(20)
    val dir = "/tmp/graft_test_schema_dc"
    CacheScope.withScope { TextDedup.writeDeconIndex(d, dir, w = 60) }
    assertDriftRefused(dir, "grams")
    assertAdditive(dir, "grams")
  }
}
