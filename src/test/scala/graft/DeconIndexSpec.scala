package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextDedup}

/** The stored benchmark-window suite (r13 — the sixth EpochStore
  * family): q158's benchmark half persisted as a versioned artifact so
  * arriving corpus shards decontaminate against the store, a new
  * benchmark wave appends, and a leaked/retired benchmark DELETES (the
  * takedown semantics an eval suite genuinely needs). The hash-exact
  * lifecycle gate is q180; this spec pins indexed ≡ live with a
  * load-bearing planted contamination, retire-stops-cutting /
  * restore-resumes, physical reclaim, zero-gram docs, and the refusal
  * edges.
  */
class DeconIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def epochDirs(dir: String, table: String): Set[Int] = {
    val root = new java.io.File(s"$dir/$table")
    if (!root.exists()) Set.empty
    else root.listFiles().toSeq.map(_.getName)
      .collect { case s if s.startsWith("epoch=") =>
        s.stripPrefix("epoch=").toInt }.toSet
  }

  private def outSet(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Long, Long, Long, String)] =
    CacheScope.withScope {
      df.as[(Long, Long, Long, Long, Long, String)].collect().toSet
    }

  test("stored suite: probe equals the live path; a retired benchmark " +
      "stops cutting; restore resumes; compact+vacuum reclaims " +
      "physically") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 20 =!= 3)
      .select("doc_id", "text")
    // plant one guaranteed contamination: a benchmark doc that IS a
    // corpus doc's text (every window of that corpus doc gets cut), so
    // retire/restore are load-bearing regardless of organic overlap
    val donor = corpus.filter(length(col("text")) >= 120)
      .orderBy(col("doc_id")).limit(1)
    val planted = donor.select(lit(900000L).as("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 20 === 3)
      .select("doc_id", "text").unionByName(planted)
    val dir = "/tmp/graft_test_decon"
    CacheScope.withScope {
      TextDedup.writeDeconIndex(bench, dir, w = 60)
    }
    val live = outSet(TextDedup.decontaminateSpans(corpus, bench, 60))
    val indexed = outSet(TextDedup.decontaminateAgainstIndex(corpus, dir))
    assert(indexed == live && indexed.nonEmpty,
      "indexed decontamination must equal the live path")
    val donorId = CacheScope.withScope {
      donor.select("doc_id").as[Long].head()
    }
    assert(indexed.exists(r => r._1 == donorId && r._4 > 0),
      "test premise: the planted benchmark must cut its donor doc")
    // RETIRE the planted benchmark: its windows stop cutting the
    // instant the tombstone commits — equals the live path without it
    CacheScope.withScope {
      TextDedup.index.delete(dir, Seq(900000L).toDF("doc_id"))
    }
    val withoutPlanted = outSet(TextDedup.decontaminateSpans(corpus,
      bench.filter(col("doc_id") =!= 900000L), 60))
    assert(outSet(TextDedup.decontaminateAgainstIndex(corpus, dir)) ==
      withoutPlanted, "a retired benchmark must stop cutting")
    assert(withoutPlanted != live, "test premise: retiring the planted " +
      "benchmark must change the output")
    // RESTORE it (tombstones name the past): cutting resumes
    CacheScope.withScope {
      TextDedup.appendDeconIndex(dir, planted)
    }
    assert(outSet(TextDedup.decontaminateAgainstIndex(corpus, dir)) ==
      live, "a restored benchmark must cut again")
    // compact + vacuum: tombstones fold away physically, one epoch
    // remains, and the probe is unchanged by the rewrite
    CacheScope.withScope {
      assert(TextDedup.index.compact(spark, dir))
      TextDedup.index.vacuum(spark, dir)
    }
    assert(epochDirs(dir, "deletes").isEmpty &&
      epochDirs(dir, "docs").size == 1 &&
      epochDirs(dir, "grams").size == 1,
      "compact+vacuum must leave one epoch and no tombstones")
    assert(outSet(TextDedup.decontaminateAgainstIndex(corpus, dir)) ==
      live, "the compacted suite must serve the identical output")
  }

  test("zero-gram benchmarks are stored, auditable, and deletable; " +
      "refusals: append id clash, non-live delete, family drift") {
    val d = Tables.documents(spark, TestSpark.sf)
    val bench = d.filter(col("doc_id") % 20 === 3)
      .select("doc_id", "text")
      // a doc too short to yield any 60-char window
      .unionByName(Seq((910000L, "tiny")).toDF("doc_id", "text"))
    val dir = "/tmp/graft_test_decon_refuse"
    CacheScope.withScope {
      TextDedup.writeDeconIndex(bench, dir, w = 60)
    }
    // the zero-gram doc is live (docs is the liveness truth, not grams)
    assert(CacheScope.withScope {
      TextDedup.storedDeconDocIds(spark, dir)
        .filter(col("doc_id") === 910000L).count()
    } == 1L)
    // ... and deletable
    CacheScope.withScope {
      TextDedup.index.delete(dir, Seq(910000L).toDF("doc_id"))
    }
    // append id clash refuses
    val clash = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        TextDedup.appendDeconIndex(dir,
          bench.filter(col("doc_id") % 20 === 3).limit(1))
      }
    }
    assert(clash.getMessage.contains("already stored"))
    // deleting a never-stored id refuses
    val ne = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        TextDedup.index.delete(dir, Seq(987654321L).toDF("doc_id"))
      }
    }
    assert(ne.getMessage.contains("not live stored"))
    // family drift: probing a foreign family's artifact refuses by name
    val fpDir = "/tmp/graft_test_decon_foreign"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(
        d.filter(col("doc_id") % 20 === 3).select("doc_id", "text"),
        fpDir)
    }
    val drift = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        TextDedup.decontaminateAgainstIndex(
          d.select("doc_id", "text").limit(5), fpDir)
      }
    }
    assert(drift.getMessage.contains("decon-win-v1"))
  }
}
