package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Ann, Bm25, Dedup, Multimodal, TextDedup, TextIndex}

/** The COMPACTION quarter of the stored-index lifecycle (r12):
  * compacted ≡ sprawled at every family's probe output, torn
  * compactions invisible, appends continuing above the floor, vacuum
  * reclaiming exactly the superseded epochs — plus the BM25 stored
  * index's additive-append exactness and its refusals.
  */
class EpochCompactionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def epochDirs(dir: String, table: String): Set[Int] = {
    val root = new java.io.File(s"$dir/$table")
    if (!root.exists()) Set.empty
    else root.listFiles().toSeq.map(_.getName)
      .collect { case s if s.startsWith("epoch=") =>
        s.stripPrefix("epoch=").toInt }.toSet
  }

  private def metas(dir: String): Set[Int] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Set.empty
    else root.listFiles().toSeq.map(_.getName)
      .collect { case s if s.startsWith("meta_") =>
        s.stripPrefix("meta_").toInt }.toSet
  }

  test("cp compaction: append → compact → append serves identically to " +
      "a monolithic build; a torn compaction is invisible and retries; " +
      "vacuum reclaims exactly the sub-floor epochs") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val corpus = e.select("vec_id", "embedding")
    val base = corpus.filter(col("vec_id") % 5 =!= 2)
    val g1 = corpus.filter(col("vec_id") % 5 === 2 &&
      col("vec_id") % 3 =!= 1)
    val g2 = corpus.filter(col("vec_id") % 5 === 2 &&
      col("vec_id") % 3 === 1)
    val incoming = e.filter(col("vec_id") % 9 === 1)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    val mono = "/tmp/graft_test_cpcmp_mono"
    val cmp = "/tmp/graft_test_cpcmp"
    // pin parameters from the FINAL count on both paths so the only
    // difference is the construction (the q152 planned-growth sizing)
    val n = corpus.count()
    val k = graft.plans.CrossPolytope.chooseHashesPerBand(n, 0.4, 64, 1e-4)
    val b = graft.plans.CrossPolytope.bandsFor(0.4, k, 64, 1e-4)
    CacheScope.withScope {
      Ann.writeCpIndex(corpus, mono, 0.4, hashesPerBand = k, bands = b)
    }
    CacheScope.withScope {
      Ann.writeCpIndex(base, cmp, 0.4, hashesPerBand = k, bands = b)
      Ann.appendCpIndex(cmp, g1)
      assert(Ann.index.compact(spark, cmp),
        "a two-epoch artifact must compact")
      Ann.appendCpIndex(cmp, g2)
    }
    // epochs now: 0 (base), 1 (g1), 2 (compacted, floor), 3 (g2)
    assert(epochDirs(cmp, "vectors") == Set(0, 1, 2, 3) &&
      metas(cmp) == Set(0, 1, 2, 3))
    val viaCmp = CacheScope.withScope {
      Ann.cosinePairsCpIndexed(cmp, incoming, 0.4)
        .as[(Long, Long)].collect().toSet
    }
    val viaMono = CacheScope.withScope {
      Ann.cosinePairsCpIndexed(mono, incoming, 0.4)
        .as[(Long, Long)].collect().toSet
    }
    assert(viaCmp == viaMono && viaCmp.nonEmpty,
      s"compacted-path probe ${viaCmp.size} != monolithic ${viaMono.size}")
    // TORN compaction: epoch=4 data lands with NO meta_4 — scaled-id
    // copies that would pair with incoming if served. Invisible.
    spark.read.parquet(s"$cmp/vectors/epoch=3")
      .select((col("vec_id") + 700000L).as("vec_id"), col("v"))
      .write.parquet(s"$cmp/vectors/epoch=4")
    val viaTorn = CacheScope.withScope {
      Ann.cosinePairsCpIndexed(cmp, incoming, 0.4)
        .as[(Long, Long)].collect().toSet
    }
    assert(viaTorn == viaCmp,
      "a torn compaction (data without meta_N) must be invisible")
    // the RETRY path: a real compact targets the same epoch number the
    // torn attempt used (serving + 1 = 4) and overwrites it
    assert(CacheScope.withScope { Ann.index.compact(spark, cmp) })
    val afterRetry = CacheScope.withScope {
      Ann.cosinePairsCpIndexed(cmp, incoming, 0.4)
        .as[(Long, Long)].collect().toSet
    }
    assert(afterRetry == viaMono,
      "compaction retried over a torn attempt must serve unchanged")
    // vacuum: exactly the sub-floor epochs and their metas disappear;
    // the probe is unchanged afterwards
    Ann.index.vacuum(spark, cmp)
    assert(epochDirs(cmp, "vectors") == Set(4) &&
      epochDirs(cmp, "bands") == Set(4) && metas(cmp) == Set(4),
      s"vacuum left ${epochDirs(cmp, "vectors")} / ${metas(cmp)}")
    val afterVacuum = CacheScope.withScope {
      Ann.cosinePairsCpIndexed(cmp, incoming, 0.4)
        .as[(Long, Long)].collect().toSet
    }
    assert(afterVacuum == viaMono,
      "a vacuumed artifact must serve the identical row set")
    // an artifact that is already one live epoch declines to compact
    assert(!Ann.index.compact(spark, cmp),
      "compacting a single-live-epoch artifact must be a no-op")
  }

  test("mid-compact serve skew refuses: an append landing between the " +
      "rewrite and the meta commit aborts the compaction and the " +
      "appended state serves") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 5 =!= 2)
    val g1 = corpus.filter(col("doc_id") % 5 === 2 &&
      col("doc_id") % 3 =!= 1)
    val g2 = corpus.filter(col("doc_id") % 5 === 2 &&
      col("doc_id") % 3 === 1)
    val dir = "/tmp/graft_test_fpskew"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(base, dir)
      val kept1 = Dedup.dedupAgainstIndex(dir, g1)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir, g1.join(kept1, Seq("doc_id"),
        "left_semi"))
    }
    // simulate the race the single-writer contract forbids: a writer
    // that FORCE-BREAKS the compaction's lease (r14 — with fencing, a
    // well-behaved concurrent append refuses at acquisition; only a
    // lease-breaker can still land mid-compaction) and appends after
    // compact's rewrite but before its meta commit
    graft.sources.EpochLayer.beforeCompactCommit = () => {
      val lockFs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      lockFs.delete(new org.apache.hadoop.fs.Path(s"$dir/_writer_lock"),
        false)
      CacheScope.withScope {
        val kept2 = Dedup.dedupAgainstIndex(dir, g2)
          .filter(col("kept")).select("doc_id")
        Dedup.appendFingerprintIndex(dir, g2.join(kept2, Seq("doc_id"),
          "left_semi"))
      }
    }
    try {
      val se = intercept[IllegalArgumentException] {
        CacheScope.withScope { Dedup.index.compact(spark, dir) }
      }
      assert(se.getMessage.contains("advanced during compaction"))
    } finally {
      graft.sources.EpochLayer.beforeCompactCommit = () => ()
    }
    // the appended state serves — nothing of the aborted rewrite leaks,
    // and a RETRIED compact (writers now serialized) succeeds and
    // serves the identical verdict map
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
    val afterSkew = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    assert(CacheScope.withScope {
      Dedup.index.compact(spark, dir)
    })
    val afterRetry = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    assert(afterRetry == afterSkew && afterSkew.nonEmpty,
      "the retried compaction must serve the post-append state unchanged")
  }

  test("mid-compactBelow serve skew refuses; a torn prior checkpoint " +
      "at the same horizon is overwritten by the retry") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 5 =!= 2)
    val g1 = corpus.filter(col("doc_id") % 5 === 2 &&
      col("doc_id") % 3 =!= 1)
    val g2 = corpus.filter(col("doc_id") % 5 === 2 &&
      col("doc_id") % 3 === 1)
    val dir = "/tmp/graft_test_fpcbskew"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(base, dir)
      val kept1 = Dedup.dedupAgainstIndex(dir, g1)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir, g1.join(kept1, Seq("doc_id"),
        "left_semi"))
    }
    // a TORN prior compactBelow at the same horizon: garbage at
    // checkpoint=1 that no reader serves (the floor does not name it)
    // and that the eventual successful run must overwrite
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    spark.range(3).select(org.apache.spark.sql.functions.lit("garbage")
        .as("junk"))
      .write.mode("overwrite").parquet(s"$dir/fps/checkpoint=1")
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
    def probe() = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    val preTorn = probe()
    assert(preTorn.nonEmpty,
      "a torn (unreferenced) checkpoint must be invisible to probes")
    // the race the single-writer contract forbids, at the partial
    // path — the violator must force-break the lease first (r14)
    graft.sources.EpochLayer.beforeCompactCommit = () => {
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_writer_lock"),
        false)
      CacheScope.withScope {
        val kept2 = Dedup.dedupAgainstIndex(dir, g2)
          .filter(col("kept")).select("doc_id")
        Dedup.appendFingerprintIndex(dir, g2.join(kept2, Seq("doc_id"),
          "left_semi"))
      }
    }
    try {
      val se = intercept[IllegalArgumentException] {
        CacheScope.withScope {
          Dedup.index.compact(spark, dir, below = Some(1)) }
      }
      assert(se.getMessage.contains("advanced during compaction"))
    } finally {
      graft.sources.EpochLayer.beforeCompactCommit = () => ()
    }
    val afterSkew = probe()
    // the retried partial compaction (writers serialized again)
    // overwrites the torn checkpoint and serves identically
    assert(CacheScope.withScope {
      Dedup.index.compact(spark, dir, below = Some(1)) })
    assert(probe() == afterSkew && afterSkew.nonEmpty,
      "the retried compactBelow must serve the post-append state " +
        "unchanged through the rewritten checkpoint")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/fps/checkpoint=1")),
      "the retry must have installed the real checkpoint at horizon 1")
    // and the garbage schema is gone: as-of the checkpoint horizon
    // reads the folded (fp, owner) rows, not the junk column
    val at1 = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir, incoming, asOf = Some(1))
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    assert(at1.nonEmpty)
  }

  test("writer fencing: a well-behaved second writer refuses at lease " +
      "acquisition while a compaction is in flight — and the " +
      "compaction completes untouched") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 5 =!= 2)
    val g1 = corpus.filter(col("doc_id") % 5 === 2)
    val dir = "/tmp/graft_test_fplease"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(base, dir)
      val kept1 = Dedup.dedupAgainstIndex(dir, g1)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir, g1.join(kept1, Seq("doc_id"),
        "left_semi"))
    }
    // the second writer plays by the rules: it tries to acquire and
    // must refuse LOUDLY instead of interleaving with the rewrite
    var refusal: String = ""
    graft.sources.EpochLayer.beforeCompactCommit = () => {
      refusal = intercept[IllegalArgumentException] {
        CacheScope.withScope {
          Dedup.appendFingerprintIndex(dir,
            corpus.filter(col("doc_id") % 7 === 10) // empty is fine
              .select("doc_id", "text"))
        }
      }.getMessage
    }
    try {
      assert(CacheScope.withScope {
        Dedup.index.compact(spark, dir) },
        "the fenced compaction must complete — the intruder refused")
    } finally {
      graft.sources.EpochLayer.beforeCompactCommit = () => ()
    }
    assert(refusal.contains("another writer holds the lease"),
      s"the second writer must refuse at acquisition, got: $refusal")
    // the lease is released after the compaction: a next writer runs
    CacheScope.withScope {
      Dedup.index.delete(dir,
        Dedup.storedOwners(spark, dir).orderBy(col("owner")).limit(1)
          .select(col("owner").as("doc_id")))
    }
  }

  test("writer fencing: a force-broken lease is detected BEFORE the " +
      "meta commit (the rename→meta window) — the compaction is " +
      "fenced off, the old state serves, the retry succeeds") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 5 =!= 2)
    val g1 = corpus.filter(col("doc_id") % 5 === 2)
    val dir = "/tmp/graft_test_fpfence"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(base, dir)
      val kept1 = Dedup.dedupAgainstIndex(dir, g1)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir, g1.join(kept1, Seq("doc_id"),
        "left_semi"))
    }
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_writer_lock")
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
    def probe() = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    val before = probe()
    // a second writer breaks the lease and installs its own token but
    // commits nothing — the serve-skew re-check cannot see it; only
    // the fencing check can
    graft.sources.EpochLayer.beforeCompactCommit = () => {
      fs.delete(lock, false)
      val out = fs.create(lock, false)
      out.write("intruder|fake-token|0".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }
    try {
      val fenced = intercept[IllegalArgumentException] {
        CacheScope.withScope { Dedup.index.compact(spark, dir) }
      }
      assert(fenced.getMessage.contains("changed hands"),
        s"expected the fencing refusal, got: ${fenced.getMessage}")
    } finally {
      graft.sources.EpochLayer.beforeCompactCommit = () => ()
    }
    assert(probe() == before,
      "nothing of the fenced-off compaction may be visible")
    // the operator clears the dead intruder's lease; the retry serves
    // identically
    fs.delete(lock, false)
    assert(CacheScope.withScope {
      Dedup.index.compact(spark, dir) })
    assert(probe() == before,
      "the retried compaction serves the same verdict map")
  }

  test("text compaction: append → compact serves identically; appends " +
      "continue above the floor") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 5 =!= 2)
    val g1 = corpus.filter(col("doc_id") % 5 === 2 &&
      col("doc_id") % 3 =!= 1)
    val g2 = corpus.filter(col("doc_id") % 5 === 2 &&
      col("doc_id") % 3 === 1)
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text")))
    val mono = "/tmp/graft_test_txtcmp_mono"
    val cmp = "/tmp/graft_test_txtcmp"
    CacheScope.withScope { TextIndex.writeJaccardIndex(corpus, mono, 0.6) }
    CacheScope.withScope {
      TextIndex.writeJaccardIndex(base, cmp, 0.6)
      TextIndex.appendJaccardIndex(cmp, g1)
      assert(TextIndex.index.compact(spark, cmp))
      TextIndex.appendJaccardIndex(cmp, g2)
      TextIndex.index.vacuum(spark, cmp)
    }
    assert(epochDirs(cmp, "docs") == Set(2, 3) && metas(cmp) == Set(2, 3))
    val viaCmp = CacheScope.withScope {
      TextIndex.jaccardPairsIndexed(cmp, incoming, 0.6)
        .as[(Long, Long, Double)].collect().toSet
    }
    val viaMono = CacheScope.withScope {
      TextIndex.jaccardPairsIndexed(mono, incoming, 0.6)
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(viaCmp == viaMono && viaCmp.nonEmpty,
      s"compacted text probe ${viaCmp.size} != monolithic ${viaMono.size}")
  }

  test("fp compaction + vacuum: verdicts unchanged; the floored artifact " +
      "is the only thing left on disk") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 5 =!= 2)
    val grown = corpus.filter(col("doc_id") % 5 === 2)
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text")))
    val sprawl = "/tmp/graft_test_fpcmp_sprawl"
    val cmp = "/tmp/graft_test_fpcmp"
    // build the IDENTICAL probe-then-append construction twice and
    // compact+vacuum only one — compacted ≡ sprawled is the compaction
    // contract. (NOT compared against a monolithic
    // writeFingerprintIndex: for an fp straddling the %5 split the
    // probed path stores the BASE min as owner while a monolithic
    // build stores the corpus-wide min — equal only while the testdata
    // happens to plant no straddling group; r12 review.)
    def buildProbed(dir: String): Unit = CacheScope.withScope {
      Dedup.writeFingerprintIndex(base, dir)
      val kept = Dedup.dedupAgainstIndex(dir, grown)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir,
        grown.join(kept, Seq("doc_id"), "left_semi"))
    }
    buildProbed(sprawl)
    buildProbed(cmp)
    CacheScope.withScope {
      assert(Dedup.index.compact(spark, cmp))
      Dedup.index.vacuum(spark, cmp)
    }
    assert(epochDirs(cmp, "fps") == Set(2) && metas(cmp) == Set(2))
    val viaCmp = CacheScope.withScope {
      Dedup.dedupAgainstIndex(cmp, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    val viaSprawl = CacheScope.withScope {
      Dedup.dedupAgainstIndex(sprawl, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    assert(viaCmp == viaSprawl && viaCmp.nonEmpty,
      s"compacted fp verdicts ${viaCmp.size} != sprawled ${viaSprawl.size}")
  }

  test("an EMPTY meta_N directory (the torn-committer shape) skips to " +
      "the last complete epoch — pins the Spark error-condition " +
      "coupling in EpochStore.servingState (r12 ADVICE)") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val dir = "/tmp/graft_test_tornmeta"
    CacheScope.withScope { Dedup.writeFingerprintIndex(corpus, dir) }
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
    val before = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    // the committer mkdirs meta_N before any task commits — a crash
    // mid-meta leaves exactly an EMPTY directory; if a Spark bump
    // renames UNABLE_TO_INFER_SCHEMA this test fails in CI instead of
    // bricking a production probe
    assert(new java.io.File(s"$dir/meta_1").mkdirs())
    val after = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    assert(after == before && before.nonEmpty,
      "an empty meta_N dir must be skipped as torn, serving epoch N-1")
  }

  test("vacuum: a grace period defers sub-floor reclaim so a " +
      "pre-compaction reader still succeeds; leaked compact staging " +
      "is always reclaimed; grace 0 reclaims immediately") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 5 =!= 2)
    val grown = corpus.filter(col("doc_id") % 5 === 2)
    val dir = "/tmp/graft_test_vacgrace"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(base, dir)
      val kept = Dedup.dedupAgainstIndex(dir, grown)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir,
        grown.join(kept, Seq("doc_id"), "left_semi"))
    }
    // the serving state a slow reader pinned BEFORE the compaction
    val pre = Dedup.index.serving(spark, dir, "test")
    assert(pre.floor == 0 && pre.epoch == 1)
    CacheScope.withScope {
      assert(Dedup.index.compact(spark, dir))
    }
    // a refused/crashed compaction's leaked staging: plant one
    val stage = new java.io.File(s"$dir/fps/.compact_staging")
    assert(stage.mkdirs())
    // vacuum inside a 1-hour grace window: staging reclaimed, but
    // every sub-floor epoch survives…
    Dedup.index.vacuum(spark, dir, graceMs = 3600L * 1000)
    assert(!stage.exists(),
      "leaked .compact_staging must be reclaimed even inside the grace")
    assert(epochDirs(dir, "fps") == Set(0, 1, 2) &&
      metas(dir) == Set(0, 1, 2),
      s"grace window must defer reclaim, left ${epochDirs(dir, "fps")}")
    // …so the pre-compaction reader's scan still succeeds
    val staleRead = graft.sources.EpochLayer.tableThrough(spark, dir,
      "fps", pre.floor, pre.epoch).count()
    assert(staleRead > 0,
      "a reader mid-probe on the pre-compaction serving state must " +
        "still read inside the grace window")
    // grace 0 (the foreachBatch-loop default) reclaims immediately
    Dedup.index.vacuum(spark, dir)
    assert(epochDirs(dir, "fps") == Set(2) && metas(dir) == Set(2))
  }

  test("compact refuses a family meta with no epoch column — the " +
      "carried-meta rewrite premise fails fast on a forgetful family") {
    val dir = "/tmp/graft_test_noepochmeta"
    graft.sources.EpochLayer.deleteAll(spark, dir)
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val badMeta = Seq(("fake-family-v0", 2L)).toDF("family", "n")
    graft.sources.EpochLayer.writeEpoch(dir, 0, Seq("t" -> rows), badMeta)
    graft.sources.EpochLayer.writeEpoch(dir, 1, Seq("t" -> rows
      .withColumn("id", col("id") + 10L)), badMeta)
    val e = intercept[IllegalArgumentException] {
      graft.sources.EpochLayer.compact(spark, dir,
        Seq(graft.sources.EpochStore.CompactTable("t", Some("id"))),
        "test", "rebuild")
    }
    assert(e.getMessage.contains("no 'epoch' column"))
  }

  test("a COMMITTED meta at the target epoch refuses a late writer — " +
      "the non-overlapping double-append race (r15, r14 ADVICE #1): " +
      "two appends that both read the serving state before either " +
      "acquired the lease serialize on it but target the same epoch; " +
      "the second must refuse, never silently overwrite the first") {
    val dir = "/tmp/graft_test_targetrecheck"
    graft.sources.EpochLayer.deleteAll(spark, dir)
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val meta = Seq(("fake-family-v0", 2L, 0)).toDF("family", "n", "epoch")
    graft.sources.EpochLayer.writeEpoch(dir, 0, Seq("t" -> rows), meta)
    // writer A lands epoch 1 (it computed target = serving + 1 = 1)
    graft.sources.EpochLayer.writeEpoch(dir, 1,
      Seq("t" -> rows.withColumn("id", col("id") + 10L)),
      meta.withColumn("epoch", lit(1)))
    // writer B computed the SAME target from the stale serving state;
    // the lease is free (A released), so only the re-check stands
    // between B and silently clobbering A's committed epoch
    val e = intercept[IllegalArgumentException] {
      graft.sources.EpochLayer.writeEpoch(dir, 1,
        Seq("t" -> rows.withColumn("id", col("id") + 20L)),
        meta.withColumn("epoch", lit(1)))
    }
    assert(e.getMessage.contains("already committed"))
    // A's rows serve untouched
    val ids = graft.sources.EpochLayer.tableThrough(spark, dir, "t",
        0, 1).select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 11L, 12L),
      "the refused late write must leave the committed epoch intact")
  }

  test("bm25 stored index: indexed scoring equals the live operator; " +
      "append + compact is exact by additivity; refusals are loud") {
    val d = Tables.documents(spark, TestSpark.sf)
    val docs = d.select("doc_id", "text")
    val terms = Seq("spark", "hash", "window")
    val mono = "/tmp/graft_test_bm25_mono"
    val app = "/tmp/graft_test_bm25_app"
    CacheScope.withScope { Bm25.writeBm25Index(docs, mono) }
    val live = CacheScope.withScope {
      Bm25.topK(docs, terms, 50).as[(Long, Long, Long)].collect().toSeq
    }
    val indexed = CacheScope.withScope {
      Bm25.topKIndexed(spark, mono, terms, 50)
        .as[(Long, Long, Long)].collect().toSeq
    }
    assert(indexed == live && live.nonEmpty,
      "indexed BM25 must reproduce the live operator's exact ranking")
    // append + compact: df sums across epochs, N/Σdl ride the meta —
    // the grown artifact must score identically to the monolithic one
    CacheScope.withScope {
      Bm25.writeBm25Index(docs.filter(col("doc_id") % 5 =!= 2), app)
      Bm25.appendBm25Index(app, docs.filter(col("doc_id") % 5 === 2))
      assert(Bm25.index.compact(spark, app))
      Bm25.index.vacuum(spark, app)
    }
    val viaApp = CacheScope.withScope {
      Bm25.topKIndexed(spark, app, terms, 50).as[(Long, Long, Long)].collect().toSeq
    }
    assert(viaApp == live,
      "append+compact-built BM25 index must score identically — " +
        "df/N/Σdl additivity is the exactness claim")
    // duplicate ids within the corpus refuse at build
    val be = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        Bm25.writeBm25Index(docs.unionByName(docs.limit(1)),
          "/tmp/graft_test_bm25_dup")
      }
    }
    assert(be.getMessage.contains("not one id space"))
    // an appended id already indexed refuses
    val ae = intercept[IllegalArgumentException] {
      CacheScope.withScope { Bm25.appendBm25Index(app, docs.limit(1)) }
    }
    assert(ae.getMessage.contains("already indexed"))
    // family drift: probing a foreign EpochStore artifact refuses by
    // family name (a cp index is a complete epoch of the wrong family)
    val e = Tables.embeddings(spark, TestSpark.sf)
    val foreign = "/tmp/graft_test_bm25_foreign"
    CacheScope.withScope {
      Ann.writeCpIndex(e.select("vec_id", "embedding"), foreign, 0.4)
    }
    val fe = intercept[IllegalArgumentException] {
      Bm25.topKIndexed(spark, foreign, terms, 50)
    }
    assert(fe.getMessage.contains("family"))
    // no artifact refuses by name
    val ne = intercept[IllegalArgumentException] {
      Bm25.topKIndexed(spark, "/tmp/graft_test_bm25_nonexistent", terms, 50)
    }
    assert(ne.getMessage.contains("no complete epoch"))
    // BATCHED retrieval against the store equals the live batched
    // operator — same formula, df summed across epochs, self-retrieval
    // excluded (q168's contract; checked on the append+compact-built
    // artifact so the additive-df path is the one under test)
    val queries = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    val liveBatch = CacheScope.withScope {
      Bm25.topKPerQuery(docs, queries, 5)
        .as[(Long, Long, Long, Int)].collect().toSet
    }
    val idxBatch = CacheScope.withScope {
      Bm25.topKPerQueryIndexed(spark, app, queries, 5)
        .as[(Long, Long, Long, Int)].collect().toSet
    }
    assert(idxBatch == liveBatch && liveBatch.nonEmpty,
      "indexed batched BM25 must reproduce the live batched ranking")
  }

  test("dhash arrival index: indexed probe equals the exact restricted " +
      "pair set including Hamming 0; append+compact-built serves " +
      "identically; refusals are loud") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3)
    val incoming = d.filter(col("doc_id") % 7 === 3)
    val mono = "/tmp/graft_test_dhash_mono"
    CacheScope.withScope { Multimodal.writeDHashIndex(corpus, mono) }
    val got = CacheScope.withScope {
      Multimodal.imageDHashNearIndexed(mono, incoming)
        .as[(Long, Long, Long)].collect().toSet
    }
    // exact restricted baseline straight from the shared decode+hash
    // stage — no banding anywhere
    val ch = CacheScope.withScope {
      Multimodal.dHashes(corpus).collect().toSeq }
    val ih = CacheScope.withScope {
      Multimodal.dHashes(incoming).collect().toSeq }
    val all = ch.map(r => (r.media_id, r.dhash_hi, r.dhash_lo, false)) ++
      ih.map(r => (r.media_id, r.dhash_hi, r.dhash_lo, true))
    val expected = (for {
      a <- all; b <- all
      if a._1 < b._1 && (a._4 || b._4)
      hm = java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3)
      if hm <= 3
    } yield (a._1, b._1, hm.toLong)).toSet
    assert(got == expected && got.nonEmpty,
      s"indexed probe ${got.size} != exact restricted ${expected.size}")
    assert(expected.exists(_._3 == 0L),
      "test premise: the arrival contract's Hamming-0 inclusion must " +
        "be load-bearing (an inc-side identical-hash pair exists)")
    // the full lifecycle build (base + append + compact + vacuum) must
    // serve the identical pair set
    val app = "/tmp/graft_test_dhash_app"
    CacheScope.withScope {
      Multimodal.writeDHashIndex(
        corpus.filter(col("doc_id") % 5 =!= 2), app)
      Multimodal.appendDHashIndex(app,
        corpus.filter(col("doc_id") % 5 === 2))
      assert(Multimodal.index.compact(spark, app))
      Multimodal.index.vacuum(spark, app)
    }
    val viaApp = CacheScope.withScope {
      Multimodal.imageDHashNearIndexed(app, incoming)
        .as[(Long, Long, Long)].collect().toSet
    }
    assert(viaApp == expected,
      "append+compact+vacuum-built dhash index must serve identically")
    // pigeonhole premise: 4 stored bands certify Hamming <= 3 only
    val pe = intercept[IllegalArgumentException] {
      Multimodal.imageDHashNearIndexed(mono, incoming, maxHamming = 4)
    }
    assert(pe.getMessage.contains("pigeonhole"))
    // id collision with the stored corpus refuses
    val ce = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        Multimodal.imageDHashNearIndexed(mono,
          incoming.unionByName(
            corpus.filter(col("doc_id") % 3 === 0).limit(1)))
      }
    }
    assert(ce.getMessage.contains("already exist"))
    // family drift: probing a foreign EpochStore artifact refuses
    // (built inline — a test must not depend on a sibling's artifact)
    val foreign = "/tmp/graft_test_dhash_foreign"
    CacheScope.withScope {
      Bm25.writeBm25Index(d.limit(5).select("doc_id", "text"), foreign)
    }
    val fe = intercept[IllegalArgumentException] {
      Multimodal.imageDHashNearIndexed(foreign, incoming)
    }
    assert(fe.getMessage.contains("family"))
  }

  test("every IndexFamily's lifecycle ops serve their own artifact and " +
      "refuse, by family, any other family's — leaving it untouched") {
    val dir = "/tmp/graft_test_family_table"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(Tables.documents(spark, TestSpark.sf)
        .select("doc_id", "text").limit(20), dir, commitTs = Some(1000L))
    }
    def state = {
      val st = Dedup.index.serving(spark, dir, "IndexFamilyTable")
      (st.epoch, st.floor)
    }
    val before = state
    val families = Seq(Dedup.index, TextIndex.index, Bm25.index, Ann.index,
      Multimodal.index, TextDedup.index)
    assert(families.map(_.id).distinct.size == 6)
    // (op, call, what the artifact's own family returns — or Left(m):
    // it refuses with a message containing m)
    val ops = Seq[(String, graft.sources.IndexFamily => Any,
        Either[String, Any])](
      ("compact", _.compact(spark, dir), Right(false)), // single epoch
      ("compact(below = Some(0))", _.compact(spark, dir, below = Some(0)),
        Right(false)), // the horizon IS the floor: nothing to fold
      ("vacuum", _.vacuum(spark, dir), Right(())),
      ("epochAtTime", _.epochAtTime(spark, dir, 1000L),
        Right(0)), // stamped base
      ("changes", _.changes(spark, dir, 0, 0).count(),
        Right(0L)), // empty window
      ("live", _.live(spark, dir, "IndexFamilyTable").state.epoch,
        Right(0)),
      ("live of an undeclared table",
        _.live(spark, dir, "IndexFamilyTable").table("no_such_table"),
        Left("family 'fp-md5-norm-v1' declares no table 'no_such_table'")),
      ("delete", f => CacheScope.withScope {
        f.delete(dir, Seq(987654321L).toDF("doc_id")) },
        Left("not live"))) // a never-stored id
    for (fam <- families; (op, run, own) <- ops) {
      val refusal =
        if (fam == Dedup.index) own.left.toOption else Some("family")
      refusal match {
        case None => assert(Right(run(fam)) == own, s"${fam.id} $op")
        case Some(want) =>
          val e = intercept[IllegalArgumentException] { run(fam) }
          assert(e.getMessage.contains(want),
            s"${fam.id} $op: ${e.getMessage}")
      }
      assert(state == before, s"${fam.id} $op moved the artifact")
    }
    // write and append, each fed its own family's input: a duplicate id
    // refuses a build in the family's words before anything is deleted;
    // an append refuses by family on another family's artifact, and on
    // this fp artifact by a duplicate id and by a stored id
    val storedOwner = CacheScope.withScope {
      Dedup.storedOwners(spark, dir).agg(min(col("owner"))).head().getLong(0)
    }
    for (fx <- FamilyFixtures.all(spark)) {
      val fam = fx.family
      def own(refusal: String) = if (fam == Dedup.index) refusal else "family"
      val dup = FamilyFixtures.withDup(fx.input(0, 300), fx.key)
      for ((op, run, want) <- Seq[(String, () => Unit, String)](
          ("write", () => fx.build(dup, dir), fx.writeDup),
          ("append", () => fam.append(dir, dup), own(fx.appendDup)),
          ("append a stored id",
            () => fam.append(dir, fx.input(storedOwner, storedOwner + 1)),
            own(fx.clash)))) {
        val e = intercept[IllegalArgumentException] {
          CacheScope.withScope { run() }
        }
        assert(e.getMessage.contains(want), s"${fam.id} $op: ${e.getMessage}")
        assert(state == before, s"${fam.id} $op moved the artifact")
      }
    }
    // live, on each family's own artifact: every declared table reads
    // exactly the layer's rows under the key the probes passed by hand
    // (None: the plain read), at the serving epoch and at the horizon
    // before a delete; an undeclared table refuses by the family's name
    val probeKeys = Map[String, Map[String, Option[String]]](
      Dedup.index.id -> Map("fps" -> Some("owner")),
      TextIndex.index.id -> Map("docs" -> Some("doc_id"),
        "bands" -> Some("doc_id")),
      Bm25.index.id -> Map("postings" -> Some("doc_id"),
        "docs" -> Some("doc_id"), "dfs" -> None),
      Ann.index.id -> Map("vectors" -> Some("vec_id"),
        "bands" -> Some("vec_id")),
      Multimodal.index.id -> Map("hashes" -> Some("media_id"),
        "bands" -> Some("media_id")),
      TextDedup.index.id -> Map("docs" -> Some("doc_id"),
        "grams" -> Some("doc_id")))
    for (fx <- FamilyFixtures.all(spark)) {
      val fam = fx.family
      val at = s"/tmp/graft_test_family_live_${fam.id}"
      CacheScope.withScope { fx.build(fx.input(0, 200), at) }
      val ids = CacheScope.withScope {
        fam.live(spark, at, "familyLive").table(fam.idTable)
          .filter(col(fam.idCol) % 5 === 0).select(col(fam.idCol))
          .distinct().as[Long].collect().toSeq
      }
      assert(ids.nonEmpty, s"${fam.id}: test premise — a delete set")
      CacheScope.withScope { fam.delete(at, ids.toDF(fam.deleteKey)) }
      assert(fam.tables.map(_.name).toSet == probeKeys(fam.id).keySet)
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        CacheScope.withScope { df.collect().map(_.toString).toSeq.sorted }
      for (asOf <- Seq(None, Some(0)); (t, key) <- probeKeys(fam.id)) {
        val lv = fam.live(spark, at, "familyLive", asOf)
        val st = lv.state
        val direct = key.fold(graft.sources.EpochLayer.tableThrough(spark,
            at, t, st.floor, st.epoch))(k =>
          graft.sources.EpochLayer.tableThroughLive(spark, at, t, k,
            st.floor, st.epoch))
        val (got, want) = (rows(lv.table(t)), rows(direct))
        val same = lv.table(t).columns.toSeq == direct.columns.toSeq &&
          got == want
        assert(same, s"${fam.id} $t at $asOf: ${got.diff(want).size} " +
          s"extra and ${want.diff(got).size} missing rows")
      }
      val liveIds = Seq(Some(0), None).map(h => CacheScope.withScope {
        fam.live(spark, at, "familyLive", h).table(fam.idTable)
          .select(col(fam.idCol)).distinct().count()
      })
      assert(liveIds(0) - liveIds(1) == ids.size,
        s"${fam.id}: the delete serves only after its horizon")
      val e = intercept[IllegalArgumentException] {
        fam.live(spark, at, "familyLive").table("no_such_table")
      }
      assert(e.getMessage.contains(
        s"family '${fam.id}' declares no table 'no_such_table'"))
    }
  }

  test("writeEpoch sizes append output by bytes: a many-partition tiny " +
      "frame lands as ONE file, rows exactly preserved") {
    val dir = "/tmp/graft_test_sized_append"
    graft.sources.EpochLayer.deleteAll(spark, dir)
    // 32 map partitions with ~31 rows each — pre-r16 this landed 32
    // tiny files (the frame's partitioning); byte-derived sizing must
    // collapse it to partsFor(bytes, 128MB) = 1
    val df = spark.range(0, 1000, 1, 32)
      .select(col("id"), (col("id") * 2).as("v"))
    val meta = Seq(("sized-append-test", 1000L, 0))
      .toDF("family", "corpus_count", "epoch")
    graft.sources.EpochLayer.writeEpoch(dir, 0, Seq("t" -> df), meta)
    val files = new java.io.File(s"$dir/t/epoch=0").listFiles().toSeq
      .map(_.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(files.size == 1,
      s"expected 1 byte-sized output file, got ${files.size}: $files")
    // no staging relic left behind
    assert(!new java.io.File(s"$dir/t/.compact_staging").exists())
    // the rewrite is a row-multiset identity
    val back = spark.read.parquet(s"$dir/t/epoch=0")
    assert(back.count() == 1000L &&
      back.agg(sum(col("v"))).head().getLong(0) == 999000L)
    // and the epoch serves normally (meta committed after the rewrite)
    val st = graft.sources.EpochLayer.servingState(spark, dir,
      "sizedAppendTest", "rebuild")
    assert(st.epoch == 0 && st.floor == 0)
  }

  test("Checks.counts refuses multi-row aggregates and NULL read " +
      "positions loudly (r15 VERDICT/ADVICE hardening)") {
    import graft.operators.Checks
    // a grouped (multi-row) aggregate must refuse, not resolve to an
    // arbitrary row
    val grouped = spark.range(10)
      .groupBy((col("id") % 2).as("k")).agg(count(lit(1)).as("n"))
    val ge = intercept[IllegalArgumentException] {
      Checks.counts(grouped)
    }
    assert(ge.getMessage.contains("one-row"))
    // a NULL at a read position must refuse, not unbox to 0
    val nullAgg = spark.range(10).agg(max(when(col("id") < 0, col("id")))
      .as("m"))
    val ne = intercept[IllegalArgumentException] {
      Checks.counts(nullAgg)
    }
    assert(ne.getMessage.contains("NULL"))
    // the healthy shape still reads exactly
    val ok = Checks.counts(
      spark.range(7).agg(count(lit(1)).as("n")),
      spark.range(3).agg(count(lit(1)).as("n"),
        count(lit(1)).as("n2")))
    assert(ok == Seq(IndexedSeq(7L), IndexedSeq(3L, 3L)))
  }
}
