package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Bm25, Dedup, TextIndex}

/** The DELETE quarter of the stored-index lifecycle (r13, r12 VERDICT
  * #1): tombstone epochs suppress retracted rows at probe time
  * (epoch-qualified — a deleted id may be re-appended and serves
  * again), family meta counts shrink in the same commit, compact folds
  * the tombstones away physically, and the refusals are loud. The
  * hash-exact probe-after-delete ≡ rebuild-without-deleted claims are
  * the q171/q172/q173 oracle gates; this spec pins the mechanics those
  * gates compose.
  */
class EpochDeleteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def epochDirs(dir: String, table: String): Set[Int] = {
    val root = new java.io.File(s"$dir/$table")
    if (!root.exists()) Set.empty
    else root.listFiles().toSeq.map(_.getName)
      .collect { case s if s.startsWith("epoch=") =>
        s.stripPrefix("epoch=").toInt }.toSet
  }

  test("fp delete: probe-after-delete equals an engine rebuild without " +
      "the deleted docs; a tombstone names the past (re-append before " +
      "compact serves); delete+compact+vacuum physically reclaims") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
    val dir = "/tmp/graft_test_fpdel"
    val rebuilt = "/tmp/graft_test_fpdel_rebuilt"
    CacheScope.withScope { Dedup.writeFingerprintIndex(corpus, dir) }
    // the delete set: stored owners ≡ 2 (mod 13), snapshot to disk
    // BEFORE mutating (the lineage rule the operator scaladoc states)
    val doomedDir = "/tmp/graft_test_fpdel_doomed"
    CacheScope.withScope {
      Dedup.storedOwners(spark, dir).filter(col("owner") % 13 === 2)
        .select(col("owner").as("doc_id"))
        .write.mode("overwrite").parquet(doomedDir)
    }
    val doomed = spark.read.parquet(doomedDir)
    assert(doomed.limit(1).count() == 1, "test premise: a non-empty " +
      "delete set must exist at this SF")
    CacheScope.withScope { Dedup.index.delete(dir, doomed) }
    // the engine yardstick: a fresh build over corpus-minus-deleted
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(
        corpus.join(doomed, Seq("doc_id"), "left_anti"), rebuilt)
    }
    val afterDelete = CacheScope.withScope {
      Dedup.dedupAgainstIndex(dir, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    val viaRebuild = CacheScope.withScope {
      Dedup.dedupAgainstIndex(rebuilt, incoming)
        .as[(Long, String, Long, Boolean)].collect().toSet
    }
    assert(afterDelete == viaRebuild && afterDelete.nonEmpty,
      "probe-after-delete must equal rebuild-without-deleted")
    // the deleted owners are gone from the audit read
    assert(CacheScope.withScope {
      Dedup.storedOwners(spark, dir)
        .filter(col("owner") % 13 === 2).limit(1).count()
    } == 0, "deleted owners must not be live")
    // RE-APPEND a deleted doc BEFORE any compaction: the tombstone
    // suppresses only epochs below itself, so the re-appended row
    // serves — this is the epoch-qualified anti-join, live
    val one = doomed.orderBy(col("doc_id")).limit(1)
    CacheScope.withScope {
      Dedup.appendFingerprintIndex(dir,
        corpus.join(one, Seq("doc_id"), "left_semi"))
    }
    val oneId = one.as[Long].head()
    assert(CacheScope.withScope {
      Dedup.storedOwners(spark, dir)
        .filter(col("owner") === oneId).count()
    } == 1L, "a re-appended deleted id must serve again")
    // compact + vacuum: tombstones fold away physically — no deletes
    // table remains, and the audit read is unchanged by the rewrite
    val beforeCompact = CacheScope.withScope {
      Dedup.storedOwners(spark, dir).as[(String, Long)].collect().toSet
    }
    CacheScope.withScope {
      assert(Dedup.index.compact(spark, dir))
      Dedup.index.vacuum(spark, dir)
    }
    assert(epochDirs(dir, "deletes").isEmpty,
      "compact+vacuum must fold tombstone epochs away physically")
    assert(epochDirs(dir, "fps").size == 1)
    val afterCompact = CacheScope.withScope {
      Dedup.storedOwners(spark, dir).as[(String, Long)].collect().toSet
    }
    assert(afterCompact == beforeCompact,
      "the compacted rewrite must serve the identical live map")
    // the physically-rewritten fps table holds no tombstoned row: the
    // raw parquet (no tombstone logic) equals the live read
    val raw = spark.read.parquet(s"$dir/fps").drop("epoch")
      .as[(String, Long)].collect().toSet
    assert(raw == afterCompact,
      "tombstoned rows must be physically absent after compact")
  }

  test("fp delete refusals: a non-live id refuses (already-deleted or " +
      "never-stored); a duplicated delete set refuses") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val dir = "/tmp/graft_test_fpdel_refuse"
    CacheScope.withScope { Dedup.writeFingerprintIndex(corpus, dir) }
    val doomedDir = "/tmp/graft_test_fpdel_refuse_doomed"
    CacheScope.withScope {
      Dedup.storedOwners(spark, dir).filter(col("owner") % 13 === 2)
        .select(col("owner").as("doc_id")).limit(3)
        .write.mode("overwrite").parquet(doomedDir)
    }
    val doomed = spark.read.parquet(doomedDir)
    // never-stored ids refuse
    val ne = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        Dedup.index.delete(dir,
          Seq(987654321L).toDF("doc_id"))
      }
    }
    assert(ne.getMessage.contains("not live stored owners"))
    // a duplicated delete set refuses
    val de = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        Dedup.index.delete(dir,
          doomed.unionByName(doomed.limit(1)))
      }
    }
    assert(de.getMessage.contains("not one id space"))
    // deleting twice refuses (the ids are no longer live)
    CacheScope.withScope { Dedup.index.delete(dir, doomed) }
    val te = intercept[IllegalArgumentException] {
      CacheScope.withScope { Dedup.index.delete(dir, doomed) }
    }
    assert(te.getMessage.contains("not live stored owners"))
  }

  test("bm25 delete: deleted index scores bit-identically to the live " +
      "operator over corpus-minus-deleted; negative df rows cancel " +
      "physically at compact; delete composes with re-append") {
    val d = Tables.documents(spark, TestSpark.sf)
    val docs = d.select("doc_id", "text")
    val terms = Seq("spark", "hash", "window")
    val dir = "/tmp/graft_test_bm25del"
    CacheScope.withScope { Bm25.writeBm25Index(docs, dir) }
    val gone = docs.filter(col("doc_id") % 13 === 2)
    CacheScope.withScope {
      Bm25.index.delete(dir, gone.select("doc_id"))
    }
    val live = CacheScope.withScope {
      Bm25.topK(docs.filter(col("doc_id") % 13 =!= 2), terms, 50)
        .as[(Long, Long, Long)].collect().toSeq
    }
    val viaDeleted = CacheScope.withScope {
      Bm25.topKIndexed(spark, dir, terms, 50)
        .as[(Long, Long, Long)].collect().toSeq
    }
    assert(viaDeleted == live && live.nonEmpty,
      "the deleted index must score exactly like the live operator " +
        "over the shrunken corpus — df/N/Σdl additivity in reverse")
    // re-append the even half, then the scoring matches that corpus
    CacheScope.withScope {
      Bm25.appendBm25Index(dir, gone.filter(col("doc_id") % 2 === 0))
    }
    val liveBack = CacheScope.withScope {
      Bm25.topK(docs.filter(col("doc_id") % 13 =!= 2 ||
        col("doc_id") % 2 === 0), terms, 50)
        .as[(Long, Long, Long)].collect().toSeq
    }
    val viaBack = CacheScope.withScope {
      Bm25.topKIndexed(spark, dir, terms, 50)
        .as[(Long, Long, Long)].collect().toSeq
    }
    assert(viaBack == liveBack,
      "delete + re-append must score the composed corpus exactly")
    // compact: the dfs rewrite re-sums, so no negative row survives
    CacheScope.withScope {
      assert(Bm25.index.compact(spark, dir))
      Bm25.index.vacuum(spark, dir)
    }
    assert(epochDirs(dir, "deletes").isEmpty &&
      epochDirs(dir, "dfs").size == 1)
    val negRows = spark.read.parquet(s"$dir/dfs")
      .filter(col("df") <= 0).count()
    assert(negRows == 0,
      "compact must physically cancel delete-epoch negative df rows")
    val viaCompact = CacheScope.withScope {
      Bm25.topKIndexed(spark, dir, terms, 50)
        .as[(Long, Long, Long)].collect().toSeq
    }
    assert(viaCompact == liveBack,
      "compaction must not move a single score")
  }

  test("text delete: probe-after-delete equals an engine rebuild " +
      "without the deleted docs; a sub-3-word (never-stored) id " +
      "refuses; top-k search respects the tombstones") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text")))
    val dir = "/tmp/graft_test_txtdel"
    val rebuilt = "/tmp/graft_test_txtdel_rebuilt"
    CacheScope.withScope { TextIndex.writeJaccardIndex(corpus, dir, 0.6) }
    val doomedDir = "/tmp/graft_test_txtdel_doomed"
    CacheScope.withScope {
      TextIndex.storedDocIds(spark, dir).filter(col("doc_id") % 13 === 2)
        .write.mode("overwrite").parquet(doomedDir)
    }
    val doomed = spark.read.parquet(doomedDir)
    assert(doomed.limit(1).count() == 1, "test premise: non-empty")
    CacheScope.withScope { TextIndex.index.delete(dir, doomed) }
    CacheScope.withScope {
      TextIndex.writeJaccardIndex(
        corpus.join(doomed, Seq("doc_id"), "left_anti"), rebuilt, 0.6)
    }
    val afterDelete = CacheScope.withScope {
      TextIndex.jaccardPairsIndexed(dir, incoming, 0.6)
        .as[(Long, Long, Double)].collect().toSet
    }
    val viaRebuild = CacheScope.withScope {
      TextIndex.jaccardPairsIndexed(rebuilt, incoming, 0.6)
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(afterDelete == viaRebuild && afterDelete.nonEmpty,
      "probe-after-delete must equal rebuild-without-deleted")
    // the search form serves the same retracted state
    val searchDel = CacheScope.withScope {
      TextIndex.jaccardTopKIndexed(dir, incoming, k = 5, threshold = 0.6)
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    val searchRebuilt = CacheScope.withScope {
      TextIndex.jaccardTopKIndexed(rebuilt, incoming, k = 5,
        threshold = 0.6).as[(Long, Long, Long, Long)].collect().toSet
    }
    assert(searchDel == searchRebuilt && searchDel.nonEmpty,
      "top-k search must respect tombstones")
    // a doc too short to shingle was never stored — deleting it refuses
    val shortIds = Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 7 =!= 3 &&
        size(split(col("text"), " ")) < 3)
      .select("doc_id").limit(1)
    if (shortIds.count() == 1) {
      val se = intercept[IllegalArgumentException] {
        CacheScope.withScope {
          TextIndex.index.delete(dir, shortIds)
        }
      }
      assert(se.getMessage.contains("not live"))
    }
  }

  test("cp delete: probe-after-delete equals a rebuild without the " +
      "deleted vectors (parameters pinned so the only difference is " +
      "the construction); no currency refusal on shrink, by design") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val corpus = e.filter(col("vec_id") % 7 =!= 3)
      .select("vec_id", "embedding")
    val incoming = e.filter(col("vec_id") % 7 === 3)
      .select("vec_id", "embedding")
    val dir = "/tmp/graft_test_cpdel"
    val rebuilt = "/tmp/graft_test_cpdel_rebuilt"
    val n = corpus.count()
    val k = graft.plans.CrossPolytope.chooseHashesPerBand(n, 0.4, 64, 1e-4)
    val b = graft.plans.CrossPolytope.bandsFor(0.4, k, 64, 1e-4)
    CacheScope.withScope {
      graft.operators.Ann.writeCpIndex(corpus, dir, 0.4,
        hashesPerBand = k, bands = b)
      graft.operators.Ann.index.delete(dir,
        corpus.filter(col("vec_id") % 13 === 2).select("vec_id"))
      graft.operators.Ann.writeCpIndex(
        corpus.filter(col("vec_id") % 13 =!= 2), rebuilt, 0.4,
        hashesPerBand = k, bands = b)
    }
    val afterDelete = CacheScope.withScope {
      graft.operators.Ann.cosinePairsCpIndexed(dir, incoming, 0.4)
        .as[(Long, Long)].collect().toSet
    }
    val viaRebuild = CacheScope.withScope {
      graft.operators.Ann.cosinePairsCpIndexed(rebuilt, incoming, 0.4)
        .as[(Long, Long)].collect().toSet
    }
    assert(afterDelete == viaRebuild && afterDelete.nonEmpty,
      "cp probe-after-delete must equal rebuild-without-deleted")
    // compact folds the tombstones away; the probe is unchanged
    CacheScope.withScope {
      assert(graft.operators.Ann.index.compact(spark, dir))
      graft.operators.Ann.index.vacuum(spark, dir)
    }
    assert(epochDirs(dir, "deletes").isEmpty)
    val afterCompact = CacheScope.withScope {
      graft.operators.Ann.cosinePairsCpIndexed(dir, incoming, 0.4)
        .as[(Long, Long)].collect().toSet
    }
    assert(afterCompact == viaRebuild)
  }

  test("dhash delete: probe-after-delete equals a rebuild without the " +
      "deleted images; delete + compact + vacuum leaves the retracted " +
      "hashes on no disk (the takedown end state)") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3)
    val incoming = d.filter(col("doc_id") % 7 === 3)
    val dir = "/tmp/graft_test_dhashdel"
    val rebuilt = "/tmp/graft_test_dhashdel_rebuilt"
    CacheScope.withScope {
      graft.operators.Multimodal.writeDHashIndex(corpus, dir)
      // only the image slice (doc_id % 3 == 0) is ever stored — the
      // delete set must name LIVE media ids
      graft.operators.Multimodal.index.delete(dir,
        corpus.filter(col("doc_id") % 13 === 2 && col("doc_id") % 3 === 0)
          .select(col("doc_id").as("media_id")))
      graft.operators.Multimodal.writeDHashIndex(
        corpus.filter(col("doc_id") % 13 =!= 2 || col("doc_id") % 3 =!= 0),
        rebuilt)
    }
    val afterDelete = CacheScope.withScope {
      graft.operators.Multimodal.imageDHashNearIndexed(dir, incoming)
        .as[(Long, Long, Long)].collect().toSet
    }
    val viaRebuild = CacheScope.withScope {
      graft.operators.Multimodal.imageDHashNearIndexed(rebuilt, incoming)
        .as[(Long, Long, Long)].collect().toSet
    }
    assert(afterDelete == viaRebuild && afterDelete.nonEmpty,
      "dhash probe-after-delete must equal rebuild-without-deleted")
    CacheScope.withScope {
      assert(graft.operators.Multimodal.index.compact(spark, dir))
      graft.operators.Multimodal.index.vacuum(spark, dir)
    }
    assert(epochDirs(dir, "deletes").isEmpty)
    // the raw hashes table (no tombstone logic) holds no retracted id
    val rawRetracted = spark.read.parquet(s"$dir/hashes")
      .filter(col("media_id") % 13 === 2).count()
    assert(rawRetracted == 0,
      "retracted hashes must be physically absent after compact+vacuum")
    val afterCompact = CacheScope.withScope {
      graft.operators.Multimodal.imageDHashNearIndexed(dir, incoming)
        .as[(Long, Long, Long)].collect().toSet
    }
    assert(afterCompact == viaRebuild)
  }

  test("text top-k search: ranked output equals the exact restricted " +
      "walk; k truncates; query ids clashing with stored ids refuse") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text")))
    val dir = "/tmp/graft_test_txttopk"
    CacheScope.withScope { TextIndex.writeJaccardIndex(corpus, dir, 0.6) }
    val got = CacheScope.withScope {
      TextIndex.jaccardTopKIndexed(dir, incoming, k = 5, threshold = 0.6)
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    // exact restricted walk from the brute pair baseline: directed
    // (query, stored) at J >= 0.6, ppm-ranked
    val brute = CacheScope.withScope {
      TextIndex.jaccardPairsBruteRestricted(corpus, incoming, 0.6)
        .as[(Long, Long, Double)].collect().toSeq
    }
    // canonical pairs -> directed: incoming ids are %7==3 or >= 5e6,
    // stored are the rest; keep only query-vs-stored pairs
    def isInc(id: Long): Boolean = id % 7 == 3 || id >= 5000000L
    // distinct word-3-gram counts, recomputed independently of the
    // engine's shingling pipeline (the same definition, test-local)
    val shSizes = CacheScope.withScope {
      corpus.unionByName(incoming)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), size(array_distinct(expr(
          "transform(sequence(0, size(ws) - 3), " +
            "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")))
          .cast("long").as("n"))
        .as[(Long, Long)].collect().toMap
    }
    val directed = brute.flatMap { case (a, b, _) =>
      if (isInc(a) && !isInc(b)) Some((a, b))
      else if (isInc(b) && !isInc(a)) Some((b, a))
      else None
    }
    // expected: group by query, rank by ppm desc then stored id; the
    // exact ppm reconstructs from the jaccard identity (j = ni/un with
    // un = nq+ns−ni ⇒ ni = j·(nq+ns)/(1+j), algebraically exact and
    // ≪ 0.5 from the rounded double, so round() recovers the integer)
    val bruteMap = brute.map { case (a, b, j) => ((a, b), j) }.toMap
    def ppmOf(q: Long, s: Long): Long = {
      val j = bruteMap.getOrElse((math.min(q, s), math.max(q, s)), -1.0)
      val (nq, ns) = (shSizes(q), shSizes(s))
      // j = ni/un with un = nq+ns-ni  =>  ni = j*(nq+ns)/(1+j)
      val ni = math.round(j * (nq + ns) / (1.0 + j))
      val un = nq + ns - ni
      1000000L * ni / un
    }
    val expected = directed.groupBy(_._1).toSeq.flatMap { case (q, ps) =>
      ps.map { case (_, s) => (q, s, ppmOf(q, s)) }
        .sortBy { case (_, s, ppm) => (-ppm, s) }
        .take(5).zipWithIndex
        .map { case ((qq, s, ppm), i) => (qq, s, ppm, (i + 1).toLong) }
    }.sortBy(t => (t._1, t._4))
    assert(got == expected && got.nonEmpty,
      s"top-k search ${got.size} rows != exact walk ${expected.size}")
    // id-space clash refuses
    val ce = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        TextIndex.jaccardTopKIndexed(dir,
          incoming.unionByName(corpus.limit(1)), k = 5, threshold = 0.6)
      }
    }
    assert(ce.getMessage.contains("one id space"))
  }

  test("torn cross-kind epochs never resurrect: a torn DELETE's " +
      "tombstones do not go live under a later append's meta, a torn " +
      "APPEND's rows do not go live under a later delete's meta, and " +
      "compact sweeps a torn deletes table at its target epoch " +
      "(r13 review)") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val extra = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
    val dir = "/tmp/graft_test_torncross"
    CacheScope.withScope { Dedup.writeFingerprintIndex(corpus, dir) }
    val victim = CacheScope.withScope {
      Dedup.storedOwners(spark, dir).orderBy(col("owner"))
        .limit(1).select(col("owner")).as[Long].head()
    }
    // a TORN delete at epoch 1: the tombstone table landed, the meta
    // (and the shrunken count it carries) did not — per the contract
    // it is invisible; the operator cadence then proceeds with a
    // NORMAL append committing the same epoch number
    Seq(victim).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/deletes/epoch=1")
    CacheScope.withScope {
      val shard = extra.orderBy(col("doc_id")).limit(50)
      val kept = Dedup.dedupAgainstIndex(dir, shard)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir,
        shard.join(kept, Seq("doc_id"), "left_semi"))
    }
    assert(CacheScope.withScope {
      Dedup.storedOwners(spark, dir)
        .filter(col("owner") === victim).count()
    } == 1L, "a torn delete's tombstones must NOT go live under a " +
      "later append's meta — the victim owner must still serve")
    assert(!new java.io.File(s"$dir/deletes/epoch=1").exists(),
      "the append's commit must have swept the torn deletes dir")
    // a TORN append at epoch 2: family rows landed, no meta; a NORMAL
    // delete then commits epoch 2 — the torn rows must not resurrect
    // (they were never counted in any meta)
    Seq(("00000000deadbeef00000000deadbeef", 555000L)).toDF("fp", "owner")
      .write.mode("overwrite").parquet(s"$dir/fps/epoch=2")
    val doomedDir = dir + "_doomed"
    CacheScope.withScope {
      Dedup.storedOwners(spark, dir).filter(col("owner") === victim)
        .select(col("owner").as("doc_id"))
        .write.mode("overwrite").parquet(doomedDir)
      Dedup.index.delete(dir,
        spark.read.parquet(doomedDir))
    }
    assert(CacheScope.withScope {
      Dedup.storedOwners(spark, dir)
        .filter(col("owner") === 555000L).count()
    } == 0L, "a torn append's rows must NOT go live under a later " +
      "delete's meta")
    // a TORN delete at the COMPACTION's target epoch: compact must
    // sweep it, or its own meta commit would carry a zombie tombstone
    // table above the floor forever
    val victim2 = CacheScope.withScope {
      Dedup.storedOwners(spark, dir).orderBy(col("owner").desc)
        .limit(1).select(col("owner")).as[Long].head()
    }
    val before = CacheScope.withScope {
      Dedup.storedOwners(spark, dir).as[(String, Long)].collect().toSet
    }
    Seq(victim2).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/deletes/epoch=3")
    CacheScope.withScope {
      assert(Dedup.index.compact(spark, dir))
      Dedup.index.vacuum(spark, dir)
    }
    val after = CacheScope.withScope {
      Dedup.storedOwners(spark, dir).as[(String, Long)].collect().toSet
    }
    assert(after == before,
      "compact must sweep a torn deletes table at its target epoch — " +
        "the live map must be unchanged by the rewrite")
    assert(!new java.io.File(s"$dir/deletes").exists() ||
      new java.io.File(s"$dir/deletes").listFiles().isEmpty,
      "no tombstone epoch may survive above the floor")
  }

  test("differential reads: added/removed match the declarative delta " +
      "per window (replace semantics; added-and-deleted inside the " +
      "window in neither); empty window; bounds + floor refusals") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 11 =!= 5)
    val slice = corpus.filter(col("doc_id") % 11 === 5)
    val dir = "/tmp/graft_test_fpdiff"
    val doomedDir = dir + "_doomed"
    // epochs: 0 base, 1 append survivors, 2 DELETE %13==2 owners,
    // 3 re-append their even half
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(base, dir)
      val kept = Dedup.dedupAgainstIndex(dir, slice)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir,
        slice.join(kept, Seq("doc_id"), "left_semi"))
      Dedup.storedOwners(spark, dir).filter(col("owner") % 13 === 2)
        .select(col("owner").as("doc_id"))
        .write.mode("overwrite").parquet(doomedDir)
      Dedup.index.delete(dir,
        spark.read.parquet(doomedDir))
      Dedup.appendFingerprintIndex(dir,
        corpus.join(spark.read.parquet(doomedDir)
            .filter(col("doc_id") % 2 === 0),
          Seq("doc_id"), "left_semi"))
    }
    val doomed = spark.read.parquet(doomedDir)
      .as[Long].collect().toSet
    val baseOwners = CacheScope.withScope {
      spark.read.parquet(s"$dir/fps/epoch=0")
        .select("owner").as[Long].collect().toSet
    }
    def changes(from: Int, to: Int): Seq[(String, Long, Option[String])] =
      CacheScope.withScope {
        Dedup.fingerprintIndexChanges(spark, dir, from, to)
          .as[(String, Long, Option[String])].collect().toSeq
      }
    // window (1, 3]: removed = ALL doomed owners (live at 1); added =
    // their re-appended even half, fps restored verbatim — the evens
    // appear in BOTH (replace semantics)
    val w13 = changes(1, 3)
    assert(w13.filter(_._1 == "removed").map(_._2).toSet == doomed,
      "removed over (1,3] must be every owner live at 1 and tombstoned")
    assert(w13.filter(_._1 == "added").map(_._2).toSet ==
      doomed.filter(_ % 2 == 0),
      "added over (1,3] must be exactly the re-appended even half")
    assert(w13.filter(_._1 == "added").forall(_._3.nonEmpty) &&
      w13.filter(_._1 == "removed").forall(_._3.isEmpty),
      "added rows carry the stored fp; removed rows carry none")
    // window (0, 2]: the appended-then-deleted owners (slice ∩ doomed)
    // appear in NEITHER list — the consumer at horizon 0 never saw
    // them; removed is only the BASE owners the delete retracted
    val w02 = changes(0, 2)
    assert(w02.filter(_._1 == "removed").map(_._2).toSet ==
      (doomed intersect baseOwners),
      "removed over (0,2] must be the doomed owners live at 0 only")
    val epoch1Owners = CacheScope.withScope {
      spark.read.parquet(s"$dir/fps/epoch=1")
        .select("owner").as[Long].collect().toSet
    }
    assert(w02.filter(_._1 == "added").map(_._2).toSet ==
      epoch1Owners.filterNot(doomed.contains),
      "added over (0,2] must be the appended survivors minus the " +
        "in-window deletions")
    // the CDC consumer: horizon-1 verdicts patched with the (1, 3]
    // differential must equal the full serving probe — zero artifact
    // reads beyond the delta (incl. NULL-fp docs and inc-min fps)
    locally {
      val shard = d.filter(col("doc_id") % 7 === 3)
        .select("doc_id", "text")
      val patched = CacheScope.withScope {
        Dedup.patchVerdicts(
            Dedup.dedupAgainstIndex(dir, shard, asOf = Some(1)),
            Dedup.fingerprintIndexChanges(spark, dir, 1, 3))
          .as[(Long, Option[String], Long, Boolean)].collect().toSet
      }
      val direct = CacheScope.withScope {
        Dedup.dedupAgainstIndex(dir, shard)
          .as[(Long, Option[String], Long, Boolean)].collect().toSet
      }
      assert(patched == direct && patched.nonEmpty,
        "delta-patching must reproduce the full re-verdict bit-for-bit")
    }
    // empty window: from == to
    assert(changes(3, 3).isEmpty,
      "an empty window must diff to nothing")
    // refusals
    assert(intercept[IllegalArgumentException] { changes(2, 1) }
      .getMessage.contains("inverted"))
    assert(intercept[IllegalArgumentException] { changes(1, 9) }
      .getMessage.contains("does not exist"))
    CacheScope.withScope {
      assert(Dedup.index.compact(spark, dir, below = Some(2)))
    }
    assert(intercept[IllegalArgumentException] { changes(1, 3) }
      .getMessage.contains("predates the floor"),
      "a window starting below the retention point must refuse")
    assert(changes(2, 3).filter(_._1 == "added").map(_._2).toSet ==
      doomed.filter(_ % 2 == 0),
      "a retained window keeps diffing across the checkpoint")
  }

  test("differential wrappers on cp / bm25 / dhash / decon: " +
      "added/removed over the append+delete window match the " +
      "declarative delta") {
    def sets(df: org.apache.spark.sql.DataFrame): (Set[Long], Set[Long]) = {
      val rows = CacheScope.withScope {
        df.as[(String, Long)].collect().toSeq }
      (rows.filter(_._1 == "added").map(_._2).toSet,
        rows.filter(_._1 == "removed").map(_._2).toSet)
    }
    def ids(df: org.apache.spark.sql.DataFrame, c: String): Set[Long] =
      CacheScope.withScope {
        df.select(col(c)).as[Long].collect().toSet }
    // CP: base %2==0, append %2==1, delete %5==0 of both
    locally {
      val e = Tables.embeddings(spark, TestSpark.sf)
        .filter(col("vec_id") < 400).select("vec_id", "embedding")
      val base = e.filter(col("vec_id") % 2 === 0)
      val slice = e.filter(col("vec_id") % 2 === 1)
      val dir = "/tmp/graft_test_diff_cp"
      CacheScope.withScope {
        // parameters pinned from the FINAL count so the append cannot
        // straddle a k-derivation step (the q183 convention)
        val k = graft.plans.CrossPolytope.chooseHashesPerBand(
          e.count(), 0.4, 64, 1e-4)
        val b = graft.plans.CrossPolytope.bandsFor(0.4, k, 64, 1e-4)
        operators.Ann.writeCpIndex(base, dir, threshold = 0.4,
          hashesPerBand = k, bands = b)
        operators.Ann.appendCpIndex(dir, slice)
        operators.Ann.index.delete(dir,
          e.filter(col("vec_id") % 5 === 0).select("vec_id"))
      }
      val (a, r) = sets(operators.Ann.index.changes(spark, dir, 0, 2))
      assert(a == ids(slice.filter(col("vec_id") % 5 =!= 0), "vec_id") &&
        r == ids(base.filter(col("vec_id") % 5 === 0), "vec_id") &&
        a.nonEmpty && r.nonEmpty,
        "cp differential must match the declarative delta")
    }
    // BM25: the doc grain
    locally {
      val d = Tables.documents(spark, TestSpark.sf)
        .filter(col("doc_id") < 400).select("doc_id", "text")
      val base = d.filter(col("doc_id") % 2 === 0)
      val slice = d.filter(col("doc_id") % 2 === 1)
      val dir = "/tmp/graft_test_diff_bm25"
      CacheScope.withScope {
        operators.Bm25.writeBm25Index(base, dir)
        operators.Bm25.appendBm25Index(dir, slice)
        operators.Bm25.index.delete(dir,
          d.filter(col("doc_id") % 5 === 0).select("doc_id"))
      }
      val (a, r) = sets(operators.Bm25.index.changes(spark, dir, 0, 2))
      assert(a == ids(slice.filter(col("doc_id") % 5 =!= 0), "doc_id") &&
        r == ids(base.filter(col("doc_id") % 5 === 0), "doc_id") &&
        a.nonEmpty && r.nonEmpty,
        "bm25 differential must match the declarative delta")
    }
    // DHASH: media grain, %3==0 docs are decodable images
    locally {
      val d = Tables.documents(spark, TestSpark.sf)
        .filter(col("doc_id") < 900 && col("doc_id") % 3 === 0)
      val base = d.filter(col("doc_id") % 2 === 0)
      val slice = d.filter(col("doc_id") % 2 === 1)
      val dir = "/tmp/graft_test_diff_dh"
      CacheScope.withScope {
        operators.Multimodal.writeDHashIndex(base, dir)
        operators.Multimodal.appendDHashIndex(dir, slice)
        operators.Multimodal.index.delete(dir,
          d.filter(col("doc_id") % 5 === 0)
            .select(col("doc_id").as("media_id")))
      }
      val (a, r) = sets(
        operators.Multimodal.index.changes(spark, dir, 0, 2))
      assert(a == ids(slice.filter(col("doc_id") % 5 =!= 0), "doc_id") &&
        r == ids(base.filter(col("doc_id") % 5 === 0), "doc_id") &&
        a.nonEmpty && r.nonEmpty,
        "dhash differential must match the declarative delta")
    }
    // DECON: which benchmarks entered/left the suite
    locally {
      val d = Tables.documents(spark, TestSpark.sf)
        .filter(col("doc_id") < 400 && length(col("text")) >= 60)
        .select("doc_id", "text")
      val base = d.filter(col("doc_id") % 2 === 0)
      val slice = d.filter(col("doc_id") % 2 === 1)
      val dir = "/tmp/graft_test_diff_dc"
      CacheScope.withScope {
        operators.TextDedup.writeDeconIndex(base, dir, w = 60)
        operators.TextDedup.appendDeconIndex(dir, slice)
        operators.TextDedup.index.delete(dir,
          d.filter(col("doc_id") % 5 === 0).select("doc_id"))
      }
      val (a, r) = sets(
        operators.TextDedup.index.changes(spark, dir, 0, 2))
      assert(a == ids(slice.filter(col("doc_id") % 5 =!= 0), "doc_id") &&
        r == ids(base.filter(col("doc_id") % 5 === 0), "doc_id") &&
        a.nonEmpty && r.nonEmpty,
        "decon differential must match the declarative delta")
    }
  }

  test("every family's delete commits the stored meta carried forward: " +
      "all columns kept, epoch + 1, the count shrunk by the deleted " +
      "ids (BM25's n_docs and sum_dl exactly), commit_kind 'delete'") {
    val d = Tables.documents(spark, TestSpark.sf)
    val docs = d.filter(col("doc_id") < 400).select("doc_id", "text")
    val e = Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") < 400).select("vec_id", "embedding")
    val images = d.filter(col("doc_id") < 900 && col("doc_id") % 3 === 0)
    val bench = docs.filter(length(col("text")) >= 60)
    // (family, artifact, its base build)
    val builds = Seq[(graft.sources.IndexFamily, String, String => Unit)](
      (Dedup.index, "/tmp/graft_test_delmeta_fp",
        Dedup.writeFingerprintIndex(docs, _)),
      (TextIndex.index, "/tmp/graft_test_delmeta_txt",
        TextIndex.writeJaccardIndex(docs, _, 0.6)),
      (Bm25.index, "/tmp/graft_test_delmeta_bm25",
        Bm25.writeBm25Index(docs, _)),
      (operators.Ann.index, "/tmp/graft_test_delmeta_cp",
        operators.Ann.writeCpIndex(e, _, 0.4)),
      (operators.Multimodal.index, "/tmp/graft_test_delmeta_dh",
        operators.Multimodal.writeDHashIndex(images, _)),
      (operators.TextDedup.index, "/tmp/graft_test_delmeta_dc",
        operators.TextDedup.writeDeconIndex(bench, _, w = 60)))
    val layout = Set("floor_epoch", "commit_ts", "commit_kind")
    for ((fam, dir, build) <- builds) {
      CacheScope.withScope { build(dir) }
      val before = fam.serving(spark, dir, "deleteMetaTest")
      // the delete set: live stored ids ≡ 0 (mod 5), collected so no
      // lineage reads the artifact it mutates
      val ids = CacheScope.withScope {
        fam.live(spark, dir, "deleteMetaTest").table(fam.idTable)
          .filter(col(fam.idCol) % 5 === 0).select(col(fam.idCol))
          .distinct().as[Long].collect().toSeq
      }
      assert(ids.nonEmpty, s"${fam.id}: test premise — a delete set")
      val shrink = Map(fam.countCol -> ids.size.toLong) ++
        (if (fam == Bm25.index) Map("sum_dl" -> CacheScope.withScope {
          docs.filter(col("doc_id").isin(ids: _*))
            .agg(sum(size(split(col("text"), " ")).cast("long")))
            .head().getLong(0)
        }) else Map.empty)
      CacheScope.withScope {
        fam.delete(dir, ids.toDF(fam.deleteKey), commitTs = Some(2000L))
      }
      val after = fam.serving(spark, dir, "deleteMetaTest")
      assert(after.epoch == before.epoch + 1)
      val m0 = before.meta
      val m1 = after.meta
      assert(m1.schema.fieldNames.toSet == m0.schema.fieldNames.toSet,
        s"${fam.id}: meta columns ${m1.schema.fieldNames.mkString(",")}")
      for (c <- m0.schema.fieldNames if !layout(c)) {
        val want: Any = c match {
          case "epoch" => m0.getAs[Int](c) + 1
          case k if shrink.contains(k) => m0.getAs[Long](k) - shrink(k)
          case _ => m0.getAs[Any](c)
        }
        assert(m1.getAs[Any](c) == want,
          s"${fam.id}: meta column $c = ${m1.getAs[Any](c)}, want $want")
      }
      assert(m1.getAs[String]("commit_kind") == "delete" &&
        m1.getAs[Long]("commit_ts") == 2000L,
        s"${fam.id}: the commit is stamped a delete")
    }
  }

  test("every family's append commits the stored meta carried forward: " +
      "all columns kept, epoch + 1, the count grown by the shard " +
      "(BM25's sum_dl by its exact word count), commit_kind 'data'; the " +
      "epoch-0 meta keeps the family's schema; duplicate and stored ids " +
      "refuse in the family's words") {
    val layout = Set("floor_epoch", "commit_ts", "commit_kind")
    for (fx <- FamilyFixtures.all(spark)) {
      val fam = fx.family
      val dir = s"/tmp/graft_test_appmeta_${fam.id}"
      CacheScope.withScope { fx.build(fx.input(0, 300), dir) }
      val before = fam.serving(spark, dir, "appendMetaTest")
      // the epoch-0 meta has the family's schema, and the serving read
      // (seeded at commit) is exactly what meta_0 reads back as
      val meta0 = spark.read.parquet(s"$dir/meta_0")
      assert(meta0.schema.fields.toSeq
          .map(f => f.name -> f.dataType.simpleString) == fx.meta0,
        s"${fam.id}: epoch-0 meta schema ${meta0.schema.simpleString}")
      assert(before.meta.schema == meta0.schema &&
        before.meta == meta0.head(), s"${fam.id}: seeded meta_0")
      def liveIds(st: graft.sources.EpochStore.Serving): Long =
        CacheScope.withScope {
          fam.live(spark, dir, "appendMetaTest", Some(st.epoch))
            .table(fam.idTable).count()
        }
      val shard = fx.input(300, 400)
      val storedId = CacheScope.withScope {
        fam.live(spark, dir, "appendMetaTest").table(fam.idTable)
          .agg(min(col(fam.idCol))).head().getLong(0)
      }
      for ((what, input, want) <- Seq(
          ("a duplicate shard id", FamilyFixtures.withDup(shard, fx.key),
            fx.appendDup),
          ("a stored id", fx.input(storedId, storedId + 1), fx.clash))) {
        val e = intercept[IllegalArgumentException] {
          CacheScope.withScope { fam.append(dir, input) }
        }
        assert(e.getMessage.contains(want),
          s"${fam.id} $what: ${e.getMessage}")
        assert(fam.serving(spark, dir, "appendMetaTest").epoch ==
          before.epoch, s"${fam.id}: $what moved the artifact")
      }
      // BM25's Σdl grows by the shard's exact word count
      val grow = if (fam != Bm25.index) Map.empty[String, Long]
        else Map("sum_dl" -> CacheScope.withScope {
          shard.agg(sum(size(split(col("text"), " ")).cast("long")))
            .head().getLong(0)
        })
      CacheScope.withScope {
        fam.append(dir, shard, commitTs = Some(3000L))
      }
      val after = fam.serving(spark, dir, "appendMetaTest")
      assert(after.epoch == before.epoch + 1)
      val n = liveIds(after) - liveIds(before)
      assert(n > 0, s"${fam.id}: test premise — the shard is stored")
      val m0 = before.meta
      val m1 = after.meta
      assert(m1 == spark.read.parquet(s"$dir/meta_${after.epoch}").head(),
        s"${fam.id}: seeded meta_${after.epoch}")
      assert(m1.schema.fieldNames.toSet == m0.schema.fieldNames.toSet,
        s"${fam.id}: meta columns ${m1.schema.fieldNames.mkString(",")}")
      for (c <- m0.schema.fieldNames if !layout(c)) {
        val want: Any = c match {
          case "epoch" => m0.getAs[Int](c) + 1
          case k if k == fam.countCol => m0.getAs[Long](k) + n
          case k if grow.contains(k) => m0.getAs[Long](k) + grow(k)
          case _ => m0.getAs[Any](c)
        }
        assert(m1.getAs[Any](c) == want,
          s"${fam.id}: meta column $c = ${m1.getAs[Any](c)}, want $want")
      }
      assert(m1.getAs[String]("commit_kind") == "data" &&
        m1.getAs[Long]("commit_ts") == 3000L,
        s"${fam.id}: the commit is stamped a data epoch")
    }
  }
}
