package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Ann, Bm25, Dedup, Multimodal, TextDedup, TextIndex}

/** AS-OF (time-travel) reads over the EpochStore layout (r13): every
  * epoch in [floor, serving] has a complete meta and un-reclaimed data,
  * so `servingStateAt` pins any historical horizon in that range and a
  * probe under it reproduces exactly what the artifact served when that
  * epoch committed — later appends invisible, later tombstones not
  * suppressing, the family meta the HISTORICAL row. Below the floor the
  * history was compacted away and the read refuses (compaction is
  * snapshot expiry). The hash-exact gates are q178 (fp) / q179 (BM25);
  * this spec pins the mechanics per horizon against fresh engine builds
  * of each prefix corpus, plus the refusal edges.
  */
class EpochAsOfSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def fpProbeSet(dir: String,
      incoming: org.apache.spark.sql.DataFrame, asOf: Option[Int])
      : Set[(Long, String, Long, Boolean)] = CacheScope.withScope {
    (asOf match {
      case Some(e) => Dedup.dedupAgainstIndex(dir, incoming, Some(e))
      case None => Dedup.dedupAgainstIndex(dir, incoming)
    }).as[(Long, String, Long, Boolean)].collect().toSet
  }

  test("fp as-of: every horizon of a mutated artifact equals a fresh " +
      "build of that prefix corpus; the serving probe is the final " +
      "horizon") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 11 =!= 5)
    val slice = corpus.filter(col("doc_id") % 11 === 5)
    val dir = "/tmp/graft_test_fpasof"
    // epoch 0: base; epoch 1: slice survivors; epoch 2: DELETE the
    // %13==2 owners; epoch 3: re-append their even half
    val doomedDir = dir + "_doomed"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(base, dir)
      val kept = Dedup.dedupAgainstIndex(dir, slice)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir,
        slice.join(kept, Seq("doc_id"), "left_semi"))
      Dedup.storedOwners(spark, dir).filter(col("owner") % 13 === 2)
        .select(col("owner").as("doc_id"))
        .write.mode("overwrite").parquet(doomedDir)
      val doomed = spark.read.parquet(doomedDir)
      assert(doomed.limit(1).count() == 1, "test premise: non-empty " +
        "delete set at this SF")
      Dedup.index.delete(dir, doomed)
      Dedup.appendFingerprintIndex(dir,
        corpus.join(doomed.filter(col("doc_id") % 2 === 0),
          Seq("doc_id"), "left_semi"))
    }
    val doomed = spark.read.parquet(doomedDir)
    // the probe shard: the %7==3 slice PLUS exact copies of every
    // DELETED owner under shifted ids — at horizon 1 a copy matches
    // its stored owner (kept=false), at horizon 2 that owner is
    // tombstoned so the copy's fp is novel again (kept=true): the
    // delete is load-bearing between the horizons by construction
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
      .unionByName(corpus
        .join(doomed, Seq("doc_id"), "left_semi")
        .select((col("doc_id") + lit(7000000L)).as("doc_id"),
          col("text")))
    // fresh engine builds of each prefix corpus (the yardsticks know
    // nothing about epochs or tombstones)
    def rebuilt(c: org.apache.spark.sql.DataFrame, at: String)
        : Set[(Long, String, Long, Boolean)] = {
      CacheScope.withScope { Dedup.writeFingerprintIndex(c, at) }
      fpProbeSet(at, incoming, None)
    }
    val slicePart = CacheScope.withScope {
      // the slice docs that actually landed in epoch 1 (the survivors
      // of the probe against base)
      val kept = Dedup.dedupAgainstIndex(dir, slice, asOf = Some(0))
        .filter(col("kept")).select("doc_id")
      slice.join(kept, Seq("doc_id"), "left_semi")
    }.cache()
    val at0 = fpProbeSet(dir, incoming, Some(0))
    val at1 = fpProbeSet(dir, incoming, Some(1))
    val at2 = fpProbeSet(dir, incoming, Some(2))
    val serving = fpProbeSet(dir, incoming, None)
    assert(at0 == rebuilt(base, "/tmp/graft_test_fpasof_rb0"),
      "as-of 0 must equal a fresh base-only build")
    assert(at1 == rebuilt(base.unionByName(slicePart),
        "/tmp/graft_test_fpasof_rb1"),
      "as-of 1 must equal a fresh build of base + appended survivors")
    assert(at2 == rebuilt(base.unionByName(slicePart)
        .join(doomed, Seq("doc_id"), "left_anti"),
        "/tmp/graft_test_fpasof_rb2"),
      "as-of 2 must equal a fresh build without ALL deleted owners")
    assert(fpProbeSet(dir, incoming, Some(3)) == serving,
      "as-of the serving epoch must equal the plain serving probe")
    assert(at1 != at2, "test premise: the delete must change verdicts " +
      "(otherwise the horizons are indistinguishable)")
    slicePart.unpersist()
  }

  test("as-of refusals: above the serving epoch; below the floor after " +
      "a compaction (snapshot expiry) — and the floor itself still " +
      "serves") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text").limit(20)
    val dir = "/tmp/graft_test_fpasof_refuse"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(
        corpus.filter(col("doc_id") % 11 =!= 5), dir)
      Dedup.appendFingerprintIndex(dir, corpus
        .filter(col("doc_id") % 11 === 5)
        .join(Dedup.dedupAgainstIndex(dir,
            corpus.filter(col("doc_id") % 11 === 5))
          .filter(col("kept")).select("doc_id"), Seq("doc_id"),
          "left_semi"))
    }
    val above = intercept[IllegalArgumentException] {
      fpProbeSet(dir, incoming, Some(7))
    }
    assert(above.getMessage.contains("does not exist"))
    // pre-compaction, epoch 0 serves as-of
    assert(fpProbeSet(dir, incoming, Some(0)).nonEmpty)
    CacheScope.withScope {
      assert(Dedup.index.compact(spark, dir))
    }
    // post-compaction (epoch 2, floor 2): history below the floor
    // refuses — BEFORE any vacuum, because the per-epoch states were
    // folded away by the rewrite, not just reclaimed
    val below = intercept[IllegalArgumentException] {
      fpProbeSet(dir, incoming, Some(1))
    }
    assert(below.getMessage.contains("predates the floor"))
    // the floor itself is a servable horizon (it IS the serving epoch)
    assert(fpProbeSet(dir, incoming, Some(2)) ==
      fpProbeSet(dir, incoming, None))
  }

  test("fp compactBelow: every retained horizon serves bit-identically " +
      "across partial compaction + vacuum; folded horizons refuse; " +
      "further compactions compose") {
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 11 =!= 5)
    val slice = corpus.filter(col("doc_id") % 11 === 5)
    val dir = "/tmp/graft_test_fpcb"
    val doomedDir = dir + "_doomed"
    // the q178/q185 composition: base, append survivors, DELETE the
    // %13==2 owners, re-append their even half (epochs 0..3)
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(base, dir)
      val kept = Dedup.dedupAgainstIndex(dir, slice)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(dir,
        slice.join(kept, Seq("doc_id"), "left_semi"))
      Dedup.storedOwners(spark, dir).filter(col("owner") % 13 === 2)
        .select(col("owner").as("doc_id"))
        .write.mode("overwrite").parquet(doomedDir)
      val doomed = spark.read.parquet(doomedDir)
      Dedup.index.delete(dir, doomed)
      Dedup.appendFingerprintIndex(dir,
        corpus.join(doomed.filter(col("doc_id") % 2 === 0),
          Seq("doc_id"), "left_semi"))
    }
    // copies of the deleted owners under shifted ids make the delete
    // visible between horizons 1 and 2 (the first test's construction)
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
      .unionByName(corpus
        .join(spark.read.parquet(doomedDir), Seq("doc_id"), "left_semi")
        .select((col("doc_id") + lit(7000000L)).as("doc_id"),
          col("text")))
    val pre1 = fpProbeSet(dir, incoming, Some(1))
    val pre2 = fpProbeSet(dir, incoming, Some(2))
    val pre3 = fpProbeSet(dir, incoming, Some(3))
    val preServing = fpProbeSet(dir, incoming, None)
    assert(pre1 != pre2, "test premise: the delete must move verdicts")
    // PARTIAL compaction at horizon 1: epochs 0-1 fold into a
    // checkpoint, horizons 1/2/3 stay servable, serving unchanged
    assert(CacheScope.withScope {
      Dedup.index.compact(spark, dir, below = Some(1)) })
    assert(fpProbeSet(dir, incoming, None) == preServing,
      "compactBelow must not change the serving row set")
    assert(fpProbeSet(dir, incoming, Some(1)) == pre1,
      "the folded horizon itself (the checkpoint) must serve exactly")
    assert(fpProbeSet(dir, incoming, Some(2)) == pre2 &&
      fpProbeSet(dir, incoming, Some(3)) == pre3,
      "retained horizons must serve bit-identically after compactBelow")
    val refused = intercept[IllegalArgumentException] {
      fpProbeSet(dir, incoming, Some(0))
    }
    assert(refused.getMessage.contains("predates the floor"),
      "a horizon below the retention point must refuse")
    // vacuum reclaims the folded epochs: probes can then only have
    // served the CHECKPOINT (the q163 argument at partial granularity)
    Dedup.index.vacuum(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def exists(p: String) =
      fs.exists(new org.apache.hadoop.fs.Path(p))
    assert(exists(s"$dir/fps/checkpoint=1"),
      "the live checkpoint must survive vacuum")
    assert(!exists(s"$dir/fps/epoch=0") && !exists(s"$dir/fps/epoch=1"),
      "vacuum must reclaim the folded epoch dirs (incl. the stale " +
        "epoch=floor delta)")
    assert(!exists(s"$dir/meta_0") && exists(s"$dir/meta_1"),
      "meta_floor stays (the as-of-floor family row); below it goes")
    assert(exists(s"$dir/deletes/epoch=2"),
      "retained tombstones (above the floor) must survive vacuum — " +
        "they still suppress the checkpoint's rows at later horizons")
    assert(fpProbeSet(dir, incoming, Some(1)) == pre1 &&
      fpProbeSet(dir, incoming, Some(2)) == pre2 &&
      fpProbeSet(dir, incoming, None) == preServing,
      "post-vacuum reads can only have served the checkpoint — and " +
        "they still match")
    // idempotence edges
    assert(!CacheScope.withScope {
      Dedup.index.compact(spark, dir, below = Some(1)) },
      "compactBelow at the floor is a no-op (already based there)")
    assert(intercept[IllegalArgumentException] {
      Dedup.index.compact(spark, dir, below = Some(0))
    }.getMessage.contains("predates the floor"))
    // a SECOND compactBelow advances the retention point (checkpoint
    // supersedes checkpoint); then a FULL compact expires everything
    assert(CacheScope.withScope {
      Dedup.index.compact(spark, dir, below = Some(3)) })
    assert(fpProbeSet(dir, incoming, Some(3)) == pre3 &&
      fpProbeSet(dir, incoming, None) == preServing,
      "the advanced retention point keeps horizon 3 + serving exact")
    assert(intercept[IllegalArgumentException] {
      fpProbeSet(dir, incoming, Some(2))
    }.getMessage.contains("predates the floor"))
    Dedup.index.vacuum(spark, dir)
    assert(!exists(s"$dir/fps/checkpoint=1") &&
      exists(s"$dir/fps/checkpoint=3"),
      "a superseded checkpoint is vacuum bait; the live one stays")
    assert(CacheScope.withScope {
      Dedup.index.compact(spark, dir) },
      "a full compact composes after partial ones")
    Dedup.index.vacuum(spark, dir)
    assert(!exists(s"$dir/fps/checkpoint=3"),
      "after a full compact every checkpoint is stale and reclaims")
    assert(fpProbeSet(dir, incoming, None) == preServing,
      "the fully compacted artifact still serves the same row set")
  }

  test("bm25 compactBelow: the additive dfs fold keeps every retained " +
      "horizon's scores bit-identical (historical meta + checkpointed " +
      "postings)") {
    val d = Tables.documents(spark, TestSpark.sf)
    val base = d.filter(col("doc_id") % 11 =!= 5)
    val dir = "/tmp/graft_test_bm25cb"
    CacheScope.withScope {
      Bm25.writeBm25Index(base, dir)
      Bm25.appendBm25Index(dir, d.filter(col("doc_id") % 11 === 5))
      Bm25.index.delete(dir,
        d.filter(col("doc_id") % 13 === 2).select("doc_id"))
    }
    val terms = Seq("spark", "hash", "window")
    def rows(asOf: Option[Int]) = CacheScope.withScope {
      Bm25.topKIndexed(spark, dir, terms, 50, asOf = asOf)
        .as[(Long, Long, Long)].collect().toSeq
    }
    val pre1 = rows(Some(1))
    val pre2 = rows(Some(2))
    val preServing = rows(None)
    assert(CacheScope.withScope {
      Bm25.index.compact(spark, dir, below = Some(1)) })
    Bm25.index.vacuum(spark, dir)
    assert(rows(Some(1)) == pre1,
      "bm25 as-of the checkpoint horizon must score bit-identically " +
        "(df re-summed in the fold, N/Σdl from meta_1)")
    assert(rows(Some(2)) == pre2 && rows(None) == preServing,
      "bm25 retained horizons + serving must score bit-identically " +
        "(the delete epoch's negative df rows stay as deltas above " +
        "the checkpoint)")
    assert(intercept[IllegalArgumentException] { rows(Some(0)) }
      .getMessage.contains("predates the floor"))
  }

  test("bm25 as-of: the historical meta rewinds the additive stats — " +
      "as-of 0 scores bit-identically to a fresh base-only index, " +
      "as-of serving to the plain probe") {
    val d = Tables.documents(spark, TestSpark.sf)
    val base = d.filter(col("doc_id") % 11 =!= 5)
    val dir = "/tmp/graft_test_bm25asof"
    val baseOnly = "/tmp/graft_test_bm25asof_base"
    CacheScope.withScope {
      Bm25.writeBm25Index(base, baseOnly)
      Bm25.writeBm25Index(base, dir)
      Bm25.appendBm25Index(dir, d.filter(col("doc_id") % 11 === 5))
      Bm25.index.delete(dir,
        d.filter(col("doc_id") % 13 === 2).select("doc_id"))
    }
    val terms = Seq("spark", "hash", "window")
    def rows(df: org.apache.spark.sql.DataFrame) =
      CacheScope.withScope { df.as[(Long, Long, Long)].collect().toSeq }
    val at0 = rows(Bm25.topKIndexed(spark, dir, terms, 50, asOf = Some(0)))
    val fresh = rows(Bm25.topKIndexed(spark, baseOnly, terms, 50))
    assert(at0 == fresh && at0.nonEmpty,
      "as-of 0 must score with the base (N, Σdl, df) — identical to a " +
        "fresh base-only index")
    val at1 = rows(Bm25.topKIndexed(spark, dir, terms, 50, asOf = Some(1)))
    assert(at1 != at0, "test premise: the append must move scores " +
      "(N/avgdl/df all change)")
    assert(rows(Bm25.topKIndexed(spark, dir, terms, 50, asOf = Some(2))) ==
      rows(Bm25.topKIndexed(spark, dir, terms, 50)),
      "as-of the serving epoch must equal the plain serving probe")
  }

  test("text / cp / dhash as-of: probing an appended artifact as-of " +
      "epoch 0 equals a fresh base-only build; as-of the serving " +
      "epoch equals the plain probe") {
    val d = Tables.documents(spark, TestSpark.sf)
    // TEXT (MinHash pairs)
    locally {
      val corpus = d.filter(col("doc_id") % 7 =!= 3)
        .select("doc_id", "text")
      val incoming = d.filter(col("doc_id") % 7 === 3)
        .select("doc_id", "text")
        .unionByName(corpus.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(5000000L)).as("doc_id"),
            col("text")))
      val base = corpus.filter(col("doc_id") % 11 =!= 5)
      val dir = "/tmp/graft_test_txtasof"
      val baseOnly = "/tmp/graft_test_txtasof_base"
      CacheScope.withScope {
        TextIndex.writeJaccardIndex(base, dir, threshold = 0.6)
        TextIndex.appendJaccardIndex(dir,
          corpus.filter(col("doc_id") % 11 === 5))
        TextIndex.writeJaccardIndex(base, baseOnly, threshold = 0.6)
      }
      def pairs(at: String, asOf: Option[Int]) = CacheScope.withScope {
        TextIndex.jaccardPairsIndexed(at, incoming, threshold = 0.6,
            asOf = asOf)
          .select("doc_a", "doc_b")
          .as[(Long, Long)].collect().toSet
      }
      val at0 = pairs(dir, Some(0))
      assert(at0 == pairs(baseOnly, None) && at0.nonEmpty,
        "text as-of 0 must equal a fresh base-only build")
      assert(pairs(dir, Some(1)) == pairs(dir, None),
        "text as-of serving must equal the plain probe")
      assert(pairs(dir, None) != at0, "test premise: the append must " +
        "change the pair set")
    }
    // CP (embedding pairs) — parameters PINNED explicitly so the
    // base-only rebuild hashes identically (derived params would size
    // from each build's own count)
    locally {
      val e = Tables.embeddings(spark, TestSpark.sf)
      val corpus = e.filter(col("vec_id") % 7 =!= 3)
        .select("vec_id", "embedding")
      val incoming = e.filter(col("vec_id") % 7 === 3)
        .select("vec_id", "embedding")
        .unionByName(corpus.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + lit(5000000L)).as("vec_id"),
            col("embedding")))
      val base = corpus.filter(col("vec_id") % 11 =!= 5)
      val dir = "/tmp/graft_test_cpasof"
      val baseOnly = "/tmp/graft_test_cpasof_base"
      CacheScope.withScope {
        val k = graft.plans.CrossPolytope.chooseHashesPerBand(
          corpus.count(), 0.4, 64, 1e-4)
        val b = graft.plans.CrossPolytope.bandsFor(0.4, k, 64, 1e-4)
        Ann.writeCpIndex(base, dir, threshold = 0.4,
          hashesPerBand = k, bands = b)
        Ann.appendCpIndex(dir,
          corpus.filter(col("vec_id") % 11 === 5))
        Ann.writeCpIndex(base, baseOnly, threshold = 0.4,
          hashesPerBand = k, bands = b)
      }
      def pairs(at: String, asOf: Option[Int]) = CacheScope.withScope {
        Ann.cosinePairsCpIndexed(at, incoming, threshold = 0.4,
            asOf = asOf)
          .as[(Long, Long)].collect().toSet
      }
      val at0 = pairs(dir, Some(0))
      assert(at0 == pairs(baseOnly, None) && at0.nonEmpty,
        "cp as-of 0 must equal a fresh base-only build")
      assert(pairs(dir, Some(1)) == pairs(dir, None),
        "cp as-of serving must equal the plain probe")
      // guaranteed by construction: the incoming copies of corpus
      // %10==0 include vectors whose originals sit in the APPENDED
      // %11==5 slice (ids ≡ 60 mod 110) — their cosine-1 pairs exist
      // only at the serving horizon (r13 second review: without this
      // premise the as-of-0 gate could pass vacuously)
      assert(pairs(dir, None) != at0, "test premise: the append must " +
        "change the pair set")
    }
    // DHASH (image near-dup verdicts) — incoming carries PLANTED
    // exact-raster copies of the APPENDED wave (id shift ≡ 0 mod 768:
    // ≡ 0 mod 3 keeps a copy an image, ≡ 0 mod 256 makes the raster an
    // EXACT duplicate — the CLAUDE.md gotcha used deliberately, the
    // q175 construction), so Hamming-0 hits exist ONLY at the serving
    // horizon and the as-of-0 gate cannot pass vacuously (r13 second
    // review)
    locally {
      val corpus = d.filter(col("doc_id") % 7 =!= 3)
      val wave = corpus.filter(col("doc_id") % 11 === 5 &&
        col("doc_id") % 3 === 0)
      val incoming = d.filter(col("doc_id") % 7 === 3)
        .unionByName(wave
          .withColumn("doc_id", col("doc_id") + lit(768000000L)))
      val base = corpus.filter(col("doc_id") % 11 =!= 5)
      val dir = "/tmp/graft_test_dhasof"
      val baseOnly = "/tmp/graft_test_dhasof_base"
      CacheScope.withScope {
        Multimodal.writeDHashIndex(base, dir)
        Multimodal.appendDHashIndex(dir, wave)
        Multimodal.writeDHashIndex(base, baseOnly)
      }
      def verdicts(at: String, asOf: Option[Int]) =
        CacheScope.withScope {
          Multimodal.imageDHashNearIndexed(at, incoming, asOf = asOf)
            .select("media_a", "media_b")
            .as[(Long, Long)].collect().toSet
        }
      val at0 = verdicts(dir, Some(0))
      assert(at0 == verdicts(baseOnly, None) && at0.nonEmpty,
        "dhash as-of 0 must equal a fresh base-only build")
      val serving = verdicts(dir, None)
      assert(verdicts(dir, Some(1)) == serving,
        "dhash as-of serving must equal the plain probe")
      assert(serving != at0, "test premise: the appended wave's " +
        "planted Hamming-0 copies must surface only at serving")
    }
  }

  test("timestamp as-of (r15): a monotone caller clock resolves to " +
      "the newest horizon at or before the asked instant; unstamped, " +
      "backwards, and pre-floor clocks refuse by name") {
    import graft.sources.EpochStore
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = d.filter(col("doc_id") % 7 =!= 3)
      .select("doc_id", "text").limit(200)
    val a = corpus.filter(col("doc_id") % 3 === 0)
    val b = corpus.filter(col("doc_id") % 3 === 1)
    val c = corpus.filter(col("doc_id") % 3 === 2)
    val dir = "/tmp/graft_test_fpasofts"
    def fold(at: String, wave: org.apache.spark.sql.DataFrame,
        ts: Option[Long]): Unit = {
      val kept = Dedup.dedupAgainstIndex(at, wave)
        .filter(col("kept")).select("doc_id")
      Dedup.appendFingerprintIndex(at,
        wave.join(kept, Seq("doc_id"), "left_semi"), commitTs = ts)
    }
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(a, dir, commitTs = Some(1000L))
      fold(dir, b, Some(2000L))
      fold(dir, c, Some(3000L))
    }
    def at(ts: Long): Int = Dedup.index.epochAtTime(spark, dir, ts)
    // exact-commit instants resolve to their own epoch; between
    // commits, to the newest at-or-before; past the end, to serving
    assert(at(1000L) == 0 && at(1500L) == 0 && at(2000L) == 1 &&
      at(2500L) == 1 && at(3000L) == 2 && at(99999L) == 2)
    // and the resolved horizon probes exactly like its epoch as-of
    val shard = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text").limit(50)
    assert(fpProbeSet(dir, shard, Some(at(2500L))) ==
      fpProbeSet(dir, shard, Some(1)))
    // before the first retained commit: the pre-floor refusal shape
    val early = intercept[IllegalArgumentException] { at(999L) }
    assert(early.getMessage.contains("predates the earliest retained"))
    // after a full compact (ts 4000), horizons below the fold are gone
    // and asking inside the folded history refuses the same way
    CacheScope.withScope {
      Dedup.index.compact(spark, dir,
        commitTs = Some(4000L))
    }
    assert(at(4000L) == 3 && at(99999L) == 3)
    val folded = intercept[IllegalArgumentException] { at(2500L) }
    assert(folded.getMessage.contains("predates the earliest retained"))
    // an UNSTAMPED mutation poisons time-resolution loudly (ask by
    // epoch instead) — and names the offending epoch
    val d2 = "/tmp/graft_test_fpasofts_uns"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(a, d2, commitTs = Some(1000L))
      fold(d2, b, None)
    }
    val uns = intercept[IllegalArgumentException] {
      Dedup.index.epochAtTime(spark, d2, 5000L) }
    assert(uns.getMessage.contains("no commit_ts") &&
      uns.getMessage.contains("1"))
    // a BACKWARDS clock refuses naming both epochs
    val d3 = "/tmp/graft_test_fpasofts_bwd"
    CacheScope.withScope {
      Dedup.writeFingerprintIndex(a, d3, commitTs = Some(2000L))
      fold(d3, b, Some(1000L))
    }
    val bwd = intercept[IllegalArgumentException] {
      Dedup.index.epochAtTime(spark, d3, 5000L) }
    assert(bwd.getMessage.contains("run backwards"))
  }

  test("timestamp as-of wrappers (r15): all six families resolve a " +
      "caller-clock instant through the one layout resolution — " +
      "text / bm25 / cp / dhash / decon mirror fingerprintEpochAtTime " +
      "(thin by design, like the r13 asOf unification)") {
    val d = Tables.documents(spark, TestSpark.sf)
    val docs = d.select("doc_id", "text", "n_chars").limit(120)
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    def pin(at: (Long) => Int): Unit =
      // between the stamps resolves to the base; at the append stamp,
      // to the appended epoch — the fp test pins the full semantics,
      // this one pins that each wrapper reaches the same resolution
      assert(at(1500L) == 0 && at(2000L) == 1)
    CacheScope.withScope {
      val dir = "/tmp/graft_test_tsw_txt"
      TextIndex.writeJaccardIndex(a, dir, threshold = 0.6,
        commitTs = Some(1000L))
      TextIndex.appendJaccardIndex(dir, b, commitTs = Some(2000L))
      pin(TextIndex.index.epochAtTime(spark, dir, _))
    }
    CacheScope.withScope {
      val dir = "/tmp/graft_test_tsw_bm25"
      Bm25.writeBm25Index(a, dir, commitTs = Some(1000L))
      Bm25.appendBm25Index(dir, b, commitTs = Some(2000L))
      pin(Bm25.index.epochAtTime(spark, dir, _))
    }
    CacheScope.withScope {
      val e = Tables.embeddings(spark, TestSpark.sf)
        .select("vec_id", "embedding").limit(200)
      val dir = "/tmp/graft_test_tsw_cp"
      // params pinned explicitly: the wrapper under test is the
      // resolution, not append currency
      Ann.writeCpIndex(e.filter(col("vec_id") % 2 === 0), dir,
        threshold = 0.4, hashesPerBand = 2, bands = 4,
        commitTs = Some(1000L))
      Ann.appendCpIndex(dir, e.filter(col("vec_id") % 2 === 1),
        commitTs = Some(2000L))
      pin(Ann.index.epochAtTime(spark, dir, _))
    }
    CacheScope.withScope {
      val dir = "/tmp/graft_test_tsw_dh"
      Multimodal.writeDHashIndex(a, dir, commitTs = Some(1000L))
      Multimodal.appendDHashIndex(dir, b, commitTs = Some(2000L))
      pin(Multimodal.index.epochAtTime(spark, dir, _))
    }
    CacheScope.withScope {
      val dir = "/tmp/graft_test_tsw_dcn"
      TextDedup.writeDeconIndex(a, dir, w = 20, commitTs = Some(1000L))
      TextDedup.appendDeconIndex(dir, b, commitTs = Some(2000L))
      pin(TextDedup.index.epochAtTime(spark, dir, _))
    }
  }
}
