package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextIndex

/** The MinHash text arrival family (q153/q154/q155): live incremental,
  * stored-artifact probe, and append — mirrored on the cp index specs
  * (same equivalence, refusal, and torn-epoch pins, swapped onto the
  * Jaccard contract).
  */
class TextIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Tables.documents(spark, TestSpark.sf)
    .select("doc_id", "text")

  /** Exact-copy shard: planted Jaccard-1 hits whose signatures are
    * identical, plus the organic near-dup structure of the slice.
    */
  private def shard = docs.filter(col("doc_id") % 9 === 1)
    .select((col("doc_id") + 500000L).as("doc_id"), col("text"))

  test("banding derives from the recall bound: known points, the miss " +
      "bound holds, and an unservable (threshold, miss) refuses") {
    // t = 0.6, miss 1e-4: r = 2 needs 21 bands (42 slots); r = 3 would
    // need 38 (114 slots) — the chooser must land on (2, 21)
    assert(TextIndex.bandingFor(0.6, 1e-4) == (2, 21))
    // the returned banding always satisfies the bound it was derived
    // from, across a spread of thresholds
    for (t <- Seq(0.3, 0.5, 0.6, 0.7, 0.8, 0.9)) {
      val (r, b) = TextIndex.bandingFor(t, 1e-4)
      assert(r * b <= 64, s"t=$t: ($r, $b) exceeds the 64-slot budget")
      val miss = math.pow(1 - math.pow(t, r), b)
      assert(miss <= 1e-4, s"t=$t: ($r, $b) misses at $miss > 1e-4")
      // maximality: r+1 must not also fit (r is the candidate filter)
      val bNext = math.ceil(math.log(1e-4) /
        math.log1p(-math.pow(t, r + 1))).toInt.max(1)
      assert((r + 1) * bNext > 64, s"t=$t: chooser left r=${r + 1} on " +
        "the table")
    }
    // a threshold so low that even single-slot bands cannot certify
    // the recall refuses by name
    val e = intercept[IllegalArgumentException] {
      TextIndex.bandingFor(0.05, 1e-4)
    }
    assert(e.getMessage.contains("64-slot"))
  }

  test("live incremental equals the exact restricted pair set; the " +
      "indexed probe equals both; planted copies all surface") {
    val dir = "/tmp/graft_test_txtindex"
    val exact = CacheScope.withScope {
      TextIndex.jaccardPairsBruteRestricted(docs, shard, 0.6)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    val live = CacheScope.withScope {
      TextIndex.jaccardPairsIncremental(docs, shard, 0.6)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    CacheScope.withScope { TextIndex.writeJaccardIndex(docs, dir, 0.6) }
    val indexed = CacheScope.withScope {
      TextIndex.jaccardPairsIndexed(dir, shard, 0.6)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    assert(live == exact && live.nonEmpty,
      s"live ${live.size} != exact ${exact.size}")
    assert(indexed == exact,
      s"indexed ${indexed.size} != exact ${exact.size}")
    // every planted copy (J = 1 by construction, if the doc shingles
    // at all) pairs with its original
    val planted = docs.filter(col("doc_id") % 9 === 1)
      .filter(size(split(col("text"), " ")) >= 3)
      .select("doc_id").as[Long].collect().toSet
    planted.foreach { id =>
      assert(live.contains((id, id + 500000L)),
        s"planted copy of doc $id missing from the pair set")
    }
    // corpus-internal pairs never surface: every pair has an incoming
    // side (ids shifted by +500000)
    assert(live.forall { case (a, b) => a >= 500000L || b >= 500000L })
  }

  test("drift, duplicate ids, and a missing artifact refuse loudly") {
    val dir = "/tmp/graft_test_txtindex_drift"
    CacheScope.withScope { TextIndex.writeJaccardIndex(docs, dir, 0.6) }
    val te = intercept[IllegalArgumentException] {
      TextIndex.jaccardPairsIndexed(dir, shard, 0.7)
    }
    assert(te.getMessage.contains("threshold drift"))
    val me = intercept[IllegalArgumentException] {
      TextIndex.jaccardPairsIndexed(dir, shard, 0.6, targetMiss = 1e-6)
    }
    assert(me.getMessage.contains("target_miss drift"))
    val ce = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        TextIndex.jaccardPairsIndexed(dir,
          shard.unionByName(docs.limit(1)), 0.6)
      }
    }
    assert(ce.getMessage.contains("already exist"))
    val de = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        TextIndex.jaccardPairsIndexed(dir,
          shard.unionByName(shard.limit(1)), 0.6)
      }
    }
    assert(de.getMessage.contains("not one id space"))
    val le = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        TextIndex.jaccardPairsIncremental(docs, docs.limit(1), 0.6)
      }
    }
    assert(le.getMessage.contains("not one id space"))
    val ne = intercept[IllegalArgumentException] {
      TextIndex.jaccardPairsIndexed("/tmp/graft_test_txtindex_none",
        shard, 0.6)
    }
    assert(ne.getMessage.contains("no complete epoch"))
  }

  test("append serves identically to a monolithic build; a torn epoch " +
      "is invisible; id collisions refuse; count-independence means no " +
      "currency premise") {
    val base = docs.filter(col("doc_id") % 5 =!= 2)
    val grown = docs.filter(col("doc_id") % 5 === 2)
    val mono = "/tmp/graft_test_txtindex_mono"
    val app = "/tmp/graft_test_txtindex_app"
    CacheScope.withScope { TextIndex.writeJaccardIndex(docs, mono, 0.6) }
    CacheScope.withScope {
      TextIndex.writeJaccardIndex(base, app, 0.6)
      TextIndex.appendJaccardIndex(app, grown)
    }
    val viaMono = CacheScope.withScope {
      TextIndex.jaccardPairsIndexed(mono, shard, 0.6)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    val viaApp = CacheScope.withScope {
      TextIndex.jaccardPairsIndexed(app, shard, 0.6)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    assert(viaApp == viaMono && viaApp.nonEmpty,
      s"append-built ${viaApp.size} != monolithic ${viaMono.size}")
    // the grown meta carries the summed participating-doc count (the
    // banding never re-derives from it — count-independence is the
    // documented reason append has no currency premise)
    val m1 = spark.read.parquet(s"$app/meta_1").head()
    assert(m1.getAs[Int]("epoch") == 1 &&
      m1.getAs[Int]("rows_per_band") == 2 &&
      m1.getAs[Int]("bands") == 21)
    // TORN epoch: epoch=2 data with no meta_2 — copies of epoch=1 docs
    // under fresh ids, which would pair with the shard at J = 1 IF
    // served; the probe must not change by a single pair
    spark.read.parquet(s"$app/docs/epoch=1")
      .select((col("doc_id") + 700000L).as("doc_id"), col("shingles"),
        col("n"))
      .write.parquet(s"$app/docs/epoch=2")
    spark.read.parquet(s"$app/bands/epoch=1")
      .select((col("doc_id") + 700000L).as("doc_id"), col("band_id"),
        col("band_hash"))
      .write.parquet(s"$app/bands/epoch=2")
    val viaTorn = CacheScope.withScope {
      TextIndex.jaccardPairsIndexed(app, shard, 0.6)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    assert(viaTorn == viaApp,
      "a torn epoch (data without meta_N) must be invisible to probes")
    // appending an id the store already holds refuses
    val ce = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        TextIndex.appendJaccardIndex(app, docs.limit(1))
      }
    }
    assert(ce.getMessage.contains("already exist"))
    // appending duplicate ids within the shard refuses
    val de = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        TextIndex.appendJaccardIndex(app,
          shard.unionByName(shard.limit(1)))
      }
    }
    assert(de.getMessage.contains("not one id space"))
  }

  test("sub-3-word docs participate nowhere: no shingles, no pairs, " +
      "and they never trip the id-space checks") {
    val extraCorpus = docs.unionByName(
      Seq((900001L, "two words")).toDF("doc_id", "text"))
    // the same id again as incoming: both rows are sub-3-word, so
    // neither participates — the check covers PARTICIPATING docs
    val extraShard = shard.unionByName(
      Seq((900001L, "other pair")).toDF("doc_id", "text"))
    val got = CacheScope.withScope {
      TextIndex.jaccardPairsIncremental(extraCorpus, extraShard, 0.6)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    val base = CacheScope.withScope {
      TextIndex.jaccardPairsIncremental(docs, shard, 0.6)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    assert(got == base)
  }

  test("patchJaccardVerdicts (r15): horizon-0 verdicts patched through " +
      "the window equal the full serving probe; a shard id appended " +
      "inside the window refuses like the full probe would") {
    val dir = "/tmp/graft_test_txtpatch"
    val corpus = docs
    val baseDocs = corpus.filter(col("doc_id") % 11 =!= 5)
    val wave = corpus.filter(col("doc_id") % 11 === 5)
    // epochs: 0 = base, 1 = appended wave, 2 = DELETE the stored
    // %13==2 docs (the q182 composition, engine-vs-engine here)
    val doomedDir = dir + "_doomed"
    CacheScope.withScope {
      TextIndex.writeJaccardIndex(baseDocs, dir, threshold = 0.6)
      TextIndex.appendJaccardIndex(dir, wave)
      TextIndex.storedDocIds(spark, dir)
        .filter(col("doc_id") % 13 === 2)
        .write.mode("overwrite").parquet(doomedDir)
      TextIndex.index.delete(dir, spark.read.parquet(doomedDir))
    }
    // the shard: exact copies of the %9==1 slice — J=1 pairs with
    // appended originals exist only at serving (the window's adds are
    // load-bearing) and J=1 pairs with deleted originals exist only
    // at horizon 0 (the window's removes are load-bearing)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      CacheScope.withScope {
        df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet }
    val prior = CacheScope.withScope {
      TextIndex.jaccardPairsIndexed(dir, shard, 0.6, asOf = Some(0)) }
    val priorSet = pairSet(prior)
    val patched = pairSet(TextIndex.patchJaccardVerdicts(dir,
      TextIndex.jaccardPairsIndexed(dir, shard, 0.6, asOf = Some(0)),
      shard, fromEpoch = 0, toEpoch = 2, threshold = 0.6))
    val full = pairSet(TextIndex.jaccardPairsIndexed(dir, shard, 0.6))
    assert(patched == full && full.nonEmpty,
      "patched verdicts must equal the full serving probe")
    assert(patched != priorSet,
      "test premise: the window must be load-bearing (adds or removes " +
        "change the shard's pairs) — otherwise this test is vacuous")
    // the clash refusal: a shard holding an id the window APPENDED
    val clashShard = wave.limit(5)
    val e = intercept[IllegalArgumentException] {
      TextIndex.patchJaccardVerdicts(dir,
        prior.limit(0), clashShard, fromEpoch = 0, toEpoch = 2,
        threshold = 0.6).count()
    }
    assert(e.getMessage.contains("appended to the index") ||
      e.getMessage.contains("id clash"),
      s"expected the window id-clash refusal, got: ${e.getMessage}")
  }
}
