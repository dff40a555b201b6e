package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Unit coverage for the round-7 pipeline-analytics operators (q118-q124):
  * funnels, cohort retention, sequence patterns, chunking, mixture
  * sampling, hard-negative mining. Each test checks the distributed plan
  * against hand-computed semantics on adversarial micro-frames — the gate
  * queries cover corpus-scale parity, these pin the decision points
  * (ordering strictness, adjacency, trailing chunks, weight formulas).
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------- funnel

  private def ev(rows: (Long, String, Long)*) =
    rows.toDF("user_id", "event_type", "ts_us")

  test("funnel counts only strictly-ordered step sequences") {
    // u1: full in-order conversion; u2: purchase BEFORE click (stops at
    // click); u3: click before view (the view→click leg still converts
    // via the later click at t=40); u4: never views
    val events = ev(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "view", 10L), (2L, "purchase", 15L), (2L, "click", 20L),
      (3L, "click", 5L), (3L, "view", 30L), (3L, "click", 40L),
      (4L, "click", 10L), (4L, "purchase", 20L))
    val got = CacheScope.withScope {
      Behavior.funnel(events, Seq("view", "click", "purchase"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
    }
    // step1: u1,u2,u3 viewed. step2: u1 (lag 10), u2 (lag 10), u3 (lag 10).
    // step3: only u1 (lag 20) — u2's purchase precedes its click, u3 never
    // purchases.
    assert(got === Array(
      (1, "view", 3L, 0L),
      (2, "click", 3L, 30L),
      (3, "purchase", 1L, 20L)))
  }

  test("funnel step time must be STRICTLY after the previous step's") {
    // click at exactly the view's timestamp does not convert
    val events = ev((1L, "view", 10L), (1L, "click", 10L))
    val got = CacheScope.withScope {
      Behavior.funnel(events, Seq("view", "click"))
        .collect().map(r => (r.getInt(0), r.getLong(2))).sortBy(_._1)
    }
    assert(got === Array((1, 1L), (2, 0L)))
  }

  // --------------------------------------------------- cohort retention

  test("cohortRetention buckets by first-active day and counts revisits") {
    val day = 86400000000L
    // u1 first active day 0, returns day 2 (twice — counted once);
    // u2 first active day 2 only
    val events = ev(
      (1L, "view", 5L), (1L, "view", 2 * day + 1L), (1L, "click", 2 * day + 2L),
      (2L, "view", 2 * day + 7L))
    val got = CacheScope.withScope {
      Behavior.cohortRetention(events)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
    }
    assert(got === Array((0L, 0L, 1L), (0L, 2L, 1L), (2L, 0L, 1L)))
  }

  // ----------------------------------------------------- adjacentPattern

  private def evId(rows: (Long, Long, String, Long)*) =
    rows.toDF("user_id", "event_id", "event_type", "ts_us")

  test("adjacentPattern requires ADJACENCY, the gap bound, and uses the " +
      "event_id tiebreak on equal timestamps") {
    val events = evId(
      // u1: error→purchase adjacent within gap → match (gap 5)
      (1L, 1L, "error", 10L), (1L, 2L, "purchase", 15L),
      // u1: error→view→purchase — NOT adjacent → no match
      (1L, 3L, "error", 100L), (1L, 4L, "view", 110L),
      (1L, 5L, "purchase", 120L),
      // u2: error→purchase adjacent but gap 200 > 50 → no match
      (2L, 6L, "error", 10L), (2L, 7L, "purchase", 210L),
      // u3: equal-ts pair ordered by event_id: error(id 8) then
      // purchase(id 9) → match with gap 0
      (3L, 8L, "error", 10L), (3L, 9L, "purchase", 10L))
    val got = CacheScope.withScope {
      Behavior.adjacentPattern(events, "error", "purchase", maxGapUs = 50L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
    }
    assert(got === Array((1L, 1L, 5L), (3L, 1L, 0L)))
  }

  // ------------------------------------------------------------ chunker

  test("chunk emits stride-overlapped windows with a clamped tail") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val got = Chunker.chunk(docs, sizeTokens = 3, strideTokens = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(_._2)
    def fp(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(got === Array(
      (1L, 0, 0L, 3L, fp("a b c")),
      (1L, 1, 2L, 3L, fp("c d e")),
      (1L, 2, 4L, 1L, fp("e"))))
  }

  test("chunk on an empty text yields one empty-fingerprint chunk " +
      "(the single-empty-token split convention q74 shares)") {
    val docs = Seq((1L, "")).toDF("doc_id", "text")
    val got = Chunker.chunk(docs, sizeTokens = 4, strideTokens = 4)
      .collect().map(r => (r.getInt(1), r.getLong(3))).sortBy(_._1)
    assert(got === Array((0, 1L)))
  }

  // ----------------------------------------------------- mixtureSample

  test("mixtureSample keeps the smallest group whole and downsamples " +
      "heavier groups by the exact ppm formula, deterministically") {
    // group a: mass 100 (smallest → weight 10⁶, all kept);
    // group b: mass 400 → weight 250000
    val df = ((1L to 10L).map(i => (i, "a", 10L)) ++
      (11L to 20L).map(i => (i, "b", 40L)))
      .toDF("doc_id", "source", "n_chars")
    val got = CacheScope.withScope {
      Sampling.mixtureSample(df, "doc_id", "source", "n_chars")
        .select("doc_id", "source", "weight_ppm")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    }
    val a = got.filter(_._2 == "a")
    assert(a.length === 10 && a.forall(_._3 == 1000000L))
    val b = got.filter(_._2 == "b")
    assert(b.forall(_._3 == 250000L))
    // the b survivors are exactly the portable-hash draws under 250000
    def hash(id: Long) = ((id % 100003L) * 2654435761L) % 1000000007L
    val expectB = (11L to 20L).filter(i => hash(i) % 1000000L < 250000L)
    assert(b.map(_._1).sorted.toSeq === expectB)
    // determinism: a second run draws the identical sample
    val again = CacheScope.withScope {
      Sampling.mixtureSample(df, "doc_id", "source", "n_chars")
        .select("doc_id").collect().map(_.getLong(0)).sorted
    }
    assert(again.toSeq === got.map(_._1).sorted.toSeq)
  }

  // ------------------------------------------------ temperatureSample

  test("temperatureSample: the sqrt-composition rates land exactly, " +
      "alpha=0 would be mixtureSample, and unsupported alpha refuses") {
    // masses: a = 100 (smallest, rate 1e6 at every alpha);
    // b = 400 → t = 0.25: alpha 0.5 → sqrt(.25) = .5 → 500000;
    // alpha 0.75 → .25^.25 = sqrt(sqrt(.25)); alpha 0.25 → .25^.75
    val df = ((1L to 10L).map(i => (i, "a", 10L)) ++
      (11L to 20L).map(i => (i, "b", 40L)))
      .toDF("doc_id", "source", "n_chars")
    def ratesAt(alpha: Double): Map[String, Long] = CacheScope.withScope {
      Sampling.temperatureSample(df, "doc_id", "source", "n_chars", alpha)
        .select("source", "weight_ppm").distinct()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    }
    // expected via the IDENTICAL Java IEEE op sequence the operator runs
    def expect(t: Double, alpha: Double): Long = {
      val r = alpha match {
        case 0.5 => math.sqrt(t)
        case 0.25 => math.sqrt(t) * math.sqrt(math.sqrt(t))
        case 0.75 => math.sqrt(math.sqrt(t))
      }
      math.floor(1000000d * r).toLong
    }
    for (a <- Seq(0.25, 0.5, 0.75)) {
      val got = ratesAt(a)
      assert(got("a") == 1000000L, s"alpha=$a smallest source")
      assert(got("b") == expect(0.25, a), s"alpha=$a heavier source")
    }
    assert(ratesAt(0.5)("b") == 500000L)
    // the kept rows are exactly the portable-hash draws under the rate
    def hash(id: Long) = ((id % 100003L) * 2654435761L) % 1000000007L
    val kept = CacheScope.withScope {
      Sampling.temperatureSample(df, "doc_id", "source", "n_chars", 0.5)
        .filter(col("source") === "b")
        .select("doc_id").collect().map(_.getLong(0)).sorted
    }
    assert(kept.toSeq ==
      (11L to 20L).filter(i => hash(i) % 1000000L < 500000L))
    // unsupported alpha refuses loudly, naming the determinism reason
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureSample(df, "doc_id", "source", "n_chars", 0.3)
    }
    assert(e.getMessage.contains("correctly rounded"))
    // a group mass at 2^53 refuses (the exact-widening premise)
    val big = Seq((1L, "a", 9007199254740992L), (2L, "b", 1L))
      .toDF("doc_id", "source", "n_chars")
    val pe = intercept[Exception] {
      CacheScope.withScope {
        Sampling.temperatureSample(big, "doc_id", "source", "n_chars",
          0.5).collect()
      }
    }
    assert(pe.getMessage.contains("2^53"))
  }

  // ----------------------------------------------------- hardNegatives

  test("hardNegatives excludes same-label neighbors even when they are " +
      "the nearest overall") {
    // query 0 (label 0) is IDENTICAL to vec 1 (label 0) — the nearest
    // neighbor by cosine — but only label-1 vectors may be returned
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f), 0),   // same label: must be excluded
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.5f, 0.5f), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Ann.hardNegatives(df, df.filter(col("vec_id") === 0L), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // ranking among label-1: vec 2 (cos≈0.994) then vec 4 (cos≈0.707)
    assert(got === Array((0L, 2L, 1), (0L, 4L, 2)))
  }

  // --------------------------------------------------- resampleFill

  test("resampleFill: dense spine, zeros, forward fill, no invented carry") {
    val ev = Seq(
      // key A observed at buckets 2 and 5; key B only at bucket 4 —
      // spine is the corpus-wide [2, 5]
      ("A", 2L * 10 + 3, 1.5), ("A", 5L * 10 + 1, 2.5),
      ("B", 4L * 10 + 9, 7.0))
      .toDF("k", "ts_us", "value")
    val got = CacheScope.withScope {
      TimeSeries.resampleFill(ev, keyCol = "k", bucketUs = 10L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3), Option(r.get(4)).map(_.asInstanceOf[Double])))
    }
    assert(got.toSeq === Seq(
      ("A", 2L, 1L, false, Some(1.5)),
      ("A", 3L, 0L, true, Some(1.5)), // gap carries the last observed sum
      ("A", 4L, 0L, true, Some(1.5)),
      ("A", 5L, 1L, false, Some(2.5)),
      ("B", 2L, 0L, true, None), // before B's first observation: no carry
      ("B", 3L, 0L, true, None),
      ("B", 4L, 1L, false, Some(7.0)),
      ("B", 5L, 0L, true, Some(7.0))))
  }

  // ------------------------------------------------- vocab / batching

  test("oovCoverage: deterministic tie cut, exact OOV counts") {
    val docs = Seq(
      (1L, "aa aa bb cc"), // aa:2 bb:1 cc:1 dd:1 overall with doc2
      (2L, "dd bb aa")
    ).toDF("doc_id", "text")
    // counts: aa=3, bb=2, cc=1, dd=1 -> V=3 cuts at the cc/dd tie:
    // term ASC keeps cc, drops dd
    val got = CacheScope.withScope {
      operators.Vocab.oovCoverage(docs, vocabSize = 3)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    assert(got(1L) === ((4L, 0L, 0L)))
    assert(got(2L) === ((3L, 1L, 333333L))) // dd is OOV; 10^6/3 truncated
    // a vocab covering every term yields zero OOV everywhere
    val full = CacheScope.withScope {
      operators.Vocab.oovCoverage(docs, vocabSize = 10)
        .collect().map(_.getLong(2)).sum
    }
    assert(full === 0L)
  }

  test("lengthBucketBatches: band edges, batch cuts, partition invariance") {
    // 9 docs of 20 tokens (bucket 1) -> batches 0..1 at B=8; one doc of
    // 15 tokens (bucket 0) and one of 200 (bucket 4)
    val mk = (n: Int) => Seq.fill(n)("w").mkString(" ")
    val docs = ((1L to 9L).map(i => (i, mk(20))) ++
      Seq((20L, mk(15)), (21L, mk(200)))).toDF("doc_id", "text")
    def run(parts: Int) = CacheScope.withScope {
      Packing.lengthBucketBatches(docs, batchSize = 8, parts = parts)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    }
    val got = run(3)
    assert(got.filter(_._2 == 1L).map(_._3) ===
      Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 1L)) // 9th doc opens batch 1
    assert(got.find(_._1 == 20L).get._2 === 0L) // 15 tokens -> band 0
    assert(got.find(_._1 == 21L).get._2 === 4L) // 200 tokens -> band 4
    // the two-pass rank is partition-count-invariant (q84's law)
    assert(run(1) === run(7))
  }

  // ---------------------------------------------------------------- BPE

  /** Straight-line reference BPE (Sennrich): pair counts weighted by
    * word frequency, overlaps included, argmax by (count DESC, lex),
    * greedy left-to-right fuse.
    */
  private def refBpe(corpus: Seq[String], k: Int)
      : Seq[(Long, String, String, Long)] = refBpeFull(corpus, k)._1

  /** Reference learn loop, also returning the final per-word
    * tokenization (word → encoded token list) for the encode parity
    * test.
    */
  private def refBpeFull(corpus: Seq[String], k: Int)
      : (Seq[(Long, String, String, Long)], Map[String, List[String]]) = {
    var words: List[(List[String], Long)] = corpus
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity)
      .map { case (w, g) => (w.map(_.toString).toList, g.size.toLong) }
      .toList
    val merges = (1 to k).map { rank =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (toks, f) =>
        toks.zip(toks.drop(1)).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + f)
      }
      assert(counts.nonEmpty, s"reference ran dry before round $rank")
      val ((l, r), n) = counts.toSeq
        .sortBy { case ((l, r), n) => (-n, l, r) }.head
      words = words.map { case (toks, f) =>
        val acc = scala.collection.mutable.ListBuffer.empty[String]
        toks.foreach { x =>
          if (acc.nonEmpty && acc.last == l && x == r) {
            acc.remove(acc.length - 1); acc += (l + r)
          } else acc += x
        }
        (acc.toList, f)
      }
      (rank.toLong, l, r, n)
    }
    (merges, words.map { case (toks, _) => (toks.mkString, toks) }.toMap)
  }

  test("bpe learnMerges equals the reference through a multi-char round " +
      "and counts overlapping pairs") {
    // round 1 must pick (a,a) (count 6 — "aaab"'s OVERLAPPING (a,a)
    // counted twice per occurrence), round 2 (a,b), and round 3 fuses
    // MULTI-CHAR symbols (aa, ab) — application correctness, not just
    // counting
    val corpus = Seq("aaab aaab", "aaab ab")
    val expected = refBpe(corpus, 3)
    assert(expected.map(t => (t._2, t._3)) ===
      Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    val got = CacheScope.withScope {
      Bpe.learnMerges(corpus.toDF("text"), k = 3)
        .as[(Long, String, String, Long)].collect().toSeq
    }
    assert(got === expected)
    // a second corpus with ties: lexicographic (lhs, rhs) tiebreak
    val tied = Seq("xy zw xy zw")
    val gotTied = CacheScope.withScope {
      Bpe.learnMerges(tied.toDF("text"), k = 1)
        .as[(Long, String, String, Long)].collect().toSeq
    }
    assert(gotTied === refBpe(tied, 1) &&
      gotTied.head._2 == "x" && gotTied.head._3 == "y")
  }

  test("bpe encodeCounts matches the reference fold's final tokenization") {
    val corpus = Seq("aaab aaab b", "aaab ab aab", "b aab aaab")
    val (_, finalWords) = refBpeFull(corpus, 3)
    val expected = corpus.zipWithIndex.map { case (text, i) =>
      val ws = text.split(" ").filter(_.nonEmpty).toSeq
      (i.toLong, ws.size.toLong,
        ws.map(_.length.toLong).sum,
        ws.map(w => finalWords(w).size.toLong).sum)
    }
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = CacheScope.withScope {
      Bpe.encodeCounts(docs, k = 3)
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    assert(got === expected)
    // the merges actually compress: every doc's token count is strictly
    // below its char count on this corpus
    assert(got.forall(r => r._4 < r._3))
  }

  test("frozen tokenizer: stored merges encode an INDEPENDENT corpus — " +
      "unseen words char-split and take the k merges in rank order; " +
      "family drift and a missing artifact refuse") {
    val dir = "/tmp/graft_test_bpemerges"
    val learn = Seq("aaab aaab b", "aaab ab aab", "b aab aaab")
    CacheScope.withScope {
      Bpe.writeMerges(learn.toDF("text"), dir, k = 3)
    }
    // the apply corpus shares NO doc with the learn corpus and carries
    // words the learn loop never saw ('aaaa', 'zz') — encodeCounts
    // (self-learned) structurally cannot encode these
    val applyCorpus = Seq((0L, "aaab aaaa"), (1L, "zz b aab"))
    val (merges, _) = refBpeFull(learn, 3)
    def fuse(toks: List[String], l: String, r: String): List[String] = {
      val acc = scala.collection.mutable.ListBuffer.empty[String]
      toks.foreach { x =>
        if (acc.nonEmpty && acc.last == l && x == r) {
          acc.remove(acc.length - 1); acc += (l + r)
        } else acc += x
      }
      acc.toList
    }
    def encode(w: String): List[String] =
      merges.foldLeft(w.map(_.toString).toList) {
        case (t, (_, l, r, _)) => fuse(t, l, r)
      }
    val expected = applyCorpus.map { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty).toSeq
      (id, ws.size.toLong, ws.map(_.length.toLong).sum,
        ws.map(w => encode(w).size.toLong).sum)
    }
    val got = CacheScope.withScope {
      Bpe.encodeWithStoredMerges(dir, applyCorpus.toDF("doc_id", "text"))
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    assert(got === expected)
    // a foreign artifact at the path refuses by family; a missing one
    // by the no-complete-epoch contract
    val ne = intercept[IllegalArgumentException] {
      Bpe.encodeWithStoredMerges("/tmp/graft_test_bpemerges_none",
        applyCorpus.toDF("doc_id", "text"))
    }
    assert(ne.getMessage.contains("no complete epoch"))
    val fpDir = "/tmp/graft_test_bpemerges_foreign"
    CacheScope.withScope {
      graft.operators.Dedup.writeFingerprintIndex(
        Seq((1L, "some text")).toDF("doc_id", "text"), fpDir)
    }
    val fe = intercept[IllegalArgumentException] {
      Bpe.encodeWithStoredMerges(fpDir,
        applyCorpus.toDF("doc_id", "text"))
    }
    assert(fe.getMessage.contains("family"))
  }

  test("stored BPE merges are an IndexFamily: the merge and fp " +
      "families each refuse the other's artifact by family, and a " +
      "frozen tokenizer refuses an append") {
    val bpeDir = "/tmp/graft_test_bpe_family"
    val fpDir = "/tmp/graft_test_bpe_family_fp"
    val docs = Seq((0L, "aaab aab"), (1L, "zz b")).toDF("doc_id", "text")
    CacheScope.withScope {
      Bpe.writeMerges(Seq("aaab aaab b", "aaab ab aab").toDF("text"),
        bpeDir, k = 2)
      graft.operators.Dedup.writeFingerprintIndex(docs, fpDir)
    }
    assert(Bpe.index.serving(spark, bpeDir, "bpeFamily").meta
      .getAs[Long]("k") == 2L)
    val fe = intercept[IllegalArgumentException] {
      Bpe.encodeWithStoredMerges(fpDir, docs)
    }
    assert(fe.getMessage.contains("family"))
    val be = intercept[IllegalArgumentException] {
      graft.operators.Dedup.dedupAgainstIndex(bpeDir, docs)
    }
    assert(be.getMessage.contains("family"))
    val ae = intercept[IllegalArgumentException] {
      CacheScope.withScope {
        Bpe.index.append(bpeDir, Seq((3, "a", "b", 1L))
          .toDF("merge_rank", "lhs", "rhs", "pair_count"))
      }
    }
    assert(ae.getMessage.contains("a frozen tokenizer has no append"))
  }

  test("bpe refuses loudly when k exceeds the learnable merges") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val ex = intercept[Exception] {
      CacheScope.withScope {
        Bpe.learnMerges(Seq("ab ab").toDF("text"), k = 5).count()
      }
    }
    assert(msgs(ex).exists(_.contains("bpe premise")),
      s"expected the loud premise, got: ${msgs(ex).mkString(" | ")}")
  }
}
