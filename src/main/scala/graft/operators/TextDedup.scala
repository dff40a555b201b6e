package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Near-duplicate text detection at scale (north-star extension).
  *
  * Two implementations of the same contract (pairs of docs with word-
  * 3-gram-shingle Jaccard >= threshold):
  *
  *  - [[jaccardPairsLsh]]: MinHash signatures + LSH banding for candidate
  *    generation, exact Jaccard verification of candidates only. This is
  *    the 100 TB path: cost is O(docs × bands) explode + one shuffle per
  *    band join — never O(n²). With b=16 bands of r=4 rows, a pair at
  *    J=0.8 is missed with prob (1-0.8⁴)¹⁶ ≈ 2e-4; at the J≥0.9 regime
  *    planted in the testdata, recall is 1 to ~1e-15.
  *  - the DuckDB oracle computes the exact O(n²) answer at sf0.01, so the
  *    driver gate proves the LSH path loses nothing at verification scale.
  *
  * SimHash ([[simhashGroups]]) gives a complementary single-pass bucketing
  * (no oracle — bit-level hashing is engine-specific; properties are
  * asserted in ScalaTest).
  */
object TextDedup {

  /** Exact duplicate groups by text hash (SURVEY.md §2.5 "exact dedup"):
    * canonical id = min doc_id, plus group size.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    Dedup.exactGroups(docs, md5(col("text")), "doc_id")

  /** Prefix-BLOCKED edit-distance near-dup join over an (id, name)
    * frame: all pairs (id_a < id_b) sharing a `prefixLen`-char block
    * with levenshtein ≤ `maxDist`. Output (id_a, id_b, edit_dist).
    *
    * Blocking PREMISE, loud (r5 VERDICT): the per-block O(block²) DP is
    * bounded only while blocks stay small. On a skewed name distribution
    * (everything sharing one prefix) the join would go quadratic
    * SILENTLY — so the max block size is computed as a one-row aggregate
    * with `assert_true` folded into a CONSUMED column, broadcast onto
    * the probe side (the q64 bounds-frame discipline; a free-standing
    * check column would be pruned away and never evaluate). A violating
    * input fails the job naming the size, and the caller decides the
    * modeling answer (longer prefix, secondary blocking key, LSH).
    *
    * The probe side is round-robin repartitioned: a small single-file
    * scan otherwise runs the whole DP workload in ONE task (measured
    * 84 s single-core vs ~4 s spread at sf0.1). On a real cluster the
    * fact side arrives in many splits anyway — this pins the property.
    */
  def blockedEditPairs(names: DataFrame, prefixLen: Int, maxDist: Int,
      maxBlock: Long): DataFrame = {
    val spark = names.sparkSession
    val c = names.select(col("id"), col("name"),
      substring(col("name"), 1, prefixLen).as("blk"))
    val blkChk = c.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .agg(max(col("bn")).as("mb"))
      // coalesce(cond, true): an EMPTY input aggregates mb = NULL, and
      // assert_true(NULL) THROWS (Spark 4, measured) — no rows means
      // the premise trivially holds, not that it failed
      .select((coalesce(
        assert_true(coalesce(col("mb") <= maxBlock, lit(true)),
          concat(lit("blockedEditPairs premise: name-prefix block of "),
            col("mb"),
            lit(s" rows exceeds $maxBlock — blocking no longer bounds " +
              "the O(block²) edit-distance join"))).cast("long"),
        lit(0L)) + col("mb")).as("_mb"))
    c.repartition(spark.sessionState.conf.numShufflePartitions)
      .crossJoin(broadcast(blkChk))
      .as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("edit_dist", levenshtein(col("a.name"), col("b.name")))
      .filter(col("edit_dist") <= maxDist && col("_mb") > 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("edit_dist"))
  }

  /** Segment-PIGEONHOLE edit-distance near-dup join — the scale-safe
    * refinement of [[blockedEditPairs]] (r7 VERDICT #3): the SAME
    * contract (every pair (id_a < id_b) sharing a `prefixLen`-char
    * block with levenshtein ≤ `maxDist`), but candidate generation
    * inside a block is PassJoin-style (Li, Deng, Feng — ICDE 2011)
    * instead of all-pairs, so a hot prefix block costs work
    * proportional to segment-key collisions — bounded by suffix
    * CONTENT, never by block size. No `maxBlock` premise to trip.
    *
    * Why the refinement is exact: names sharing the block prefix have
    * lev(name_a, name_b) = lev(suffix_a, suffix_b) (equal leading chars
    * can always be matched in an optimal alignment — the standard
    * common-prefix-stripping identity), so blocking refines on suffix
    * content. The LONGER suffix of a pair is partitioned into
    * maxDist+1 contiguous segments; ≤ maxDist edits leave at least one
    * segment edit-free (pigeonhole), and an edit-free segment appears
    * VERBATIM in the shorter suffix shifted by at most maxDist from
    * its own position. So the index side emits each suffix's maxDist+1
    * (position, value) segments; the probe side emits, for every
    * target length in [len, len+maxDist], every substring matching
    * that scheme's segment lengths within the ±maxDist shift window;
    * one equi-join on (block, target length, segment index, segment
    * start, segment value) generates every true candidate — roles
    * auto-orient (the index length must cover the probe length), an
    * equal-length pair generated both ways collapses under the
    * canonical (least, greatest) distinct — and one exact levenshtein
    * per deduped pair verifies. Probe fan-out is a CONSTANT:
    * ≤ (maxDist+1)²·(2·maxDist+1) rows per record (45 at maxDist=2).
    *
    * Suffixes shorter than maxDist+1 chars can't host a non-empty
    * segment scheme (an empty segment key would re-collide the whole
    * block); pairs whose LONGER suffix clears maxDist+1 still ride the
    * long path (the probe side has no length floor — and a pair whose
    * longer suffix is ≥ maxDist+1 longer than the shorter one is out
    * of edit range anyway), so only both-short pairs remain, handled
    * by a dedicated short×short block join. Two loud premises replace
    * maxBlock, each strictly narrower: `maxKeyPairs` caps the
    * candidate volume of the hottest single JOIN KEY (an adversarial
    * corpus where many suffixes agree on one whole segment at one
    * position), `maxShortBlock` caps short-suffix rows per block.
    * Both are 1-row aggregates with assert_true folded into a CONSUMED
    * column (the [[blockedEditPairs]] bounds-frame discipline).
    *
    * At 100 TB: every stage is an equi-shuffle on content-derived keys
    * (no per-block quadratic barrier); the segment/probe explodes are
    * constant fan-out codegen maps; the two premise aggregates each
    * cost one pass over the (cached) exploded frames — the price of
    * refusing loud instead of degrading silent.
    */
  def segmentedEditPairs(names: DataFrame, prefixLen: Int, maxDist: Int,
      maxKeyPairs: Long = 10000000L, maxShortBlock: Long = 10000L)
      : DataFrame = {
    require(maxDist >= 1, "maxDist must be positive")
    val d = maxDist
    val nSeg = d + 1
    val base = names.select(col("id"), col("name"),
      substring(col("name"), 1, prefixLen).as("blk"),
      expr(s"substring(name, ${prefixLen + 1})").as("suf"))
      .withColumn("len", length(col("suf")))
    // even segment scheme of a length-L suffix: segment i ∈ [0, d] has
    // length li = L div (d+1) (+1 for the first L mod (d+1) segments)
    // and 0-based start pi — identical arithmetic on both sides, so an
    // index segment and a probe substring meet on the same key
    def segCols(df: DataFrame) = df
      .withColumn("li", expr(
        s"CAST(L div $nSeg + (CASE WHEN i < L % $nSeg THEN 1 ELSE 0 END) AS INT)"))
      .withColumn("pi", expr(
        s"CAST(i * (L div $nSeg) + least(i, L % $nSeg) AS INT)"))
    val segKeys = Seq("blk", "L", "i", "pi", "seg")
    val outCols = Seq("id", "name") ++ segKeys
    val idx = graft.CacheScope.scoped(segCols(
      base.filter(col("len") >= nSeg)
        .select(col("id"), col("name"), col("blk"), col("suf"),
          col("len").as("L"), explode(sequence(lit(0), lit(d))).as("i")))
      .withColumn("seg", expr("substring(suf, pi + 1, li)"))
      .select(outCols.map(col): _*))
    val prb = graft.CacheScope.scoped(segCols(
      base
        .select(col("id"), col("name"), col("blk"), col("suf"),
          col("len"),
          explode(sequence(col("len"), col("len") + lit(d))).as("L"))
        .filter(col("L") >= nSeg) // shorter targets have no index rows
        .select(col("id"), col("name"), col("blk"), col("suf"),
          col("len"), col("L"),
          explode(sequence(lit(0), lit(d))).as("i")))
      .filter(col("li") <= col("len")) // a longer segment can't embed
      .select(col("id"), col("name"), col("blk"), col("suf"), col("len"),
        col("L"), col("i"), col("pi"), col("li"),
        explode(filter(sequence(col("pi") - lit(d), col("pi") + lit(d)),
          q => q >= lit(0) && q <= col("len") - col("li"))).as("q"))
      .withColumn("seg", expr("substring(suf, q + 1, li)"))
      .select(outCols.map(col): _*)
      .distinct()) // several shifts can yield one (key, value) — emit once
    val idxCnt = idx.groupBy(segKeys.map(col): _*)
      .agg(count(lit(1)).as("ni"))
    val prbCnt = prb.groupBy(segKeys.map(col): _*)
      .agg(count(lit(1)).as("np"))
    // both premise conditions ride coalesce(cond, true): an empty
    // aggregate (no overlapping keys / no short suffixes — the COMMON
    // case for shorts) yields NULL, and assert_true(NULL) THROWS
    // (Spark 4, measured); no rows means the premise trivially holds
    val keyChk = idxCnt.join(prbCnt, segKeys)
      .agg(max(col("ni") * col("np")).as("kp"))
      .select((coalesce(
        assert_true(coalesce(col("kp") <= maxKeyPairs, lit(true)),
          concat(lit("segmentedEditPairs premise: hottest segment key " +
              "yields "), col("kp"),
            lit(s" candidates, exceeding $maxKeyPairs — segment " +
              "blocking no longer bounds the per-key join volume")))
          .cast("long"),
        lit(0L)) + col("kp")).as("_kp"))
    val longCand = idx.as("a").join(prb.as("b"),
        col("a.blk") === col("b.blk") && col("a.L") === col("b.L") &&
          col("a.i") === col("b.i") && col("a.pi") === col("b.pi") &&
          col("a.seg") === col("b.seg") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        when(col("a.id") < col("b.id"), col("a.name"))
          .otherwise(col("b.name")).as("name_a"),
        when(col("a.id") < col("b.id"), col("b.name"))
          .otherwise(col("a.name")).as("name_b"))
      .distinct()
      .crossJoin(broadcast(keyChk))
    val shorts = graft.CacheScope.scoped(
      base.filter(col("len") <= d).select("id", "name", "blk"))
    val shortChk = shorts.groupBy(col("blk")).agg(count(lit(1)).as("sn"))
      .agg(max(col("sn")).as("ms"))
      .select((coalesce(
        assert_true(coalesce(col("ms") <= maxShortBlock, lit(true)),
          concat(lit("segmentedEditPairs premise: block with "),
            col("ms"),
            lit(s" sub-${nSeg}-char suffixes exceeds $maxShortBlock — " +
              "the short×short join no longer bounds"))).cast("long"),
        lit(0L)) + col("ms")).as("_kp"))
    val shortCand = shorts.as("a").join(shorts.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .crossJoin(broadcast(shortChk))
    longCand.unionByName(shortCand)
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist") <= d && col("_kp") > 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** Benchmark decontamination: drop corpus rows whose normalized
    * fingerprint ([[graft.functions.TextFns.fingerprint]] — the q20
    * oracle-proven normalize-then-md5) appears in `benchmark`. The
    * train/eval-overlap removal every LLM data pipeline runs before
    * training.
    *
    * Scale shape: eval suites are tiny next to a 100 TB corpus, so the
    * benchmark fingerprint set is BROADCAST and the corpus side is one
    * shuffle-free anti-join map pass.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val fp = graft.functions.TextFns.fingerprint(col("text"))
    val bench = benchmark.select(fp.as("_fp")).distinct()
    corpus.withColumn("_fp", fp)
      .join(broadcast(bench), Seq("_fp"), "left_anti")
      .drop("_fp")
  }

  /** Word-n-gram OVERLAP decontamination — the industry-standard stronger
    * form of [[decontaminate]] (GPT-3-style 13-gram rule): drop any
    * corpus document that shares even ONE n-gram of words with the
    * benchmark set, catching partial quotations and embedded eval items
    * that a whole-document fingerprint misses.
    *
    * Scale shape: benchmark n-grams are DISTINCT'd and broadcast (eval
    * suites are tiny next to a training corpus); the corpus side is a
    * per-row generator (transform over sequence + concat_ws — pure
    * codegen, one scan) feeding a broadcast LEFT SEMI join to find
    * contaminated ids, then a broadcast-able anti join drops them. No
    * corpus-sized shuffle anywhere. At web scale the broadcast gram set
    * swaps for a bloom filter with an exact semi-join confirm — same
    * two-sided shape, shipped as [[ngramDecontaminateBloom]] and gated
    * as q97 against the identical oracle.
    *
    * Grams join on their STRING form, not a hash: exactness is the
    * contract (the DuckDB oracle rebuilds the identical gram sets), and
    * the benchmark side is small enough that key width is irrelevant.
    */
  def ngramDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 13): DataFrame = {
    require(n >= 1, "n must be positive")
    val bench = wordGrams(benchmark, n).select(col("gram")).distinct()
    val contaminated = wordGrams(corpus, n)
      .join(broadcast(bench), Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** CONTAINMENT-ratio decontamination — the graded refinement of
    * [[ngramDecontaminate]]'s boolean rule: instead of dropping on ONE
    * shared n-gram, score each (corpus doc, benchmark item) pair by
    * |distinct shared n-grams| / |benchmark item's distinct n-grams|
    * (asymmetric containment — how much of the EVAL ITEM the document
    * covers, the direction contamination audits care about; plain
    * Jaccard would dilute a fully-quoted short eval item inside a long
    * document). Emits flagged pairs at ≥ `minPpm`, with the exact
    * integer evidence (shared count, containment ppm by truncating
    * division) an audit needs — dropping is then a semi-join away.
    *
    * Scale shape: the benchmark gram table (eval sets are broadcast-
    * small by definition) is broadcast; corpus grams stream through the
    * codegen generator and only MATCHING grams survive the join, so the
    * one shuffle — the (doc, bench) distinct-gram count — carries hits,
    * never the corpus. No pre-distinct of corpus grams (that would be a
    * corpus-sized shuffle): the count_distinct in the aggregation
    * dedupes positional repeats exactly.
    */
  def containmentDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 5, minPpm: Long = 500000L): DataFrame = {
    require(n >= 1 && minPpm >= 0, "nonsensical containment parameters")
    // the benchmark gram table feeds both the size count and the probe
    // join — pinned (CLAUDE.md self-join rule)
    val bg = graft.CacheScope.scoped(wordGrams(benchmark, n)
      .select(col("doc_id").as("bench_id"), col("gram")).distinct())
    val bsz = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("bn"))
    val shared = wordGrams(corpus, n)
      .join(broadcast(bg), "gram")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count_distinct(col("gram")).as("shared_grams"))
    shared.join(broadcast(bsz), "bench_id")
      .withColumn("containment_ppm",
        expr("(1000000 * shared_grams) div bn"))
      .filter(col("containment_ppm") >= minPpm)
      .select(col("doc_id"), col("bench_id"), col("shared_grams"),
        col("containment_ppm"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** Positional word-n-grams per doc: (doc_id, gram) rows via a pure
    * codegen generator (transform over sequence + concat_ws, one scan).
    * The length guard keeps `sequence` ascending — sequence(0, neg)
    * DESCENDS and would fabricate grams for short docs.
    */
  private def wordGrams(df: DataFrame, n: Int): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("t"))
    .filter(size(col("t")) >= n)
    .select(col("doc_id"), explode(expr(
      s"transform(sequence(0, size(t) - $n), i -> " +
        "concat_ws(' ', slice(t, i + 1, " + n + ")))")).as("gram"))

  /** [[ngramDecontaminate]]'s WEB-SCALE form — the variant that file has
    * promised since round 3: when the benchmark gram set is too large to
    * broadcast as exact strings (a full eval-suite union is millions of
    * 13-grams; a broadcast hash relation over them costs GBs of executor
    * memory), broadcast its BLOOM FILTER instead (mBits/8 bytes — 32 KB
    * at the default 2¹⁸) and probe every corpus gram with the codegen
    * [[BloomJoin.mightContain]] predicate — a shuffle-free map pass that
    * discards the overwhelmingly-clean corpus stream BEFORE any join.
    * Bloom false positives are then removed by an exact semi-join of the
    * tiny surviving candidate set against the true gram set (shuffled,
    * but over survivors only — never the corpus). No false negatives
    * exist by Bloom construction, so the result is IDENTICAL to
    * [[ngramDecontaminate]] on every input — which is exactly what the
    * q97 gate proves by running both against the same oracle SQL.
    *
    * Parameter sizing: default mBits = 2¹⁸ (32 KB) holds ~25 bits/gram
    * at the gate's 10k-gram benchmark (FPR ≈ 2·10⁻⁴) and — the part that
    * matters operationally — keeps the filter CACHE-RESIDENT during the
    * probe: measured on this box, the per-row probe cost jumps ~10× when
    * the bits array grows from 2¹⁸ (32 KB, L2-resident) to 2²⁰ (128 KB),
    * dominating the whole query. Size m to the smallest acceptable-FPR
    * filter rather than generously: a higher FPR only costs confirm-join
    * volume — correctness never depends on m or k.
    */
  def ngramDecontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 13, mBits: Int = 1 << 18, k: Int = 5): DataFrame = {
    require(n >= 1, "n must be positive")
    // read twice (filter build + exact confirm) — pinned per CLAUDE.md's
    // self-join rule so the benchmark gram generator runs once
    val bench = graft.CacheScope.scoped(
      wordGrams(benchmark, n).select(col("gram")).distinct())
    val candidates = BloomJoin.prune(
      wordGrams(corpus, n), bench, "gram", "gram", mBits, k)
    // exact confirm: NOT broadcast — at web scale the true gram set only
    // exists shuffled; the candidate side is already bloom-thinned
    val contaminated = candidates
      .join(bench, Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** MinHash+LSH candidate pairs verified by exact Jaccard.
    *
    * @param numHashes signature length (bands × rowsPerBand)
    * @param bands     LSH bands; rowsPerBand = numHashes / bands
    */
  def jaccardPairsLsh(docs: DataFrame, threshold: Double,
      numHashes: Int = 64, bands: Int = 16,
      bucketCap: Int = 100000): DataFrame = {
    require(numHashes == 64, "graft_minhash64 emits 64-slot signatures")
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    graft.plans.GraftFunctions.register(docs.sparkSession)

    // Signatures via the codegen MinHash expression — a pure MAP stage
    // (no shuffle): the exploded-shingle + 64-min-aggregate formulation
    // this replaced moved 2.5M (doc, shingle) rows through an aggregate
    // exchange at sf0.1.
    // cached: the band self-join and the verify path would otherwise both
    // re-derive shingles + signatures from the raw text
    val shingled = graft.CacheScope.scoped(shingleFrame(docs))
    val sigs = shingled.select(col("doc_id"),
      expr("graft_minhash64(shingles)").as("sig"))
    val cand = lshCandidates(sigs, bands, r, bucketCap)

    // Exact-Jaccard verification only touches candidate documents: a
    // semi-join prunes the shingle table before the explode.
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sh = shingled
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    verifyJaccard(cand, sh, threshold)
  }

  /** LSH candidate pairs from (doc_id, sig) rows: hash r consecutive
    * signature slots per band, explode to (band_id, band_hash, doc_id)
    * and self-join on bucket equality.
    *
    * Buckets larger than `bucketCap` are SALTED into ~cap-sized slices
    * and pairs form only within a slice: a degenerate corpus — thousands
    * of byte-identical documents collapsing into one bucket in every
    * band — costs O(bucket × cap) instead of O(bucket²). The salt is
    * derived by hash-partitioning doc_ids over ceil(size/cap) slices,
    * joined from an OVERSIZED-BUCKETS side table that is empty for any
    * non-pathological corpus — so the normal path pays one map-combined
    * aggregation and an (empty) broadcast join, never the full
    * shuffle+SORT a row_number window over every bucket would cost.
    * Below the cap the candidate set is byte-identical; above it,
    * cross-slice pairs are knowingly dropped — identical documents are
    * exact-dedup's job ([[exactDupGroups]]), not the near-dup join's.
    */
  private[graft] def lshCandidates(sigs: DataFrame, bands: Int, r: Int,
      bucketCap: Int): DataFrame = {
    val raw = minhashBandRows(sigs, r, bands)
    // (band, hash) -> slice count, ONLY where a bucket breaches the cap;
    // integral ceil division: (cnt + cap - 1) div cap
    val oversized = raw.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > bucketCap)
      .select(col("band_id"), col("band_hash"),
        expr(s"(cnt + $bucketCap - 1) div $bucketCap").as("n_slices"))
    val bandRows = graft.CacheScope.scoped(raw
      .join(broadcast(oversized), Seq("band_id", "band_hash"), "left")
      .withColumn("salt",
        when(col("n_slices").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col("doc_id")), col("n_slices"))))
      .drop("n_slices")
      ) // tiny (docs × bands rows); read twice by the self-join
    bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** (doc_id, shingles) distinct word-3-gram sets for docs with ≥ 3
    * words — THE one shingling pipeline, shared by [[jaccardPairsLsh]]
    * (q26) and the [[TextIndex]] artifact family so the two can never
    * drift on what a shingle is (r11 review; the oracle's
    * `len(ws) >= 3` + list_distinct walk mirrors it exactly).
    */
  private[operators] def shingleFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), TextFns.shingles(col("ws"), 3).as("shingles"))

  /** (doc_id, band_id, band_hash) rows from (doc_id, sig) under
    * banding (r, b): band i's key hashes signature slots
    * [i·r+1, i·r+r] salted by the band id — THE one band-key
    * construction, shared by the q26 self-join path and the
    * [[TextIndex]] artifact family (r11 review: a second hand-copied
    * formula is how two families silently stop colliding). The hash
    * is Spark-internal and output-invisible (candidates always verify
    * exactly), so it never needs oracle parity.
    */
  private[operators] def minhashBandRows(sigs: DataFrame, r: Int,
      b: Int): DataFrame = {
    val bandCols = (0 until b).map { i =>
      struct(lit(i).as("band_id"),
        hash(slice(col("sig"), i * r + 1, r), lit(i)).as("band_hash"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bh"))
      .select(col("doc_id"), col("bh.band_id").as("band_id"),
        col("bh.band_hash").as("band_hash"))
  }

  /** Exact shingle-Jaccard for a given candidate-pair set: two semi-joins
    * against the shingle table, count intersections, compare to set sizes.
    */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") &&
          col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("za.n_shingles") + col("zb.n_shingles") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** EXACT character-n-gram Jaccard similarity self-join via PREFIX
    * FILTERING (the AllPairs/PPJoin family — Bayardo et al., WWW 2007;
    * Xiao et al., WWW 2008; public constructions), completing the dedup
    * suite's n-gram-Jaccard variant: [[jaccardPairsLsh]] is the
    * probabilistic word-shingle path, this is the LOSSLESS char-gram path.
    *
    * Why not a plain inverted-index join: on the sf0.1 corpus the naive
    * "pairs sharing any gram" candidate set is 12.5M rows — within 0.1% of
    * all-pairs n²/2, because frequent grams connect everything. Prefix
    * filtering makes the exact join scale: order grams globally by
    * (document frequency, gram) RARE-FIRST; a doc of |d| grams only emits
    * its first |d| − ceil(θ·|d|) + 1 grams as join keys. Pigeonhole (on
    * the first common gram in the global order) proves any pair with
    * J ≥ θ shares a prefix gram, so NO qualifying pair is lost, while
    * high-frequency grams — the quadratic blowup — almost never appear in
    * a prefix. Candidates then get exact-Jaccard verification against
    * the cached per-doc gram arrays -- one collection intersect per
    * candidate pair.
    *
    * Threshold is a RATIONAL (thetaNum/thetaDen) and the output is
    * integer-only (n_common, n_a, n_b) per the float policy: the gate
    * compares `den·∩ ≥ num·∪` in exact integer arithmetic on both
    * engines — no double Jaccard crosses the oracle boundary.
    *
    * Scale shape: one gram-array map stage (codegen `transform`/
    * `sequence`, no UDF), one map-combined df aggregation over hashed
    * gram keys, one per-doc ranking window, a self-join keyed on RARE
    * keys only, and an array-verify join over candidate pairs only. A
    * collect_list+array_sort rank was tried in place of the window and
    * measured 3.4x SLOWER (variable-size aggregation buffers fall off
    * the hash-agg fast path) -- the window stays. All shuffles are keyed;
    * nothing is O(n²) unless the data genuinely is (near-all-duplicates
    * corpora — exact-dedup's job, as with the LSH bucket cap).
    */
  def charGramJaccardJoin(docs: DataFrame, n: Int = 5,
      thetaNum: Int = 7, thetaDen: Int = 10): DataFrame = {
    require(n >= 1, "gram size must be positive")
    require(thetaNum > 0 && thetaNum <= thetaDen,
      "threshold must be a rational in (0, 1]")
    import org.apache.spark.sql.expressions.Window

    // Distinct char n-grams per doc as ONE array row — a pure codegen map
    // stage (the length guard keeps `sequence` ascending: Spark's
    // sequence(1, k) DESCENDS for k < 1 and would fabricate grams for
    // short docs). Set size is map-side `size()`, and the verify step
    // reads the same arrays — deriving everything from this one cached
    // frame removed two explode→groupBy round trips over the full gram
    // table (sizes, gramSets) that the first cut paid.
    val docGrams = graft.CacheScope.scoped(docs
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        array_distinct(expr(
          s"transform(sequence(1, length(t) - ${n - 1}), " +
            s"i -> substring(t, i, $n))")).as("gs"))
      // The candidate machinery runs ENTIRELY on 8-byte hashed gram keys
      // (distinct'd again — a collision inside one doc would double-count)
      // instead of n-char strings: cheaper shuffles, long-vs-long join
      // compares. Lossless: a hash collision can only merge an
      // intersection gram pair (∩,∪ both −1), two same-side grams (∪ −1),
      // or a cross-side pair (∩ +1, ∪ −1) — every case RAISES key-space
      // Jaccard, so running the exact algorithm in key space yields a
      // SUPERSET of the string-space qualifying pairs, and the verify
      // step below re-checks candidates on the true string sets.
      .withColumn("ks", array_distinct(expr(
        "transform(gs, g -> xxhash64(g))")))
      .withColumn("n_keys", size(col("ks")).cast("long"))
      .withColumn("n_grams", size(col("gs")).cast("long")))
    val keys = docGrams.select(col("doc_id"), col("n_keys"),
      explode(col("ks")).as("gram"))
    val df = keys.groupBy("gram").agg(count(lit(1)).as("df"))

    // Rare-first prefix: rank each doc's keys by the global (df, key)
    // total order; keep n_keys − ceil(θ·n_keys) + 1 of them. ceil in
    // exact integer arithmetic: ceil(p·n/q) = (p·n + q − 1) div q.
    val prefix = keys.join(df, Seq("gram"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))))
      .filter(col("rnk") <= col("n_keys") -
        expr(s"($thetaNum * n_keys + ${thetaDen - 1}) div $thetaDen") + 1)
      .select(col("doc_id"), col("gram"),
        col("n_keys").as("n_grams"), col("rnk"))

    // Candidates: prefix ∩ prefix on the (rare) gram key, pruned INSIDE
    // the join by two exact filters —
    //  · length: J ≥ θ forces den·min(|a|,|b|) ≥ num·max(|a|,|b|);
    //  · positional (PPJoin): matching at ranks (i, j) caps the overlap
    //    at min(|a|−i, |b|−j) + 1, which must reach the required
    //    α = ceil(θ·(|a|+|b|)/(1+θ)) = ceil(num·(|a|+|b|)/(num+den)).
    // Both are cheap integer predicates evaluated inline on join rows,
    // cutting the set BEFORE the distinct shuffle.
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.gram") === col("y.gram") &&
          col("x.doc_id") < col("y.doc_id") &&
          lit(thetaDen) * least(col("x.n_grams"), col("y.n_grams")) >=
            lit(thetaNum) * greatest(col("x.n_grams"), col("y.n_grams")) &&
          expr(s"least(x.n_grams - x.rnk, y.n_grams - y.rnk) + 1 >= " +
            s"($thetaNum * (x.n_grams + y.n_grams) + " +
            s"${thetaNum + thetaDen - 1}) div ${thetaNum + thetaDen}"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // Exact verification WITHOUT a per-candidate gram explode: the
    // candidate pair joins both docs' cached array rows and the
    // intersection size is a single collection op per pair. The first cut
    // of this verify joined candidates to the exploded gram table —
    // candidates × grams-per-doc rows (≈1e9 at sf0.1 on this dense-vocab
    // corpus) — and was 100× slower than the whole query is now.
    val out = cand
      .join(docGrams.select(col("doc_id").as("doc_a"), col("gs").as("ga"),
        col("n_grams").as("n_a")), Seq("doc_a"))
      .join(docGrams.select(col("doc_id").as("doc_b"), col("gs").as("gb"),
        col("n_grams").as("n_b")), Seq("doc_b"))
      .withColumn("n_common", size(array_intersect(col("ga"), col("gb"))))
      .filter(lit(thetaDen) * col("n_common") >=
        lit(thetaNum) * (col("n_a") + col("n_b") - col("n_common")))
    out.select(col("doc_a"), col("doc_b"),
        col("n_common").cast("long").as("n_common"),
        col("n_a"), col("n_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 64-bit SimHash per document + duplicate buckets: documents sharing a
    * simhash are near-identical under token-frequency weighting. Single
    * map pass + one group-by; no pairwise work at all.
    */
  def simhashGroups(docs: DataFrame): DataFrame = {
    // One custom aggregate ([[graft.plans.SimHashAgg]]: long[64] buffer,
    // partial-merge capable) replaces 64 separate per-bit SUM columns.
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id")
      .agg(expr("graft_simhash(tok)").as("simhash"))
      .groupBy("simhash")
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("group_size"),
        sort_array(collect_list(col("doc_id"))).as("doc_ids"))
      .filter(col("group_size") >= 2)
      .orderBy(col("canonical_id"))
  }

  /** Longest shared token RUN per document pair — the contamination-
    * forensics view behind exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): not
    * just WHETHER two documents share an n-gram (q93's boolean) but the
    * LENGTH of every maximal shared run, which is what separates a stock
    * phrase from a lifted paragraph.
    *
    * Construction: positional n-grams (codegen transform+slice, exploded
    * with their start position), equi-join on the gram — two documents'
    * matching grams lie on DIAGONALS (pa − pb constant), and k
    * consecutive matching grams on one diagonal are exactly a shared run
    * of k + n − 1 tokens. Runs fall out as gaps-and-islands per
    * (pair, diagonal): pa − row_number() groups each maximal
    * consecutive stretch.
    *
    * Output: (doc_a, doc_b, max_run_tokens, n_runs) per pair sharing at
    * least one n-gram. `doc_id` must be one id space (at most one row
    * per id — the repo-wide contract): a duplicated id would duplicate
    * its (doc_id, pos) gram rows and inflate run counts.
    *
    * Scale: the gram join is keyed on the gram (string form — exactness
    * is the contract and the oracle rebuilds identical sets; at web
    * scale swap in 8-byte gram hashes with q69's collision-superset
    * argument); the island window partitions by (pair, diagonal) — never
    * global. A promiscuous gram (boilerplate) inflates the join the same
    * way any hot key does — at 100 TB, cap or drop grams above a df
    * ceiling first (they cannot START a meaningful unique run) or run
    * [[Curation.removeBoilerplate]] upstream, the same discipline as
    * q26's bucket cap.
    */
  def sharedRuns(corpus: DataFrame, n: Int = 13): DataFrame = {
    require(n >= 2, "a 1-gram run is just a shared word; use n >= 2")
    // pinned: the gram generator feeds BOTH sides of the self-join
    // (CLAUDE.md self-join rule) — unpinned, the corpus-wide
    // split+slice+explode would execute twice
    val grams = graft.CacheScope.scoped(corpus
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - lit(n - 1)),
        i => struct(i.as("pos"),
          array_join(slice(col("ws"), i, lit(n)), " ").as("g")))).as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.g").as("g")))
    // No distinct needed: grams has exactly ONE row per (doc_id, pos)
    // by construction (one transform element per start position), so
    // the equi-join emits at most one row per ((doc_a, pa), (doc_b,
    // pb)) pair — and (doc_a, doc_b, pa, diag) determines pb (pb =
    // pa − diag). The r13-r15 .distinct() here was an identity that
    // paid a full Exchange + two-phase aggregate over the join output
    // (the largest intermediate); removed r16.
    val matches = grams.as("a")
      .join(grams.as("b"), col("a.g") === col("b.g") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"),
        (col("a.pos") - col("b.pos")).as("diag"))
    matches
      .withColumn("grp", col("pa") - row_number().over(Window
        .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
        .orderBy(col("pa"))))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg((count(lit(1)) + (n - 1)).as("run_tokens"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("run_tokens")).as("max_run_tokens"),
        count(lit(1)).as("n_runs"))
  }

  /** EXACT duplicated-substring SPANS — the span-level dedup modality
    * of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499, public), and the one the
    * document-level families here (MinHash q26, SimHash q27, char-gram
    * q69) cannot express: a boilerplate paragraph pasted into otherwise
    * unrelated documents never clears a whole-document threshold, but
    * its characters are still verbatim training-set repetition. Every
    * length-`w` CHARACTER window of the lowercased text that occurs in
    * >= `minDocs` DISTINCT documents marks its start position, and per
    * document the marked windows merge into maximal spans (windows that
    * overlap or touch — start-gap <= w — share a span; a gap > w starts
    * a new one). One row per (doc_id, span): ordinal span_id, 1-based
    * inclusive char bounds, window count — all exact longs. Cross-doc
    * only by contract: a window repeated solely WITHIN one document is
    * not corpus duplication (that axis is [[sharedRuns]]'s diagonal-run
    * shape and q95's repetition scores).
    *
    * Engine shape: window HASHES shuffle, never window text.
    * The candidate stage is lossless by the q69 key-space discipline —
    * a hash collision can only ADD candidate positions, because every
    * truly-duplicated window still lands in one hash group, and the
    * verify stage re-groups the (rare) candidates on their TRUE window
    * text before anything is emitted. Shuffled bytes are O(total_chars)
    * FIXED-WIDTH rows (doc_id, pos, hash) with map-side partial
    * aggregation — the asymptotic price any exact-substring method pays
    * (a suffix-array build shuffles the same order); at 100 TB the
    * knob is `w` itself, which only changes constant factors, not the
    * row count. The hashes come from ONE rolling Rabin-Karp pass
    * ([[graft.plans.RollingWindowHashes]], r16 — O(N) CPU, zero extra
    * shuffle, inside one codegen stage), replacing the r13-r15
    * per-position substring re-hash (O(N*w) CPU and one string
    * allocation per window); hash choice is output-invisible by the
    * verify stage above.
    */
  def duplicateSpans(docs: DataFrame, w: Int,
      minDocs: Int = 2): DataFrame = {
    require(w >= 2, "a 1-char window marks shared letters; use w >= 2")
    require(minDocs >= 2, "duplication needs at least two documents")
    // NULL text never reaches the hash stage: length(NULL) >= w is
    // NULL, which filter() drops — so the premise guards downstream
    // never see assert_true(NULL) (the Spark 4 throw gotcha).
    val t = graft.CacheScope.scoped(docs
      .filter(length(col("text")) >= w)
      .select(col("doc_id"), lower(col("text")).as("t")))
    val marked = dupWindows(t, w, minDocs)
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands over per-doc start positions: unique pos per
    // (doc, window), so ROWS and RANGE frames agree with the oracle's
    // default sum-over-order frame. A NULL lag (first window) compares
    // NULL <= w -> NULL -> otherwise(1): a new span, on both engines.
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("brk", when(
        col("pos") - lag(col("pos"), 1).over(byPos) <= w, lit(0L))
        .otherwise(lit(1L)))
      .withColumn("span_id", sum(col("brk")).over(byPos))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_id"), col("span_start"),
        col("span_end"), col("n_windows"))
  }

  /** Text-VERIFIED duplicated windows over a (doc_id, t) frame: every
    * 1-based start `pos` whose length-`w` window of `t` occurs verbatim
    * in >= `minDocs` DISTINCT documents, carried with its true window
    * text `gram`. The [[duplicateSpans]] / [[removeDuplicateSpans]]
    * shared core. Candidate generation shuffles window HASHES
    * (rolling polynomial, fixed-width rows) — a collision can only ADD candidate
    * positions (every truly-duplicated window still lands in one hash
    * group), and candidates re-qualify on their TRUE re-extracted text
    * before anything is emitted, so exactness never rides the hash.
    */
  private def dupWindows(t: DataFrame, w: Int,
      minDocs: Int): DataFrame = {
    // "appears in >= minDocs distinct docs" without the distinct-
    // aggregate Expand at the common minDocs = 2: two distinct doc ids
    // in a group ⟺ min(doc_id) != max(doc_id) — a plain partial-
    // aggregable min/max instead of count_distinct's two-phase
    // expanded aggregate over the corpus-sized frame (r16; same rows
    // out, pinned by the unchanged q149/q150/q158 oracles).
    def atLeastMinDocs(df: DataFrame, key: String): DataFrame =
      if (minDocs == 2)
        df.groupBy(key)
          .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
          .filter(col("d0") =!= col("d1"))
          .select(key)
      else
        df.groupBy(key)
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= minDocs)
          .select(key)
    // one codegen pass: every window start's hash, exploded to
    // fixed-width (doc_id, pos, h) rows — the ONLY corpus-sized frame
    // that ever shuffles. Read twice (dup-hash agg + position join) —
    // pinned per the both-sides rule. Hashes come from ONE O(bytes)
    // rolling pass (graft.plans.WindowHashes) instead of re-hashing w
    // chars per position — hash choice is output-invisible here (the
    // true-text re-qualification below; see the expression's scaladoc).
    graft.plans.GraftFunctions.register(t.sparkSession)
    val windows = graft.CacheScope.scoped(t
      .select(col("doc_id"),
        posexplode(expr(s"graft_window_hashes(t, $w)"))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("h")))
    val dupHashes = atLeastMinDocs(windows, "h")
    // candidates re-extract their TRUE window text (w chars each, only
    // for candidates) and re-qualify on it. Read twice (true-dup agg +
    // final mark join) — pinned.
    val verified = graft.CacheScope.scoped(windows
      .join(dupHashes, Seq("h"))
      .join(t, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(t, CAST(pos AS INT), $w)").as("gram")))
    val trueDup = atLeastMinDocs(verified, "gram")
    verified.join(trueDup, Seq("gram"))
      .select(col("doc_id"), col("pos"), col("gram"))
  }

  /** Span-level dedup APPLIED — the corpus-rewrite step of Lee et al.
    * 2021 that [[duplicateSpans]] only reports: cut every duplicated
    * span from every document EXCEPT the one canonical owner, and emit
    * the cleaned corpus. Ownership is deterministic and global per
    * window text: the MINIMUM doc_id among the documents containing
    * that window keeps ALL its occurrences; every other document
    * deletes its occurrences. Per non-owner doc the deleted windows
    * merge into maximal char ranges (the [[duplicateSpans]] islands
    * rule — start-gap <= w shares a range), and the cleaned text is
    * the concatenation of the kept segments between them, assembled in
    * ONE `aggregate()` fold over the per-doc sorted range array (a
    * handful of ranges per doc — never a per-char loop, never a
    * shuffle of cleaned text).
    *
    * Matching is VERBATIM-case (unlike [[duplicateSpans]]'s lowercase
    * detection): cut positions index the ORIGINAL text, so the window
    * space and the surgery space must be the same string — and only
    * byte-identical repetition is removable training-set duplication.
    *
    * One row per input document (cut or not): (doc_id, orig_len,
    * clean_len, n_cut, chars_removed, clean_md5) — lengths/counts as
    * exact longs, the cleaned text carried as its md5 so the gate
    * proves the RECONSTRUCTED STRING byte-for-byte without shipping
    * corpus-sized output. NULL text flows through as NULL md5 with
    * zero cuts. Scale shape = [[duplicateSpans]]'s: the hash stage
    * shuffles O(total_chars) fixed-width rows; everything after is
    * proportional to true duplication volume.
    */
  def removeDuplicateSpans(docs: DataFrame, w: Int,
      minDocs: Int = 2): DataFrame = {
    require(w >= 2, "a 1-char window marks shared letters; use w >= 2")
    require(minDocs >= 2, "duplication needs at least two documents")
    val t = graft.CacheScope.scoped(docs
      .filter(length(col("text")) >= w)
      .select(col("doc_id"), col("text").as("t")))
    // read twice (owner agg + deletion join) — pinned
    val marked = graft.CacheScope.scoped(dupWindows(t, w, minDocs))
    val owners = marked.groupBy("gram")
      .agg(min(col("doc_id")).as("owner"))
    val del = marked.join(owners, Seq("gram"))
      .filter(col("doc_id") =!= col("owner"))
      .select(col("doc_id"), col("pos"))
    cutMarkedSpans(docs, del, w)
  }

  /** The span-surgery half shared by [[removeDuplicateSpans]] (q150)
    * and [[decontaminateSpans]] (q158): given (doc_id, pos) marked
    * window starts, merge them into maximal delete ranges
    * (gaps-and-islands — a start gap ≤ w overlaps/abuts), reassemble
    * each cleaned string in ONE `aggregate()` fold over the per-doc
    * sorted range array, and emit the q150 output shape with
    * md5(cleaned) so a gate proves the reconstruction byte-for-byte.
    */
  private def cutMarkedSpans(docs: DataFrame, del: DataFrame, w: Int)
      : DataFrame = {
    // merged delete ranges: distinct ranges are separated by >= 1 kept
    // char (next start-gap > w ⇒ next del_start >= prev del_end + 2),
    // so the fold below never sees an empty or negative kept segment
    // except the (legal, '') leading one when a range starts at pos 1.
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val ranges = del
      .withColumn("brk", when(
        col("pos") - lag(col("pos"), 1).over(byPos) <= w, lit(0L))
        .otherwise(lit(1L)))
      .withColumn("rid", sum(col("brk")).over(byPos))
      .groupBy(col("doc_id"), col("rid"))
      .agg(min(col("pos")).as("del_start"),
        (max(col("pos")) + lit(w - 1).cast("long")).as("del_end"))
    val perDoc = ranges.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("del_start"),
          col("del_end")))).as("rs"),
        count(lit(1)).as("n_cut"),
        sum(col("del_end") - col("del_start") + 1).as("chars_removed"))
    // the fold: (next kept start, accumulated string); substring() is
    // 1-based and clamps len <= 0 to '' on both engines
    val cleaned = when(col("rs").isNull, col("text")).otherwise(expr(
      """aggregate(rs,
           named_struct('nxt', CAST(1 AS BIGINT), 'acc', ''),
           (a, r) -> named_struct(
             'nxt', r.del_end + CAST(1 AS BIGINT),
             'acc', concat(a.acc, substring(text, CAST(a.nxt AS INT),
                      CAST(r.del_start - a.nxt AS INT)))),
           a -> concat(a.acc, substring(text, CAST(a.nxt AS INT),
                  CAST(length(text) - a.nxt + 1 AS INT))))"""))
    docs.join(perDoc, Seq("doc_id"), "left")
      .withColumn("cleaned", cleaned)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("orig_len"),
        length(col("cleaned")).cast("long").as("clean_len"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"),
        md5(col("cleaned")).as("clean_md5"))
  }

  /** SPAN-level decontamination — the [[removeDuplicateSpans]] surgery
    * aimed at a BENCHMARK instead of at the corpus itself: every
    * `w`-char window of a corpus doc whose verbatim text appears as a
    * window anywhere in `benchmark` is marked, marked windows merge to
    * maximal delete ranges, and the cleaned corpus is emitted (q150's
    * output shape, md5-gated byte-for-byte). This is the graded
    * refinement of the whole-doc decontamination family (q93 drops a
    * doc for ONE shared 13-gram; q135 scores containment): eval text
    * quoted inside an otherwise-good document costs the QUOTE, not the
    * document — the Lee et al. rewrite applied to train/test overlap.
    *
    * Matching is VERBATIM-CASE, like q150 (cut offsets index the
    * original string; a case-normalized variant would need
    * offset-preserving normalization).
    *
    * Scale shape: the ONLY corpus-sized frame is the fixed-width
    * (doc_id, pos, window-hash) explode — O(corpus_chars), the
    * q149/q150 floor. The benchmark side is assumed ≪ corpus (the q93
    * stance: eval sets are MBs against TBs): its distinct window-hash
    * set broadcasts into the candidate semi-join, and candidates
    * re-extract their TRUE window text and confirm against the
    * benchmark's distinct window TEXT set — a hash collision can
    * only ADD a candidate that the text confirm then removes, so the
    * hash stage is output-invisible and the gate is exact.
    */
  def decontaminateSpans(corpus: DataFrame, benchmark: DataFrame,
      w: Int): DataFrame = {
    require(w >= 2, "a 1-char window marks shared letters; use w >= 2")
    // consumed once (decontaminateWithGrams pins its own copy) — no pin
    val bt = benchmark
      .filter(length(col("text")) >= w)
      .select(col("doc_id"), col("text").as("t"))
    val benchGrams = bt
      .select(posexplode(expr(
        s"transform(sequence(1, length(t) - ${w - 1}), " +
          s"i -> substring(t, i, $w))")).as(Seq("_p", "gram")))
      .select(col("gram")).distinct()
    decontaminateWithGrams(corpus, benchGrams, w)
  }

  /** The corpus half of span decontamination, shared by the live path
    * ([[decontaminateSpans]], which explodes the benchmark per call)
    * and the stored-index path ([[decontaminateAgainstIndex]], which
    * reads `grams` from the artifact): mark every corpus window whose
    * verbatim text is in `benchGrams` (distinct w-char strings), via
    * the broadcast hash candidate stage + true-text confirm, then cut
    * (see [[decontaminateSpans]]'s scaladoc for the exactness
    * argument). ONE definition so the two paths cannot drift on what a
    * marked window is.
    */
  private def decontaminateWithGrams(corpus: DataFrame,
      benchGrams0: DataFrame, w: Int): DataFrame = {
    val t = graft.CacheScope.scoped(corpus
      .filter(length(col("text")) >= w)
      .select(col("doc_id"), col("text").as("t")))
    // benchmark-sized, read twice (hash set + text confirm) — pinned
    val benchGrams = graft.CacheScope.scoped(benchGrams0)
    // same O(bytes) rolling-hash candidate stage as dupWindows; the
    // bench side hashes each stored gram with the SAME polynomial
    // (graft_whole_hash ≡ the w-char window hash — pinned in PlansSpec)
    graft.plans.GraftFunctions.register(t.sparkSession)
    val windows = t
      .select(col("doc_id"),
        posexplode(expr(s"graft_window_hashes(t, $w)"))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("h"))
    val benchHashes = benchGrams
      .select(expr("graft_whole_hash(gram)").as("h")).distinct()
    val candidates = windows
      .join(broadcast(benchHashes), Seq("h"), "left_semi")
    // true-text confirm: candidates only (never corpus-sized)
    val marked = candidates
      .join(t, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(t, CAST(pos AS INT), $w)").as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    cutMarkedSpans(corpus, marked, w)
  }

  // --------------------------------------------------------------------
  // The STORED BENCHMARK-WINDOW index (r13 — the SIXTH EpochStore
  // family, and the most literal arrival asymmetry in the pipeline:
  // the eval suite is FROZEN-but-versioned while the corpus arrives
  // forever, so the benchmark's window set belongs on disk, not in
  // every job's plan). [[decontaminateSpans]] re-explodes the benchmark
  // per call; this family persists its per-doc distinct w-char windows
  // once and every arriving corpus shard decontaminates against the
  // store. The lifecycle IS the point — an eval suite is not static:
  // a new benchmark lands (append), a leaked/retired one must stop
  // gating training data (DELETE — tombstones, takedown semantics),
  // and the suite compacts/vacuums like every other family. The probe
  // cost is corpus-dominated either way (eval suites are MBs against
  // TBs — the q93 stance); what the artifact buys is the versioned
  // suite itself: one audited place that answers "which benchmark
  // versions is this corpus clean against", with as-of reads for
  // "clean against LAST month's suite" (the layout's time-travel).

  /** The decon eval-suite family on the shared lifecycle. The id is
    * bumped if the window construction (verbatim-case, fixed-w
    * substring) ever changes. Compaction drops tombstoned benchmarks
    * PHYSICALLY and is snapshot expiry: keep history on suites that must
    * answer "clean against last month's suite". Changes name which
    * BENCHMARKS entered/left the suite between two versions — the
    * compliance question between two audits.
    */
  val index: graft.sources.IndexFamily = graft.sources.IndexFamily(
    "decon-win-v1", "writeDeconIndex",
    "probing across window conventions silently misses contamination",
    Seq(graft.sources.EpochStore.CompactTable("docs", Some("doc_id")),
      graft.sources.EpochStore.CompactTable("grams", Some("doc_id"))),
    "docs", "doc_id")

  private case class DeconIndexState(w: Int, benchCount: Long,
      epoch: Int, floor: Int)

  private def deconState(spark: org.apache.spark.sql.SparkSession,
      dir: String, who: String, asOf: Option[Int] = None)
      : DeconIndexState = {
    val st = index.serving(spark, dir, who, asOf)
    DeconIndexState(st.meta.getAs[Int]("w"),
      st.meta.getAs[Long]("bench_count"), st.epoch, st.floor)
  }

  /** A benchmark shard's two tables: `docs` (doc_id — EVERY doc, even
    * ones too short to yield a window, so liveness/id-clash checks are
    * exact) and `grams` (doc_id, gram — the per-doc DISTINCT verbatim
    * w-char windows).
    */
  private def deconTables(benchmark: DataFrame, w: Int)
      : (DataFrame, DataFrame) = {
    val docs = benchmark.select(col("doc_id"))
    val grams = benchmark
      .filter(length(col("text")) >= w)
      .select(col("doc_id"), col("text").as("t"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, length(t) - ${w - 1}), " +
          s"i -> substring(t, i, $w))")).as("gram"))
      .distinct()
    (docs, grams)
  }

  private def writeDeconEpoch(spark: org.apache.spark.sql.SparkSession,
      dir: String, epoch: Int, docs: DataFrame, grams: DataFrame,
      w: Int, benchCount: Long, floor: Int = 0,
      commitTs: Option[Long] = None): Unit = {
    import spark.implicits._
    val meta = Seq((index.id, w, benchCount, epoch))
      .toDF("family", "w", "bench_count", "epoch")
    graft.sources.EpochStore.writeEpoch(dir, epoch,
      Seq("docs" -> docs, "grams" -> grams), meta, floor,
      commitTs = commitTs)
  }

  /** Persist the benchmark suite's window set as epoch 0: `docs/`
    * (doc_id), `grams/` (doc_id, distinct verbatim w-char windows), and
    * a one-row meta carrying the FROZEN window width `w` and the
    * cumulative benchmark doc count — meta written LAST, torn epochs
    * invisible, single writer, the [[graft.sources.EpochStore]]
    * contract. `w` freezes at build time and every probe reads it from
    * the meta, so probe-vs-artifact width drift is structurally
    * impossible (there is no width to ask for). Deletes any previous
    * artifact at `dir` first.
    */
  def writeDeconIndex(benchmark: DataFrame, dir: String, w: Int,
      commitTs: Option[Long] = None): Unit = {
    require(w >= 2, "a 1-char window marks shared letters; use w >= 2")
    val spark = benchmark.sparkSession
    val b = graft.CacheScope.scoped(benchmark.select("doc_id", "text"))
    val c = b.agg(count(lit(1)).as("n"),
      count_distinct(col("doc_id")).as("nd")).head()
    require(c.getLong(0) == c.getLong(1),
      "writeDeconIndex: doc_id is not one id space — " +
        s"${c.getLong(0) - c.getLong(1)} duplicate id(s) within the " +
        "benchmark suite; re-key upstream.")
    val (docs, grams) = deconTables(b, w)
    graft.sources.EpochStore.deleteAll(spark, dir)
    writeDeconEpoch(spark, dir, 0, docs, grams, w, c.getLong(0),
      commitTs = commitTs)
  }

  /** FOLD a new benchmark wave into the suite as epoch N+1 (a fresh
    * eval set joins the gating suite). Windows are hashed under the
    * artifact's FROZEN `w`; no parameter currency exists to check (a
    * window set has no count-derived parameters). One id space refuses
    * (shard-internal and shard∩stored — a benchmark stored twice would
    * just duplicate grams, but the id collision is a caller bug the
    * delete path would then mis-target). Meta last; torn appends
    * invisible and retried. Single writer.
    */
  def appendDeconIndex(indexDir: String, moreBench: DataFrame,
      commitTs: Option[Long] = None): Unit = {
    val spark = moreBench.sparkSession
    val st = deconState(spark, indexDir, "appendDeconIndex")
    val b = graft.CacheScope.scoped(moreBench.select("doc_id", "text"))
    // dup + id-clash premises fused into ONE action (r15 — Checks)
    val (n, nd, idClash) = Checks.dupAndClash(b, "doc_id",
      graft.sources.EpochStore.tableThroughLive(spark, indexDir,
        "docs", "doc_id", st.floor, st.epoch))
    require(n == nd,
      "appendDeconIndex: doc_id is not one id space — " +
        s"${n - nd} duplicate id(s) within the " +
        "appended benchmark wave; re-key upstream.")
    require(idClash == 0,
      s"appendDeconIndex: appended benchmark doc_id(s) already stored " +
        s"at $indexDir — one id space is the contract (a later delete " +
        "of that id would mis-target both versions); re-key the wave.")
    val (docs, grams) = deconTables(b, st.w)
    writeDeconEpoch(spark, indexDir, st.epoch + 1, docs, grams, st.w,
      st.benchCount + n, st.floor, commitTs = commitTs)
  }

  /** RETIRE stored benchmarks (r13 — the takedown semantics an eval
    * suite genuinely needs: a leaked benchmark stops gating training
    * data the moment it leaks): one DELETE epoch tombstones the given
    * benchmark doc ids ([[graft.sources.EpochStore.writeDeleteEpoch]] —
    * meta-last, shrunken bench_count in the same commit), and every
    * probe immediately stops cutting that benchmark's windows. Loud
    * premises: one id space; every id a CURRENTLY LIVE stored
    * benchmark. A retired id may be re-appended afterwards (a
    * benchmark version restored); physical reclaim is
    * `index.compact` + `index.vacuum` ([[graft.sources.IndexFamily]]).
    * Single writer.
    */
  def deleteFromDeconIndex(indexDir: String, ids: DataFrame,
      commitTs: Option[Long] = None): Unit = {
    val spark = ids.sparkSession
    val st = deconState(spark, indexDir, "deleteFromDeconIndex")
    import spark.implicits._
    graft.sources.EpochStore.deleteEpochChecked(indexDir,
      "deleteFromDeconIndex", ids, "doc_id",
      graft.sources.EpochStore.tableThroughLive(spark, indexDir,
        "docs", "doc_id", st.floor, st.epoch)
        .select(col("doc_id").as("id")),
      s"delete id(s) are not live stored benchmarks at $indexDir — a " +
        "retirement must name stored docs (already-retired or " +
        "never-stored ids refuse loudly, they do not no-op).",
      Seq.empty,
      n => Seq((index.id, st.w, st.benchCount - n,
          st.epoch + 1))
        .toDF("family", "w", "bench_count", "epoch"),
      st.epoch + 1, st.floor, commitTs)
  }

  /** The live stored benchmark ids — tombstone-aware, the audit read a
    * retirement pipeline filters its delete set from (snapshot to disk
    * before mutating — lineage over a mutating artifact re-reads the
    * mutated state).
    */
  def storedDeconDocIds(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val st = deconState(spark, indexDir, "storedDeconDocIds")
    graft.sources.EpochStore.tableThroughLive(spark, indexDir, "docs",
      "doc_id", st.floor, st.epoch)
  }

  /** Span-decontaminate an arriving corpus shard against the STORED
    * suite: exactly [[decontaminateSpans]]'s contract and output shape
    * (q150's, md5-gated byte-for-byte) with the benchmark half read
    * from the artifact — the live benchmark windows come from ONE
    * columnar scan of `grams` (tombstone-aware, so a retired benchmark
    * stops cutting the instant its delete epoch commits) under the
    * stored `w`, and the corpus half ([[decontaminateWithGrams]]) is
    * shared with the live path so the two cannot drift. Probe cost is
    * corpus-dominated by design (the benchmark ≪ corpus broadcast
    * stance) — the artifact's value is the VERSIONED suite, not the
    * skipped explode.
    */
  def decontaminateAgainstIndex(corpus: DataFrame, indexDir: String,
      asOf: Option[Int] = None): DataFrame = {
    val spark = corpus.sparkSession
    // asOf (r13): clean against the suite AS OF a historical epoch —
    // "was this corpus clean against LAST month's benchmark set" is a
    // real compliance question, and the answer must use exactly the
    // windows that suite version held (later-added benchmarks must not
    // cut, later-retired ones must). Same plan; pure partition pruning.
    val st = deconState(spark, indexDir,
      "decontaminateAgainstIndex", asOf)
    val benchGrams = graft.sources.EpochStore.tableThroughLive(spark,
        indexDir, "grams", "doc_id", st.floor, st.epoch)
      .select(col("gram")).distinct()
    decontaminateWithGrams(corpus, benchGrams, st.w)
  }
}
