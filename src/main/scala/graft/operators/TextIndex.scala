package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.plans.GraftFunctions
import graft.sources.EpochStore

/** The ARRIVAL lifecycle for text near-duplicate detection — the
  * MinHash analogue of the embedding family's `Ann` index paths
  * (q147/q148/q151/q152), because at 100 TB text dedup IS the
  * workload: a corpus is deduplicated once, then every arriving shard
  * must be checked against it without re-shingling or re-hashing what
  * is already stored.
  *
  * Four shapes, mirroring the cp family one-for-one:
  *   - [[jaccardPairsIncremental]] — live arrival: shard vs corpus in
  *     one banded join where ONLY incoming rows probe (q153);
  *   - [[writeJaccardIndex]] — the corpus half persisted once as an
  *     epoch'd artifact: shingle sets, MinHash band rows, and the
  *     derived banding (q154's build);
  *   - [[jaccardPairsIndexed]] — probe the stored artifact per shard,
  *     re-hashing NOTHING on the corpus side (q154);
  *   - [[appendJaccardIndex]] — fold a deduped shard in as epoch N+1
  *     under the artifact's frozen banding (q155).
  *
  * Semantics (all four): every pair at exact word-3-gram-shingle
  * Jaccard ≥ `threshold` with at least one incoming side, canonical
  * (doc_a < doc_b), verified on TRUE shingle sets — the banding only
  * generates candidates, so its misses are the ONLY approximation,
  * and they are bounded: a band of r MinHash slots collides with
  * probability exactly J^r (Broder 1997), so b bands miss a pair at
  * J ≥ t with probability ≤ (1 − t^r)^b ≤ `targetMiss` by
  * [[bandingFor]]'s construction — the standard banding recall bound
  * (Leskovec–Rajaraman–Ullman ch. 3), the same derive-don't-tune
  * discipline as `CrossPolytope.bandsFor`. Unlike the cp family's k,
  * the banding here depends ONLY on (threshold, targetMiss) — never
  * on the corpus count — so an appended artifact's parameters cannot
  * go stale and append needs no currency premise (documented at
  * [[appendJaccardIndex]]).
  *
  * Docs with fewer than 3 words have no shingles and can never pair
  * (both here and in the oracle's `len(ws) >= 3` walk); the one-id-
  * space contract is checked over participating docs, folded into the
  * sizing aggregation the probe already runs (the r9 no-extra-scan
  * discipline).
  */
object TextIndex {

  /** The MinHash text family on the shared lifecycle. The id is
    * bumped if the shingling (w=3 word grams), the signature family
    * (`graft_minhash64`), or the band hashing ever change, so an old
    * artifact REFUSES against new probe code instead of silently losing
    * recall. Compaction rewrites under the FROZEN stored banding with
    * the meta carried verbatim, so probes and the append's id-space
    * premise are unchanged (q162 gate). Changes never read the shingle
    * payloads; q187 gates them against a declarative recompute.
    */
  val index: graft.sources.IndexFamily = graft.sources.IndexFamily(
    "minhash64-w3-v1", "writeJaccardIndex",
    "probing across hash versions silently loses recall",
    Seq(EpochStore.CompactTable("docs", Some("doc_id")),
      EpochStore.CompactTable("bands", Some("doc_id"))),
    "docs", "doc_id")

  /** Signature budget: `graft_minhash64` emits 64 slots. */
  private val SigSlots = 64

  /** Derive (rowsPerBand, bands) from the banding recall bound at the
    * threshold: b(r) = ⌈ln targetMiss / ln(1 − t^r)⌉ bands of r slots
    * miss a pair at J ≥ t w.p. ≤ targetMiss; choose the LARGEST r
    * whose r·b(r) fits the 64-slot signature — r is the candidate
    * filter (band collision at J falls as J^r), so within the budget
    * more rows per band always means fewer dissimilar-pair candidates
    * at the same recall. Refuses when even r = 1 does not fit: a
    * (threshold, targetMiss) that needs more than 64 single-slot
    * bands is asking this signature for recall it cannot certify.
    */
  def bandingFor(threshold: Double, targetMiss: Double): (Int, Int) = {
    require(threshold > 0 && threshold < 1,
      s"bandingFor: threshold must be in (0, 1), got $threshold")
    require(targetMiss > 0 && targetMiss < 1,
      s"bandingFor: targetMiss must be in (0, 1), got $targetMiss")
    def bandsFor(r: Int): Int =
      math.ceil(math.log(targetMiss) /
        math.log1p(-math.pow(threshold, r))).toInt.max(1)
    val fits = (1 to SigSlots)
      .map(r => (r, bandsFor(r))).takeWhile { case (r, b) => r * b <= SigSlots }
    require(fits.nonEmpty,
      s"bandingFor: threshold $threshold at targetMiss $targetMiss " +
        s"needs ${bandsFor(1)} single-slot bands — more than the " +
        s"$SigSlots-slot signature holds. Raise the threshold, relax " +
        "targetMiss, or this index family cannot certify that recall.")
    fits.last
  }

  /** (doc_id, shingles, n) for docs with ≥ 3 words — the ONE shared
    * shingling pipeline ([[TextDedup.shingleFrame]], so this family
    * and q26 can never drift on what a shingle is) plus the set size
    * the verify joins divide by.
    */
  private def shingled(docs: DataFrame): DataFrame =
    TextDedup.shingleFrame(docs)
      .withColumn("n", size(col("shingles")).cast("long"))

  /** (doc_id, band_id, band_hash) under banding (r, b): signatures
    * via the codegen MinHash expression, band keys via the ONE shared
    * construction ([[TextDedup.minhashBandRows]] — what the artifact
    * stores and what probes join on).
    *
    * Hot-bucket stance (deliberately unsalted, unlike q26's
    * self-join): the probe join costs |shard bucket| × |corpus
    * bucket| per band key, so thousands of byte-identical docs
    * collapsing into one bucket would make an arriving shard of the
    * same text pay their product — but identical documents are
    * exact-dedup's job ([[TextDedup.exactDupGroups]]) BEFORE a
    * near-dup index is built or probed, the same documented stance as
    * q26's cross-slice drop and the cp arrival paths.
    */
  private def bandRows(sh: DataFrame, r: Int, b: Int): DataFrame = {
    GraftFunctions.register(sh.sparkSession)
    TextDedup.minhashBandRows(
      sh.select(col("doc_id"),
        expr("graft_minhash64(shingles)").as("sig")), r, b)
  }

  /** Exact-Jaccard verification of a candidate pair set against the
    * shingle table `sh` (doc_id, shingles, n): semi-join prune to
    * candidate docs, explode, count intersections, keep pairs passing
    * the INTEGER cross-multiplied threshold (1e6·|∩| ≥ ppm·|∪| — no
    * float compare at the boundary), emit (doc_a, doc_b, jaccard)
    * with jaccard as the one correctly-rounded double division both
    * engines share (the q26 output shape). The trailing `orderBy`
    * exists ONLY for deterministic gating — a throughput consumer
    * should drop it; at 100 TB it is a global sort downstream plans
    * do not need.
    */
  private def verifyExact(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    verifyExactUnsorted(cand, sh, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[verifyExact]] without the trailing deterministic-gating sort —
    * for consumers that apply their own final ordering (r15 review:
    * Catalyst does not eliminate a Sort beneath a Union, so a sorted
    * frame unioned then re-sorted pays the inner exchange+sort for
    * nothing).
    */
  private def verifyExactUnsorted(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val ppm = math.round(threshold * 1000000).toLong
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val pruned = sh.join(candDocs, Seq("doc_id"), "left_semi")
    val sizes = pruned.select(col("doc_id"), col("n"))
    val grams = pruned
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val inter = cand
      .join(grams.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(grams.as("sb"),
        col("doc_b") === col("sb.doc_id") &&
          col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .withColumn("un", col("na") + col("nb") - col("ni"))
      .filter(lit(1000000L) * col("ni") >= lit(ppm) * col("un"))
      .select(col("doc_a"), col("doc_b"),
        (col("ni").cast("double") / col("un")).as("jaccard"))
  }

  private val PairDupConsequence: String =
    "A shared doc_id would silently drop its real pair through the " +
      "self-pair filter and double-match the verify joins; " +
      "de-duplicate or re-key upstream."

  /** LIVE arrival dedup: every pair at exact shingle-Jaccard ≥
    * threshold with at least one `incoming` side — incoming×corpus
    * and incoming×incoming, corpus×corpus structurally impossible
    * (only incoming band rows probe). Banding derives from
    * (threshold, targetMiss); the shard's band rows broadcast under
    * the same size gate as the cp arrival paths (shard ≪ corpus is
    * the contract — an oversized shard falls back to the shuffled
    * plan, which completes). Per-shard cost: shingle+hash BOTH sides
    * (the linear term [[jaccardPairsIndexed]] deletes), one banded
    * join, exact verify over candidates only.
    */
  def jaccardPairsIncremental(corpus: DataFrame, incoming: DataFrame,
      threshold: Double, targetMiss: Double = 1e-4): DataFrame = {
    val (r, b) = bandingFor(threshold, targetMiss)
    val all = graft.CacheScope.scoped(
      shingled(corpus).withColumn("inc", lit(false))
        .unionByName(shingled(incoming).withColumn("inc", lit(true))))
    val agg = all.agg(count(lit(1)).as("n"),
      count_distinct(col("doc_id")).as("nd"),
      count(when(col("inc"), lit(1))).as("ninc")).head()
    require(agg.getLong(0) == agg.getLong(1),
      "jaccardPairsIncremental: doc_id is not one id space — " +
        s"${agg.getLong(0) - agg.getLong(1)} duplicate id(s) across " +
        s"corpus ∪ incoming. $PairDupConsequence")
    val nInc = agg.getLong(2)
    // band rows per side, both read from the one cached shingle frame
    // (two cache scans, no join to recover the side flag)
    val incBands = graft.CacheScope.scoped(
      bandRows(all.filter(col("inc")), r, b))
    val allBands = bandRows(all.filter(!col("inc")), r, b)
      .unionByName(incBands)
    val hinted =
      if (nInc * b <= Ann.MaxBroadcastBandRows) broadcast(incBands)
      else incBands
    val cand = hinted.as("x")
      .join(allBands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    verifyExact(cand, all, threshold)
  }

  /** Write the corpus half as an epoch'd artifact ([[EpochStore]]
    * layout — meta written LAST per epoch, torn epochs invisible):
    *   - `docs/epoch=N`  (doc_id, shingles, n) — the exact-verify side
    *   - `bands/epoch=N` (doc_id, band_id, band_hash) — the probe side
    *   - `meta_N`        (family, rows_per_band, bands, threshold,
    *                      target_miss, shingle_k, corpus_count, epoch)
    * Banding derives from (threshold, targetMiss) and is FROZEN for
    * the artifact's life — every epoch and every probe hashes under
    * it. The base build deletes any previous artifact at `dir` first;
    * a rebuild whose input reads this artifact's own files must build
    * to a fresh directory (lineage recomputed after the delete finds
    * nothing). Single writer, concurrent readers safe — the
    * [[EpochStore]] contract.
    */
  def writeJaccardIndex(corpus: DataFrame, dir: String,
      threshold: Double, targetMiss: Double = 1e-4,
      commitTs: Option[Long] = None): Unit = {
    val spark = corpus.sparkSession
    val (r, b) = bandingFor(threshold, targetMiss)
    val sh = graft.CacheScope.scoped(shingled(corpus))
    val agg = sh.agg(count(lit(1)).as("n"),
      count_distinct(col("doc_id")).as("nd")).head()
    require(agg.getLong(0) == agg.getLong(1),
      "writeJaccardIndex: doc_id is not one id space — " +
        s"${agg.getLong(0) - agg.getLong(1)} duplicate id(s) within " +
        s"the corpus. $PairDupConsequence")
    EpochStore.deleteAll(spark, dir)
    writeEpoch(dir, 0, sh, r, b, threshold, targetMiss, agg.getLong(0),
      commitTs = commitTs)
  }

  private def writeEpoch(dir: String, epoch: Int, sh: DataFrame,
      r: Int, b: Int, threshold: Double, targetMiss: Double,
      totalCount: Long, floor: Int = 0,
      commitTs: Option[Long] = None): Unit = {
    val spark = sh.sparkSession
    import spark.implicits._
    val meta = Seq((index.id, r, b, threshold, targetMiss,
        3, totalCount, epoch))
      .toDF("family", "rows_per_band", "bands", "threshold",
        "target_miss", "shingle_k", "corpus_count", "epoch")
    EpochStore.writeEpoch(dir, epoch,
      Seq("docs" -> sh, "bands" -> bandRows(sh, r, b)), meta, floor,
      commitTs = commitTs)
  }

  private case class JaccardIndexState(r: Int, b: Int,
      threshold: Double, targetMiss: Double, count: Long, epoch: Int,
      floor: Int)

  private def jaccardState(spark: org.apache.spark.sql.SparkSession,
      dir: String, who: String, asOf: Option[Int] = None)
      : JaccardIndexState = {
    val st = index.serving(spark, dir, who, asOf)
    val meta = st.meta
    JaccardIndexState(meta.getAs[Int]("rows_per_band"),
      meta.getAs[Int]("bands"), meta.getAs[Double]("threshold"),
      meta.getAs[Double]("target_miss"),
      meta.getAs[Long]("corpus_count"), st.epoch, st.floor)
  }

  /** The shared drift front door of [[jaccardPairsIndexed]] and
    * [[appendJaccardIndex]]'s probe side: the caller's (threshold,
    * targetMiss) must equal the stored ones — the stored band rows
    * were sized for the stored values, and a LOWER threshold than the
    * artifact's would demand more bands than were stored.
    */
  private def readMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String, who: String, threshold: Double, targetMiss: Double,
      asOf: Option[Int] = None): JaccardIndexState = {
    val st = jaccardState(spark, dir, who, asOf)
    def drift(name: String, stored: Any, asked: Any): Unit =
      require(stored == asked,
        s"$who: $name drift — artifact at $dir stores $name = $stored " +
          s"but the probe asked $asked. The stored band rows were " +
          "sized for the stored value; probing under a different one " +
          "silently loses recall. Rebuild the index or match the " +
          "artifact.")
    drift("threshold", st.threshold, threshold)
    drift("target_miss", st.targetMiss, targetMiss)
    st
  }

  /** FOLD a deduped shard INTO the artifact as epoch N+1 under the
    * FROZEN stored banding — meta last, so a torn append is invisible
    * and simply retried. Unlike `Ann.appendCpIndex` there is NO
    * parameter-currency premise: the banding recall bound depends
    * only on (threshold, targetMiss), never on the corpus count, so
    * an appended MinHash index cannot rot its parameters by growing —
    * candidate volume grows with true collision mass, which verify
    * already pays per candidate. One id space IS checked (shard-
    * internal and shard∩stored both refuse — an id stored twice
    * silently drops its future probe pairs). Single writer.
    */
  def appendJaccardIndex(indexDir: String, more: DataFrame,
      commitTs: Option[Long] = None): Unit = {
    val spark = more.sparkSession
    val st = jaccardState(spark, indexDir, "appendJaccardIndex")
    val sh = graft.CacheScope.scoped(shingled(more))
    // dup + id-clash premises fused into ONE action (r15 — Checks)
    val (n, nd, nClash) = Checks.dupAndClash(sh, "doc_id",
      EpochStore.tableThroughLive(spark, indexDir, "docs", "doc_id",
        st.floor, st.epoch))
    require(n == nd,
      "appendJaccardIndex: doc_id is not one id space — " +
        s"${n - nd} duplicate id(s) within " +
        s"the appended shard. $PairDupConsequence")
    require(nClash == 0,
      s"appendJaccardIndex: appended doc_id(s) already exist in the " +
        s"index at $indexDir — one id space is the contract (an id " +
        "stored twice silently drops its future probe pairs); re-key " +
        "or dedup the shard first.")
    writeEpoch(indexDir, st.epoch + 1, sh, st.r, st.b, st.threshold,
      st.targetMiss, st.count + n, st.floor,
      commitTs = commitTs)
  }

  /** The live stored doc ids — tombstone-aware, the "audit what the
    * index holds" read (and the frame a retraction pipeline filters
    * its delete set from; snapshot it to disk before mutating, or its
    * lineage re-reads the mutated artifact).
    */
  def storedDocIds(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val st = jaccardState(spark, indexDir, "storedDocIds")
    EpochStore.tableThroughLive(spark, indexDir, "docs", "doc_id",
      st.floor, st.epoch).select("doc_id")
  }

  /** The text family's CDC CONSUMER (r15 — r14 VERDICT #4, what
    * `index.changes` exists FOR): patch a shard's horizon-`fromEpoch`
    * near-dup verdicts ([[jaccardPairsIndexed]] output — `prior`) to
    * the horizon-`toEpoch` state WITHOUT re-probing the corpus.
    * Unlike the fp family's `Dedup.patchVerdicts`, the id delta alone
    * cannot re-verdict near-dups — a fresh pair needs the added docs'
    * SHINGLES — so the honest contract is:
    *   - DROP prior pairs whose stored side was removed in
    *     `(fromEpoch, toEpoch]` (shard ids are fresh by the probe's
    *     own premise, so any removed id in a pair IS the stored side);
    *   - RE-PROBE the shard against ONLY the delta docs: band rows and
    *     shingle sets of docs committed in the window and live at
    *     `toEpoch` are read from the artifact DELTA-PRUNED
    *     ([[graft.sources.EpochStore.addedBetween]] — the checkpoint
    *     and pre-window epochs never read a row, and the delta side is
    *     never re-shingled), the shard's bands broadcast under the
    *     usual gate, and candidates verify exactly on true shingle
    *     sets. Shard×shard pairs are untouched (both sides fresh).
    * Cost ∝ shard + delta (+ the one id-projected live scan
    * removedBetween documents), never shard × corpus. A doc removed
    * and re-appended inside the window drops from prior and re-finds
    * through the delta probe with its horizon-`toEpoch` text — honest
    * replace semantics, and the union stays duplicate-free (a prior
    * pair's stored side was live at `fromEpoch`; a delta pair's stored
    * side was not, or was removed first).
    *
    * Loud premises: banding drift (the stored (threshold, targetMiss)
    * front door), one id space within the shard, and NO shard id
    * added to the store inside the window — the full horizon-`toEpoch`
    * probe would refuse that id clash, and the patch must refuse
    * identically rather than silently self-pair. `prior` must be the
    * horizon-`fromEpoch` probe output for THIS shard (doc_a, doc_b,
    * jaccard) — unverifiable here, the caller's contract. Gated
    * (q194) as patched ≡ the full horizon-`toEpoch` probe on q182's
    * artifact, bit-for-bit.
    */
  def patchJaccardVerdicts(indexDir: String, prior: DataFrame,
      incoming: DataFrame, fromEpoch: Int, toEpoch: Int,
      threshold: Double, targetMiss: Double = 1e-4): DataFrame = {
    val spark = incoming.sparkSession
    val st = readMeta(spark, indexDir, "patchJaccardVerdicts",
      threshold, targetMiss)
    require(fromEpoch <= toEpoch && toEpoch <= st.epoch,
      s"patchJaccardVerdicts: window ($fromEpoch, $toEpoch] is not a " +
        s"retained range at $indexDir (serving epoch ${st.epoch})")
    val inc = graft.CacheScope.scoped(shingled(incoming))
    // the delta docs WITH their stored shingles — pruned to the window
    // epochs at the driver; the corpus-sized prefix never reads a row
    val addedDocs = graft.CacheScope.scoped(
      EpochStore.addedBetween(spark, indexDir, "docs", "doc_id",
        fromEpoch, toEpoch, "patchJaccardVerdicts", "writeJaccardIndex"))
    // dup + window-clash premises fused into ONE action (r15 — Checks)
    val (nInc, nd, clash) = Checks.dupAndClash(inc, "doc_id", addedDocs)
    require(nInc == nd,
      "patchJaccardVerdicts: doc_id is not one id space — " +
        s"${nInc - nd} duplicate id(s) within " +
        s"the shard. $PairDupConsequence")
    require(clash == 0,
      "patchJaccardVerdicts: shard doc_id(s) were appended to the " +
        s"index at $indexDir inside the window — the full probe at " +
        s"horizon $toEpoch would refuse this id clash, and the patch " +
        "refuses identically (a shared id silently drops its real " +
        "pair); re-key the shard.")
    val addedBands = EpochStore.addedBetween(spark, indexDir, "bands",
      "doc_id", fromEpoch, toEpoch, "patchJaccardVerdicts",
      "writeJaccardIndex")
    val incBands = bandRows(inc, st.r, st.b)
    val hinted =
      if (nInc * st.b <= Ann.MaxBroadcastBandRows) broadcast(incBands)
      else incBands
    // DIRECTED: shard bands probe, delta bands answer — the sides are
    // disjoint (the clash premise), so no self-pair filter is needed
    val cand = hinted.as("x")
      .join(addedBands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    val fresh = verifyExactUnsorted(cand, addedDocs.unionByName(inc),
      threshold)
    val removed = EpochStore.removedBetween(spark, indexDir, "docs",
      "doc_id", fromEpoch, toEpoch, "patchJaccardVerdicts",
      "writeJaccardIndex")
    val survived = prior
      .join(removed.select(col("doc_id").as("doc_a")), Seq("doc_a"),
        "left_anti")
      .join(removed.select(col("doc_id").as("doc_b")), Seq("doc_b"),
        "left_anti")
    survived.select(col("doc_a"), col("doc_b"), col("jaccard"))
      .unionByName(fresh)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** RETRACT stored documents (r13 — takedown / retraction): one
    * DELETE epoch tombstones the given doc ids across BOTH tables
    * (docs + bands suppress on the same id at probe time), with the
    * shrunken corpus_count committing in the same meta-last write.
    * Loud premises: one id space, and every id is CURRENTLY LIVE in
    * the stored docs table — note only docs with ≥ 3 words were ever
    * stored, so retracting a shorter doc refuses (it was never
    * indexed). A tombstone names the past: the id may be re-appended
    * afterwards. Physical reclaim = `index.compact` + `index.vacuum`
    * ([[graft.sources.IndexFamily]]). Banding is count-independent, so a
    * shrunken corpus cannot rot the stored parameters (the same
    * argument as append, in reverse). Single writer.
    */
  def deleteFromJaccardIndex(indexDir: String, ids: DataFrame,
      commitTs: Option[Long] = None): Unit = {
    val spark = ids.sparkSession
    val st = jaccardState(spark, indexDir, "deleteFromJaccardIndex")
    import spark.implicits._
    EpochStore.deleteEpochChecked(indexDir, "deleteFromJaccardIndex",
      ids, "doc_id",
      EpochStore.tableThroughLive(spark, indexDir, "docs", "doc_id",
        st.floor, st.epoch).select(col("doc_id").as("id")),
      s"delete id(s) are not live in the index at $indexDir — a " +
        "retraction must name stored docs (already-deleted, " +
        "never-stored, or sub-3-word ids refuse loudly, they do not " +
        "no-op).",
      Seq.empty,
      n => Seq((index.id, st.r, st.b, st.threshold,
          st.targetMiss, 3, st.count - n, st.epoch + 1))
        .toDF("family", "rows_per_band", "bands", "threshold",
          "target_miss", "shingle_k", "corpus_count", "epoch"),
      st.epoch + 1, st.floor, commitTs)
  }

  /** Probe a [[writeJaccardIndex]] artifact with an arriving shard —
    * the same contract as [[jaccardPairsIncremental]], but the corpus
    * side is never re-shingled or re-hashed: its shingle sets and
    * band rows are READ from the artifact (epochs ≤ the serving
    * epoch), so per-shard cost is the shard's own shingling+hashing
    * plus columnar scans of the stored tables. Banding comes from the
    * artifact's meta (zero derivation); drift and hash-family skew
    * refuse loudly; id disjointness is CHECKED against the stored doc
    * ids (a one-column pruned scan).
    *
    * `asOf` (r13): probe the artifact AS OF a historical epoch — the
    * corpus is exactly what that epoch's commit served (later appends
    * invisible, later tombstones not suppressing;
    * [[graft.sources.EpochStore.servingStateAt]] pins the horizon and
    * refuses below the floor). Banding is count-independent, so the
    * stored parameters are valid at every horizon. Same plan — as-of
    * is pure partition pruning.
    */
  def jaccardPairsIndexed(indexDir: String, incoming: DataFrame,
      threshold: Double, targetMiss: Double = 1e-4,
      asOf: Option[Int] = None): DataFrame = {
    val spark = incoming.sparkSession
    val st = readMeta(spark, indexDir, "jaccardPairsIndexed",
      threshold, targetMiss, asOf)
    val inc = graft.CacheScope.scoped(shingled(incoming))
    val storedDocs = EpochStore.tableThroughLive(spark, indexDir,
      "docs", "doc_id", st.floor, st.epoch)
    // dup + id-clash premises fused into ONE action (r15 — Checks)
    val (nInc, nd, nClash) = Checks.dupAndClash(inc, "doc_id",
      storedDocs)
    require(nInc == nd,
      "jaccardPairsIndexed: doc_id is not one id space — " +
        s"${nInc - nd} duplicate id(s) within " +
        s"the incoming shard. $PairDupConsequence")
    require(nClash == 0,
      "jaccardPairsIndexed: incoming doc_id(s) already exist in the " +
        s"indexed corpus at $indexDir — one id space is the contract " +
        "(a shared id silently drops its real pair); re-key the shard.")
    val incBands = graft.CacheScope.scoped(bandRows(inc, st.r, st.b))
    val allBands = EpochStore.tableThroughLive(spark, indexDir,
        "bands", "doc_id", st.floor, st.epoch)
      .select(col("doc_id"), col("band_id"), col("band_hash"))
      .unionByName(incBands)
    val hinted =
      if (nInc * st.b <= Ann.MaxBroadcastBandRows) broadcast(incBands)
      else incBands
    val cand = hinted.as("x")
      .join(allBands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    verifyExact(cand, storedDocs.unionByName(inc), threshold)
  }

  /** Top-k SEARCH against the stored artifact (r12 VERDICT #4 — the
    * q151 shape at the text granularity): for each query doc, the k
    * nearest STORED docs among those at shingle-Jaccard ≥ the stored
    * threshold — the "find what this new document most duplicates"
    * curation probe. The threshold FLOOR is what makes the contract
    * exactly oracle-gateable (q151's argument verbatim): candidates
    * come from the stored banding, whose misses at J ≥ t are bounded
    * by the artifact's targetMiss, and everything at the floor is
    * verified on TRUE shingle sets — so the ranked output is plain
    * SQL over exact Jaccard.
    *
    * Similarity is INTEGER ppm (⌊10⁶·|∩| / |∪|⌋ — the float policy:
    * ranking on a fresh double would not be cross-engine stable);
    * ties break on ascending stored doc_id. Output: (query_id,
    * doc_id, jaccard_ppm, jrank), deterministic order. Per-query-batch
    * cost: the batch's own shingling + one banded join against the
    * stored band rows + exact verify over candidates — query×query
    * pairs are structurally absent (only query bands probe, only
    * stored bands answer), unlike [[jaccardPairsIndexed]]'s union.
    */
  def jaccardTopKIndexed(indexDir: String, queries: DataFrame, k: Int,
      threshold: Double, targetMiss: Double = 1e-4,
      asOf: Option[Int] = None): DataFrame = {
    require(k > 0, s"jaccardTopKIndexed: k must be positive, got $k")
    val spark = queries.sparkSession
    val st = readMeta(spark, indexDir, "jaccardTopKIndexed",
      threshold, targetMiss, asOf)
    val inc = graft.CacheScope.scoped(shingled(queries))
    val storedDocs = EpochStore.tableThroughLive(spark, indexDir,
      "docs", "doc_id", st.floor, st.epoch)
    // dup + id-clash premises fused into ONE action (r15 — Checks)
    val (nInc, nd, nClash) = Checks.dupAndClash(inc, "doc_id",
      storedDocs)
    require(nInc == nd,
      "jaccardTopKIndexed: doc_id is not one id space — " +
        s"${nInc - nd} duplicate id(s) within " +
        s"the query batch. $PairDupConsequence")
    require(nClash == 0,
      "jaccardTopKIndexed: query doc_id(s) already exist in the " +
        s"indexed corpus at $indexDir — one id space is the contract " +
        "(a shared id would score a doc against itself); re-key the " +
        "batch.")
    val incBands = bandRows(inc, st.r, st.b)
    val storedBands = EpochStore.tableThroughLive(spark, indexDir,
      "bands", "doc_id", st.floor, st.epoch)
    val hinted =
      if (nInc * st.b <= Ann.MaxBroadcastBandRows) broadcast(incBands)
      else incBands
    // DIRECTED candidates: query side probes, stored side answers.
    // Read three times (both verify semi-joins + the final pair join)
    // — pinned, or each consumer re-runs the banded join over every
    // stored band row (the CLAUDE.md self-join rule; r13 review)
    val cand = graft.CacheScope.scoped(hinted.as("x")
      .join(storedBands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("query_id"),
        col("y.doc_id").as("doc_id"))
      .distinct())
    // exact verify at the floor, then rank within each query
    val ppm = math.round(threshold * 1000000).toLong
    val qGrams = inc
      .join(cand.select(col("query_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("query_id"), col("n").as("nq"),
        explode(col("shingles")).as("shingle"))
    val sGrams = storedDocs
      .join(cand.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n").as("ns"),
        explode(col("shingles")).as("shingle"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("jaccard_ppm").desc, col("doc_id"))
    cand
      .join(qGrams, Seq("query_id"))
      .join(sGrams, Seq("doc_id", "shingle"))
      .groupBy(col("query_id"), col("doc_id"), col("nq"), col("ns"))
      .agg(count(lit(1)).as("ni"))
      .withColumn("un", col("nq") + col("ns") - col("ni"))
      .filter(lit(1000000L) * col("ni") >= lit(ppm) * col("un"))
      .withColumn("jaccard_ppm",
        expr("(1000000L * ni) DIV un"))
      .withColumn("jrank", row_number().over(w))
      .filter(col("jrank") <= k)
      .select(col("query_id"), col("doc_id"), col("jaccard_ppm"),
        col("jrank").cast("long").as("jrank"))
      .orderBy(col("query_id"), col("jrank"))
  }

  /** Exact O(n·m) baseline for the incremental contract — test-only
    * equivalence yardstick (the `Ann.cosinePairsBrute` role).
    */
  private[graft] def jaccardPairsBruteRestricted(corpus: DataFrame,
      incoming: DataFrame, threshold: Double): DataFrame = {
    val all = shingled(corpus).withColumn("inc", lit(false))
      .unionByName(shingled(incoming).withColumn("inc", lit(true)))
    val cand = all.as("x").join(all.as("y"),
        col("x.doc_id") < col("y.doc_id") &&
          (col("x.inc") || col("y.inc")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    verifyExact(cand, all, threshold)
  }
}
