package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.Ann
import graft.plans.CrossPolytope

/** The index lifecycle's PRODUCTION CADENCE as one streaming gate
  * (q156): arriving shards flow in as micro-batches; each batch PROBES
  * the stored cross-polytope artifact for its dedup pairs
  * ([[Ann.cosinePairsCpIndexed]]), reports them, and is FOLDED INTO
  * the artifact as a new epoch ([[Ann.appendCpIndex]]) before the next
  * batch fires — q148 and q152 composed into the loop a 100 TB
  * ingestion pipeline actually runs, driven by Structured Streaming's
  * `foreachBatch`. The retry contract is scoped precisely (r11
  * ADVICE): only a TORN append is idempotent — a batch that dies
  * mid-epoch leaves no meta, is invisible, and replays cleanly — but
  * a batch replayed after its append COMMITTED (a crash between the
  * append and the checkpoint commit) REFUSES on the shard-vs-stored
  * id-clash check, and a replay after the pair-sink write would
  * double-write pairs, which the duplicate-pair invariant below
  * refuses. Both failure shapes are LOUD — the drained result is
  * never silently wrong — but a mid-drain crash fails the run for a
  * restart from scratch rather than resuming; a resumable variant
  * would skip already-stored ids per batch, at the cost of masking
  * genuine id-space violations, and this gate deliberately keeps the
  * violation check.
  *
  * WHY THE RESULT IS EXACTLY GATEABLE: each pair with at least one
  * incoming side surfaces EXACTLY ONCE — when its later-arriving side
  * probes, the earlier side is already corpus (base or appended
  * epoch); when its earlier side probed, the later one was not there
  * yet; same-batch pairs surface in their batch. So the UNION of the
  * per-batch reports equals the one-shot incremental answer over the
  * whole shard — order-independent as a SET — and q147's exact O(n·m)
  * oracle (extended for the third wave) gates the entire loop.
  *
  * Staged arrival (three waves, mtime-ordered files — the
  * [[EventStreams]] staging discipline, whose helpers this shares):
  *   - wave A: the `vec_id % 7 == 3` slice,
  *   - wave B: double-scaled copies of every 10th corpus vector
  *     (+5 000 000 — the q147 planted inc×corpus hits),
  *   - wave C: double-scaled copies of A's `% 9 == 4` slice
  *     (+9 000 000): every (a, a + 9e6) pair is cosine-1 by scale
  *     invariance and its sides live in DIFFERENT batches, so it can
  *     surface ONLY if wave A was appended before wave C probed — the
  *     loud premise that the fold, not just the probe, is load-bearing.
  *
  * Parameters are PINNED from the FINAL corpus count (base + all
  * waves), the q152 planned-growth sizing, so the mid-drain appends
  * can never straddle a k-derivation step. The artifact and the pair
  * sink are wiped and rebuilt EVERY run — they MUTATE during the
  * drain (the operator under test IS the mutation loop), so unlike
  * the staged inputs they can never be reused across bench passes
  * (the q116 deliberate-restage precedent).
  */
object IndexIngest {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** Stage three mtime-ordered waves into `srcDir` behind the
    * [[EventStreams.stagedOnce]] reuse discipline — the one staging
    * path all three ingestion gates share (r12 review: the scaffolding
    * was triplicated and could drift).
    */
  private def stageWaves(sfDir: String, srcDir: String,
      queryName: String, waves: Seq[DataFrame]): Unit =
    EventStreams.stagedOnce(sfDir, srcDir) {
      waves.zipWithIndex.foldLeft(Set.empty[java.nio.file.Path]) {
        case (stamped, (df, i)) =>
          EventStreams.writeStampedBatch(srcDir, df, i, stamped,
            s"$queryName wave ${('A' + i).toChar}")
      }
      ()
    }

  /** Stage a loop's INITIAL (epoch-0) index artifact once per
    * (JVM, key) and serve each bench pass a FRESH filesystem copy to
    * mutate (r16 — r15 VERDICT #2, guide §1.2 "don't compute things
    * twice"): the epoch-0 build over the corpus slice is the loop's
    * INPUT STATE, not the operator under test (the probe/fold/compact
    * cadence is — and every batch of it stays fully paid per pass on
    * the fresh copy, the q116/q156 deliberate-restage contract,
    * because the copy MUTATES during the drain). Same opt-in and same
    * safety shape as [[EventStreams.stagedOnce]] / `SharedStage`:
    * gated on `graft.stage.reuse` (ONLY Bench sets it — Verify, Dev,
    * and tests build straight into `idxDir`, the identity path), a
    * per-JVM nonce token written LAST so a fresh process or a torn
    * build never reuses bytes, and the staged bytes are themselves
    * computed from the parquet inputs by THIS process's first pass.
    * Steady-state builds measured at sf0.1 (ProfileIngest): fp 1.0 s,
    * text 1.7 s, bm25 4.2 s, dhash 1.5 s, cp 1.2 s per pass — pure
    * recompute of identical bytes under min-of-2 timing.
    */
  private def stagedArtifactOnce(spark: SparkSession, idxDir: String,
      key: String)(build: String => Unit): Unit = {
    if (!java.lang.Boolean.getBoolean("graft.stage.reuse")) {
      build(idxDir); return
    }
    val pristine = idxDir + "_pristine"
    graft.SharedStage.buildOnce(pristine, key) { build(pristine) }
    // a fresh mutable copy EVERY pass — deleteAll also invalidates the
    // EpochStore in-JVM caches and cached plans over the old copy
    graft.sources.EpochStore.deleteAll(spark, idxDir)
    val src = java.nio.file.Paths.get(pristine)
    val dst = java.nio.file.Paths.get(idxDir)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      // the reuse token is staging metadata, not artifact bytes
      if (p.getFileName.toString != "_graft_stage_token") {
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) {
          java.nio.file.Files.createDirectories(t); ()
        } else {
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
        }
      }
    } finally walk.close()
  }

  /** Drain `srcDir` one file per micro-batch under AvailableNow,
    * running `perBatch` inside a cache scope, with the checkpoint in a
    * tempdir removed afterwards — the one drive loop all three
    * ingestion gates share.
    */
  private def drainBatches(ss: SparkSession, srcDir: String,
      schema: StructType, perBatch: (DataFrame, Long) => Unit): Unit = {
    val src = ss.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    try {
      val q = src.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.CacheScope.withScope { perBatch(batch, id) }
          ()
        }
        .start()
      q.awaitTermination()
    } finally {
      val walk = java.nio.file.Files.walk(ckpt)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  /** The exactly-once invariant all three gates share: a key surfacing
    * in two micro-batches means a batch re-fired without its append or
    * the sink double-wrote.
    */
  private def requireExactlyOnce(df: DataFrame, keys: Seq[String],
      queryName: String, what: String): Unit = {
    val dup = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
    require(dup.limit(1).count() == 0L,
      s"$queryName invariant violated: a $what surfaced in more than " +
        "one micro-batch")
  }

  def ingestOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val srcDir = s"/tmp/graft_stream_src_$queryName"
    val idxDir = s"/tmp/graft_stream_idx_$queryName"
    val outDir = s"/tmp/graft_stream_pairs_$queryName"
    val ss = EventStreams.streamingSession(spark)

    val e = graft.Tables.embeddings(ss, sfDir)
    val corpus = e.filter(col("vec_id") % 7 =!= 3)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    def scaled(df: DataFrame, shift: Long): DataFrame =
      df.select((col("vec_id") + lit(shift)).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x * lit(1.001d)).as("embedding"))
    val waveA = e.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val waveB = scaled(corpus.filter(col("vec_id") % 10 === 0), 5000000L)
    val waveC = scaled(waveA.filter(col("vec_id") % 9 === 4), 9000000L)

    stageWaves(sfDir, srcDir, queryName, Seq(waveA, waveB, waveC))

    // the artifact and pair sink MUTATE during the drain — rebuilt
    // every run, never staged-reused
    EventStreams.deleteStagingForTest(java.nio.file.Paths.get(outDir))
    // final corpus count (base + all three waves) in ONE scan — the
    // wave predicates are residue classes of the same table, so a
    // single conditional aggregate replaces four filtered counts
    // (r11 review: this query deliberately re-pays its loop every
    // bench pass; the derivation must not add scans of its own)
    val cnt = e.agg(
      count(when(col("vec_id") % 7 =!= 3, 1)).as("corpus"),
      count(when(col("vec_id") % 7 === 3, 1)).as("a"),
      count(when(col("vec_id") % 7 =!= 3 && col("vec_id") % 10 === 0, 1))
        .as("b"),
      count(when(col("vec_id") % 7 === 3 && col("vec_id") % 9 === 4, 1))
        .as("c")).head()
    val finalCount = cnt.getLong(0) + cnt.getLong(1) + cnt.getLong(2) +
      cnt.getLong(3)
    val k = CrossPolytope.chooseHashesPerBand(finalCount, 0.4, 64, 1e-4)
    val b = CrossPolytope.bandsFor(0.4, k, 64, 1e-4)
    stagedArtifactOnce(ss, idxDir,
      s"$queryName|$sfDir|t0.4|k$k|b$b") { d =>
      graft.CacheScope.withScope {
        Ann.writeCpIndex(corpus, d, threshold = 0.4,
          hashesPerBand = k, bands = b)
      }
    }

    drainBatches(ss, srcDir, embSchema, (batch, id) => {
      // probe FIRST (the arriving shard against everything already
      // corpus), report, then fold the shard in for the batches
      // behind it
      Ann.cosinePairsCpIndexed(idxDir, batch, threshold = 0.4)
        .withColumn("batch_id", lit(id))
        .write.mode("append").parquet(outDir)
      Ann.appendCpIndex(idxDir, batch)
    })

    val pairs = graft.CacheScope.scoped(spark.read.parquet(outDir))
    // LOUD premise: the planted wave-C copies pair with their wave-A
    // originals across batch boundaries — provable only if wave A was
    // APPENDED before wave C probed, i.e. the fold is load-bearing,
    // not just the base-index probe
    require(pairs.filter(col("vec_b") >= 9000000L &&
        col("vec_a") < 5000000L && col("vec_a") % 7 === 3).limit(1)
        .count() == 1L,
      s"$queryName premise violated: no cross-batch pair between wave " +
        "C and wave A surfaced — the per-batch append fold is not " +
        "feeding later probes")
    // each pair surfaces exactly once (the order-independence argument
    // above)
    requireExactlyOnce(pairs, Seq("vec_a", "vec_b"), queryName, "pair")
    pairs.select(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The SAME production cadence at the EXACT-dedup granularity (q164,
    * r11 VERDICT #3 — "the loop a real exact-dedup pipeline runs most"):
    * arriving document shards verdict against the stored fingerprint
    * index ([[graft.operators.Dedup.dedupAgainstIndex]]), report
    * (doc_id, fp, owner, kept), and their SURVIVORS — exactly the
    * kept docs — fold in ([[graft.operators.Dedup
    * .appendFingerprintIndex]]) before the next batch fires. After
    * every fold the loop COMPACTS and VACUUMS the artifact
    * (single-writer holds inside `foreachBatch`), so the gate also
    * pins probe-after-compaction ≡ at every batch boundary — the
    * composition a year-long cadence actually needs (r11 VERDICT #1:
    * compaction is what keeps `tableThrough` from scanning an epoch
    * per historical shard).
    *
    * WHY THE RESULT IS EXACTLY GATEABLE, batch-free: a doc verdicts
    * exactly once, in its own batch, and its owner is the min-id doc
    * of the EARLIEST tier (base corpus, then wave A, B, C in mtime
    * order) sharing its fingerprint — because each tier's survivors
    * are folded in before the next probes, "stored owner" at wave k
    * IS coalesce(tier₀…tier₍ₖ₋₁₎ owners), and within-batch misses take
    * the batch's own min id. The oracle recomputes that tier-coalesce
    * declaratively, knowing nothing about batches.
    *
    * Staged arrival (mtime-ordered, the q156 discipline): wave A = the
    * `doc_id % 7 == 3` slice; wave B = EXACT text copies of every 10th
    * corpus doc (+5e6 — planted dups against the STORED base); wave
    * C = exact copies of A's `% 9 == 4` slice (+9e6 — its owners are
    * wave-A ids wherever A's text was novel, measured non-empty at
    * every SF, so the pairs span batch boundaries and prove the FOLD
    * is load-bearing, not just the probe). The same retry contract as
    * [[ingestOnce]]: torn appends replay invisibly; a committed-append
    * replay refuses on the id clash; a doc verdicting twice refuses on
    * the exactly-once invariant below.
    */
  /** The fp-family drain loop [[fpIngestOnce]] and
    * [[fpIngestRetainedOnce]] share (r14 second review — the two
    * differed only in wave recipe and housekeeping policy, and a
    * duplicated loop body is exactly how the verdict-first /
    * one-materialization rule would drift): stage `mkWaves(corpus,
    * arriving)`, rebuild the artifact + verdict sink (they MUTATE
    * during the drain — the q116/q156 precedent), drain one file per
    * micro-batch with verdict FIRST (pinned: ONE materialization
    * serves both the sink report and the survivor selection —
    * re-reading the cumulative sink per batch would pay O(batches²)
    * listing over a long cadence; r12 ADVICE), fold the batch's kept
    * docs, run the [[graft.sources.RetentionPolicy]] before the next
    * batch fires (r15 — r14 VERDICT #5: the policy was five
    * hand-rolled lambdas), and return (idxDir, the scoped drained
    * verdicts) with exactly-once already required. Cross-batch
    * ownership premises and output shapes stay with each operator.
    */
  private def fpDrain(spark: SparkSession, sfDir: String,
      queryName: String,
      mkWaves: (DataFrame, DataFrame) => Seq[DataFrame],
      policy: graft.sources.RetentionPolicy)
      : (String, DataFrame) = {
    val srcDir = s"/tmp/graft_stream_src_$queryName"
    val idxDir = s"/tmp/graft_stream_idx_$queryName"
    val outDir = s"/tmp/graft_stream_verdicts_$queryName"
    val ss = EventStreams.streamingSession(spark)

    val d = graft.Tables.documents(ss, sfDir)
    val corpus = d.filter(col("doc_id") % 7 =!= 3)
      .select("doc_id", "text")
    val arriving = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
    stageWaves(sfDir, srcDir, queryName, mkWaves(corpus, arriving))

    EventStreams.deleteStagingForTest(java.nio.file.Paths.get(outDir))
    stagedArtifactOnce(ss, idxDir, s"$queryName|$sfDir|fp") { d =>
      graft.CacheScope.withScope {
        graft.operators.Dedup.writeFingerprintIndex(corpus, d)
      }
    }

    drainBatches(ss, srcDir, docSchema, (batch, id) => {
      val bs = batch.sparkSession
      val verdict = graft.CacheScope.scoped(
        graft.operators.Dedup.dedupAgainstIndex(idxDir, batch))
      verdict.withColumn("batch_id", lit(id))
        .write.mode("append").parquet(outDir)
      val kept = verdict.filter(col("kept")).select("doc_id")
      graft.operators.Dedup.appendFingerprintIndex(idxDir,
        batch.join(kept, Seq("doc_id"), "left_semi"))
      val fam = graft.operators.Dedup.index
      policy.housekeep(bs, idxDir, id, queryName, fam.writer)(
        fam.compact(bs, idxDir, _), () => fam.vacuum(bs, idxDir))
    })

    val verdicts = graft.CacheScope.scoped(spark.read.parquet(outDir))
    requireExactlyOnce(verdicts, Seq("doc_id"), queryName, "doc verdict")
    (idxDir, verdicts)
  }

  def fpIngestOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val (_, verdicts) = fpDrain(spark, sfDir, queryName,
      mkWaves = (corpus, arriving) => Seq(
        arriving,
        corpus.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(5000000L)).as("doc_id"),
            col("text")),
        arriving.filter(col("doc_id") % 9 === 4)
          .select((col("doc_id") + lit(9000000L)).as("doc_id"),
            col("text"))),
      // full compaction every batch — the pre-policy hardcoded cadence
      policy = graft.sources.RetentionPolicy())
    // LOUD premise: wave-C copies of wave-A docs must be owned by their
    // wave-A originals across the batch boundary — provable only if
    // wave A's survivors were FOLDED IN (and survived the compaction +
    // vacuum) before wave C probed
    require(verdicts.filter(col("doc_id") >= 9000000L && !col("kept") &&
        col("owner") < 5000000L && col("owner") % 7 === 3).limit(1)
        .count() == 1L,
      s"$queryName premise violated: no wave-C doc is owned by its " +
        "wave-A original — the per-batch survivor fold (or the " +
        "compacted artifact) is not feeding later probes")
    verdicts.select(col("doc_id"), col("fp"), col("owner"),
        col("kept").cast("long").as("kept"))
      .orderBy(col("doc_id"))
  }

  /** The q164 cadence with BOUNDED HISTORY RETENTION (q188, r14 —
    * compactBelow in the loop): every micro-batch folds its survivors
    * in and then runs PARTIAL compaction at the pre-fold horizon —
    * `compactBelow(serving − 1)` — plus vacuum, so the artifact never
    * carries more than the checkpoint + the latest fold as epochs
    * while the LAST pre-fold horizon stays servable. This is the
    * production answer to "housekeep every batch AND keep yesterday's
    * horizon auditable" that full compaction (q164's loop) cannot
    * give: there, every as-of horizon expires each batch.
    *
    * Waves are id-slices of the `% 7 == 3` arrival (each genuinely
    * novel, unlike q164's copy-waves — the horizon delta must be
    * load-bearing): A = `% 3 == 0`, B = `% 3 == 1` ∪ exact copies of
    * A's `% 9 == 0` slice (+9e6 — the cross-batch ownership premise:
    * owned by their wave-A originals only if A's fold SURVIVED batch
    * A's compactBelow), C = `% 3 == 2`. After the drain the gate
    * probes a FIXED novel shard (wave-C texts under +7e6 ids) at the
    * RETAINED horizon (the post-B state — served from the checkpoint
    * the last compactBelow wrote) and at serving; the oracle
    * recomputes both as declarative tier-coalesces, knowing nothing
    * about epochs, checkpoints, or batches. Loud premises: the final
    * floor/serving are exactly the retention policy's (3, 5), the
    * sub-floor epochs are PHYSICALLY gone (the probes can only have
    * served the checkpoint), and the cross-batch ownership above.
    */
  def fpIngestRetainedOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val (idxDir, verdicts) = fpDrain(spark, sfDir, queryName,
      mkWaves = (_, arriving) => {
        val waveA = arriving.filter(col("doc_id") % 3 === 0)
        Seq(
          waveA,
          arriving.filter(col("doc_id") % 3 === 1)
            .unionByName(waveA.filter(col("doc_id") % 9 === 0)
              .select((col("doc_id") + lit(9000000L)).as("doc_id"),
                col("text"))),
          arriving.filter(col("doc_id") % 3 === 2))
      },
      // retain ONE horizon: fold everything below the pre-fold horizon
      // into the checkpoint, keep that horizon servable mid-stream
      policy = graft.sources.RetentionPolicy(retainHorizons = Some(1)))

    // cross-batch ownership: a wave-B copy owned by its wave-A
    // original proves batch A's fold survived batch A's compactBelow
    require(verdicts.filter(col("doc_id") >= 9000000L && !col("kept") &&
        col("owner") < 9000000L && col("owner") % 7 === 3).limit(1)
        .count() == 1L,
      s"$queryName premise violated: no wave-B copy is owned by its " +
        "wave-A original — the fold did not survive the in-loop " +
        "partial compaction")
    // the retention policy's exact end state: base 0, A-fold 1,
    // cb(0) no-op, B-fold 2, cb(1)→epoch 3 floor 1, C-fold 4,
    // cb(3)→epoch 5 floor 3 — deterministic because one wave = one
    // batch (maxFilesPerTrigger = 1 over three stamped files)
    val st = graft.sources.EpochStore.servingState(spark, idxDir,
      queryName, "writeFingerprintIndex")
    require(st.epoch == 5 && st.floor == 3,
      s"$queryName premise violated: expected (serving, floor) = " +
        s"(5, 3) from the per-batch retention policy, got " +
        s"(${st.epoch}, ${st.floor})")
    // through the layout's own existence probes, never by rebuilding
    // its path convention by hand (r14 second review)
    require(!graft.sources.EpochStore.epochDirExists(spark, idxDir,
        "fps", 0) &&
      graft.sources.EpochStore.checkpointDirExists(spark, idxDir,
        "fps", 3),
      s"$queryName premise violated: the folded epochs must be " +
        "physically reclaimed and the retention checkpoint present — " +
        "otherwise the probes below prove nothing about the fold")
    val incoming = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 3 && col("doc_id") % 3 === 2)
      .select((col("doc_id") + lit(7000000L)).as("doc_id"), col("text"))
    val at3 = graft.operators.Dedup.dedupAgainstIndex(idxDir, incoming,
        asOf = Some(3))
      .withColumn("as_of", lit(3L))
    val at5 = graft.operators.Dedup.dedupAgainstIndex(idxDir, incoming)
      .withColumn("as_of", lit(5L))
    at3.unionByName(at5)
      .select(col("as_of"), col("doc_id"), col("fp"), col("owner"),
        col("kept").cast("long").as("kept"))
      .orderBy(col("as_of"), col("doc_id"))
  }

  /** The SAME production cadence at the NEAR-dup TEXT granularity
    * (q167): arriving document shards probe the stored MinHash index
    * for their Jaccard pairs ([[graft.operators.TextIndex
    * .jaccardPairsIndexed]]), report them, and fold in
    * ([[graft.operators.TextIndex.appendJaccardIndex]]) — then the
    * artifact COMPACTS + VACUUMS before the next batch fires, so the
    * text family's two-table (docs + bands) compaction is exercised
    * mid-drain the way q164 exercises the fp family's. Banding is
    * count-independent (no parameter pinning needed — the one family
    * where a streaming cadence can never straddle a currency step).
    *
    * Exactly gateable by the q156 argument verbatim: each pair at
    * J ≥ threshold with ≥ 1 incoming side surfaces EXACTLY ONCE — its
    * later-arriving side probes when its earlier side is already
    * corpus — so the drained union equals the one-shot incremental
    * answer over all three waves, and one batch-free exact O(n·m)
    * Jaccard oracle gates the loop. Waves (mtime-ordered): A = the
    * `doc_id % 7 == 3` slice; B = EXACT text copies of every 10th
    * corpus doc (+5e6 — planted J=1 hits against the STORED base);
    * C = exact copies of A's `% 9 == 4` slice (+9e6 — J=1 pairs whose
    * sides live in DIFFERENT batches, surfacing only if wave A's fold
    * survived the compaction; the loud premise below).
    */
  def textIngestOnce(spark: SparkSession, sfDir: String,
      queryName: String,
      policy: graft.sources.RetentionPolicy =
        graft.sources.RetentionPolicy()): DataFrame = {
    val srcDir = s"/tmp/graft_stream_src_$queryName"
    val idxDir = s"/tmp/graft_stream_idx_$queryName"
    val outDir = s"/tmp/graft_stream_pairs_$queryName"
    val ss = EventStreams.streamingSession(spark)

    val d = graft.Tables.documents(ss, sfDir)
    val corpus = d.filter(col("doc_id") % 7 =!= 3)
      .select("doc_id", "text")
    val waveA = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
    val waveB = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"))
    val waveC = waveA.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + lit(9000000L)).as("doc_id"), col("text"))

    stageWaves(sfDir, srcDir, queryName, Seq(waveA, waveB, waveC))

    // artifact + pair sink MUTATE during the drain — rebuilt every run
    EventStreams.deleteStagingForTest(java.nio.file.Paths.get(outDir))
    stagedArtifactOnce(ss, idxDir, s"$queryName|$sfDir|jac0.6") { d =>
      graft.CacheScope.withScope {
        graft.operators.TextIndex.writeJaccardIndex(corpus, d,
          threshold = 0.6)
      }
    }

    drainBatches(ss, srcDir, docSchema, (batch, id) => {
      val bs = batch.sparkSession
      graft.operators.TextIndex.jaccardPairsIndexed(idxDir, batch,
          threshold = 0.6)
        .withColumn("batch_id", lit(id))
        .write.mode("append").parquet(outDir)
      graft.operators.TextIndex.appendJaccardIndex(idxDir, batch)
      val fam = graft.operators.TextIndex.index
      policy.housekeep(bs, idxDir, id, queryName, fam.writer)(
        fam.compact(bs, idxDir, _), () => fam.vacuum(bs, idxDir))
    })

    val pairs = graft.CacheScope.scoped(spark.read.parquet(outDir))
    // LOUD premise: wave C's exact copies of wave-A docs pair at J=1
    // across the batch boundary — provable only if wave A's fold
    // survived the mid-drain compaction + vacuum before wave C probed
    require(pairs.filter(col("doc_b") >= 9000000L &&
        col("doc_a") < 5000000L && col("doc_a") % 7 === 3).limit(1)
        .count() == 1L,
      s"$queryName premise violated: no cross-batch pair between wave " +
        "C and wave A surfaced — the per-batch append fold (or the " +
        "compacted artifact) is not feeding later probes")
    requireExactlyOnce(pairs, Seq("doc_a", "doc_b"), queryName, "pair")
    pairs.select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val mediaSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("n_chars", LongType)))

  /** The SAME production cadence at the IMAGE granularity (q175, r13 —
    * the one foreachBatch asymmetry the r12 verdict left): arriving
    * media waves probe the stored dHash index for their near-dup pairs
    * ([[graft.operators.Multimodal.imageDHashNearIndexed]] — only the
    * shard decodes, ever), report, fold in, and the artifact COMPACTS
    * + VACUUMS before the next batch fires. Exactly gateable by the
    * q156 argument verbatim: each Hamming ≤ 3 pair with ≥ 1 incoming
    * side surfaces EXACTLY ONCE (its later-arriving side probes when
    * the earlier side is already corpus), so the drained union equals
    * the one-shot incremental answer and ONE closed-form raster oracle
    * gates the loop batch-free.
    *
    * Waves (mtime-ordered): A = the `doc_id % 7 == 3` slice; B =
    * copies of every 10th corpus doc at +5 000 448; C = copies of A's
    * `% 9 == 6` slice at +9 000 192. The offsets are DELIBERATELY
    * ≡ 0 mod 768 = lcm(3, 256): ≡ 0 mod 3 keeps a copied image an
    * image (kind rides doc_id % 3), and ≡ 0 mod 256 makes the copy's
    * raster an EXACT duplicate of its source (the synthetic raster
    * reduces entirely mod 256) — planted Hamming-0 pairs whose sides
    * live in DIFFERENT batches, the fold-is-load-bearing premise.
    * (The OPPOSITE offset rule from the stress fixtures, which want
    * organic collisions — CLAUDE.md's mod-256 gotcha, used here on
    * purpose.) Note % 9 == 6 ⇒ ≡ 0 mod 3: a wave-C residue like the
    * fp family's % 9 == 4 would select ZERO images — every id ≡ 4
    * mod 9 is ≡ 1 mod 3, an audio doc (measured: 8/8/79 wave-C
    * images across the three SFs with % 9 == 6).
    */
  def dHashIngestOnce(spark: SparkSession, sfDir: String,
      queryName: String,
      policy: graft.sources.RetentionPolicy =
        graft.sources.RetentionPolicy()): DataFrame = {
    val srcDir = s"/tmp/graft_stream_src_$queryName"
    val idxDir = s"/tmp/graft_stream_idx_$queryName"
    val outDir = s"/tmp/graft_stream_pairs_$queryName"
    val ss = EventStreams.streamingSession(spark)

    val d = graft.Tables.documents(ss, sfDir)
      .select("doc_id", "text", "n_chars")
    val corpus = d.filter(col("doc_id") % 7 =!= 3)
    val waveA = d.filter(col("doc_id") % 7 === 3)
    def shifted(df: DataFrame, off: Long): DataFrame =
      df.select((col("doc_id") + lit(off)).as("doc_id"), col("text"),
        col("n_chars"))
    val waveB = shifted(corpus.filter(col("doc_id") % 10 === 0), 5000448L)
    val waveC = shifted(waveA.filter(col("doc_id") % 9 === 6), 9000192L)

    stageWaves(sfDir, srcDir, queryName, Seq(waveA, waveB, waveC))

    // the artifact and pair sink MUTATE during the drain — rebuilt
    // every run (the q116/q156 deliberate-restage class)
    EventStreams.deleteStagingForTest(java.nio.file.Paths.get(outDir))
    stagedArtifactOnce(ss, idxDir, s"$queryName|$sfDir|dhash") { d =>
      graft.CacheScope.withScope {
        graft.operators.Multimodal.writeDHashIndex(corpus, d)
      }
    }

    drainBatches(ss, srcDir, mediaSchema, (batch, id) => {
      val bs = batch.sparkSession
      graft.operators.Multimodal.imageDHashNearIndexed(idxDir, batch)
        .withColumn("batch_id", lit(id))
        .write.mode("append").parquet(outDir)
      graft.operators.Multimodal.appendDHashIndex(idxDir, batch)
      val fam = graft.operators.Multimodal.index
      policy.housekeep(bs, idxDir, id, queryName, fam.writer)(
        fam.compact(bs, idxDir, _), () => fam.vacuum(bs, idxDir))
    })

    val pairs = graft.CacheScope.scoped(spark.read.parquet(outDir))
    // LOUD premise: wave C's exact raster copies of wave-A images pair
    // at Hamming 0 across the batch boundary — provable only if wave
    // A's fold survived the mid-drain compaction + vacuum before wave
    // C probed
    require(pairs.filter(col("media_b") >= 9000192L &&
        col("media_a") < 5000448L && col("media_a") % 7 === 3).limit(1)
        .count() == 1L,
      s"$queryName premise violated: no cross-batch pair between wave " +
        "C and wave A surfaced — the per-batch append fold (or the " +
        "compacted artifact) is not feeding later probes")
    requireExactlyOnce(pairs, Seq("media_a", "media_b"), queryName,
      "pair")
    pairs.select(col("media_a"), col("media_b"), col("hamming"))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** STREAMING index MAINTENANCE for the BM25 family (q170): arriving
    * document waves FOLD into the stored postings index
    * ([[graft.operators.Bm25.appendBm25Index]]) as they land, the
    * artifact compacts + vacuums after every fold, and retrieval runs
    * against the final grown artifact. Because BM25's corpus
    * statistics are ADDITIVE over disjoint doc sets (df sums across
    * epochs, N/Σdl ride the meta — the q166 exactness), an index
    * maintained by ANY number of streaming appends scores
    * bit-identically to one built whole — so the q86 oracle over the
    * FULL corpus gates the drained artifact with no batch-dependence
    * at all. This closes the cadence story across every index family:
    * cp (q156), fingerprint (q164), MinHash text (q167), and the
    * retrieval index here — the four mutations a living corpus
    * artifact undergoes, each gated exactly.
    *
    * Waves (mtime-ordered, ORIGINAL ids — retrieval needs the real
    * corpus, so the split is by residue, not id-shifted copies):
    * base = `doc_id % 7 != 3`; waves A/B/C = the `% 7 == 3` slice
    * split by `doc_id % 3` = 0/1/2.
    */
  def bm25IngestOnce(spark: SparkSession, sfDir: String,
      queryName: String,
      policy: graft.sources.RetentionPolicy =
        graft.sources.RetentionPolicy()): DataFrame = {
    val srcDir = s"/tmp/graft_stream_src_$queryName"
    val idxDir = s"/tmp/graft_stream_idx_$queryName"
    val ss = EventStreams.streamingSession(spark)

    val d = graft.Tables.documents(ss, sfDir)
    val base = d.filter(col("doc_id") % 7 =!= 3).select("doc_id", "text")
    val arriving = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
    val waves = (0 to 2).map(r =>
      arriving.filter(col("doc_id") % 3 === r))

    stageWaves(sfDir, srcDir, queryName, waves)

    // the artifact MUTATES during the drain — rebuilt every run
    stagedArtifactOnce(ss, idxDir, s"$queryName|$sfDir|bm25") { d =>
      graft.CacheScope.withScope {
        graft.operators.Bm25.writeBm25Index(base, d)
      }
    }

    drainBatches(ss, srcDir, docSchema, (batch, id) => {
      val bs = batch.sparkSession
      graft.operators.Bm25.appendBm25Index(idxDir, batch)
      val fam = graft.operators.Bm25.index
      policy.housekeep(bs, idxDir, id, queryName, fam.writer)(
        fam.compact(bs, idxDir, _), () => fam.vacuum(bs, idxDir))
    })

    graft.operators.Bm25.topKIndexed(spark, idxDir,
      Seq("spark", "hash", "window"), k = 50)
  }
}
