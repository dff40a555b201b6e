package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ann, Bm25, Dedup, Multimodal, TextIndex}
import graft.plans.CrossPolytope
import graft.sources.{IndexFamily, RetentionPolicy}

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
  * Staged arrival (three waves, mtime-ordered files — staged through
  * [[EventStreams.stage]], the one staging path of every streaming gate):
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
  * can never straddle a k-derivation step ([[cpSizing]]). All six
  * gates run the one loop, [[ingest]].
  */
object IndexIngest {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** Stage a loop's INITIAL (epoch-0) index artifact once per
    * (JVM, key) and serve each bench pass a FRESH filesystem copy to
    * mutate (r16 — r15 VERDICT #2, guide §1.2 "don't compute things
    * twice"): the epoch-0 build over the corpus slice is the loop's
    * INPUT STATE, not the operator under test (the probe/fold/compact
    * cadence is — and every batch of it stays fully paid per pass on
    * the fresh copy, the q116/q156 deliberate-restage contract,
    * because the copy MUTATES during the drain). Same opt-in and same
    * safety shape as [[EventStreams.stage]] / `SharedStage`:
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
    // a fresh mutable copy EVERY pass — the wipe also invalidates the
    // layout's in-JVM caches and cached plans over the old copy
    IndexFamily.wipe(spark, idxDir)
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

  private def idxDir(queryName: String) = s"/tmp/graft_stream_idx_$queryName"

  /** What one ingest gate declares; [[ingest]] owns everything else.
    *   - `schema` / `waves`: the staged shards, one micro-batch each,
    *     in order;
    *   - `artifactKey` / `build`: the epoch-0 artifact, built into the
    *     dir it is given (see [[stagedArtifactOnce]]);
    *   - `probe`: the batch's report against the stored artifact, which
    *     the loop appends to the sink with its batch id (None: no sink);
    *   - `fold`: fold the batch, given its report, into the artifact;
    *   - `family` / `policy`: the housekeeping run after each fold
    *     (None: no housekeeping).
    */
  private[graft] final case class Gate(schema: StructType,
      waves: Seq[DataFrame], artifactKey: String, build: String => Unit,
      probe: Option[(String, DataFrame) => DataFrame],
      fold: (String, DataFrame, Option[DataFrame]) => Unit,
      family: Option[IndexFamily] = None,
      policy: RetentionPolicy = RetentionPolicy())

  /** The one ingest loop every gate runs — the reference's per-chunk
    * read → transform → upsert-by-key loop (SURVEY §0) as a streaming
    * drain. `declare` builds the gate on the streaming session; the
    * loop stages its waves through [[EventStreams.stage]] (one
    * mtime-ordered file each, behind its reuse discipline), builds the
    * epoch-0 artifact, then drains one file per micro-batch, each inside a
    * cache scope: probe → sink append with the foreachBatch id → fold
    * → housekeep, all before the next batch fires. The artifact and
    * the sink are wiped and rebuilt EVERY run — they MUTATE during the
    * drain (the operator under test IS the mutation loop), so unlike
    * the staged inputs they can never be reused across bench passes
    * (the q116 deliberate-restage precedent). Returns the scoped sink
    * read-back, None for a gate without a probe.
    */
  private[graft] def ingest(spark: SparkSession, sfDir: String,
      queryName: String)(declare: SparkSession => Gate)
      : Option[DataFrame] = {
    val dir = idxDir(queryName)
    val sinkDir = s"/tmp/graft_stream_report_$queryName"
    val ss = EventStreams.streamingSession(spark)
    val gate = declare(ss)
    val src = EventStreams.stage(ss, sfDir, queryName, gate.schema)(
      gate.waves)
    EventStreams.deleteStagingForTest(java.nio.file.Paths.get(sinkDir))
    stagedArtifactOnce(ss, dir, gate.artifactKey) { d =>
      graft.CacheScope.withScope(gate.build(d))
    }
    EventStreams.drainBatches(src) { (batch, id) =>
      graft.CacheScope.withScope {
        val bs = batch.sparkSession
        val report = gate.probe.map(_(dir, batch))
        report.foreach(_.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(sinkDir))
        gate.fold(dir, batch, report)
        gate.family.foreach(fam =>
          gate.policy.housekeep(bs, dir, id, queryName, fam.writer)(
            fam.compact(bs, dir, _), () => fam.vacuum(bs, dir)))
      }
    }
    gate.probe.map(_ => graft.CacheScope.scoped(spark.read.parquet(sinkDir)))
  }

  /** The copy-wave recipe: A = the arriving slice; B = every 10th
    * corpus row with `key` shifted by `bShift` (planted hits against
    * the STORED base); C = A's `key % 9 == cResidue` slice shifted by
    * `cShift` (planted hits whose sides live in DIFFERENT batches, so
    * they surface only if A's fold is load-bearing). `copy` reshapes a
    * shifted copy (cp scales its embeddings).
    */
  private def copyWaves(key: String, corpus: DataFrame, waveA: DataFrame,
      bShift: Long, cResidue: Int, cShift: Long,
      copy: DataFrame => DataFrame = identity): Seq[DataFrame] = {
    def shifted(df: DataFrame, off: Long) =
      copy(df.withColumn(key, col(key) + lit(off)))
    Seq(waveA, shifted(corpus.filter(col(key) % 10 === 0), bShift),
      shifted(waveA.filter(col(key) % 9 === cResidue), cShift))
  }

  /** The cross-batch LOUD premise: some `planted` report row exists. */
  private def requireCrossBatch(df: DataFrame, planted: Column,
      queryName: String, why: String): Unit =
    require(df.filter(planted).limit(1).count() == 1L,
      s"$queryName premise violated: $why")

  /** The exactly-once invariant every reporting gate shares: a key
    * surfacing in two micro-batches means a batch re-fired without its
    * append or the sink double-wrote.
    */
  private def requireExactlyOnce(df: DataFrame, keys: Seq[String],
      queryName: String, what: String): Unit = {
    val dup = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
    require(dup.limit(1).count() == 0L,
      s"$queryName invariant violated: a $what surfaced in more than " +
        "one micro-batch")
  }

  /** q156's cp parameters, PINNED from the FINAL corpus count (base +
    * all three waves of the `embeddings` table `e`) in ONE scan — the
    * wave predicates are residue classes of the same table, so a single
    * conditional aggregate replaces four filtered counts (r11 review:
    * this query deliberately re-pays its loop every bench pass; the
    * derivation must not add scans of its own). Returns (k, bands).
    */
  private[graft] def cpSizing(e: DataFrame): (Int, Int) = {
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
    (k, CrossPolytope.bandsFor(0.4, k, 64, 1e-4))
  }

  def ingestOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val pairs = ingest(spark, sfDir, queryName) { ss =>
      val e = graft.Tables.embeddings(ss, sfDir)
      def slice(keep: Column) = e.filter(keep).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val corpus = slice(col("vec_id") % 7 =!= 3)
      val (k, b) = cpSizing(e)
      Gate(embSchema,
        copyWaves("vec_id", corpus, slice(col("vec_id") % 7 === 3),
          5000000L, 4, 9000000L, _.withColumn("embedding",
            transform(col("embedding"), x => x * lit(1.001d)))),
        s"$queryName|$sfDir|t0.4|k$k|b$b",
        Ann.writeCpIndex(corpus, _, threshold = 0.4, hashesPerBand = k,
          bands = b),
        // probe FIRST (the arriving shard against everything already
        // corpus), report, then fold the shard in for the batches
        // behind it
        probe = Some(Ann.cosinePairsCpIndexed(_, _, threshold = 0.4)),
        fold = (dir, batch, _) => Ann.appendCpIndex(dir, batch))
    }.get
    // LOUD premise: the planted wave-C copies pair with their wave-A
    // originals across batch boundaries — provable only if wave A was
    // APPENDED before wave C probed, i.e. the fold is load-bearing,
    // not just the base-index probe
    requireCrossBatch(pairs, col("vec_b") >= 9000000L &&
        col("vec_a") < 5000000L && col("vec_a") % 7 === 3, queryName,
      "no cross-batch pair between wave C and wave A surfaced — the " +
        "per-batch append fold is not feeding later probes")
    // each pair surfaces exactly once (the order-independence argument
    // above)
    requireExactlyOnce(pairs, Seq("vec_a", "vec_b"), queryName, "pair")
    pairs.select(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The fp-family gate [[fpIngestOnce]] and [[fpIngestRetainedOnce]]
    * share (r14 second review — the two differ only in wave recipe and
    * housekeeping policy, and a duplicated gate is exactly how the
    * verdict-first / one-materialization rule would drift): waves from
    * `mkWaves(corpus, arriving)`, verdict FIRST (pinned: ONE scoped
    * materialization serves both the sink report and the survivor
    * selection — re-reading the cumulative sink per batch would pay
    * O(batches²) listing over a long cadence; r12 ADVICE), fold the
    * batch's kept docs, then `policy`. Returns the drained verdicts with
    * exactly-once already required; cross-batch ownership premises and
    * output shapes stay with each operator.
    */
  private def fpVerdicts(spark: SparkSession, sfDir: String,
      queryName: String, policy: RetentionPolicy)(
      mkWaves: (DataFrame, DataFrame) => Seq[DataFrame]): DataFrame = {
    val verdicts = ingest(spark, sfDir, queryName) { ss =>
      val d = graft.Tables.documents(ss, sfDir).select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 7 =!= 3)
      Gate(docSchema, mkWaves(corpus, d.filter(col("doc_id") % 7 === 3)),
        s"$queryName|$sfDir|fp", Dedup.writeFingerprintIndex(corpus, _),
        probe = Some((dir, batch) =>
          graft.CacheScope.scoped(Dedup.dedupAgainstIndex(dir, batch))),
        fold = (dir, batch, verdict) => Dedup.appendFingerprintIndex(dir,
          batch.join(verdict.get.filter(col("kept")).select("doc_id"),
            Seq("doc_id"), "left_semi")),
        family = Some(Dedup.index), policy = policy)
    }.get
    requireExactlyOnce(verdicts, Seq("doc_id"), queryName, "doc verdict")
    verdicts
  }

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
  def fpIngestOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    // full compaction every batch — the pre-policy hardcoded cadence
    val verdicts = fpVerdicts(spark, sfDir, queryName, RetentionPolicy())(
      copyWaves("doc_id", _, _, 5000000L, 4, 9000000L))
    // LOUD premise: wave-C copies of wave-A docs must be owned by their
    // wave-A originals across the batch boundary — provable only if
    // wave A's survivors were FOLDED IN (and survived the compaction +
    // vacuum) before wave C probed
    requireCrossBatch(verdicts, col("doc_id") >= 9000000L &&
        !col("kept") && col("owner") < 5000000L &&
        col("owner") % 7 === 3, queryName,
      "no wave-C doc is owned by its wave-A original — the per-batch " +
        "survivor fold (or the compacted artifact) is not feeding " +
        "later probes")
    verdicts.select(col("doc_id"), col("fp"), col("owner"),
        col("kept").cast("long").as("kept"))
      .orderBy(col("doc_id"))
  }

  /** The q164 cadence with BOUNDED HISTORY RETENTION (q188, r14 —
    * partial compact in the loop): every micro-batch folds its survivors
    * in and then runs PARTIAL compaction at the pre-fold horizon —
    * `compact(below = Some(serving − 1))` — plus vacuum, so the artifact
    * never carries more than the checkpoint + the latest fold as epochs
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
    * A's partial compact), C = `% 3 == 2`. After the drain the gate
    * probes a FIXED novel shard (wave-C texts under +7e6 ids) at the
    * RETAINED horizon (the post-B state — served from the checkpoint
    * the last partial compact wrote) and at serving; the oracle
    * recomputes both as declarative tier-coalesces, knowing nothing
    * about epochs, checkpoints, or batches. Loud premises: the final
    * floor/serving are exactly the retention policy's (3, 5), the
    * sub-floor epochs are PHYSICALLY gone (the probes can only have
    * served the checkpoint), and the cross-batch ownership above.
    */
  def fpIngestRetainedOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    // retain ONE horizon: fold everything below the pre-fold horizon
    // into the checkpoint, keep that horizon servable mid-stream
    val verdicts = fpVerdicts(spark, sfDir, queryName,
        RetentionPolicy(retainHorizons = Some(1))) { (_, arriving) =>
      val waveA = arriving.filter(col("doc_id") % 3 === 0)
      Seq(
        waveA,
        arriving.filter(col("doc_id") % 3 === 1)
          .unionByName(waveA.filter(col("doc_id") % 9 === 0)
            .select((col("doc_id") + lit(9000000L)).as("doc_id"),
              col("text"))),
        arriving.filter(col("doc_id") % 3 === 2))
    }
    val dir = idxDir(queryName)

    // cross-batch ownership: a wave-B copy owned by its wave-A
    // original proves batch A's fold survived batch A's partial compact
    requireCrossBatch(verdicts, col("doc_id") >= 9000000L &&
        !col("kept") && col("owner") < 9000000L &&
        col("owner") % 7 === 3, queryName,
      "no wave-B copy is owned by its wave-A original — the fold did " +
        "not survive the in-loop partial compaction")
    // the retention policy's exact end state: base 0, A-fold 1,
    // cb(0) no-op, B-fold 2, cb(1)→epoch 3 floor 1, C-fold 4,
    // cb(3)→epoch 5 floor 3 — deterministic because one wave = one
    // batch (one file per trigger over three stamped files)
    val st = Dedup.index.serving(spark, dir, queryName)
    require(st.epoch == 5 && st.floor == 3,
      s"$queryName premise violated: expected (serving, floor) = " +
        s"(5, 3) from the per-batch retention policy, got " +
        s"(${st.epoch}, ${st.floor})")
    // through the layout's own existence probes, never by rebuilding
    // its path convention by hand (r14 second review)
    require(!Dedup.index.epochDirExists(spark, dir, "fps", 0) &&
      Dedup.index.checkpointDirExists(spark, dir, "fps", 3),
      s"$queryName premise violated: the folded epochs must be " +
        "physically reclaimed and the retention checkpoint present — " +
        "otherwise the probes below prove nothing about the fold")
    val incoming = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 3 && col("doc_id") % 3 === 2)
      .select((col("doc_id") + lit(7000000L)).as("doc_id"), col("text"))
    val at3 = Dedup.dedupAgainstIndex(dir, incoming, asOf = Some(3))
      .withColumn("as_of", lit(3L))
    val at5 = Dedup.dedupAgainstIndex(dir, incoming)
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
    val pairs = ingest(spark, sfDir, queryName) { ss =>
      val d = graft.Tables.documents(ss, sfDir).select("doc_id", "text")
      val corpus = d.filter(col("doc_id") % 7 =!= 3)
      Gate(docSchema,
        copyWaves("doc_id", corpus, d.filter(col("doc_id") % 7 === 3),
          5000000L, 4, 9000000L),
        s"$queryName|$sfDir|jac0.6",
        TextIndex.writeJaccardIndex(corpus, _, threshold = 0.6),
        probe = Some(TextIndex.jaccardPairsIndexed(_, _, threshold = 0.6)),
        fold = (dir, batch, _) => TextIndex.appendJaccardIndex(dir, batch),
        family = Some(TextIndex.index), policy = policy)
    }.get
    // LOUD premise: wave C's exact copies of wave-A docs pair at J=1
    // across the batch boundary — provable only if wave A's fold
    // survived the mid-drain compaction + vacuum before wave C probed
    requireCrossBatch(pairs, col("doc_b") >= 9000000L &&
        col("doc_a") < 5000000L && col("doc_a") % 7 === 3, queryName,
      "no cross-batch pair between wave C and wave A surfaced — the " +
        "per-batch append fold (or the compacted artifact) is not " +
        "feeding later probes")
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
    val pairs = ingest(spark, sfDir, queryName) { ss =>
      val d = graft.Tables.documents(ss, sfDir)
        .select("doc_id", "text", "n_chars")
      val corpus = d.filter(col("doc_id") % 7 =!= 3)
      Gate(mediaSchema,
        copyWaves("doc_id", corpus, d.filter(col("doc_id") % 7 === 3),
          5000448L, 6, 9000192L),
        s"$queryName|$sfDir|dhash",
        Multimodal.writeDHashIndex(corpus, _),
        probe = Some(Multimodal.imageDHashNearIndexed(_, _)),
        fold = (dir, batch, _) => Multimodal.appendDHashIndex(dir, batch),
        family = Some(Multimodal.index), policy = policy)
    }.get
    // LOUD premise: wave C's exact raster copies of wave-A images pair
    // at Hamming 0 across the batch boundary — provable only if wave
    // A's fold survived the mid-drain compaction + vacuum before wave
    // C probed
    requireCrossBatch(pairs, col("media_b") >= 9000192L &&
        col("media_a") < 5000448L && col("media_a") % 7 === 3, queryName,
      "no cross-batch pair between wave C and wave A surfaced — the " +
        "per-batch append fold (or the compacted artifact) is not " +
        "feeding later probes")
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
    ingest(spark, sfDir, queryName) { ss =>
      val d = graft.Tables.documents(ss, sfDir).select("doc_id", "text")
      val arriving = d.filter(col("doc_id") % 7 === 3)
      Gate(docSchema,
        (0 to 2).map(r => arriving.filter(col("doc_id") % 3 === r)),
        s"$queryName|$sfDir|bm25",
        Bm25.writeBm25Index(d.filter(col("doc_id") % 7 =!= 3), _),
        probe = None,
        fold = (dir, batch, _) => Bm25.appendBm25Index(dir, batch),
        family = Some(Bm25.index), policy = policy)
    }
    Bm25.topKIndexed(spark, idxDir(queryName),
      Seq("spark", "hash", "window"), k = 50)
  }
}
