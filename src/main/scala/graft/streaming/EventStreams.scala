package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructType}

/** Structured Streaming forms of the event operators (SURVEY.md §2.5
  * "event-stream ops — Structured Streaming variant").
  *
  * The batch forms in [[graft.operators.Events]] are the oracle-checked
  * source of truth; these run the SAME aggregations incrementally:
  * `readStream` over the parquet directory, event-time watermarks, and a
  * stateful sessionizer via `flatMapGroupsWithState`. Local tests drive
  * them synchronously with a memory sink (`processAllAvailable`).
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * horizon; the sessionizer keeps O(1) state per user (last-seen µs +
  * counts), not the event history.
  */
object EventStreams {

  /** Schema of STAGED micro-batch files: exact integer epoch-µs `ts_us`,
    * never a physical-unit column. Staging always writes frames derived
    * from [[graft.Tables.events]] (where the parquet footer's unit is
    * detected and erased), so streaming readers are unit-free by
    * construction — a µs- or ns-annotated source table stages
    * identically.
    */
  private[graft] val stagedSchema = StructType.fromDDL(
    "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** Streaming source over a STAGED events directory (µs-normalized
    * files — see [[stagedSchema]]).
    */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(stagedSchema) // the ONE staged-events schema (µs always)
      .parquet(dir)

  /** Session clone with streaming-sized shuffle parallelism for the gate
    * jobs. A stateful streaming query maintains ONE state store per
    * shuffle partition and commits every one of them per micro-batch —
    * at local gate scale (10k events, 2-4 micro-batches) 32 stores are
    * pure commit overhead, roughly half of each job's wall time. The
    * store count is a real production knob too (sized to key volume /
    * throughput, fixed per checkpoint lineage); here the checkpoint is
    * fresh per run, so resizing is safe. Same SparkContext, own conf +
    * catalog — the outer session's batch parallelism is untouched.
    * `rocksDb` switches the clone to the RocksDB state-store provider,
    * which `transformWithState` refuses to run without; scoped to this
    * clone, the outer harness sessions keep the default store.
    */
  private[graft] def streamingSession(spark: SparkSession,
      rocksDb: Boolean = false): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    if (rocksDb)
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
    ss
  }

  /** The exact value sum every oracle-facing aggregate runs: DECIMAL
    * (18,6), cast back to DOUBLE only at the end.
    */
  private def sumValue: Column =
    sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
      .as("sum_value")

  /** Tumbling event-time window counts per event_type with a watermark —
    * the streaming form of [[graft.operators.Events.rollup]], and the one
    * window rollup every gate runs. `watermark` None: `events` already
    * carries a watermarked `event_time` (the [[dedupedStream]] chain,
    * q114/q116), which a second watermark node must not shadow.
    */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: Option[String] = Some("2 hours")): DataFrame =
    watermark.fold(events)(w => events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", w))
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValue)

  /** A [[windowedCounts]] rollup in the oracles' row shape. */
  private def bucketed(rollup: DataFrame): DataFrame =
    rollup.select(col("window.start").as("bucket"), col("event_type"),
      col("n"), col("sum_value"))

  /** Drive a streaming frame into a memory-sink table via AvailableNow
    * with a fresh checkpoint (a stale one would mark the static input
    * already-consumed; it is deleted again after termination so repeated
    * harness runs don't accumulate state-store garbage in /tmp), and
    * return the materialized table.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    df.sparkSession.table(name)
  }

  /** Drain a streaming frame through `perBatch` (foreachBatch) via
    * AvailableNow with a fresh temp checkpoint, deleted again after
    * termination — the one foreachBatch drive loop the index-ingest
    * gates, q132 and the CDC merge share.
    */
  private[graft] def drainBatches(df: DataFrame,
      mode: OutputMode = OutputMode.Append())(
      perBatch: (DataFrame, Long) => Unit): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    try {
      val q = df.writeStream
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          perBatch(batch, id)
        }
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
  }

  /** [[runToMemory]] for PROCESSING-TIME-timeout queries, where NO
    * built-in run-to-completion mechanism exists: a stateful operator
    * with `ProcessingTimeTimeout` reports "should run another batch"
    * unconditionally (the engine must keep scheduling batches to service
    * wall-clock timers), so Trigger.AvailableNow plans empty micro-batches
    * forever AND `processAllAvailable()` never unblocks (the no-new-data
    * signal it waits on is only raised when the engine decides no further
    * batch is needed) — both verified as hard hangs on this exact query.
    * The terminating form: default trigger, ACCUMULATE the query's
    * `numInputRows` in a [[StreamingQueryListener]] until every row
    * staged for `queryName` is committed — data batches always emit a
    * progress event on commit, and the commit of the final (sentinel)
    * data batch includes the timer emissions it fired — then `stop()`.
    * Empty timer-service batches between poll and stop can only fire the
    * sentinel key's own timer, which the caller filters; the drained
    * output is deterministic. A listener (not `recentProgress`): the
    * ring buffer keeps only 100 entries, so its sum is correct only
    * while the no-data-progress rate limit keeps idle entries sparse —
    * an accumulator has no such coupling to an unrelated conf (r5
    * ADVICE).
    */
  private def drainToTableManual(df: DataFrame, queryName: String,
      mode: OutputMode): DataFrame = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val spark = df.sparkSession
    // harness bookkeeping over the tiny staged directory, not operator
    // work
    val expectedInputRows = spark.read.schema(stagedSchema)
      .parquet(srcDir(queryName)).count()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    // match on query NAME (known before start()) — the listener bus is
    // async, so matching on an id captured after start() would race the
    // first commit's event
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == queryName) {
          seen.addAndGet(e.progress.numInputRows); ()
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val q = df.writeStream.format("memory").queryName(queryName)
        .outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .start()
      // stop() in a finally: a deadline throw mid-poll must not leave
      // the query running (it would keep committing to a checkpoint the
      // outer finally is deleting — the fs race then masks the real
      // timeout diagnostic)
      try {
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        while (seen.get() < expectedInputRows) {
          require(System.nanoTime() < deadline,
            s"$queryName: drain did not consume $expectedInputRows " +
              "staged rows within 300 s")
          Thread.sleep(50)
        }
      } finally q.stop()
      q.awaitTermination()
    } finally {
      spark.streams.removeListener(listener)
      deleteRecursively(ckpt)
    }
    spark.table(queryName)
  }

  /** Test hook: recursive staging-dir cleanup (no-op if absent). */
  private[graft] def deleteStagingForTest(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) deleteRecursively(root)

  // Retries while the tree still changes: a stop that interrupts a state
  // commit leaves aborting tasks writing under the checkpoint for a
  // moment after `awaitTermination` returns (DirectoryNotEmptyException
  // mid-walk, seen at q98 in Verify and in RegistrySpec's walk).
  private def deleteRecursively(root: java.nio.file.Path,
      attempts: Int = 50): Unit = {
    val walk = java.nio.file.Files.walk(root)
    val done =
      try {
        walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        true
      } catch {
        case _: java.nio.file.DirectoryNotEmptyException if attempts > 1 =>
          false
      } finally walk.close()
    if (!done) {
      Thread.sleep(100)
      deleteRecursively(root, attempts - 1)
    }
  }

  /** The staging dir of one gate query: one file per micro-batch. */
  private def srcDir(queryName: String) = s"/tmp/graft_stream_src_$queryName"

  /** The one opener of a staged directory: one file per trigger, so
    * each staged file becomes one micro-batch, and FileStreamSource
    * ingests them oldest-mtime first ([[writeStampedBatch]] pins the
    * order).
    */
  private def open(ss: SparkSession, dir: String,
      schema: StructType): DataFrame =
    ss.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Current part files of a staging dir (empty if the dir is absent). */
  private def listPartFiles(srcDir: String): Set[java.nio.file.Path] = {
    val dir = java.nio.file.Paths.get(srcDir)
    if (!java.nio.file.Files.exists(dir)) return Set.empty
    val listing = java.nio.file.Files.list(dir)
    try listing.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSet
    finally listing.close()
  }

  /** Append `df` to `srcDir` as EXACTLY ONE new part file (coalesce(1)
    * IS the staging contract — one file = one micro-batch — not a
    * performance choice) and pin its mtime to slot `idx` (1000000000000
    * + idx·60000 ms), so FileStreamSource ingests the staged batches in
    * slot order. Fails loud if the write lands more or fewer than one
    * new file: every *Once gate query's claim rests on its batches
    * landing in SEPARATE files (the cross-batch premise, r2 ADVICE) —
    * collapsed files would silently degrade it to within-batch
    * semantics.
    */
  private def writeStampedBatch(srcDir: String, df: DataFrame, idx: Int,
      label: String): Unit = {
    val before = listPartFiles(srcDir)
    df.coalesce(1).write.mode("append").parquet(srcDir)
    val fresh = (listPartFiles(srcDir) -- before).toSeq
    require(fresh.size == 1,
      s"$label staging batch $idx wrote ${fresh.size} files, expected 1")
    java.nio.file.Files.setLastModifiedTime(fresh.head,
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L + idx * 60000L))
    ()
  }

  /** THE staging path of every streaming gate (the reference's chunk
    * loop, SURVEY §0, with each chunk a staged micro-batch): wipe the
    * query's staging dir, write `frames` one stamped file each in list
    * order, and return the one-file-per-trigger stream over them
    * ([[open]]) — frame i is micro-batch i.
    *
    * One explicit write per frame, never a range repartition on a batch
    * flag: RangePartitioner SAMPLES its bounds, and on a small discrete
    * key (a ~50/50 flag, a 3-value batch id) it can pick the upper value
    * as the boundary and land two batches in one partition — silently
    * merging micro-batches. q115 broke this way in Verify while passing
    * in Dev, q72's range-sampled staging failed in-suite at sf0.1 while
    * passing standalone, and r3 saw a 3-value key collapse to two
    * files.
    *
    * Staging is amortized across repeated harness runs in ONE JVM (r7/r8
    * VERDICT: the ~20 streaming gates each pay a fixed staging floor per
    * bench pass; with min-of-2 passes the floor is pure overhead on the
    * second). When the harness opts in (`graft.stage.reuse` system
    * property — ONLY Bench sets it: its min-of-2 passes are the one
    * place repeat staging exists; Verify and tests run each gate once
    * and stay on the always-fresh path) and a token written by THIS JVM
    * for the same `sfDir` is present, the staged files are reused
    * verbatim: same bytes, same stamped mtimes, so the drained result is
    * identical by construction, and `frames` is never evaluated. The
    * token protocol is [[graft.SharedStage.buildOnce]]'s: a per-JVM
    * nonce, so reuse can only ever serve files staged by THIS run's own
    * code (a code edit between runs can never be served stale staging),
    * and the token is written LAST, so a build that dies mid-staging
    * restages from scratch. Disabled (the default), every run wipes and
    * restages.
    */
  private[graft] def stage(ss: SparkSession, sfDir: String,
      queryName: String, schema: StructType = stagedSchema)(
      frames: => Seq[DataFrame]): DataFrame = {
    val dir = srcDir(queryName)
    graft.SharedStage.buildOnce(dir, sfDir) {
      deleteStagingForTest(java.nio.file.Paths.get(dir))
      frames.zipWithIndex.foreach { case (df, i) =>
        writeStampedBatch(dir, df, i, queryName)
      }
    }
    open(ss, dir, schema)
  }

  /** [[stage]] over the events table: `batches` gets the events read
    * through [[graft.Tables.events]] (the ONE sanctioned read, unit
    * erased to `ts_us`) and their span (a, z), checked by
    * [[guardedEvents]], and returns the micro-batches in arrival order.
    * The check runs with the staging, so reused staging runs none.
    */
  private def stageEvents(ss: SparkSession, sfDir: String,
      queryName: String)(
      batches: (DataFrame, (Long, Long)) => Seq[DataFrame]): DataFrame =
    stage(ss, sfDir, queryName)(
      batches.tupled(guardedEvents(ss, sfDir, queryName)))

  /** The events behind every staged gate, with their span (a, z), after
    * the 24 h span premise ([[graft.operators.Events.requireSpanHours]]):
    * watermark, gap and window semantics all silently degenerate when
    * months of data collapse into minutes (the r6 unit shift), so a
    * collapsed corpus REFUSES before anything is staged.
    */
  private def guardedEvents(ss: SparkSession, sfDir: String,
      queryName: String): (DataFrame, (Long, Long)) =
    graft.operators.Events.requireSpanHours(graft.Tables.events(ss, sfDir),
      queryName)

  /** `ev` cut at the ascending µs `cuts`: slice i holds
    * cuts(i−1) ≤ ts_us < cuts(i), the first and last open-ended.
    */
  private def sliceAt(ev: DataFrame, cuts: Seq[Long]): Seq[DataFrame] =
    (0 to cuts.size).map { i =>
      val lo = if (i == 0) lit(true) else col("ts_us") >= cuts(i - 1)
      val hi = if (i == cuts.size) lit(true) else col("ts_us") < cuts(i)
      ev.filter(lo && hi)
    }

  /** `ev` in `n` event-time slices, earliest first, cut at
    * a + ((z − a) div n)·i over its [a, z] `span` — the integral µs
    * arithmetic the oracles reproduce, so both sides see the same
    * slices. Time-ordered slices give every user time-ordered arrival
    * across micro-batches, which the stateful gates' cross-batch
    * arguments rest on.
    */
  private def timeSlices(ev: DataFrame, span: (Long, Long),
      n: Int): Seq[DataFrame] = {
    val (a, z) = span
    sliceAt(ev, (1 until n).map(i => a + (z - a) / n * i))
  }

  /** Lead of a far-future sentinel over the events' max time: past every
    * real watermark horizon and timer of the gate corpora.
    */
  private val sentinelLeadUs = 10L * 86400 * 1000000L

  /** A sentinel batch: one [[stagedSchema]] row per `types` entry at the
    * events' max time `z` + `offsetUs`, with event and user id −1 (the
    * gates filter it from their output). It exists only to push the
    * watermark or to trigger one more micro-batch.
    */
  private def sentinel(ss: SparkSession, z: Long, offsetUs: Long,
      types: Seq[String] = Seq("sentinel")): DataFrame =
    ss.createDataFrame(types.map(t =>
      org.apache.spark.sql.Row(-1L, z + offsetUs, -1L, t, 0.0, null)).asJava,
      stagedSchema)

  /** The planted byte-identical duplicates of the dedup gates: a copy of
    * every 10th event.
    */
  private def plantedCopies(ev: DataFrame): DataFrame =
    ev.filter(col("event_id") % 10 === 0)

  /** Streaming dedup as a RUN-TO-COMPLETION gate query: the first staged
    * file carries every original event, the second carries byte-identical
    * COPIES of every 10th event — so the copies arrive in a LATER
    * micro-batch and only cross-batch dedup state (or the watermark's
    * late-row policy, for copies older than the advanced watermark; both
    * are the operator's contract) can drop them. The drained output must
    * therefore aggregate to exactly the original events — which is what
    * the DuckDB oracle over the raw table checks.
    */
  def dedupOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val src = stageEvents(streamingSession(spark), sfDir, queryName)((ev, _) =>
      Seq(ev, plantedCopies(ev)))
    runToMemory(dedupedStream(src).select("event_id", "event_type", "value"),
      queryName, OutputMode.Append)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumValue)
      .orderBy(col("event_type"))
  }

  /** The hourly rollup as a RUN-TO-COMPLETION streaming job: the input is
    * staged as TWO files (the event_id parity halves, each spanning the
    * whole time range, so window state merges across both) consumed one
    * per trigger, so AvailableNow runs two real micro-batches and the
    * window state must merge incrementally across them — the result is
    * batching-invariant, which is exactly what the driver-gate equality
    * against batch q16's DuckDB oracle proves. Complete mode keeps every
    * window, so the watermark drops nothing even though batch 1 spans the
    * whole range. Two batches (not more) because each pays a fixed
    * state-store commit across every shuffle partition. The 1-hour
    * tumbling `window().start` is definitionally
    * `date_trunc('hour', ts)`, and the sum runs in exact DECIMAL like
    * every oracle-facing aggregate.
    */
  def hourlyRollupOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val src = stageEvents(streamingSession(spark), sfDir, queryName)((ev, _) =>
      Seq(0, 1).map(b => ev.filter(pmod(col("event_id"), lit(2L)) === b)))
    bucketed(runToMemory(windowedCounts(src), queryName, OutputMode.Complete))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** The hourly rollup through UPDATE output mode — the third output
    * mode at the gate, closing the matrix (q57 proves Complete, q64
    * proves Append's late-drop, q114/q116 Append's finalization): each
    * micro-batch emits ONLY the windows it changed, captured by a
    * foreachBatch sink stamping rows with their batch id; a key's
    * FINAL state is its row from the latest batch that updated it, and
    * that reconstruction must equal the batch DAILY rollup — proving
    * update emissions carry correctly merged cross-batch state.
    *
    * Staging splits at the µs MIDPOINT (early half → batch 0, late →
    * batch 1), not round-robin: Update mode — unlike q57's Complete —
    * enforces the watermark, and a round-robin batch 1 would span the
    * full time range, its early rows landing behind the batch-0
    * watermark (z − 2 h) and being dropped, breaking rollup parity by
    * design rather than by defect. With the time split, batch-1 rows
    * all sit above the midpoint and the batch-0 watermark m − 2 h
    * admits them.
    *
    * Two premises make the claim real (loud, not assumed): (1) ≥ 1
    * window updated in BOTH batches — the hour straddling the midpoint
    * — else nothing proves cross-batch merge; (2) ≥ 1 window updated
    * ONLY in batch 0 — Update re-emitting everything (Complete
    * behavior) would violate it, so the mode's only-changed-keys
    * contract is itself asserted, not just survived.
    */
  def updateRollupOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val outDir = s"/tmp/graft_stream_upd_$queryName"
    deleteStagingForTest(java.nio.file.Paths.get(outDir))
    val src = stageEvents(streamingSession(spark), sfDir, queryName) {
      case (ev, (a, z)) =>
        // split at NOON of the midpoint day, not the raw µs midpoint: the
        // corpus spans a near-integral number of days, so the raw midpoint
        // sits within seconds of a day boundary and the "straddling" day
        // gets no batch-1 rows (measured: the merge premise trips) —
        // pinning the cut to 12:00 UTC guarantees the straddling day
        // splits mid-day
        val dayUs = 86400000000L
        sliceAt(ev, Seq((a + (z - a) / 2) / dayUs * dayUs + dayUs / 2))
    }
    // DAILY windows, not q57's hourly: the cross-batch-merge premise
    // needs the midpoint-straddling bucket to hold the same event_type
    // on BOTH sides of the split, and at gate density a single hour is
    // too sparse for that (measured: the premise trips) — a day is not
    val agg = bucketed(windowedCounts(src, "1 day"))
    drainBatches(agg, OutputMode.Update()) { (b, id) =>
      b.withColumn("batch_id", lit(id))
        .write.mode("append").parquet(outDir)
    }
    val hist = graft.CacheScope.scoped(spark.read.parquet(outDir))
    val spread = hist.groupBy(col("bucket"), col("event_type"))
      .agg(count_distinct(col("batch_id")).as("nb"),
        max(col("batch_id")).as("mb"))
    require(spread.filter(col("nb") >= 2).limit(1).count() == 1L,
      s"$queryName premise violated: no window updated across both " +
        "micro-batches — nothing exercises cross-batch state merge")
    // only-changed-keys premise: a window whose LAST emission is batch 0
    // was updated there and never re-emitted. (`nb === 1` would NOT
    // assert this — windows first created in batch 1 also have one
    // batch, so Complete-style re-emission of every batch-0 window
    // would slip through that weaker check.)
    require(spread.filter(col("mb") === 0).limit(1).count() == 1L,
      s"$queryName premise violated: every batch-0 window re-emitted " +
        "in batch 1 — that is Complete-mode behavior, not Update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("event_type"))
      .orderBy(col("batch_id").desc)
    hist.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("bucket"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** Watermark LATE-DATA DROP as a RUN-TO-COMPLETION gate query (the one
    * watermark semantic q57/q60/q63 did not prove: those show state
    * merging/carrying across batches; this shows late rows being
    * REFUSED). Three staged files, ingested in mtime order:
    *
    *   1. the middle third of the event-time range  — admitted (watermark
    *      still behind),
    *   2. the latest third                          — admitted, and its
    *      max event time advances the watermark to z − 2 h,
    *   3. the EARLIEST third, arriving LAST         — every row is now
    *      older than the advanced watermark and its hour window long
    *      finalized, so the append-mode aggregation DROPS all of it.
    *
    * The final no-data micro-batch emits exactly the windows that closed
    * (end ≤ z − 2 h). The DuckDB oracle is the same hourly rollup
    * computed over ONLY the on-time two-thirds, windows cut at the final
    * watermark — late rows excluded by construction, so equality proves
    * the drop. Chunk boundaries are integral µs arithmetic (a + (z−a)
    * div 3) identical on both sides; boundary hour windows may hold both
    * on-time and late rows, and only their on-time rows count — on the
    * Spark side because the window was finalized before file 3 arrived,
    * in the oracle because the WHERE keeps ts ≥ the split point.
    */
  def lateDropOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val src = stageEvents(streamingSession(spark), sfDir, queryName) {
      case (ev, span @ (a, z)) =>
        // Late-drop parity PREMISE (r3 advisor): every earliest-third row
        // must lie below the final watermark z − 2 h, which holds iff the
        // event-time span z − a ≥ 3 h. On a narrower dataset Spark would
        // admit rows in [z − 2 h, a + (z − a)/3) that the oracle's WHERE
        // excludes, surfacing as a confusing gate diff — so the premise
        // fails LOUD instead.
        require(z - a >= 3L * 3600L * 1000000L,
          "q64 premise violated: event-time span < 3h — late-drop " +
            "parity needs the earliest third fully below watermark z-2h")
        val Seq(earliest, middle, newest) = timeSlices(ev, span, 3)
        Seq(middle, newest, earliest)
    }
    bucketed(runToMemory(windowedCounts(src), queryName, OutputMode.Append))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** Per-user session state for the stateful sessionizer. */
  case class SessionState(firstUs: Long, lastUs: Long, nEvents: Long,
    nSessions: Long)

  /** Emitted on every update: the user's running session stats. */
  case class SessionUpdate(user_id: Long, n_events: Long, n_sessions: Long,
    span_seconds: Long)

  /** Stateful sessionization via flatMapGroupsWithState — the streaming
    * form of [[graft.operators.Events.sessionize]]: a new session starts
    * after `gapMinutes` of inactivity. O(1) state per key.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[SessionState]) =>
          // Rows within a micro-batch arrive unordered; sort locally
          // (bounded by batch size, not stream history). Cross-batch
          // correctness assumes per-user time-ordered arrival — the file
          // layout's job (see sessionizeOnce), as in any log pipeline.
          val sorted = rows.map(_._2).toSeq.sorted
          var st = state.getOption
            .getOrElse(SessionState(Long.MinValue, Long.MinValue, 0L, 0L))
          sorted.foreach { us =>
            val newSession = st.nSessions == 0L || us - st.lastUs > gapUs
            st = SessionState(if (st.nEvents == 0L) us else st.firstUs, us,
              st.nEvents + 1L, st.nSessions + (if (newSession) 1L else 0L))
          }
          state.update(st)
          Iterator.single(SessionUpdate(user, st.nEvents, st.nSessions,
            (st.lastUs - st.firstUs) / 1000000L))
      }
      .toDF()
  }

  /** Stream-STATIC broadcast enrichment as a RUN-TO-COMPLETION gate
    * query (previously spec-only): each micro-batch of the event stream
    * joins the static customer dimension (broadcast — the stateless
    * enrich every serving pipeline starts with), and a Complete-mode
    * aggregate proves the enriched state merges across the two staged
    * micro-batches. Oracle = the plain batch join + rollup.
    */
  def enrichOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val ss = streamingSession(spark)
    val src = stageEvents(ss, sfDir, queryName)(timeSlices(_, _, 2))
    val dim = graft.Tables.customer(ss, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val agg = src.join(broadcast(dim), Seq("user_id"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sumValue)
    runToMemory(agg, queryName, OutputMode.Complete)
      .orderBy(col("c_mktsegment"))
  }

  /** Event-time timer sentinel for tombstoned sessions: 9999-12-31T23:59:59Z
    * in ms — far past any event-time watermark a real corpus can reach, so
    * the timer never fires again until real data re-arms it.
    */
  private[streaming] val FarFutureTimeoutMs = 253402300799000L

  private[streaming] case class TimedSessionState(firstUs: Long,
    lastUs: Long, nEvents: Long, closedCount: Long)
  private[streaming] case class TimedSession(user_id: Long,
    session_idx: Long, n_events: Long, span_seconds: Long)

  /** Per-SESSION emission driven by `GroupStateTimeout.EventTimeTimeout` —
    * the state-expiry surface none of q57-q91 exercises: a user's FINAL
    * session has no later event to close it, so it can only emit when the
    * WATERMARK passes `last + gap` and the timer fires. Mid-batch gap
    * closures emit inline from the data path; every session emits exactly
    * once, in Append mode.
    *
    * Two correctness subtleties, both load-bearing:
    *
    *  - A timer may fire for a session whose user has MORE events in later
    *    batches (the watermark is global, the user merely quiet): with the
    *    time-range-split staging this is provably safe — timer-fire means
    *    `last < watermark − gap ≤ max(prev batch) − delay − gap`, and any
    *    later event satisfies `us ≥ max(prev batch)`, so `us − last >
    *    delay + gap > gap`: the batch oracle closes that session at the
    *    same boundary. The timer is EARLY knowledge, never wrong.
    *  - `state.remove()` on timer-fire would reset the per-user session
    *    NUMBERING when that user reappears. The state instead becomes a
    *    counter-carrying TOMBSTONE (nEvents = 0, no new timer) so a
    *    reappearing user continues at idx+1 — per-key state shrinks to
    *    one counter, it does not grow with sessions.
    *
    * A `closed_by` label (gap vs timeout) is deliberately NOT emitted:
    * whether a non-final session closes via the data path or an early
    * timer depends on batch layout, which no batch oracle can know. The
    * timeout path is still gate-proven: without it, every user's final
    * session would be missing from the output entirely.
    */
  def sessionEmit(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "2 hours")
      // the watermarked column must SURVIVE into the grouped Dataset —
      // project it away and Spark rejects the event-time timeout
      .select(col("user_id"), col("ts_us"), col("event_time"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TimedSessionState, TimedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[TimedSessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            val out =
              if (st.nEvents > 0L)
                Iterator.single(TimedSession(user, st.closedCount + 1,
                  st.nEvents, (st.lastUs - st.firstUs) / 1000000L))
              else Iterator.empty
            state.update(TimedSessionState(0L, 0L, 0L,
              st.closedCount + (if (st.nEvents > 0L) 1L else 0L)))
            // Park the timer at a far-future sentinel: without a re-set
            // the EXPIRED timestamp persists in the state store, so the
            // tombstone would re-enter this branch on every later
            // micro-batch (harmless to output — nEvents == 0 emits
            // nothing — but a redundant timer fire per batch per quiet
            // user). The sentinel fires never; a returning user's data
            // path overwrites it with a real `last + gap` timer.
            // NOTE for reuse outside the gate harness: tombstones are
            // PERMANENT per-user state (one counter each, kept so session
            // numbering survives quiet periods). A deployment that needs
            // hard eviction should state.remove() here and accept that
            // session_idx restarts for returning users.
            state.setTimeoutTimestamp(FarFutureTimeoutMs)
            out // tombstone: no live timer; next event resumes numbering
          } else {
            val sorted = rows.map(_._2).toSeq.sorted
            var st = state.getOption
              .getOrElse(TimedSessionState(0L, 0L, 0L, 0L))
            val closed = scala.collection.mutable.Buffer.empty[TimedSession]
            sorted.foreach { us =>
              if (st.nEvents == 0L)
                st = TimedSessionState(us, us, 1L, st.closedCount)
              else if (us - st.lastUs > gapUs) {
                closed += TimedSession(user, st.closedCount + 1,
                  st.nEvents, (st.lastUs - st.firstUs) / 1000000L)
                st = TimedSessionState(us, us, 1L, st.closedCount + 1)
              } else
                st = st.copy(lastUs = us, nEvents = st.nEvents + 1L)
            }
            state.update(st)
            // ms epoch; +1 so the fire point is strictly past last+gap
            state.setTimeoutTimestamp(st.lastUs / 1000L + gapUs / 1000L + 1L)
            closed.iterator
          }
      }
      .toDF()
  }

  /** [[sessionEmit]]'s per-SESSION Append emission on the v2 state API,
    * with EVENT-TIME TIMERS — the timer half of `transformWithState`
    * that q103 (state only) does not exercise. Semantics are q92's,
    * bit-for-bit (same fold, same tombstone numbering, same +1 ms
    * boundary), so q109 gates against q92's identical oracle.
    *
    * Two places the v2 API is structurally better than v1's timeout:
    * timers are a SET per key (registerTimer/deleteTimer/listTimers), so
    * the data path deletes the stale timer explicitly instead of
    * overwriting THE timeout; and a fired timer is consumed by the
    * engine, so q92's far-future-sentinel parking (needed because v1's
    * expired timestamp PERSISTS and re-fires every batch) has no v2
    * counterpart — the tombstone simply registers nothing.
    */
  private class SessionEmitProcessor(gapUs: Long)
      extends StatefulProcessor[Long, (Long, Long, java.sql.Timestamp),
        TimedSession] {
    @transient private var st: ValueState[TimedSessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TimedSessionState]("session",
        org.apache.spark.sql.Encoders.product[TimedSessionState],
        TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[TimedSession] = {
      val sorted = rows.map(_._2).toSeq.sorted
      var s =
        if (st.exists()) st.get()
        else TimedSessionState(0L, 0L, 0L, 0L)
      val closed = scala.collection.mutable.Buffer.empty[TimedSession]
      sorted.foreach { us =>
        if (s.nEvents == 0L)
          s = TimedSessionState(us, us, 1L, s.closedCount)
        else if (us - s.lastUs > gapUs) {
          closed += TimedSession(user, s.closedCount + 1,
            s.nEvents, (s.lastUs - s.firstUs) / 1000000L)
          s = TimedSessionState(us, us, 1L, s.closedCount + 1)
        } else
          s = s.copy(lastUs = us, nEvents = s.nEvents + 1L)
      }
      st.update(s)
      // v2 timers accumulate per key — retire the stale one, then arm
      // strictly past last + gap (ms epoch), exactly as the v1 form
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(s.lastUs / 1000L + gapUs / 1000L + 1L)
      closed.iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[TimedSession] = {
      val s = st.get()
      val out =
        if (s.nEvents > 0L)
          Iterator.single(TimedSession(user, s.closedCount + 1,
            s.nEvents, (s.lastUs - s.firstUs) / 1000000L))
        else Iterator.empty
      // counter-carrying tombstone, same as q92: numbering survives
      // quiet users; no new timer — fired timers are engine-consumed
      st.update(TimedSessionState(0L, 0L, 0L,
        s.closedCount + (if (s.nEvents > 0L) 1L else 0L)))
      out
    }
  }

  /** [[sessionEmit]] on `transformWithState` with event-time timers. */
  def sessionEmitTws(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "2 hours")
      .select(col("user_id"), col("ts_us"), col("event_time"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionEmitProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** [[sessionEmitOnce]] over [[sessionEmitTws]], with the RocksDB
    * provider the v2 operator mandates.
    */
  def sessionEmitTwsOnce(spark: SparkSession, sfDir: String,
      gapMinutes: Int, queryName: String): DataFrame =
    timerSessions(streamingSession(spark, rocksDb = true), sfDir,
      queryName)(sessionEmitTws(_, gapMinutes))

  /** The batch→streaming STATE HANDOFF: a sessionizer that starts from
    * batch-computed per-user state (`StatefulProcessorWithInitialState`)
    * instead of replaying history — the migration path every long-lived
    * pipeline eventually needs (bootstrap a new streaming job from a
    * backfill; replace a v1 checkpoint whose format a v2 operator cannot
    * read). `handleInitialState` seeds the ValueState before any input;
    * the fold is [[sessionize]]'s, so a first streamed event within the
    * gap of the bootstrap's lastUs CONTINUES the open session and one
    * beyond it opens a new one — exactly the full-history semantics,
    * which is what the q111 gate proves: batch-state(first half) +
    * stream(second half) ≡ batch(everything), on q60's oracle.
    */
  private class BootstrapSessionizeProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long), SessionUpdate, SessionState] {
    @transient private var st: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInitialState(user: Long, initial: SessionState,
        timerValues: TimerValues): Unit =
      st.update(initial)

    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[SessionUpdate] = {
      val sorted = rows.map(_._2).toSeq.sorted
      var s =
        if (st.exists()) st.get()
        else SessionState(Long.MinValue, Long.MinValue, 0L, 0L)
      sorted.foreach { us =>
        val newSession = s.nSessions == 0L || us - s.lastUs > gapUs
        s = SessionState(if (s.nEvents == 0L) us else s.firstUs, us,
          s.nEvents + 1L, s.nSessions + (if (newSession) 1L else 0L))
      }
      st.update(s)
      Iterator.single(SessionUpdate(user, s.nEvents, s.nSessions,
        (s.lastUs - s.firstUs) / 1000000L))
    }
  }

  /** [[sessionize]] with a batch-computed initial state: events strictly
    * before the midpoint feed a BATCH derivation of each user's
    * SessionState (min/max µs, count, 1 + gap breaks); only the late
    * half streams, in two time-sliced micro-batches. The final answer
    * unions the bootstrap rows (users the stream never touched keep
    * their batch state) with the drained updates and takes each user's
    * last state by the strictly-growing n_events.
    */
  def sessionizeBootstrapOnce(spark: SparkSession, sfDir: String,
      gapMinutes: Int, queryName: String): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val ss = streamingSession(spark, rocksDb = true)
    import ss.implicits._
    val (ev, span) = guardedEvents(ss, sfDir, queryName)
    val Seq(early, late) = timeSlices(ev, span, 2)
    val initState = graft.CacheScope.scoped(early
      .select(col("user_id"), col("ts_us").as("us"))
      .withColumn("brk", when(col("us") -
        lag(col("us"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("us"))) > gapUs, 1L)
        .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("firstUs"), max(col("us")).as("lastUs"),
        count(lit(1)).as("nEvents"),
        (sum(col("brk")) + 1L).as("nSessions")))
    val initKv = initState
      .as[(Long, Long, Long, Long, Long)]
      .map(r => (r._1, SessionState(r._2, r._3, r._4, r._5)))
      .groupByKey(_._1).mapValues(_._2)
    // the late half's own bounds: its cuts depend on them
    val src = stage(ss, sfDir, queryName)(timeSlices(late,
      graft.operators.Events.timeSpan(late).getOrElse(span), 2))
    val streamed = src
      .select(col("user_id"), col("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new BootstrapSessionizeProcessor(gapUs),
        TimeMode.None(), OutputMode.Update(), initKv)
      .toDF()
    val updates = runToMemory(streamed, queryName, OutputMode.Update)
    val bootRows = initState.select(col("user_id"),
      col("nEvents").as("n_events"), col("nSessions").as("n_sessions"),
      // integer div — `/` on longs is DOUBLE division in Spark SQL
      expr("(lastUs - firstUs) div 1000000").as("span_seconds"))
    lastSessions(updates.unionByName(bootRows))
  }

  private[streaming] case class VisitTick(user_id: Long, seq: Long,
    n_events: Long)

  /** TTLConfig-based state expiry on the v2 handles — the declarative
    * counterpart of q98's hand-rolled ProcessingTimeTimeout eviction:
    * the TTL'd counter state silently EXPIRES between micro-batches
    * (batch spacing ≫ the 1 ms TTL — q98's determinism argument), while
    * the `TTLConfig.NONE` sequence state in the SAME processor persists.
    * The emission READS the (possibly expired) counter before adding the
    * batch: if expiry ever failed, the second batch would emit
    * early+late instead of late and the gate hash would catch it — the
    * eviction is load-bearing, not decorative.
    */
  private class TtlVisitProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, (Long, Long), VisitTick] {
    @transient private var cnt: ValueState[Long] = _
    @transient private var seq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cnt = getHandle.getValueState[Long]("visit",
        org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))
      seq = getHandle.getValueState[Long]("seq",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[VisitTick] = {
      val prior = if (cnt.exists()) cnt.get() else 0L // expired ⇒ absent
      val n = prior + rows.size
      cnt.update(n)
      val s = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(s)
      Iterator.single(VisitTick(user, s, n))
    }
  }

  /** Per-batch visit counts under v2 TTL state expiry, as a two-batch
    * gate job: the staged halves split at the µs midpoint (the SAME
    * arithmetic the oracle runs — `ts_us` IS epoch_us, so both sides see
    * the same halves), and each batch's emission must count ONLY its own
    * rows — the TTL'd counter from the prior batch must be gone. seq (no
    * TTL) numbers each user's emissions 1, 2, ...
    */
  def ttlVisitCountsOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val ss = streamingSession(spark, rocksDb = true)
    import ss.implicits._
    val src = stageEvents(ss, sfDir, queryName)(timeSlices(_, _, 2))
    val ticks = src
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      // ProcessingTime mode: TTLConfig is only legal there (NoTime
      // refuses it) — and like every processing-time stateful operator
      // (q98), the engine then keeps scheduling batches, so AvailableNow
      // never terminates; the input-rows-polling drain is the
      // run-to-completion mechanism
      .transformWithState(new TtlVisitProcessor(1L),
        TimeMode.ProcessingTime(), OutputMode.Update())
      .toDF()
    drainToTableManual(ticks, queryName, OutputMode.Update)
      .orderBy(col("user_id"), col("seq"))
  }

  private[streaming] case class RecentEv(us: Long, id: Long)
  private[streaming] case class RecentRow(user_id: Long, rk: Long,
    event_id: Long, emit_seq: Long)

  /** Last-K-per-key via the v2 ListState handle — the bounded-buffer
    * state shape (recent activity, fraud windows, dedup rings) that a
    * ValueState blob forces you to hand-serialize: ListState stores the
    * elements natively in RocksDB, `appendValue` is a pure append (no
    * read-modify-write of the whole buffer on the happy path), and the
    * K-truncation rewrite happens only when the buffer actually
    * overflows. State per key is O(K) by construction.
    */
  private class LastKProcessor(k: Int)
      extends StatefulProcessor[Long, (Long, Long, Long), RecentRow] {
    @transient private var st: ListState[RecentEv] = _
    @transient private var seq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getListState[RecentEv]("recent",
        org.apache.spark.sql.Encoders.product[RecentEv], TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[RecentRow] = {
      val incoming = rows.map(r => RecentEv(r._2, r._3)).toSeq
      val merged = (st.get().toSeq ++ incoming)
        .sortBy(e => (-e.us, -e.id)).take(k)
      st.put(merged.toArray)
      // every row carries a per-key emission sequence number (a second
      // ValueState, strictly increasing per invocation) so the harness
      // selects the FINAL ranking with no batch metadata and NO data
      // assumptions (an id/time-correlation selection would silently
      // keep a stale ranking on corpora where ids don't follow time)
      val n = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(n)
      merged.iterator.zipWithIndex.map { case (e, i) =>
        RecentRow(user, i + 1L, e.id, n)
      }
    }
  }

  /** Last K events per user (recency rank 1 = newest; (ts, id) order).
    * Update mode re-emits a user's full ranking on every batch that
    * touches them; the final answer is the last emission per (user, rk).
    */
  def lastKEvents(events: DataFrame, k: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts_us").as("us"),
        col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new LastKProcessor(k),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** [[lastKEvents]] as a two-micro-batch gate job: time-sliced staging
    * proves the ListState buffer carries ranks across the batch
    * boundary; the final ranking per user is the one from the LAST batch
    * that touched them (every user's newest event decides, so max_by on
    * the rank-1 event id per user picks the final emission).
    */
  def lastKEventsOnce(spark: SparkSession, sfDir: String, k: Int,
      queryName: String): DataFrame = {
    val src = stageEvents(streamingSession(spark, rocksDb = true), sfDir,
      queryName)(timeSlices(_, _, 2))
    val updates = graft.CacheScope.scoped(
      runToMemory(lastKEvents(src, k), queryName, OutputMode.Update))
    // final emission per user = max emit_seq (strictly monotone per key
    // by construction — no data assumptions)
    val fin = updates.groupBy(col("user_id").as("u2"))
      .agg(max(col("emit_seq")).as("m"))
    updates
      .join(fin, col("user_id") === col("u2") &&
        col("emit_seq") === col("m"), "left_semi")
      .select(col("user_id"), col("rk"), col("event_id"))
      .orderBy(col("user_id"), col("rk"))
  }

  private[streaming] case class TypeCount(user_id: Long,
    event_type: String, n: Long)

  /** Per-key sub-keyed counters via the v2 MapState handle — the state
    * shape (per-user per-dimension tallies, feature accumulators) where
    * a ValueState would force deserializing the WHOLE map to bump one
    * entry: MapState reads and writes the single touched sub-key in
    * RocksDB. Completes the v2 handle surface (Value q103, timers q109,
    * List q110, initial state q111, Map here).
    */
  private class TypeCountProcessor
      extends StatefulProcessor[Long, (Long, String), TypeCount] {
    @transient private var st: org.apache.spark.sql.streaming.MapState[
      String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[TypeCount] = {
      rows.foreach { r =>
        val t = r._2
        st.updateValue(t,
          (if (st.containsKey(t)) st.getValue(t) else 0L) + 1L)
      }
      // emit the full tally; counts only grow, so the harness's final
      // answer is the max per (user, type)
      st.iterator().map { case (t, n) => TypeCount(user, t, n) }.toSeq
        .iterator
    }
  }

  /** Streaming per-(user, event_type) counts on MapState. */
  def typeCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** [[typeCounts]] as a two-micro-batch gate job: the RocksDB map
    * carries per-type tallies across the boundary; monotone counts make
    * the final answer max(n) per (user, type).
    */
  def typeCountsOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val src = stageEvents(streamingSession(spark, rocksDb = true), sfDir,
      queryName)(timeSlices(_, _, 2))
    runToMemory(typeCounts(src), queryName, OutputMode.Update)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private[streaming] case class VisitState(firstEventId: Long,
    nEvents: Long)
  private[streaming] case class Visit(user_id: Long, first_event_id: Long,
    n_events: Long)

  /** Per-key TTL state eviction via `GroupStateTimeout.ProcessingTimeTimeout`
    * — the wall-clock-driven expiry surface q92's event-time timer cannot
    * show (serving caches, presence tracking, "forget quiet keys after N
    * minutes of PROCESSING time" jobs — state that must die even when no
    * watermark advances because no data flows).
    *
    * Contract: a VISIT is a maximal run of consecutive micro-batches
    * containing the key. While data keeps arriving the state accumulates
    * (first_event_id = min, n_events summed) and the data path re-arms the
    * TTL; the first trigger in which the key is QUIET past the TTL fires
    * the timer, emits the visit, and `state.remove()`s — hard eviction,
    * deliberately unlike [[sessionEmit]]'s tombstones, because this
    * operator's identity key is first_event_id, not a session counter.
    *
    * Determinism under a 1 ms TTL: micro-batch processing timestamps are
    * wall-clock at batch planning, and consecutive AvailableNow batches
    * are separated by checkpoint commits (≥ tens of ms), so "quiet for
    * one batch ⇒ timer fires on the next trigger" holds on any real run —
    * the output is then purely a function of the staged batch layout,
    * which is what lets a batch oracle predict it exactly. The data path
    * re-arms the TTL on EVERY invocation: with processing-time timeouts
    * an un-re-set expired timestamp would survive a data batch and close
    * the visit the trigger after data just arrived.
    */
  def visitEmit(events: DataFrame, ttlMs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[VisitState, Visit](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (user, rows, state: GroupState[VisitState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove() // hard eviction at the TTL boundary
            Iterator.single(Visit(user, st.firstEventId, st.nEvents))
          } else {
            var st = state.getOption.getOrElse(VisitState(Long.MaxValue, 0L))
            rows.foreach { case (_, eid) =>
              st = VisitState(math.min(st.firstEventId, eid),
                st.nEvents + 1L)
            }
            state.update(st)
            state.setTimeoutDuration(ttlMs)
            Iterator.empty
          }
      }
      .toDF()
  }

  /** [[visitEmit]] as a RUN-TO-COMPLETION gate query. The staged batch
    * layout PLANTS all three TTL behaviors by user cohort (user_id mod 3):
    * cohort 0's events land in batches 0 and 2 only — the quiet middle
    * batch fires its timer, so those users emit TWO visits; cohort 1 is
    * single-batch (one visit, closed by a later trigger); cohort 2 spans
    * all three batches (one MERGED visit — proof the data path re-arms
    * the TTL and state survives while data flows). A sentinel 4th batch
    * (user −1, filtered from the output) exists only to trigger one more
    * micro-batch so the final real batch's timers fire before the query
    * terminates — same pattern as q92's watermark sentinel. The oracle
    * reconstructs the batch assignment arithmetically and groups
    * consecutive-batch runs per user (gaps-and-islands), so every emitted
    * (user, first_event_id, n_events) row is predicted exactly.
    */
  def visitEmitOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val src = stageEvents(streamingSession(spark), sfDir, queryName) {
      case (ev, (_, z)) =>
        // batch id: cohort 0 → events alternate batches 0/2 (gap at 1);
        // cohort 1 → batch 1 only; cohort 2 → spread over all three
        val batchOf = expr(
          """CASE pmod(user_id, 3) WHEN 0 THEN pmod(event_id, 2) * 2
                                   WHEN 1 THEN 1
                                   ELSE pmod(event_id, 3) END""")
        (0 to 2).map(b => ev.filter(batchOf === b)) :+
          sentinel(ev.sparkSession, z, 0L)
    }
    drainToTableManual(visitEmit(src, ttlMs = 1L), queryName,
        OutputMode.Append)
      .filter(col("user_id") >= 0) // only the sentinel's timer can leak
      .orderBy(col("user_id"), col("first_event_id"))
  }

  /** [[sessionEmit]] as a RUN-TO-COMPLETION gate query: two time-range-
    * split micro-batches (state carries across), then a far-future
    * sentinel batch whose only job is to push the watermark past every
    * real `last + gap` so the final no-data batch fires every remaining
    * timer (one watermark node here, so a single sentinel row
    * suffices). Oracle = the batch per-session aggregation; final
    * sessions exist in the output ONLY via the EventTimeTimeout path.
    */
  def sessionEmitOnce(spark: SparkSession, sfDir: String, gapMinutes: Int,
      queryName: String): DataFrame =
    timerSessions(streamingSession(spark), sfDir, queryName)(
      sessionEmit(_, gapMinutes))

  /** The staging and drain [[sessionEmitOnce]] and [[sessionEmitTwsOnce]]
    * share: two time slices + the far-future sentinel, drained through
    * `emit` in Append mode, the sentinel's own session dropped.
    */
  private def timerSessions(ss: SparkSession, sfDir: String,
      queryName: String)(emit: DataFrame => DataFrame): DataFrame = {
    val src = stageEvents(ss, sfDir, queryName) { case (ev, span @ (_, z)) =>
      timeSlices(ev, span, 2) :+ sentinel(ss, z, sentinelLeadUs)
    }
    runToMemory(emit(src), queryName, OutputMode.Append)
      .filter(col("user_id") >= 0) // the sentinel's own session is noise
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** The stateful sessionizer as a RUN-TO-COMPLETION streaming job, gate-
    * comparable to batch q18: the input is staged as two TIME-sliced
    * files with forced modification-time order (FileStreamSource ingests
    * oldest-first), consumed one per trigger — so every user's session
    * state genuinely carries across two micro-batches, with the second
    * batch's events all later than the first's. Update mode emits a
    * running row per (user, batch); the final answer is each user's LAST
    * update ([[lastSessions]]).
    */
  def sessionizeOnce(spark: SparkSession, sfDir: String, gapMinutes: Int,
      queryName: String): DataFrame = {
    val src = stageEvents(streamingSession(spark), sfDir, queryName)(
      timeSlices(_, _, 2))
    lastSessions(runToMemory(sessionize(src, gapMinutes), queryName,
      OutputMode.Update))
  }

  /** Each user's FINAL row out of running session updates, selected by
    * the strictly-increasing n_events via max_by.
    */
  private def lastSessions(updates: DataFrame): DataFrame =
    updates.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("n_events"), col("n_sessions"), col("span_seconds")),
        col("n_events")).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.n_sessions").as("n_sessions"),
        col("m.span_seconds").as("span_seconds"))
      .orderBy(col("user_id"))

  /** The sessionizer's per-user fold on the `transformWithState` API —
    * Spark 4's replacement for `*GroupsWithState` (SPARK-46815, "arbitrary
    * stateful processing v2"): state is declared as named typed handles
    * (here one `ValueState[SessionState]`) instead of a single opaque
    * blob, timers are first-class, and the operator REQUIRES the RocksDB
    * state-store provider — the changelog-checkpointing store that is the
    * 100 TB answer to state larger than executor heap. The fold itself is
    * identical to [[sessionize]]'s, which is the point: q103 gates this
    * engine surface against the SAME oracle as q60, proving old API, new
    * API, and the batch form agree row-for-row.
    */
  private class SessionizeProcessor(gapUs: Long)
      extends StatefulProcessor[Long, (Long, Long), SessionUpdate] {
    @transient private var st: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[SessionUpdate] = {
      // same local sort + fold as the flatMapGroupsWithState form: batch
      // rows arrive unordered, cross-batch order is the file layout's job
      val sorted = rows.map(_._2).toSeq.sorted
      var s =
        if (st.exists()) st.get()
        else SessionState(Long.MinValue, Long.MinValue, 0L, 0L)
      sorted.foreach { us =>
        val newSession = s.nSessions == 0L || us - s.lastUs > gapUs
        s = SessionState(if (s.nEvents == 0L) us else s.firstUs, us,
          s.nEvents + 1L, s.nSessions + (if (newSession) 1L else 0L))
      }
      st.update(s)
      Iterator.single(SessionUpdate(user, s.nEvents, s.nSessions,
        (s.lastUs - s.firstUs) / 1000000L))
    }
  }

  /** [[sessionize]] re-expressed on `transformWithState`. */
  def sessionizeTws(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionizeProcessor(gapUs),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** [[sessionizeOnce]] on the v2 state API: same two time-sliced
    * micro-batches, same last-update extraction — only the stateful
    * operator (and its mandatory RocksDB store) differs.
    */
  def sessionizeTwsOnce(spark: SparkSession, sfDir: String,
      gapMinutes: Int, queryName: String): DataFrame = {
    val src = stageEvents(streamingSession(spark, rocksDb = true), sfDir,
      queryName)(timeSlices(_, _, 2))
    lastSessions(runToMemory(sessionizeTws(src, gapMinutes), queryName,
      OutputMode.Update))
  }

  /** Streaming exactly-once-per-key dedup — the streaming analogue of the
    * reference's PK upsert (SURVEY.md S7): duplicate event_ids arriving
    * within the watermark delay of the first occurrence are dropped.
    *
    * `dropDuplicatesWithinWatermark`, NOT plain `dropDuplicates(key)`:
    * with a key-only subset, plain dropDuplicates never applies watermark
    * eviction (that path requires the event-time column IN the subset),
    * so its state grows by one entry per distinct key forever — the exact
    * key-only-dedup gap dropDuplicatesWithinWatermark was added to close.
    * With it, state ages out at the watermark horizon and the stream runs
    * forever at 100 TB/day.
    */
  def dedupedStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** TWO CHAINED STATEFUL OPERATORS in one streaming query — dedup state
    * feeding windowed-aggregation state (the multi-stateful pipeline
    * Spark only supports with event-time Append semantics): duplicates
    * planted in a SECOND micro-batch can only die in the dedup
    * operator's cross-batch state, and the surviving stream flows
    * directly into hourly window state that finalizes on watermark
    * advance. A far-future sentinel third batch pushes the watermark
    * past every real window so Append mode flushes them all; the
    * sentinel's own window never finalizes (and is filtered anyway).
    * Oracle = the plain batch hourly rollup over the raw table — dedup
    * must delete exactly the planted copies and the chained window state
    * must merge batching-invariantly.
    */
  def dedupRollupOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    // batch 1 = originals, batch 2 = the planted duplicate copies,
    // batch 3 = the watermark sentinel
    val src = stageEvents(streamingSession(spark), sfDir, queryName) {
      case (ev, (_, z)) =>
        Seq(ev, plantedCopies(ev), sentinel(ev.sparkSession, z, sentinelLeadUs))
    }
    val chained = windowedCounts(dedupedStream(src), watermark = None)
    bucketed(runToMemory(chained, queryName, OutputMode.Append))
      .filter(col("event_type") =!= "sentinel")
      .orderBy(col("bucket"), col("event_type"))
  }

  /** CHECKPOINT-RESTART RECOVERY at the gate — the one Spark capability
    * the suite's single-run queries could not prove: exactly-once output
    * across a QUERY RESTART. The [[dedupRollupOnce]] chained-stateful
    * pipeline (dedup state → hourly window state) runs as TWO separate
    * `StreamingQuery` instances over the SAME checkpoint:
    *
    *   - run 1 sees only the originals file, drains (AvailableNow) and
    *     terminates — offsets, BOTH operators' state stores, and any
    *     already-finalized windows are committed to checkpoint + sink;
    *   - the duplicate copies and the watermark sentinel are staged
    *     ONLY AFTER run 1 is gone;
    *   - run 2 is a fresh query on the same checkpoint: it must NOT
    *     re-read the originals (offset log), must kill every planted
    *     copy against dedup state RESTORED from the checkpoint (the
    *     copies' originals were seen only by run 1), must resume the
    *     watermark (a reset watermark would re-admit copies older than
    *     it AND re-finalize nothing), and must flush the surviving
    *     window state when the sentinel advances the watermark.
    *
    * The sink is a PARQUET FILE SINK, not the memory sink: the memory
    * sink is explicitly not fault-tolerant (rows emitted before the
    * restart would vanish with the run-1 query object), while the file
    * sink's `_spark_metadata` commit log is the production exactly-once
    * contract — the read-back at the end goes through that log, so a
    * re-committed or orphaned batch file would surface as duplicate
    * rows and break the hash. Oracle = the SAME batch hourly rollup as
    * q114/q16: equality proves no row was lost, duplicated, or
    * re-processed across the restart. The stop point is a batch
    * boundary (the only deterministic kill point a gate query can pin);
    * mid-batch crash recovery reduces to the same offset-log/state-
    * store/sink-log replay this gates.
    */
  def dedupRollupRestartOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val dir = srcDir(queryName)
    val outDir = s"/tmp/graft_stream_out_$queryName"
    val ckptDir = s"/tmp/graft_stream_restart_ckpt_$queryName"
    val ss = streamingSession(spark)
    Seq(dir, outDir, ckptDir).foreach(d =>
      deleteStagingForTest(java.nio.file.Paths.get(d)))
    val (ev, (_, z)) = guardedEvents(ss, sfDir, queryName)

    // One full drain of the chained pipeline against the SHARED
    // checkpoint + file sink; each call is an independent query instance
    // (the restart = calling it twice with more files staged in between).
    def runInstance(): Unit = {
      val chained = bucketed(windowedCounts(
        dedupedStream(open(ss, dir, stagedSchema)), watermark = None))
      val q = chained.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // staged by hand, outside [[stage]]: the files must land INTERLEAVED
    // with the two runs, and the whole gate restages every pass anyway
    // run 1: originals only
    writeStampedBatch(dir, ev, 0, s"$queryName originals")
    runInstance()
    // staged strictly after run 1 terminated: the planted copies (their
    // originals live only in run-1's checkpointed dedup state) + the
    // far-future sentinel that flushes every real window
    writeStampedBatch(dir, plantedCopies(ev), 1,
      s"$queryName planted copies")
    writeStampedBatch(dir, sentinel(ss, z, sentinelLeadUs), 2,
      s"$queryName watermark sentinel")
    // run 2: fresh query instance, SAME checkpoint
    runInstance()

    // read back through the sink's _spark_metadata commit log — the
    // exactly-once boundary this gate exists to prove
    ss.read.parquet(outDir)
      .filter(col("event_type") =!= "sentinel")
      .select(col("bucket"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** STREAM-STREAM interval join as a run-to-completion gate query — the
    * last major Structured Streaming surface the suite exercises (q57/q60
    * prove windowed-agg and mapGroups state, q63/q64 dedup and watermark
    * drops; this proves two-sided JOIN state).
    *
    * Semantics: every `view` within 30 minutes BEFORE a `click` by the
    * same user (the attribution-join shape). Staging forces the state
    * question: file 1 carries ONLY clicks, file 2 ONLY views — with one
    * file per trigger every single output pair must match a click
    * buffered in join state from micro-batch 1 against a view arriving
    * in micro-batch 2. The DuckDB oracle is the plain batch interval
    * join, so gate equality proves no state was dropped or duplicated.
    *
    * Watermark/state notes: both sides carry a 2 h watermark and the
    * join condition bounds view_time to [click_time − 30 min,
    * click_time], so click state is evictable past watermark + 30 min
    * and view state past the watermark — bounded state, runs forever at
    * production rates. The global watermark is the MIN across sides;
    * after micro-batch 1 the view side has seen nothing, so it holds at
    * zero and no click state can age out before the views arrive —
    * arrival order is pinned by mtime, not luck. Inner-join matches emit
    * eagerly (append mode), not at window finalization. Output gap is
    * integer µs (the staged `ts_us` = DuckDB `epoch_us` exactly)
    * per the float/precision policy.
    */
  def intervalJoinOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    intervalJoin(spark, sfDir, queryName, "inner", col("c_user"),
      col("click_id"), col("view_id"))

  /** LEFT-OUTER stream-stream interval join as a gate query — the state-
    * EVICTION semantics q72's inner join cannot show: a click with no
    * view in its 30-minute lookback must still emit (with nulls), and in
    * streaming that emission happens only when the watermark PASSES the
    * click's match horizon and its state is evicted. Without that
    * advancement, unmatched rows sit in the state store forever — so the
    * staging appends a third micro-batch holding one far-future sentinel
    * of EACH type (the global watermark is the MIN over both sides'
    * watermark nodes; advancing only one side would hold everything
    * back). Batch 3's arrival evicts-and-emits every real unmatched
    * click; the sentinels themselves (user_id −1) are filtered from the
    * output and excluded by the oracle, and their own join state is the
    * only state allowed to die unreported.
    *
    * The oracle is the plain BATCH left-outer interval join over the
    * same events — streaming state eviction must reproduce it exactly,
    * nulls included. NULLS FIRST is pinned on both sides (Spark's asc
    * default ≠ DuckDB's).
    */
  def outerIntervalJoinOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    intervalJoin(spark, sfDir, queryName, "left_outer", col("c_user"),
      col("click_id"), asc_nulls_first("view_id"))

  /** FULL-OUTER stream-stream interval join as a gate query — the last
    * cell of the join-type matrix (q72 inner, q91 left-outer): BOTH
    * sides' unmatched rows must emit with nulls, each only when the
    * watermark passes its own match horizon and evicts its state. The
    * staging, sentinel mechanics, and 30-minute lookback are exactly
    * [[outerIntervalJoinOnce]]'s; the differences are the join type and
    * that `user_id` must coalesce across sides (a view-only row has no
    * click-side user). Unmatched-view emission exercises the RIGHT
    * side's eviction path, which no left-outer query can reach.
    *
    * Oracle = the plain batch full-outer interval join; NULLS FIRST
    * pinned on both key columns.
    */
  def fullOuterIntervalJoinOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    intervalJoin(spark, sfDir, queryName, "full_outer",
      coalesce(col("c_user"), col("v_user")),
      asc_nulls_first("click_id"), asc_nulls_first("view_id"))

  /** The one body of the three interval-join gates: clicks staged as
    * micro-batch 1, views as micro-batch 2, and — for an outer join,
    * whose unmatched rows emit only on watermark eviction — a third batch
    * with one far-future sentinel per SIDE (the global watermark is the
    * min over both watermark nodes). `userId` projects the output
    * user; `order` sorts the drained rows.
    */
  private def intervalJoin(spark: SparkSession, sfDir: String,
      queryName: String, joinType: String, userId: Column,
      order: Column*): DataFrame = {
    val src = stageEvents(streamingSession(spark), sfDir, queryName) {
      case (ev, (_, z)) =>
        Seq(ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "view")) ++
          (if (joinType == "inner") Nil
           else Seq(sentinel(ev.sparkSession, z, sentinelLeadUs,
             Seq("click", "view"))))
    }
    def side(eventType: String, p: String): DataFrame =
      src.filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${p}_user"),
          col("event_id").as(s"${eventType}_id"), col("ts_us").as(s"${p}_us"),
          timestamp_micros(col("ts_us")).as(s"${p}_time"))
        .withWatermark(s"${p}_time", "2 hours")
    val joined = side("click", "c").join(side("view", "v"),
      col("c_user") === col("v_user") &&
        col("v_time") >= col("c_time") - expr("INTERVAL 30 MINUTES") &&
        col("v_time") <= col("c_time"),
      joinType)
      .select(userId.as("user_id"), col("click_id"), col("view_id"),
        (col("c_us") - col("v_us")).as("gap_us"))
    runToMemory(joined, queryName, OutputMode.Append)
      .filter(col("user_id") >= 0) // the outer joins' watermark sentinels
      .orderBy(order: _*)
  }

  /** Streaming CDC-APPLY as a RUN-TO-COMPLETION gate query: maintain a
    * keyed serving table from an event stream via `foreachBatch` +
    * [[graft.operators.Merge.mergeInto]] — the production pattern for
    * applying a change stream to a lake table. Each micro-batch reduces
    * to its latest event per user (`max_by` over the (ts, event_id)
    * total order), a user whose latest event is an `error` becomes a
    * TOMBSTONE, and the batch merges into the parquet state: update if
    * the user exists, insert if not, delete on tombstone.
    *
    * The stream is staged as two time-halves (earlier half = micro-batch
    * 1), so the second merge must genuinely UPDATE batch-1 rows, KEEP
    * users the second half never mentions, and DELETE users whose last
    * word is an error — the final state equals the latest-non-error-event
    * per user over the whole table, which is exactly what the DuckDB
    * oracle computes. State parity across batch boundaries comes from
    * MERGE semantics, not stream-engine state (complementing q57-q64,
    * which prove the state-store paths).
    *
    * The state table is swapped whole-directory per batch (write next,
    * atomic move over current) — the local stand-in for a transactional
    * table format; a production pipeline would key the commit on
    * `batchId` for exactly-once replay (same idempotence contract).
    */
  def cdcApplyOnce(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    import org.apache.spark.sql.Row
    val stateDir = s"/tmp/graft_cdc_state_$queryName"
    val nextDir = stateDir + "_next"
    // the state/next dirs accumulate across the drain and are wiped
    // EVERY run; only the source staging is reusable
    Seq(stateDir, nextDir).foreach(d =>
      deleteStagingForTest(java.nio.file.Paths.get(d)))
    val src = stageEvents(streamingSession(spark), sfDir, queryName)(
      timeSlices(_, _, 2))

    val stateSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val payload = Seq("ts_us", "event_id", "event_type", "value")

    drainBatches(src) { (batch, _) =>
      val s2 = batch.sparkSession
      // µs precision on BOTH the order key and the stored timestamp
      // (`ts_us` is the staged exact-µs column — the same epoch_us
      // integers the oracle's (ts, event_id) latest-row order uses)
      val changes = batch
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("ts_us"), col("event_id"),
            col("event_type"), col("value")),
          struct(col("ts_us"), col("event_id"))).as("m"))
        .select(col("user_id"), col("m.ts_us").as("ts_us"),
          col("m.event_id").as("event_id"),
          col("m.event_type").as("event_type"),
          col("m.value").as("value"),
          (col("m.event_type") === "error").as("tombstone"))
      val statePath = java.nio.file.Paths.get(stateDir)
      val current =
        if (java.nio.file.Files.exists(statePath))
          s2.read.schema(stateSchema).parquet(stateDir)
        else s2.createDataFrame(
          new java.util.ArrayList[Row](), stateSchema)
      graft.operators.Merge
        .mergeInto(current, changes, "user_id", payload)
        .drop("action")
        .write.mode("overwrite").parquet(nextDir)
      deleteStagingForTest(statePath)
      java.nio.file.Files.move(java.nio.file.Paths.get(nextDir),
        statePath)
    }
    spark.read.schema(stateSchema).parquet(stateDir)
      .orderBy(col("user_id"))
  }
}
