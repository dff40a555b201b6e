package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.{Events, Multimodal}
import graft.streaming.EventStreams

/** Batch event ops vs their Structured Streaming forms, plus multimodal
  * plumbing.
  */
class EventsAndStreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("outer interval join emits unmatched clicks via watermark " +
      "eviction and drops the sentinels") {
    val out = EventStreams.outerIntervalJoinOnce(spark, TestSpark.sf,
      "test_outer_join").collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(0) >= 0), "sentinels must not surface")
    val unmatched = out.count(_.isNullAt(2))
    assert(unmatched > 0,
      "some clicks must emit with null view_id — the eviction path")
    // every unmatched row nulls BOTH view columns
    assert(out.filter(_.isNullAt(2)).forall(_.isNullAt(3)))
  }

  test("sessionEmit numbers sessions contiguously per user and emits " +
      "every user's final session via the event-time timer") {
    val out = EventStreams.sessionEmitOnce(spark, TestSpark.sf, 30,
      "test_session_timeout").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val users = graft.Tables.events(spark, TestSpark.sf)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet == users,
      "every user's final session must emit — the timeout-only path")
    out.groupBy(_._1).foreach { case (u, rows) =>
      val idxs = rows.map(_._2).sorted.toSeq
      assert(idxs == (1L to idxs.size).toSeq,
        s"user $u session numbering must be contiguous from 1 " +
          "(tombstone states preserve the counter across timer fires)")
    }
  }

  test("visitEmit drops state at the TTL boundary: a quiet batch splits " +
      "visits, continuous data merges them, eviction is hard") {
    val out = EventStreams.visitEmitOnce(spark, TestSpark.sf,
      "test_ttl_visits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val byUser = out.groupBy(_._1)
    val events = graft.Tables.events(spark, TestSpark.sf)
      .select(col("user_id"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // straight-line reference: rebuild the staged batch assignment, then
    // gaps-and-islands per user — exactly the oracle's construction
    def batchOf(u: Long, e: Long): Long = (u % 3) match {
      case 0 => (e % 2) * 2
      case 1 => 1
      case _ => e % 3
    }
    byUser.foreach { case (u, visits) =>
      val evs = events.filter(_._1 == u)
      val perBatch = evs.groupBy(e => batchOf(u, e._2)).toSeq.sortBy(_._1)
      val expected = perBatch
        .foldLeft(List.empty[List[(Long, Array[(Long, Long)])]]) {
          case (acc, (b, rows)) => acc match {
            case (hd @ ((pb, _) :: _)) :: tl if b == pb + 1 =>
              ((b, rows) :: hd) :: tl // consecutive batch: extend the run
            case _ => List((b, rows)) :: acc // gap: a new visit begins
          }
        }
        .map { run =>
          val all = run.flatMap(_._2)
          (all.map(_._2).min, all.size.toLong)
        }.toSet
      assert(visits.map(v => (v._2, v._3)).toSet == expected,
        s"user $u: visits must equal the batch-layout islands")
      // cohort shape: the gap cohort splits (quiet batch fired the
      // timer and EVICTED), the continuous cohorts merge (data re-armed
      // the TTL so an expired timer never survived a data batch)
      // sentinel -2: "no previous batch" must not look adjacent to batch 0
      val wantRuns = perBatch.map(_._1) match {
        case bs => bs.zip(-2L +: bs).count { case (b, p) => b != p + 1 }
      }
      assert(visits.length == wantRuns,
        s"user $u: expected $wantRuns visit(s), got ${visits.length}")
      if (u % 3 == 0 && perBatch.size == 2)
        assert(visits.length == 2,
          s"user $u (gap cohort): state did not drop at the TTL boundary")
    }
  }

  test("variant_get extraction agrees with the from_json scalar path " +
      "and survives malformed / key-missing JSON as null") {
    val df = Seq("""{"k": 7}""", """{"k": -3, "x": 1}""", """{"x": 9}""",
      "not json", null: String).toDF("props")
    val viaVariant = df.select(
      variant_get(try_parse_json(col("props")), "$.k", "bigint").as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val viaJson = df.select(
      get_json_object(col("props"), "$.k").cast("long").as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(viaVariant.toSeq == viaJson.toSeq)
    assert(viaVariant.toSeq == Seq(Some(7L), Some(-3L), None, None, None))
  }

  /** The file-stream source requires a directory of STAGED (µs-normalized)
    * files; write the events table through the normalizing Tables read.
    */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Paths.get("/tmp/graft_stream_events")
    EventStreams.deleteStagingForTest(dir)
    graft.Tables.events(spark, TestSpark.sf)
      .write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }

  test("stage writes one stamped file per frame in list order and the " +
      "stream replays each file as one micro-batch") {
    val name = "stage_spec"
    val sizes = Seq(3L, 7L, 5L) // distinct and unsorted: order shows
    def frame(i: Int, n: Long) = spark.range(n).select(
      col("id").as("event_id"), lit(i * 3600000000L).as("ts_us"),
      lit(1L).as("user_id"), lit("click").as("event_type"),
      lit(1.0).as("value"), lit(null).cast("string").as("props"))
    val src = EventStreams.stage(spark, TestSpark.sf, name)(
      sizes.zipWithIndex.map { case (n, i) => frame(i, n) })
    val listing = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"/tmp/graft_stream_src_$name"))
    val parts =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      finally listing.close()
    assert(parts.size == 3, s"one file per frame: $parts")
    val byMtime = parts.map(p =>
      (java.nio.file.Files.getLastModifiedTime(p).toMillis,
        spark.read.parquet(p.toString).count())).sortBy(_._1)
    assert(byMtime.map(_._1).distinct.size == 3,
      s"mtimes must be strictly ascending: $byMtime")
    assert(byMtime.map(_._2) == sizes,
      s"files in mtime order must hold the frames in list order: $byMtime")
    val seen = scala.collection.mutable.Buffer.empty[(Long, Long)]
    EventStreams.drainBatches(src) { (b, id) => seen += ((id, b.count())) }
    assert(seen.toSeq == sizes.zipWithIndex.map { case (n, i) =>
      (i.toLong, n) }, s"one micro-batch per frame, in order: $seen")
  }

  test("streaming windowed counts match batch hourly rollup totals") {
    val batch = Events.rollup(Tables.events(spark, TestSpark.sf), "hour")
      .agg(sum("n")).as[Long].collect().head
    val stream = EventStreams.runToMemory(
      EventStreams.windowedCounts(
        EventStreams.source(spark, eventsDir)),
      "win_counts", OutputMode.Complete())
    assert(stream.agg(sum("n")).as[Long].collect().head == batch)
    // window starts align with date_trunc('hour') buckets
    val batchBuckets = Events.rollup(Tables.events(spark, TestSpark.sf), "hour")
      .select(col("bucket")).distinct().as[java.sql.Timestamp].collect().toSet
    val streamBuckets = stream.select(col("window.start"))
      .distinct().as[java.sql.Timestamp].collect().toSet
    assert(streamBuckets == batchBuckets)
  }

  test("streaming late data is DROPPED once the watermark passes it") {
    val out = EventStreams.lateDropOnce(spark, TestSpark.sf, "late_drop_test")
      .select(col("bucket").cast("long").as("bucket_s")).as[Long].collect()
    assert(out.nonEmpty)
    val ts = Tables.events(spark, TestSpark.sf)
      .agg(min(col("ts_us")).as("a"), max(col("ts_us")).as("z"))
      .collect().head
    val (a, z) = (ts.getLong(0), ts.getLong(1))
    val splitSec = (a + (z - a) / 3) / 1000000L
    val watermarkSec = z / 1000000L - 7200L
    // every emitted hour bucket starts at/after the on-time boundary's
    // hour (late third absent) and closed before the final watermark
    assert(out.min >= splitSec / 3600 * 3600,
      s"late-third bucket leaked: min=${out.min}, split=$splitSec")
    assert(out.max + 3600 <= watermarkSec,
      s"unfinalized window emitted: max=${out.max}, wm=$watermarkSec")
  }

  test("streaming dedup EVICTS state past the watermark horizon") {
    // Time-ordered micro-batches (one file per trigger, ascending
    // mtimes): batch1 = keys 1..50 at t0; batch2 = fresh keys at t0+10h,
    // advancing the watermark to t0+8h; batch3 = more fresh keys (state
    // cleanup applies the ADVANCED watermark during this batch, expiring
    // batch1's entries); batch4 repeats batch1's KEYS at t0+9h.
    // dropDuplicatesWithinWatermark must re-emit them — proving state is
    // evicted, not grown forever (plain dropDuplicates(key) would still
    // drop them and OOM at 100 TB/day).
    val srcDir = java.nio.file.Paths.get("/tmp/graft_stream_evict")
    graft.streaming.EventStreams.deleteStagingForTest(srcDir)
    java.nio.file.Files.createDirectories(srcDir)
    val t0 = 1700000000L * 1000000L // epoch MICROS (the staged unit)
    val h = 3600L * 1000000L
    def mk(ids: Range, at: Long) = ids.toDF("event_id")
      .select(col("event_id").cast("long"), lit(at).as("ts_us"),
        lit(1L).as("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("""{"k":1}""").as("props"))
    Seq(mk(1 to 50, t0), mk(1000 to 1040, t0 + 10 * h),
        mk(2000 to 2040, t0 + 10 * h),
        mk(1 to 50, t0 + 9 * h)).zipWithIndex.foreach { case (df, i) =>
      val sub = srcDir.resolve(s"b$i")
      df.coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val l = java.nio.file.Files.list(sub)
      val part = try l.iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      finally l.close()
      val dst = srcDir.resolve(f"batch-$i%02d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      graft.streaming.EventStreams.deleteStagingForTest(sub)
    }
    val src = spark.readStream.schema(EventStreams.stagedSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val out = EventStreams.runToMemory(
      EventStreams.dedupedStream(src).select("event_id"),
      "evict_test", OutputMode.Append())
    val perKey = out.groupBy("event_id").count()
      .as[(Long, Long)].collect().toMap
    (1L to 50L).foreach { k =>
      assert(perKey(k) == 2L,
        s"key $k must be re-emitted after its state expired (got ${perKey(k)})")
    }
    (1000L to 1040L).foreach(k => assert(perKey(k) == 1L))
    (2000L to 2040L).foreach(k => assert(perKey(k) == 1L))
  }

  test("stateful streaming sessionizer agrees with the batch sessionizer") {
    val batch = Events.sessionize(Tables.events(spark, TestSpark.sf), 30)
      .select("user_id", "n_events", "n_sessions")
      .as[(Long, Long, Long)].collect().toSet
    val stream = EventStreams.runToMemory(
      EventStreams.sessionize(
        EventStreams.source(spark, eventsDir), 30),
      "sessions", OutputMode.Update())
    // one micro-batch => one update row per user = final state
    val got = stream.select("user_id", "n_events", "n_sessions")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == batch)
  }

  test("transformWithState sessionizer (v2 state API, RocksDB store) " +
      "agrees with the batch sessionizer") {
    val batch = Events.sessionize(Tables.events(spark, TestSpark.sf), 30)
      .select("user_id", "n_events", "n_sessions")
      .as[(Long, Long, Long)].collect().toSet
    // transformWithState mandates the RocksDB provider; scope it to a
    // session clone so the shared test session keeps the default store
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val stream = EventStreams.runToMemory(
      EventStreams.sessionizeTws(
        EventStreams.source(ss, eventsDir), 30),
      "tws_sessions", OutputMode.Update())
    val got = stream.select("user_id", "n_events", "n_sessions")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == batch)
  }

  test("v2 event-time timers: sessionEmitTwsOnce equals sessionEmitOnce " +
      "row-for-row under the same staged layout") {
    val v2 = EventStreams.sessionEmitTwsOnce(spark, TestSpark.sf, 30,
      "tws_timer_spec")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val v1 = EventStreams.sessionEmitOnce(spark, TestSpark.sf, 30,
      "v1_timer_spec")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(v2 == v1 && v2.nonEmpty,
      "timer-API migration must not change a single session row")
  }

  test("ListState last-K: streamed two-batch ranking equals the batch " +
      "recency window, buffer truncated to K") {
    val k = 5
    val got = EventStreams.lastKEventsOnce(spark, TestSpark.sf, k,
      "lastk_spec").as[(Long, Long, Long)].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val batch = Tables.events(spark, TestSpark.sf)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("user_id"), col("rk"), col("event_id"))
      .orderBy(col("user_id"), col("rk"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == batch && got.nonEmpty)
    assert(got.groupBy(_._1).values.forall(_.length <= k),
      "the ListState buffer must stay truncated to K")
  }

  test("session_window boundary: an exactly-gap-later event CONTINUES " +
      "the session (fold convention), one microsecond beyond splits it") {
    val gapUs = 30L * 60 * 1000000L
    val mk = (rows: Seq[(Long, Long)]) => rows.map { case (id, us) =>
      (id, us, 1L, "t", 0.0, null.asInstanceOf[String])
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val atGap = Events.sessionWindows(
      mk(Seq((1L, 0L), (2L, gapUs))), 30)
      .select("session_idx").as[Long].collect()
    assert(atGap.toSeq == Seq(1L),
      "diff == gap must stay ONE session, matching the stateful fold")
    val past = Events.sessionWindows(
      mk(Seq((1L, 0L), (2L, gapUs + 1L))), 30)
      .select("session_idx").as[Long].collect().sorted
    assert(past.toSeq == Seq(1L, 2L),
      "one microsecond past the gap must split the session")
  }

  test("v2 TTL state expiry: per-batch counts are batch-local (the " +
      "TTL'd counter died between batches) while no-TTL seq persists") {
    val got = EventStreams.ttlVisitCountsOnce(spark, TestSpark.sf,
      "ttl_state_spec").as[(Long, Long, Long)].collect().toSeq
    val ev = Tables.events(spark, TestSpark.sf)
    val bounds = ev.agg(min(col("ts_us")).as("a"), max(col("ts_us")).as("z"))
    val batch = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(expr("ts_us < a + ((z - a) div 2)"), 0).otherwise(1))
      .groupBy(col("user_id"), col("half"))
      .agg(count(lit(1)).as("n"))
      .withColumn("seq", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("half"))).cast("long"))
      .select(col("user_id"), col("seq"), col("n"))
      .orderBy(col("user_id"), col("seq"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == batch && got.nonEmpty,
      "each emission must count ONLY its own batch: expired counter " +
        "reads as absent, persistent seq numbers emissions")
    // if TTL expiry had failed, the late emission would carry
    // early+late — assert some user provably has batch-local counts
    assert(got.groupBy(_._1).values.exists(_.length == 2),
      "no user spans both halves; the expiry premise is untested")
  }

  test("chained stateful operators: dedup state feeding window state " +
      "equals the batch rollup, with real cross-batch duplicates") {
    // premise: the plant actually produces duplicates to kill
    val nDups = Tables.events(spark, TestSpark.sf)
      .filter(col("event_id") % 10 === 0).count()
    assert(nDups > 0, "no planted duplicates; the chain premise is void")
    val got = EventStreams.dedupRollupOnce(spark, TestSpark.sf,
      "dedup_rollup_spec")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    val batch = Events.rollup(Tables.events(spark, TestSpark.sf), "hour")
      .select(col("bucket"), col("event_type"), col("n"),
        col("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    assert(got == batch && got.nonEmpty,
      "the dedup→window chain must reproduce the raw batch rollup")
  }

  test("checkpoint restart: two query instances over one checkpoint " +
      "reproduce the batch rollup exactly once") {
    val name = "restart_spec"
    val got = EventStreams.dedupRollupRestartOnce(spark, TestSpark.sf, name)
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    val batch = Events.rollup(Tables.events(spark, TestSpark.sf), "hour")
      .select(col("bucket"), col("event_type"), col("n"),
        col("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    assert(got == batch && got.nonEmpty,
      "restart must neither lose nor duplicate rows vs the batch rollup")
    // restart premise, loud: run 2 must have CONTINUED run 1's batch
    // lineage in the shared checkpoint. Run 1 (one staged file) commits
    // at most 2 batches (data + trailing no-data); >= 3 commits means a
    // second instance picked up the same commit log rather than
    // starting a lineage of its own.
    val commitsDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_restart_ckpt_$name/commits")
    val listing = java.nio.file.Files.list(commitsDir)
    val ids =
      try listing.iterator().asScala
        .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq
      finally listing.close()
    assert(ids.size >= 3,
      s"expected >= 3 committed batches across the two instances: $ids")
  }

  test("MapState tallies: streamed two-batch per-type counts equal " +
      "the batch GROUP BY") {
    val got = EventStreams.typeCountsOnce(spark, TestSpark.sf,
      "typecounts_spec").as[(Long, String, Long)].collect().toSeq
    val batch = Tables.events(spark, TestSpark.sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("event_type"))
      .as[(Long, String, Long)].collect().toSeq
    assert(got == batch && got.nonEmpty)
  }

  test("initial-state bootstrap: batch-state + streamed tail equals " +
      "the batch sessionizer over the full history") {
    val got = EventStreams.sessionizeBootstrapOnce(spark, TestSpark.sf,
      30, "bootstrap_spec")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val batch = Events.sessionize(Tables.events(spark, TestSpark.sf), 30)
      .select("user_id", "n_events", "n_sessions", "span_seconds")
      .orderBy("user_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == batch && got.nonEmpty,
      "the state handoff must reproduce full-history sessions exactly")
  }

  test("state-store READER: the sessionizer's checkpointed state, read " +
      "back as a batch DataFrame, equals the batch sessionizer") {
    // the operational surface behind streaming state: inspect / audit /
    // migrate state without replaying the stream (Spark 4 statestore
    // source). Drain with a RETAINED checkpoint, then read the store.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_state_read")
    try {
      val q = EventStreams.sessionize(
          EventStreams.source(spark, eventsDir), 30)
        .writeStream.format("noop")
        .outputMode(OutputMode.Update())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.awaitTermination()
      val state = spark.read.format("statestore").load(ckpt.toString)
      val got = state
        .select(col("key.value").as("user_id"),
          col("value.groupState.nEvents").as("n_events"),
          col("value.groupState.nSessions").as("n_sessions"))
        .as[(Long, Long, Long)].collect().toSet
      val batch = Events.sessionize(Tables.events(spark, TestSpark.sf), 30)
        .select("user_id", "n_events", "n_sessions")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == batch,
        "state rows must equal the batch sessionizer's final per-user state")
    } finally EventStreams.deleteStagingForTest(ckpt)
  }

  test("stream-stream interval join equals the batch interval join") {
    val out = EventStreams
      .intervalJoinOnce(spark, TestSpark.sf, "interval_join_test")
      .select("click_id", "view_id", "gap_us")
      .as[(Long, Long, Long)].collect().toSet
    val ev = Tables.events(spark, TestSpark.sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us").as("us"))
    val batch = ev.as("c").filter(col("c.event_type") === "click")
      .join(ev.as("v").filter(col("v.event_type") === "view"),
        col("c.user_id") === col("v.user_id") &&
          col("v.us") >= col("c.us") - lit(1800000000L) &&
          col("v.us") <= col("c.us"))
      .select(col("c.event_id"), col("v.event_id"),
        col("c.us") - col("v.us"))
      .as[(Long, Long, Long)].collect().toSet
    assert(out == batch)
    assert(out.nonEmpty, "no click-view pairs at sf0.001 — weak test")
    // every pair really did cross micro-batches: clicks are staged in
    // file 1, views in file 2, so a nonempty result IS the state proof
  }

  test("sliding-window arithmetic form equals Spark's built-in window()") {
    val ev = Tables.events(spark, TestSpark.sf)
    val arith = Events.slidingCounts(ev)
      .select(col("win_start"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val builtin = Events.withEventTime(ev)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(arith == builtin)
  }

  test("as-of join: every match is the latest earlier purchase in (ts,id) order") {
    val out = Events.asofJoin(Tables.events(spark, TestSpark.sf),
      "click", "purchase")
    val purchases = Events.withEventTime(Tables.events(spark, TestSpark.sf))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._2)
    val rows = out.as[(Long, Long, Long, Option[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (clickId, user, ts, matched) =>
      val naive = purchases.getOrElse(user, Array.empty)
        .filter(p => p._3 < ts || (p._3 == ts && p._1 < clickId))
        .sortBy(p => (p._3, p._1)).lastOption.map(_._1)
      assert(matched == naive, s"click $clickId (user $user): " +
        s"got $matched expected $naive")
    }
  }

  test("as-of tolerance: direction, tolerance cutoff, and equal-ts tiebreak") {
    // one user: purchases at 100 and 500 µs, clicks at 90, 103, 300, 600
    val ev = Seq(
      (1L, 90L, 7L, "click"), (2L, 100L, 7L, "purchase"),
      (3L, 103L, 7L, "click"), (4L, 300L, 7L, "click"),
      (5L, 500L, 7L, "purchase"), (6L, 600L, 7L, "click"),
      // equal-ts pair: purchase id 8 shares ts with click id 7 — in
      // (ts, id) order the purchase is AFTER the click, so it is the
      // click's NEXT match, never its prev
      (7L, 900L, 8L, "click"), (8L, 900L, 8L, "purchase"))
      .toDF("event_id", "ts_us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val got = CacheScope.withScope {
      Events.asofJoinTolerance(ev, "click", "purchase", toleranceUs = 50L)
        .collect().map(r => r.getLong(0) -> ((
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]),
          Option(r.get(6)).map(_.asInstanceOf[Long])))).toMap
    }
    assert(got(1L) === ((None, None, Some(2L), Some(10L)))) // next within 50
    assert(got(3L) === ((Some(2L), Some(3L), None, None))) // prev within 50
    assert(got(4L) === ((None, None, None, None))) // both beyond tolerance
    assert(got(6L) === ((None, None, None, None))) // prev gap 100 > 50
    assert(got(7L) === ((None, None, Some(8L), Some(0L)))) // equal-ts → next
  }

  test("stream-static join: events stream enriched against a static dim") {
    // static dim: per-user cohort labels derived once
    val dim = Events.withEventTime(Tables.events(spark, TestSpark.sf))
      .select("user_id").distinct()
      .withColumn("cohort", col("user_id") % 3)
    val enriched = EventStreams.source(spark, eventsDir)
      .join(dim, Seq("user_id"))  // stream-static equi-join: no state
      .groupBy("cohort").count()
    val got = EventStreams.runToMemory(enriched, "stream_static",
      OutputMode.Complete())
      .as[(Long, Long)].collect().toMap
    val want = Events.withEventTime(Tables.events(spark, TestSpark.sf))
      .withColumn("cohort", col("user_id") % 3)
      .groupBy("cohort").count()
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("streaming dedup drops duplicate event_ids (S7, streaming form)") {
    // stage the events file TWICE -> every event_id arrives duplicated
    val dir = java.nio.file.Paths.get("/tmp/graft_stream_dup")
    java.nio.file.Files.createDirectories(dir)
    for (n <- Seq("a.parquet", "b.parquet")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
        dir.resolve(n),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val out = EventStreams.runToMemory(
      EventStreams.dedupedStream(EventStreams.source(spark, dir.toString)),
      "dedup_stream", OutputMode.Append())
    val expected = Tables.events(spark, TestSpark.sf).count()
    assert(out.count() == expected)
    assert(out.select("event_id").distinct().count() == expected)
  }

  test("image format breadth: magic-byte sniff matches the planted " +
      "cycle, lossless decodes match the closed form, JPEG resolution " +
      "is exact with pixel_sum honestly null") {
    val feats = Multimodal
      .imageFormatFeatures(Tables.documents(spark, TestSpark.sf))
      .collect()
    assert(feats.nonEmpty)
    feats.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val wantFmt = (id % 3) match {
        case 0 => "png"; case 1 => "bmp"; case _ => "jpeg"
      }
      assert(r.getAs[String]("format") == wantFmt,
        s"media $id: sniffed format must match the planted container")
      val (w, h) = (8 + id % 16, 8 + id % 8)
      assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h,
        s"media $id: resolution must be exact for every container")
      if (wantFmt == "jpeg")
        assert(r.isNullAt(r.fieldIndex("pixel_sum")),
          s"media $id: lossy decode must not claim an exact pixel sum")
      else {
        val want = (for (x <- 0L until w; y <- 0L until h)
          yield (id * 31 + 7 * x + 13 * y) % 256).sum
        assert(r.getAs[Long]("pixel_sum") == want,
          s"media $id ($wantFmt): lossless roundtrip pixel sum")
      }
    }
    // JPEG payloads really are JPEG-encoded rasters, approximately equal
    // to the source content (decode sanity beyond the resolution check)
    val jpegBytes = {
      val out = new java.io.ByteArrayOutputStream()
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    assert(jpegBytes.take(2).map(_ & 0xff).toSeq == Seq(0xff, 0xd8))
  }

  test("binaryFile roundtrip: features survive the filesystem hop and " +
      "the glob prunes foreign droppings in the shard dir") {
    val dir = "/tmp/graft_binshard_spec"
    val docs = Tables.documents(spark, TestSpark.sf).limit(20)
    Multimodal.scatterPngShards(docs, dir)
    // non-media droppings must be invisible — both a non-png file (the
    // glob's job) and a foreign .png whose name doesn't carry an id
    // (try_cast's job: an ANSI cast would crash the scan on it)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir).resolve("_manifest.json"),
      "{}".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir).resolve("preview.png"),
      Array[Byte](0x42, 0x4f, 0x47, 0x55, 0x53))
    val feats = Multimodal.scanShardFeatures(spark, dir).collect()
    assert(feats.length == docs.count(),
      "pathGlobFilter must prune non-PNG files from the scan")
    feats.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[String]("format") == "png" &&
        r.getAs[Long]("width") == 8 + id % 16 &&
        r.getAs[Long]("height") == 8 + id % 8 &&
        !r.isNullAt(r.fieldIndex("pixel_sum")),
        s"shard $id must decode losslessly after the filesystem hop")
    }
  }

  test("multimodal: features are deterministic and checksum matches payload") {
    val feats = Multimodal.features(Tables.documents(spark, TestSpark.sf))
    // media_id 0 is an IMAGE: features must come from a real PNG decode
    // and match the closed-form pixel definition
    val img = feats.filter(col("media_id") === 0).collect().head
    assert(img.getAs[String]("kind") == "image")
    assert(img.getAs[Long]("width") == 8L)
    assert(img.getAs[Long]("height") == 8L)
    val expectSum = (for (x <- 0 until 8; y <- 0 until 8)
      yield (0L * 31 + 7 * x + 13 * y) % 256).sum.toLong
    assert(img.getAs[Long]("pixel_sum") == expectSum)
    assert(img.isNullAt(img.fieldIndex("checksum_md5")))
    assert(img.isNullAt(img.fieldIndex("n_bytes")))
    // the PNG payload really is a PNG (magic bytes), not a passthrough
    val payload = Multimodal.encodePng(0L)
    assert(payload.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47))
    // media_id 1 is AUDIO: features must come from a real WAV decode and
    // match the closed-form sample definition (id=1: rate 12000, n=41)
    val row = feats.filter(col("media_id") === 1).collect().head
    assert(row.getAs[String]("kind") == "audio")
    assert(row.getAs[Long]("sample_rate") == 12000L)
    assert(row.getAs[Long]("n_samples") == 41L)
    val expectAmp = (0 until 41).map(i => ((1L * 17 + 11 * i) % 4096) - 2048).sum
    assert(row.getAs[Long]("amplitude_sum") == expectAmp)
    assert(row.getAs[Long]("frame_estimate") == 41L)
    assert(row.isNullAt(row.fieldIndex("checksum_md5")))
    assert(row.isNullAt(row.fieldIndex("n_bytes")))
    assert(row.isNullAt(row.fieldIndex("pixel_sum")))
    // the WAV payload really is a RIFF/WAVE container, not a passthrough
    val wav = Multimodal.encodeWav(1L)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    // media_id 2 is VIDEO: features must come from a real multi-frame
    // GIF decode and match the closed-form per-frame pixel definition
    // (id=2: 4 frames, 10×10)
    val vid = feats.filter(col("media_id") === 2).collect().head
    assert(vid.getAs[String]("kind") == "video")
    assert(vid.getAs[Long]("frame_estimate") == 4L)
    assert(vid.getAs[Long]("width") == 10L)
    assert(vid.getAs[Long]("height") == 10L)
    val expectVid = (for (f <- 0 until 4; x <- 0 until 10; y <- 0 until 10)
      yield (2L * 31 + 7 * x + 13 * y + 97 * f) % 256).sum
    assert(vid.getAs[Long]("pixel_sum") == expectVid)
    assert(vid.isNullAt(vid.fieldIndex("checksum_md5")))
    assert(vid.isNullAt(vid.fieldIndex("n_bytes")))
    assert(vid.isNullAt(vid.fieldIndex("sample_rate")))
    // the GIF payload really is a GIF container, not a passthrough
    val gif = Multimodal.encodeGif(2L)
    assert(new String(gif.take(4), "US-ASCII") == "GIF8")
    // per-frame grain (q117): frame checksums match the closed form
    // frame by frame, and a frame-order swap could not cancel
    val frames = Multimodal.videoFrameFeatures(
      Tables.documents(spark, TestSpark.sf))
      .filter(col("media_id") === 2)
      .orderBy(col("frame_idx")).collect()
    assert(frames.length == 4)
    frames.zipWithIndex.foreach { case (fr, f) =>
      val expectFrame = (for (x <- 0 until 10; y <- 0 until 10)
        yield (2L * 31 + 7 * x + 13 * y + 97 * f) % 256).sum
      assert(fr.getAs[Long]("frame_sum") == expectFrame &&
        fr.getAs[Long]("width") == 10L && fr.getAs[Long]("height") == 10L,
        s"frame $f must decode to its own closed-form checksum")
    }
    assert(frames.map(_.getAs[Long]("frame_sum")).distinct.length > 1,
      "frames must differ (the 97·f term) or per-frame gating is vacuous")
  }

  test("streaming CDC-apply state equals batch latest-per-user minus tombstones") {
    val got = EventStreams
      .cdcApplyOnce(spark, TestSpark.sf, "cdc_apply_test")
      .as[(Long, Long, Long, String, Double)].collect().toSeq
    val ev = Tables.events(spark, TestSpark.sf)
    val expected = ev.groupBy(col("user_id"))
      .agg(max_by(struct(col("ts_us"), col("event_id"),
        col("event_type"), col("value")),
        struct(col("ts_us"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.ts_us"), col("m.event_id"),
        col("m.event_type"), col("m.value"))
      .filter(col("m.event_type") =!= "error")
      .orderBy(col("user_id"))
      .as[(Long, Long, Long, String, Double)].collect().toSeq
    assert(got == expected)
    // cross-batch premise: the two staged halves must share users, or the
    // MERGE update path was never exercised by this gate
    val bounds = ev.agg(min(col("ts_us")).as("a"), max(col("ts_us")).as("z"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .withColumn("_b",
        when(col("ts_us") < expr("a + (z - a) div 2"), 0).otherwise(1))
    val shared = tagged.filter(col("_b") === 0).select("user_id")
      .intersect(tagged.filter(col("_b") === 1).select("user_id")).count()
    assert(shared > 0, "no user spans both halves; update path untested")
  }

  test("overlap join: binned form equals the naive theta-join, " +
      "containment/touch/bucket-crossing land once, premise is loud") {
    import graft.operators.RangeJoin
    val maxLen = 35L * 60 * 1000000
    val iv = Tables.events(spark, TestSpark.sf).select(
      col("event_type").as("key"), col("event_id").as("id"),
      col("ts_us").as("s"),
      (col("ts_us") +
        (pmod(col("event_id"), lit(7L)) + 1) * 300000000L).as("e"))
    val got = RangeJoin.overlapJoin(iv, maxLen)
      .as[(String, Long, Long, Long)].collect().toSet
    val naive = iv.as("a")
      .join(iv.as("b"), col("a.key") === col("b.key") &&
        col("a.id") < col("b.id") && col("a.s") <= col("b.e") &&
        col("b.s") <= col("a.e"))
      .select(col("a.key"), col("a.id"), col("b.id"),
        least(col("a.e"), col("b.e")) - greatest(col("a.s"), col("b.s")))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == naive && got.nonEmpty)
    // synthetic edges at maxLen = 100 µs: containment, point-touch
    // (overlap 0), and a pair meeting across the bucket boundary
    val syn = Seq(("k", 1L, 0L, 100L), ("k", 2L, 50L, 70L),
      ("k", 3L, 100L, 180L), ("k", 4L, 95L, 150L))
      .toDF("key", "id", "s", "e")
    val pairs = RangeJoin.overlapJoin(syn, 100L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(pairs == Set(("k", 1L, 2L, 20L), ("k", 1L, 3L, 0L),
      ("k", 1L, 4L, 5L), ("k", 3L, 4L, 50L)),
      s"overlap semantics: got $pairs")
    // an interval longer than the bound must fail LOUDLY, never be
    // silently dropped
    val bad = Seq(("k", 9L, 0L, 200L)).toDF("key", "id", "s", "e")
    val err = intercept[Exception] {
      RangeJoin.overlapJoin(bad, 100L).collect()
    }
    assert(err.toString.contains("premise") ||
      Option(err.getCause).exists(_.toString.contains("premise")),
      s"expected the loud premise failure, got: $err")
  }

  test("staging premise guard: a collapsed-time corpus REFUSES to drain " +
      "instead of emitting wrong rows (the r6 failure mode, made loud)") {
    val dir = "/tmp/graft_narrow_span_sf"
    val root = java.nio.file.Paths.get(dir)
    EventStreams.deleteStagingForTest(root)
    java.nio.file.Files.createDirectories(root)
    // `n` events `stepUs` apart: a span of (n − 1)·stepUs
    def writeEvents(to: String, n: Int, stepUs: Long): Unit =
      (1 to n).toDF("event_id")
        .select(col("event_id").cast("long"),
          timestamp_micros(lit(1700000000L * 1000000L) +
            col("event_id").cast("long") * stepUs).as("ts"),
          (col("event_id") % 7).cast("long").as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit(null).cast("string").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$to/events.parquet")
    // ~50 min event-time span — what months of data collapse to under a
    // wrong-unit read; every premise-guarded gate query must refuse
    writeEvents(dir, 100, 30000000L)
    def refusal(body: => Unit): String = {
      val e = intercept[Throwable](body)
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
    }
    // streaming gate: refuses at staging
    val gate = "narrow_span_guard_test"
    val staging = java.nio.file.Paths.get(s"/tmp/graft_stream_src_$gate")
    EventStreams.deleteStagingForTest(staging)
    val streamMsg = refusal {
      EventStreams.dedupOnce(spark, dir, gate)
    }
    assert(streamMsg.contains("premise violated"),
      s"expected the loud span-premise refusal, got: $streamMsg")
    // ... BEFORE staging: no part- file, not even the write's directory
    assert(!java.nio.file.Files.exists(staging),
      s"the refusal came after staging began: $staging exists")
    // a time-sliced gate and a sentinel gate refuse with the same text
    val text = s"$gate premise violated: event-time span < 24 h"
    Seq(streamMsg,
      refusal(EventStreams.typeCountsOnce(spark, dir, gate)),
      refusal(EventStreams.sessionEmitOnce(spark, dir, 30, gate)))
      .foreach(m => assert(m.contains(text), s"expected '$text', got: $m"))
    // batch ts-dependent gates: refuse when built, same guard
    val batchMsg = refusal {
      Queries.all("q16_events_hourly")(spark, dir).collect()
    }
    assert(batchMsg.contains("premise violated"),
      s"expected the batch-gate refusal, got: $batchMsg")
    // a span of exactly 24 h meets the premise; an empty events table
    // has no span and passes vacuously
    val edgeDir = "/tmp/graft_edge_span_sf"
    writeEvents(edgeDir, 2, 24L * 3600L * 1000000L)
    assert(Queries.all("q16_events_hourly")(spark, edgeDir).count() == 2)
    val emptyDir = "/tmp/graft_empty_events_sf"
    writeEvents(emptyDir, 0, 1L)
    assert(Queries.all("q16_events_hourly")(spark, emptyDir).collect()
      .isEmpty)
  }

  test("band join: binned equi-join equals the naive theta-join at " +
      "sf0.001, and boundary/bucket/tie cases land exactly once") {
    import graft.operators.RangeJoin
    val band = 30L * 60 * 1000000
    val ev = Tables.events(spark, TestSpark.sf)
    val got = RangeJoin.selfBandJoin(ev, band)
      .as[(Long, Long, Long, Long)].collect().toSet
    val e = ev.select(col("user_id"), col("event_id"),
      col("ts_us").as("tu"))
    val naive = e.as("a")
      .join(e.as("b"), col("a.user_id") === col("b.user_id") &&
        (col("a.tu") < col("b.tu") ||
          (col("a.tu") === col("b.tu") &&
            col("a.event_id") < col("b.event_id"))) &&
        col("b.tu") - col("a.tu") <= band)
      .select(col("a.user_id"), col("a.event_id"), col("b.event_id"),
        col("b.tu") - col("a.tu"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == naive, "binned join must equal the naive theta-join")
    assert(got.nonEmpty)
    // synthetic edges: band = 10 µs (ts_us below in MICROS).
    //  u1: Δ exactly == band (in), Δ == band+1 µs (out)
    //  u2: pair crossing a bucket boundary (9 µs → 12 µs, Δ=3)
    //  u3: equal timestamps — tie must appear once, id-ordered
    val syn = Seq(
      (1L, 0L, 1L), (2L, 10L, 1L), (3L, 21001L, 1L),
      (4L, 21001L + 11L, 1L),
      (5L, 9L, 2L), (6L, 12L, 2L),
      (8L, 5L, 3L), (7L, 5L, 3L))
      .toDF("event_id", "ts_us", "user_id")
    val pairs = RangeJoin.selfBandJoin(syn, 10L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 1L, 2L, 10L), (2L, 5L, 6L, 3L),
      (3L, 7L, 8L, 0L)),
      s"boundary semantics: got $pairs")
  }

  test("streaming index ingest: batch boundaries are output-invisible " +
      "(drained union equals one-shot incremental over all waves) and " +
      "the artifact ends fully folded") {
    val name = "q156_streaming_index_ingest_spec"
    val drained = CacheScope.withScope {
      graft.streaming.IndexIngest.ingestOnce(spark, TestSpark.sf, name)
        .as[(Long, Long)].collect().toSet
    }
    // the one-shot live incremental over the SAME three waves — batch
    // boundaries must not add, drop, or duplicate a single pair
    val e = Tables.embeddings(spark, TestSpark.sf)
    val corpus = e.filter(col("vec_id") % 7 =!= 3)
      .select("vec_id", "embedding")
    def scaled(df: org.apache.spark.sql.DataFrame, shift: Long) =
      df.select((col("vec_id") + lit(shift)).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x * lit(1.001d)).as("embedding"))
    val waveA = e.filter(col("vec_id") % 7 === 3)
      .select("vec_id", "embedding")
    val incoming = waveA
      .unionByName(scaled(corpus.filter(col("vec_id") % 10 === 0),
        5000000L))
      .unionByName(scaled(waveA.filter(col("vec_id") % 9 === 4),
        9000000L))
    val oneShot = CacheScope.withScope {
      graft.operators.Ann.cosinePairsCpIncremental(corpus, incoming, 0.4)
        .as[(Long, Long)].collect().toSet
    }
    assert(drained == oneShot && drained.nonEmpty,
      s"drained ${drained.size} != one-shot ${oneShot.size}")
    // the artifact holds base + all three folded waves: serving epoch 3,
    // corpus_count = every participating vector
    val meta = spark.read.parquet(s"/tmp/graft_stream_idx_$name/meta_3")
      .head()
    assert(meta.getAs[Int]("epoch") == 3)
    assert(meta.getAs[Long]("corpus_count") ==
      CacheScope.withScope { corpus.count() + incoming.count() })
  }
}
