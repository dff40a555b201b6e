package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators._
import graft.sources.{CsvSource, IndexFamily}

/** The operator inventory (SURVEY.md §2) exposed as named queries over the
  * driver testdata, each paired with equivalent DuckDB SQL in [[Oracles]].
  *
  * Column names are aliased identically on both sides (driver hash-compares
  * after sorting columns by name); every query ends in a deterministic
  * ORDER BY; float outputs follow the exact-decimal policy (see
  * [[graft.operators.Stats]]).
  */
object Queries {

  /** Per-job constant `processed_at` (SURVEY.md §7: the reference's
    * per-chunk wall clock is nondeterministic; a job parameter is the
    * deterministic re-expression).
    */
  val RunTs = "2026-01-01T00:00:00Z"

  /** The cleaned pipeline output is the shared input of q01-q07; cached so
    * each driver-issued query doesn't re-scan and re-clean lineitem.
    * Semantically a no-op (pure derivation); at cluster scale this is the
    * materialized staging table every downstream query reads instead of
    * re-running the ETL.
    *
    * No registry map is kept: Spark's CacheManager matches by
    * *canonicalized* plan, so every call rebuilds the (cheap) logical
    * plan and finds the same cached copy — only the first caches (a
    * repeated `cache()` would land on that copy too, but warn). Cached
    * blocks therefore live and die with their session instead of
    * being pinned by a process-global map (the r1 advisor flagged that
    * leak).
    */
  private[graft] def cleaned(s: SparkSession, dir: String): DataFrame = {
    val df = TxnTransform.pipeline(RunTs)(TxnView.dirty(s, dir))
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else df.cache()
  }

  /** The events table behind the ts-VALUE-dependent gate queries, with
    * the corpus span premise asserted ([[Events.requireSpanHours]]): a
    * collapsed-time corpus (the r6 unit-shift failure mode) makes these
    * queries refuse loudly instead of emitting wrong rows. Queries that
    * use events but not its time values (pivots, props, counts) read
    * [[Tables.events]] directly — they have no time premise.
    */
  private def guardedEvents(s: SparkSession, dir: String,
      name: String): DataFrame =
    Events.requireSpanHours(Tables.events(s, dir), name)._1

  /** The segmented edit-distance pair stage q142 gates and q136 builds
    * on — ONE definition so the two can never diverge, shared at bench
    * time via [[SharedStage.parquetOnce]] (r9 VERDICT #4: q136 re-paid
    * the whole segment join q142 had just run; under Bench's reuse
    * property the first of the two materializes the exact pair set and
    * the other scans it — outside Bench this is the identity).
    */
  private def segmentedCustomerPairs(s: SparkSession,
      dir: String): DataFrame =
    SharedStage.parquetOnce(
      TextDedup.segmentedEditPairs(
        Tables.customer(s, dir)
          .select(col("c_custkey").as("id"), col("c_name").as("name")),
        prefixLen = 15, maxDist = 2),
      artifactDir("shared_segpairs", dir),
      s"segpairs|$dir|prefix15|dist2")

  /** The exact char-12-gram Jaccard pair stage q69 gates and q70 runs
    * closure over — the [[segmentedCustomerPairs]] discipline applied
    * to the suite's most expensive recompute (the char-gram join is
    * ~6 s at sf0.1 and q70 re-paid all of it): ONE definition, shared
    * at bench time, identity in Verify/tests. All-long output columns
    * (doc_a, doc_b, n_common, n_a, n_b) — exact under the parquet
    * roundtrip. Under Bench's sorted order q69 pays the stage and q70
    * scans it (BASELINE.md's shared-stage charging note).
    */
  private def chargramDocPairs(s: SparkSession, dir: String): DataFrame =
    SharedStage.parquetOnce(
      TextDedup.charGramJaccardJoin(Tables.documents(s, dir),
        n = 12, thetaNum = 7, thetaDen = 10),
      artifactDir("shared_chargram", dir),
      s"chargram|$dir|n12|t7_10")

  /** The cross-polytope cosine pair stage q144 gates and q118 runs
    * closure over — same sharing discipline; (vec_a, vec_b) long
    * columns only. Under Bench's sorted order q118 pays the stage and
    * q144 scans it.
    */
  private def cpEmbeddingPairs(s: SparkSession, dir: String): DataFrame =
    SharedStage.parquetOnce(
      Ann.cosinePairsCp(Tables.embeddings(s, dir), threshold = 0.4),
      artifactDir("shared_cppairs", dir),
      s"cppairs|$dir|t0.4")

  /** The co-purchase edge stage q108 counts triangles over and q134
    * peels the k-core of — IDENTICAL derivation in both (the
    * lineitem⋈orders incidence through `Triangles.coOccurrenceEdges`
    * at minShared=3 / maxPerKey=256; the r7 REPORT already priced it
    * as q134's dominant remainder after the hybrid peel), so the
    * [[segmentedCustomerPairs]] discipline applies: ONE definition,
    * shared at bench time via [[SharedStage.parquetOnce]], identity in
    * Verify/tests. All-long (u, v) columns — exact under the parquet
    * roundtrip. Under Bench's sorted order q108 pays the stage and
    * q134 scans it (the BASELINE.md charge-shift note).
    */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val ol = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey").as("p"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("p"))
    SharedStage.parquetOnce(
      Triangles.coOccurrenceEdges(
        ol.select(col("p").as("key"), col("c").as("item")),
        minShared = 3, maxPerKey = 256),
      artifactDir("shared_copurchase", dir),
      s"copurchase|$dir|min3|cap256")
  }

  /** `/tmp/graft_<name>_<dir>` with `dir` made a file name: runs at
    * different scale factors must not clobber each other's artifacts,
    * and the suffix stays traceable to its source (unlike a hash).
    */
  private def artifactDir(name: String, dir: String): String =
    s"/tmp/graft_${name}_" + dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** The stored index at [[artifactDir]]`(name, dir)`: `build` writes it
    * per call for hermeticity outside Bench; within a Bench JVM
    * `SharedStage.buildOnce` reuses it under `key`, so the build lands
    * on the first consumer in sorted order (the BASELINE.md
    * charge-shift note applies). Returns the dir.
    */
  private def storedIndex(name: String, dir: String, key: String)(
      build: String => Unit): String = {
    val idx = artifactDir(name, dir)
    SharedStage.buildOnce(idx, key)(build(idx))
    idx
  }

  /** The embedding arrival family's shared (corpus, incoming) recipe —
    * the vector twin of [[textArrival]]: corpus = vec_id % 7 != 3;
    * incoming = the % 7 == 3 slice plus every 10th corpus vector under
    * shifted ids, scaled by 1.001 (planted hits at cosine exactly 1 by
    * scale invariance).
    */
  private def vecArrival(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, dir)
    val corpus = e.filter(col("vec_id") % 7 =!= 3)
      .select("vec_id", "embedding")
    val incoming = e.filter(col("vec_id") % 7 === 3)
      .select("vec_id", "embedding")
      .unionByName(corpus.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(5000000L)).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => x * lit(1.001d)).as("embedding")))
    (corpus, incoming)
  }

  /** Write the threshold-0.4 cp index over `base` at `idx` with
    * (k, bands) PINNED from `corpus`'s count — the corpus the index
    * serves after its appends (the planned-growth sizing
    * `appendCpIndex`'s scaladoc prescribes), so a gate never straddles
    * a k-chooser step between base and grown counts at some future SF
    * (r11 review), and the pinned-parameter path gets gate coverage.
    */
  private def writePinnedCpIndex(corpus: DataFrame, base: DataFrame,
      idx: String): Unit = {
    val k = graft.plans.CrossPolytope.chooseHashesPerBand(
      corpus.count(), 0.4, 64, 1e-4)
    val b = graft.plans.CrossPolytope.bandsFor(0.4, k, 64, 1e-4)
    Ann.writeCpIndex(base, idx, threshold = 0.4, hashesPerBand = k,
      bands = b)
  }

  /** The write-once cross-polytope index over the q147/q148 corpus
    * ([[vecArrival]]'s corpus, threshold 0.4), shared by q148
    * (incremental PAIR probe) and q151 (threshold-floored SEARCH) —
    * one artifact serving both arrival shapes is exactly the 100 TB
    * deployment story. The build lands on q148 under Bench.
    */
  private def cpIndexDir(s: SparkSession, dir: String): String = {
    val (corpus, _) = vecArrival(s, dir)
    storedIndex("cpindex", dir, s"cpindex|$dir|t0.4") { idx =>
      Ann.writeCpIndex(corpus, idx, threshold = 0.4)
    }
  }

  /** The text arrival family's shared (corpus, incoming) recipe —
    * q147's shape on documents: corpus = doc_id % 7 != 3; incoming =
    * the % 7 == 3 slice plus EXACT text copies of every 10th corpus
    * doc under shifted ids (planted Jaccard-1 hits whose signatures
    * are identical, so they collide in every band deterministically).
    */
  private def textArrival(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = Tables.documents(s, dir)
    val corpus = d.filter(col("doc_id") % 7 =!= 3)
      .select("doc_id", "text")
    val incoming = d.filter(col("doc_id") % 7 === 3)
      .select("doc_id", "text")
      .unionByName(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"),
          col("text")))
    (corpus, incoming)
  }

  /** The write-once MinHash text index over the q153 corpus, probed by
    * q154 and q174.
    */
  private def textIndexDir(s: SparkSession, dir: String): String = {
    val (corpus, _) = textArrival(s, dir)
    storedIndex("txtindex", dir, s"txtindex|$dir|t0.6") { idx =>
      TextIndex.writeJaccardIndex(corpus, idx, threshold = 0.6)
    }
  }

  /** fp lifecycle step: the base build (corpus minus its %11 == 5
    * slice) plus the PROBED slice — the slice verdicts against the base
    * and only its kept docs append (the survivors contract; at sf0.1
    * one fp genuinely straddles the split). The commit stamps and the
    * `evolve` columns pass through to the two writes.
    */
  private def fpBaseAndSlice(corpus: DataFrame, idx: String,
      baseTs: Option[Long] = None, sliceTs: Option[Long] = None,
      evolve: Seq[(String, Column)] = Seq.empty): Unit = {
    Dedup.writeFingerprintIndex(
      corpus.filter(col("doc_id") % 11 =!= 5), idx, commitTs = baseTs)
    val slice = corpus.filter(col("doc_id") % 11 === 5)
    val kept = Dedup.dedupAgainstIndex(idx, slice)
      .filter(col("kept")).select("doc_id")
    Dedup.appendFingerprintIndex(idx,
      slice.join(kept, Seq("doc_id"), "left_semi"), evolve = evolve,
      commitTs = sliceTs)
  }

  /** Lifecycle step: SNAPSHOT `ids` to `<idx>_doomed` (lineage over a
    * mutating artifact would silently re-read the post-delete state),
    * delete them from `idx` as one tombstone epoch, and return the
    * snapshot for the caller's re-append.
    */
  private def deleteSnapshot(family: IndexFamily, idx: String,
      ids: DataFrame, commitTs: Option[Long] = None): DataFrame = {
    val doomedDir = idx + "_doomed"
    ids.write.mode("overwrite").parquet(doomedDir)
    val doomed = ids.sparkSession.read.parquet(doomedDir)
    family.delete(idx, doomed, commitTs)
    doomed
  }

  /** fp lifecycle step: retract the live owners ≡ 2 (mod 13)
    * ([[deleteSnapshot]]), then re-append their even half — the
    * epoch-qualified tombstone suppresses the past and serves the
    * re-append.
    */
  private def fpRetractOwners(s: SparkSession, corpus: DataFrame,
      idx: String, deleteTs: Option[Long] = None,
      reappendTs: Option[Long] = None): Unit = {
    val doomed = deleteSnapshot(Dedup.index, idx,
      Dedup.storedOwners(s, idx).filter(col("owner") % 13 === 2)
        .select(col("owner").as("doc_id")), deleteTs)
    Dedup.appendFingerprintIndex(idx,
      corpus.join(doomed.filter(col("doc_id") % 2 === 0),
        Seq("doc_id"), "left_semi"),
      commitTs = reappendTs)
  }

  /** The fp gates' verdict shape: (doc_id, fp, owner, kept as a long),
    * led by the `horizon` label columns and ordered by them, then
    * doc_id.
    */
  private def fpVerdicts(verdicts: DataFrame, horizon: String*)
      : DataFrame =
    verdicts.select(horizon.map(col) ++ Seq(col("doc_id"), col("fp"),
        col("owner"), col("kept").cast("long").as("kept")): _*)
      .orderBy((horizon :+ "doc_id").map(col): _*)

  /** The as-of gates' union: `probe` at each (label, asOf) horizon,
    * labelled `as_of` and unioned left-deep in the given order.
    */
  private def asOfUnion(horizons: (Long, Option[Int])*)(
      probe: Option[Int] => DataFrame): DataFrame =
    horizons.map { case (label, asOf) =>
      probe(asOf).withColumn("as_of", lit(label))
    }.reduce(_ unionByName _)

  /** The partially-compacted fp artifact: the q178 composition — base
    * %11!=5, append the %11==5 survivors, DELETE the ≡ 2 (mod 13)
    * owners, re-append their even half (epochs 0..3) — then a partial
    * compact below 1 folds epochs 0-1 into a checkpoint and VACUUM
    * physically reclaims them, so every later read can only have
    * served the checkpoint. End state: serving epoch 4, floor 1.
    * `stamps` are the five mutations' commit timestamps in order
    * (empty: unstamped). Unstamped (`fpindex_cb`) it serves q185 (as-of
    * across a partial compact), q186 (differential read over its
    * delete + re-append window), q189 and q190; stamped with a
    * caller-supplied monotone clock (`fpindex_ts`: base 1000, append
    * 2000, delete 3000, re-append 4000, compact 5000 — the P9
    * per-job-constant precedent, so the gates stay deterministic) it
    * serves q192 (timestamp-resolved as-of probes) and q193 (DESCRIBE
    * HISTORY with commit_ts + persisted kinds).
    */
  private def fpCompactedBelowDir(s: SparkSession, dir: String,
      tag: String, stamps: Seq[Long]): String = {
    val (corpus, _) = textArrival(s, dir)
    val ts = stamps.lift
    storedIndex(s"fpindex_$tag", dir, s"fpindex$tag|$dir") { idx =>
      fpBaseAndSlice(corpus, idx, ts(0), ts(1))
      fpRetractOwners(s, corpus, idx, ts(2), ts(3))
      Dedup.index.compact(s, idx, below = Some(1), commitTs = ts(4))
      Dedup.index.vacuum(s, idx)
    }
  }

  /** The ADDITIVELY-EVOLVED fp artifact (r15 — r14 VERDICT #2, q191):
    * base %11!=5 (the two-column (fp, owner) map), then the %11==5
    * survivors appended WITH a new `src_tag` provenance column — the
    * column a production pipeline starts recording mid-life. The base
    * epoch's rows NULL-backfill at read time; no rebuild ever runs.
    */
  private def fpEvoIndexDir(s: SparkSession, dir: String): String = {
    val (corpus, _) = textArrival(s, dir)
    storedIndex("fpindex_evo", dir, s"fpindexevo|$dir") { idx =>
      fpBaseAndSlice(corpus, idx, evolve = Seq("src_tag" -> lit("wave-b")))
    }
  }

  /** The mutated-but-uncompacted text artifact shared by q182 (as-of
    * at two horizons) and q187 (differential over the append+delete
    * window): base %11!=5 → append %11==5 → DELETE the ≡ 2 (mod 13)
    * stored docs, history retained (epochs 0..2). One build, one
    * SharedStage key — two inline copies of it could silently drift
    * while the key still matched (r14 second review).
    */
  private def txtAsOfIndexDir(s: SparkSession, dir: String): String = {
    val (corpus, _) = textArrival(s, dir)
    storedIndex("txtindex_asof", dir, s"txtindexasof|$dir|t0.6") { idx =>
      TextIndex.writeJaccardIndex(
        corpus.filter(col("doc_id") % 11 =!= 5), idx, threshold = 0.6)
      TextIndex.appendJaccardIndex(idx,
        corpus.filter(col("doc_id") % 11 === 5))
      deleteSnapshot(TextIndex.index, idx,
        TextIndex.storedDocIds(s, idx).filter(col("doc_id") % 13 === 2))
    }
  }

  /** The write-once BM25 postings index over the full documents
    * corpus, shared by q165 (single-query top-k) and q168 (batched
    * per-query retrieval) — one artifact serving both retrieval
    * shapes, the q148/q151 pattern.
    */
  private def bm25IndexDir(s: SparkSession, dir: String): String =
    storedIndex("bm25index", dir, s"bm25index|$dir") { idx =>
      Bm25.writeBm25Index(Tables.documents(s, dir), idx)
    }

  /** q51's rolling fingerprint behind its LOUD ASCII gate premise: the
    * oracle's recursive walk is per-CHARACTER (ord/substr) while the
    * engine hashes UTF-8 BYTES — identical only on ASCII. A regenerated
    * corpus with one multi-byte char would surface as a confusing hash
    * diff; refuse by name instead (the r6 time-unit discipline).
    * Per-row, consumed via the fp column so pruning can't drop it.
    * NULL text PASSES the premise (the coalesce — assert_true(NULL)
    * THROWS in Spark 4, r9 ADVICE: a NULL row is not a non-ASCII row;
    * it flows through as a NULL fingerprint on both engines, exactly
    * like the oracle's walk). Extracted so the NULL/non-ASCII paths
    * are spec-testable against the very expression the gate runs.
    */
  private[graft] def asciiGuardedFp(docId: Column, text: Column): Column =
    when(assert_true(
      coalesce(octet_length(text) === length(text), lit(true)),
      concat(lit("q51 premise: non-ASCII text in doc "),
        docId.cast("string"),
        lit(" — the byte-walking fingerprint and the " +
          "character-walking oracle diverge off ASCII"))).isNull,
      call_function("graft_rolling_fp", text))

  /** q149/q150's gate premise (r10 ADVICE): span detection lowercases
    * and both span queries compare character windows/offsets against
    * DuckDB's lower()/substr — identical only on ASCII (case mapping
    * and supplementary-plane offsets can diverge off it). Same
    * loud-refusal shape as [[asciiGuardedFp]]: refuse by name instead
    * of surfacing as a confusing hash diff on a regenerated corpus.
    * NULL text PASSES (the coalesce — assert_true(NULL) throws in
    * Spark 4) and flows through as an uncut NULL row on both engines.
    * Rides the text column itself, so pruning can never drop it.
    */
  private[graft] def asciiGuardedText(who: String)(docId: Column,
      text: Column): Column =
    when(assert_true(
      coalesce(octet_length(text) === length(text), lit(true)),
      concat(lit(s"$who premise: non-ASCII text in doc "),
        docId.cast("string"),
        lit(" — Spark and DuckDB lower()/substr() semantics can " +
          "diverge off ASCII"))).isNull,
      text)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E2/P2-P12: the full clean→rules→enrich→project pipeline.
    "q01_pipeline" -> ((s, dir) =>
      cleaned(s, dir).orderBy("transaction_id")),

    // A5: funnel stats over the dirty input (one scan).
    "q02_funnel" -> ((s, dir) =>
      Stats.funnel(TxnView.dirty(s, dir))),

    // S7: deterministic last-writer-wins upsert of two batches. The two
    // batches are generated by exploding each row once (single scan) —
    // semantically identical to the oracle's UNION ALL of two scans.
    "q03_dedup_lww" -> ((s, dir) => {
      val c = cleaned(s, dir)
      val both = c.select(
        col("transaction_id"), col("user_id"), col("ts"), col("status"),
        col("processed_at"),
        explode(array(
          struct(col("amount"), lit(1).as("batch")),
          struct((col("amount") + lit(1.0)).as("amount"),
            lit(2).as("batch")))).as("e"))
        .select(col("transaction_id"), col("user_id"), col("e.amount"),
          col("ts"), col("status"), col("processed_at"), col("e.batch"))
      // Total order: the synthetic lineitem yields duplicate derived ids,
      // so every column participates — a partial order would leave the
      // survivor engine-dependent (SURVEY.md §7 determinism decision).
      // Aggregation-based LWW (max_by over the order struct): map-side
      // combinable, no per-key sort — the shape that holds at 100 TB.
      Dedup.lastWriterWinsAgg(both, Seq("transaction_id"),
          payload = Seq("user_id", "amount", "ts", "status",
            "processed_at", "batch"),
          orderCols = Seq("batch", "user_id", "amount", "ts", "status"))
        .select("transaction_id", "user_id", "amount", "ts", "status",
          "processed_at", "batch")
        .orderBy("transaction_id")
    }),

    // A1+A3: count, min/max/avg/sum (decimal-exact sums).
    "q04_table_stats" -> ((s, dir) => Stats.tableStats(cleaned(s, dir))),

    // A2: group-by status counts.
    "q05_status_counts" -> ((s, dir) => Stats.statusCounts(cleaned(s, dir))),

    // A4: integrity validation, one pass.
    "q06_integrity" -> ((s, dir) => Stats.integrity(cleaned(s, dir))),

    // E3: the SQL read path — the same stats through Catalyst's parser
    // (the reference ships SQL strings to SQLite; here the engine parses,
    // plans, and executes them itself). The SQL text is the shared
    // Spark/DuckDB dialect subset.
    "q09_sql_surface" -> ((s, dir) => {
      cleaned(s, dir).createOrReplaceTempView("cleaned_txn")
      s.sql("""SELECT status, count(*) AS n,
                      CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
                        AS sum_amount,
                      count(DISTINCT user_id) AS n_users
               FROM cleaned_txn GROUP BY status ORDER BY status""")
    }),

    // Sort + limit: top-k with a total order (unique tiebreak key).
    "q10_topk_orders" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // Star join: fact ⋈ three small dims — dims are broadcast (no shuffle
    // of the fact side; at 100 TB the only shuffle is the final group-by).
    "q11_region_revenue" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("revenue"))
        .orderBy(col("r_name"))
    }),

    // Large-large join: lineitem ⋈ orders on the order key. Both sides
    // shuffle-hash/sort-merge on l_orderkey at scale (AQE may elect
    // broadcast at small SF — correct either way, the plan is declarative).
    "q12_priority_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val dec = DecimalType(18, 2)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(dec) *
              (lit(1).cast(dec) - col("l_discount").cast(dec)))
            .cast(DoubleType).as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // Window functions: per-customer order sequence + running total
    // (exact decimal running sum, total order within each partition).
    "q13_window_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("running_total",
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType))
        .select("o_custkey", "o_orderkey", "o_orderdate", "rn", "running_total")
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // Exact distinct cardinality per group (expand+two-phase aggregate).
    "q14_distinct_parts" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))),

    // HLL sketch distinct — the 100 TB-safe variant of q14 (one pass, no
    // expand, fixed memory). Engine-specific sketch ⇒ no SQL oracle;
    // accuracy asserted against the exact count in ScalaTest.
    "q15_approx_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))),

    // Tumbling time-bucket rollup over the event stream (batch form).
    "q16_events_hourly" -> ((s, dir) =>
      Events.rollup(guardedEvents(s, dir, "q16_events_hourly"), "hour")),

    // JSON property extraction + rollup.
    "q17_events_props" -> ((s, dir) =>
      Events.propsRollup(Tables.events(s, dir), "$.k")),

    // Lag-gap sessionization (30-minute inactivity gap).
    "q18_sessionize" -> ((s, dir) =>
      Events.sessionize(guardedEvents(s, dir, "q18_sessionize"), 30)),

    // Sliding windows (1 h / 15 min) via explicit start arithmetic
    // (built-in window() equivalence asserted in ScalaTest).
    "q30_events_sliding" -> ((s, dir) =>
      Events.slidingCounts(guardedEvents(s, dir, "q30_events_sliding"))),

    // As-of join: each click matched to the user's most recent earlier
    // purchase — composed from built-ins (running last-match window).
    "q31_asof_join" -> ((s, dir) =>
      Events.asofJoin(guardedEvents(s, dir, "q31_asof_join"), "click", "purchase")),

    // Grouping sets: rollup over (returnflag, linestatus) with exact-
    // decimal revenue.
    "q32_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("revenue"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),

    // Exact text dedup: union docs with a shifted copy of every 10th doc,
    // then hash-group — dup groups must be exactly those planted copies.
    "q19_dedup_exact" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val copies = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      TextDedup.exactDupGroups(d.unionByName(copies))
        .filter(col("group_size") >= 2)
        .orderBy(col("canonical_id"))
    }),

    // Normalize-then-hash document fingerprints.
    "q20_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFns.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // Token/char statistics per language (exact integer sums; the one
    // double division mirrors the oracle's expression shape).
    "q21_token_stats" -> ((s, dir) => {
      val t = graft.functions.TextFns
      Tables.documents(s, dir)
        .select(col("lang"), t.tokenCount(col("text")).as("n_tok"),
          col("n_chars"), t.subwordEstimate(col("text")).as("n_sub"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast(LongType)).as("total_tokens"),
          sum(col("n_sub").cast(LongType)).as("total_subwords"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_tok").cast(LongType)).cast(DoubleType) /
            count(lit(1))).as("avg_tokens"))
        .orderBy(col("lang"))
    }),

    // Stopword-marker language-ID heuristic.
    "q22_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFns.langId(split(col("text"), " ")).as("lid"))
        .select(col("doc_id"), col("lid.n_en"), col("lid.n_es"),
          col("lid.n_fr"), col("lid.n_de"), col("lid.predicted_lang"))
        .orderBy(col("doc_id"))),

    // Quality scoring (length/stopword/token-shape heuristics).
    "q23_quality" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFns
            .quality(col("text"), split(col("text"), " ")).as("q"))
        .select(col("doc_id"), col("q.n_tokens"), col("q.avg_token_len"),
          col("q.stopword_ratio"), col("q.quality_score"))
        .orderBy(col("doc_id"))),

    // Near-dup detection: MinHash+LSH candidates, exact-Jaccard verified.
    // The oracle computes the exact O(n²) answer — the gate proves LSH
    // recall is total at verification scale.
    "q26_neardup_lsh" -> ((s, dir) =>
      TextDedup.jaccardPairsLsh(Tables.documents(s, dir), threshold = 0.6)),

    // n-gram-Jaccard near-dup, the LOSSLESS path: exact char-12-gram
    // Jaccard self-join via rare-first prefix filtering (AllPairs/PPJoin).
    // Integer-only outputs; the oracle is the exact inverted-index join,
    // so the gate proves prefix filtering loses nothing. Gram size 12:
    // this corpus draws from a ~30-word vocabulary, so 5-grams span barely
    // two words (3,923 distinct grams, median df 291 — every exact filter
    // drowns, measured 3.0M candidates); 12-grams span ~3 words (131k
    // grams, median df 7, 58k candidates) and the qualifying pair set is
    // IDENTICAL at 5/8/10/12 — the duplicate structure, not the gram
    // size, determines the answer (min J among true pairs stays ≥ 0.82).
    "q69_chargram_jaccard" -> ((s, dir) =>
      chargramDocPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))),

    // Near-dup CLUSTER assignment: q69's pairs are only half the dedup
    // story — keeping one doc per group needs the transitive closure.
    // Hash-min connected components over the pair graph; the oracle
    // recomputes the closure with a recursive CTE, so the gate proves
    // the distributed propagation reaches the same fixpoint. The gate
    // composes the live join for hermeticity; a deployment feeds
    // Components.dedupClusters a MATERIALIZED pair table instead (the
    // similarity join is the expensive half — never recompute it).
    "q70_dedup_clusters" -> ((s, dir) => {
      val pairs = chargramDocPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
      Components.dedupClusters(pairs).orderBy(col("doc_id"))
    }),

    // SPAN-level exact dedup (Lee et al. 2021): maximal per-doc runs of
    // 60-char windows shared verbatim by >= 2 documents — the verbatim
    // repetition no whole-document threshold can see. The oracle
    // recomputes spans directly from the window TEXT (no hashing at
    // all, generate_series window enumeration like q70's), so the gate
    // proves the engine's hash-candidates + verify-on-text pipeline
    // loses nothing — the q69 lossless discipline at character
    // granularity.
    "q149_substring_spans" -> ((s, dir) =>
      TextDedup.duplicateSpans(Tables.documents(s, dir)
          .withColumn("text",
            asciiGuardedText("q149")(col("doc_id"), col("text"))),
        w = 60)
        .orderBy(col("doc_id"), col("span_start"))),

    // Span-level dedup APPLIED (the Lee et al. rewrite step q149 only
    // reports): cut every duplicated span from every non-owner doc
    // (owner = min doc_id per verbatim window text) and emit the
    // cleaned corpus. Gated byte-for-byte via md5 of the RECONSTRUCTED
    // text — the gate proves the actual string surgery, not just span
    // arithmetic (23 docs genuinely cut at the gate SF).
    "q150_span_removal" -> ((s, dir) =>
      TextDedup.removeDuplicateSpans(Tables.documents(s, dir)
          .withColumn("text",
            asciiGuardedText("q150")(col("doc_id"), col("text"))),
        w = 60)
        .orderBy(col("doc_id"))),

    // SPAN-level decontamination (r11): q150's surgery aimed at a
    // BENCHMARK — corpus windows whose verbatim text appears anywhere
    // in the eval slice are cut and the cleaned corpus emitted,
    // md5-gated byte-for-byte. The graded refinement of q93's
    // whole-doc drop: a quoted eval passage costs the QUOTE, not the
    // document. Benchmark = the q93 eval slice (%20 == 3); corpus =
    // the rest; cross-split organic near-dups make the cut
    // load-bearing at every gate SF (1/2/21 docs cut).
    "q158_span_decontaminate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("text",
          asciiGuardedText("q158")(col("doc_id"), col("text")))
      TextDedup.decontaminateSpans(
        d.filter(col("doc_id") % 20 =!= 3),
        d.filter(col("doc_id") % 20 === 3), w = 60)
        .orderBy(col("doc_id"))
    }),

    // Adversarial-DIAMETER components: 4 disjoint chains over the customer
    // id space (diameter ≈ |customer|/4 — 375 at sf0.01, far past the 50
    // one-hop-per-round iterations hash-min's maxIter allows, which is
    // exactly the graph shape q70's propagation refuses by require()).
    // The large-star/small-star alternation converges in ~log₂(diameter)
    // rounds; the oracle knows the closure analytically — a chain's
    // component is its residue class's min id — so the gate proves the
    // contraction reaches the true fixpoint without the oracle having to
    // run a graph algorithm at all.
    "q96_chain_components" -> ((s, dir) => {
      val ids = Tables.customer(s, dir)
        .select(col("c_custkey").cast(LongType).as("id"))
      val w = Window.partitionBy(pmod(col("id"), lit(4L)))
        .orderBy(col("id"))
      val edges = ids
        .withColumn("nxt", lead(col("id"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("id").as("a"), col("nxt").as("b"))
      Components.connectedComponentsStars(edges)
        .orderBy(col("id"))
    }),

    // SimHash bucketing over texts with planted exact copies —
    // hash-gated since r9: the token hash is md5-low-64 (big-endian),
    // which DuckDB replays exactly — the oracle rebuilds every per-bit
    // majority vote and groups by the 64-bit signature.
    // doc_ids is stringified: the driver's checker sorts/hashes scalar
    // columns only (an array column crashed the r1 gate).
    "q27_simhash" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val copies = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      TextDedup.simhashGroups(d.unionByName(copies))
        .select(col("canonical_id"), col("group_size"),
          concat_ws(",", col("doc_ids").cast("array<string>")).as("doc_ids"))
    }),

    // Exact brute-force cosine top-k (every 50th vector queries the rest).
    "q24_ann_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.bruteTopK(e, e.filter(col("vec_id") % 50 === 0), k = 5)
    }),

    // Multi-probe LSH ANN at the gate: EXHAUSTIVE probe (probeHamming =
    // nPlanes), so the engine-internal sign-bit bucketing is provably
    // output-invisible — every query scans every bucket and the result
    // must equal the exact brute-force top-k, hash-checked against the
    // same SQL oracle as q24/q35 (the exhaustive-probe discipline that
    // graduated q35 in r6; r7 VERDICT #2 called the same move here).
    // The probeHamming < nPlanes PRUNED configuration — the 2^planes
    // scan-reduction path — stays recall-tested in ScalaTest.
    "q25_ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.lshTopK(e, e.filter(col("vec_id") % 50 === 0), k = 5,
        probeHamming = 4)
    }),

    // INCREMENTAL dedup at the gate — the production shape: a new
    // shard (every 7th vector + planted double-scaled copies of every
    // 10th corpus vector, cosine exactly 1 by scale invariance)
    // arrives against the already-deduplicated rest; only pairs with
    // an incoming side are computed or emitted, never corpus×corpus.
    // Oracle = the exact O(n·m) pair set under the same predicate.
    "q147_incremental_dedup" -> ((s, dir) => {
      val (corpus, incoming) = vecArrival(s, dir)
      Ann.cosinePairsCpIncremental(corpus, incoming, threshold = 0.4)
    }),

    // The ARTIFACT form of q147 (r9 VERDICT #2): the corpus band rows,
    // vectors, and derived parameters persist as a WRITE-ONCE parquet
    // index (Ann.writeCpIndex — written here for hermeticity, reused
    // across Bench passes via the staging-reuse token); the arriving
    // shard probes the STORED index (Ann.cosinePairsCpIndexed), never
    // re-hashing the corpus, and must reproduce the exact pair set —
    // the same O(n·m) oracle as q147. Parameter/hash-family drift
    // between an artifact and its probe REFUSES loudly (spec-pinned);
    // at 100 TB the index write amortizes across every arriving shard.
    "q148_incremental_dedup_indexed" -> ((s, dir) => {
      val (corpus, incoming) = vecArrival(s, dir)
      Ann.cosinePairsCpIndexed(cpIndexDir(s, dir), incoming,
        threshold = 0.4)
    }),

    // The SEARCH side of the q148 artifact (r10 VERDICT #3 — cpTopK
    // re-hashed the corpus per call while the stored index already
    // held exactly the band rows a probe needs): threshold-floored
    // top-k over the STORED index — per query, its top-5 corpus
    // neighbors among those at cosine >= the artifact's threshold.
    // The floor is the index's honest contract (band rows are sized
    // for recall AT the threshold, nothing below it) and what makes
    // the gate EXACT without q146's exhaustive-probe projection: the
    // oracle ranks all corpus vectors at sim >= 0.4 in plain SQL, and
    // the banded candidate stage must reproduce it under the same
    // recall bound q144/q147/q148 ride. Zero derivation jobs, zero
    // corpus hashing — (k, bands) come from the artifact's meta.
    "q151_ann_cp_search_indexed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.cpTopKIndexed(cpIndexDir(s, dir),
        e.filter(col("vec_id") % 50 === 0), k = 5, threshold = 0.4)
    }),

    // The APPEND quarter of the index lifecycle (r11): the same final
    // corpus as q147/q148, but the artifact is built as a BASE build
    // (corpus minus its %11==5 slice) plus ONE appendCpIndex epoch
    // (that slice, hashed under the artifact's frozen parameters), and
    // the same incoming shard probes the grown index — the gate runs
    // q147's exact O(n·m) oracle unchanged, so it proves
    // append ≡ monolithic build at the OUTPUT, across a parameter set
    // derived from the base count (the recall bound is
    // count-independent; only candidate-volume optimality rides the
    // count, and the append premise refuses past the derivation
    // point). Torn-append invisibility and both refusals spec-pinned.
    "q152_incremental_dedup_appended" -> ((s, dir) => {
      val (corpus, incoming) = vecArrival(s, dir)
      val idx = storedIndex("cpindex_app", dir,
          s"cpindexapp|$dir|t0.4") { idx =>
        writePinnedCpIndex(corpus,
          corpus.filter(col("vec_id") % 11 =!= 5), idx)
        Ann.appendCpIndex(idx, corpus.filter(col("vec_id") % 11 === 5))
      }
      Ann.cosinePairsCpIndexed(idx, incoming, threshold = 0.4)
    }),

    // The index lifecycle's PRODUCTION CADENCE (r11): arriving shards
    // as micro-batches, each probing the stored artifact for its pairs
    // and FOLDING IN as a new epoch before the next fires — q148+q152
    // composed into the Structured Streaming loop a 100 TB pipeline
    // runs. Each qualifying pair surfaces exactly once (its later side
    // probes when its earlier side is already corpus), so the union of
    // per-batch reports is order-independent and the exact O(n·m)
    // oracle gates the whole loop; a planted cross-batch wave pins the
    // append fold as load-bearing (IndexIngest scaladoc).
    "q156_streaming_index_ingest" -> ((s, dir) =>
      graft.streaming.IndexIngest.ingestOnce(
        s, dir, "q156_streaming_index_ingest")),

    // ---- The TEXT arrival family (r11): the MinHash analogue of
    // q147/q148/q152, because at 100 TB text dedup IS the workload.
    // Shared recipe (the q147 shape on documents): corpus = %7 != 3,
    // incoming = the %7 == 3 slice plus EXACT text copies of every
    // 10th corpus doc under shifted ids (planted J = 1 hits that
    // collide in every band deterministically). One exact O(n·m)
    // Jaccard oracle gates all three shapes — live, indexed, appended.

    // LIVE arrival: shard vs corpus in one banded MinHash join where
    // only incoming rows probe; banding (r, b) DERIVES from the
    // (threshold, targetMiss) recall bound — b bands of r slots miss
    // a pair at J >= t w.p. <= (1 - t^r)^b <= 1e-4 — never tuned.
    // Candidates verify on TRUE shingle sets, so banding misses are
    // the only approximation and they are bound by construction.
    "q153_text_incremental_dedup" -> ((s, dir) => {
      val (corpus, incoming) = textArrival(s, dir)
      TextIndex.jaccardPairsIncremental(corpus, incoming,
        threshold = 0.6)
    }),

    // The ARTIFACT form: corpus shingle sets + band rows + banding
    // persist once (TextIndex.writeJaccardIndex, the EpochStore
    // layout); the shard probes the STORE, re-shingling and re-hashing
    // NOTHING on the corpus side — same exact oracle as q153, so the
    // gate proves the roundtrip loses nothing.
    "q154_text_dedup_indexed" -> ((s, dir) => {
      val (_, incoming) = textArrival(s, dir)
      TextIndex.jaccardPairsIndexed(textIndexDir(s, dir), incoming,
        threshold = 0.6)
    }),

    // The APPEND quarter: the same final corpus built as a BASE build
    // (corpus minus its %11 == 5 slice) plus ONE appendJaccardIndex
    // epoch, probed by the same shard — append ≡ monolithic at the
    // output. Unlike the cp family there is no parameter-currency
    // premise to dodge: MinHash banding depends only on (threshold,
    // targetMiss), never the corpus count, so a grown artifact cannot
    // rot its parameters (TextIndex.appendJaccardIndex scaladoc).
    "q155_text_dedup_appended" -> ((s, dir) => {
      val (corpus, incoming) = textArrival(s, dir)
      val idx = storedIndex("txtindex_app", dir,
          s"txtindexapp|$dir|t0.6") { idx =>
        TextIndex.writeJaccardIndex(
          corpus.filter(col("doc_id") % 11 =!= 5), idx, threshold = 0.6)
        TextIndex.appendJaccardIndex(idx,
          corpus.filter(col("doc_id") % 11 === 5))
      }
      TextIndex.jaccardPairsIndexed(idx, incoming, threshold = 0.6)
    }),

    // The EXACT-dedup arrival lifecycle (r11) — the third granularity
    // of the stored-index story (embedding q148, shingle q154, now
    // whole-doc identity): the corpus's normalize+md5 fingerprint →
    // owner map persists on EpochStore; an arriving shard verdicts
    // against ONE columnar scan of it (kept / dup-of-owner), and
    // survivors fold in as a new epoch. The gate builds the index as
    // base (%11 != 5) + a PROBED slice whose kept docs append (the
    // survivors contract — at sf0.1 one fp genuinely straddles the
    // split, so the premise is load-bearing), then verdicts the q147
    // arrival shard; the oracle recomputes the two-tier owner map
    // declaratively (base min, else slice min, else incoming min).
    "q159_exact_dedup_indexed" -> ((s, dir) => {
      val (corpus, incoming) = textArrival(s, dir)
      val idx = storedIndex("fpindex", dir, s"fpindex|$dir") { idx =>
        fpBaseAndSlice(corpus, idx)
      }
      fpVerdicts(Dedup.dedupAgainstIndex(idx, incoming))
    }),

    // ---- COMPACTION (r12, r11 VERDICT #1): the fourth quarter of the
    // stored-index lifecycle all the families share — a production
    // cadence appends one epoch per micro-batch, so tableThrough's
    // file fan-in and servingState's meta walk grow O(epochs) forever.
    // `index.compact` rewrites the live row set into ONE fresh
    // epoch (meta-last, torn-safe, family meta carried verbatim) and
    // floors the artifact above the sprawl; vacuum reclaims it. One
    // gate per family pins compacted ≡ sprawled at the probe OUTPUT:
    // the exact oracles know nothing about epochs, so a compaction
    // that dropped/duplicated a single row hash-diffs.

    // cp family: base build (corpus minus %11==5) + APPEND the slice's
    // %13!=7 half + COMPACT + APPEND the %13==7 half — append →
    // compact → append interleaved, probed by the q147 shard; the
    // exact O(n·m) oracle is unchanged. Parameters pin from the FINAL
    // count (the q152 planned-growth sizing).
    "q161_cp_dedup_compacted" -> ((s, dir) => {
      val (corpus, incoming) = vecArrival(s, dir)
      val idx = storedIndex("cpindex_cmp", dir,
          s"cpindexcmp|$dir|t0.4") { idx =>
        writePinnedCpIndex(corpus,
          corpus.filter(col("vec_id") % 11 =!= 5), idx)
        val slice = corpus.filter(col("vec_id") % 11 === 5)
        Ann.appendCpIndex(idx, slice.filter(col("vec_id") % 13 =!= 7))
        Ann.index.compact(s, idx)
        Ann.appendCpIndex(idx, slice.filter(col("vec_id") % 13 === 7))
      }
      Ann.cosinePairsCpIndexed(idx, incoming, threshold = 0.4)
    }),

    // text family: base + append + COMPACT, probed by the q153 shard —
    // the exact Jaccard oracle unchanged (no parameter currency to
    // carry: MinHash banding is count-independent).
    "q162_text_dedup_compacted" -> ((s, dir) => {
      val (corpus, incoming) = textArrival(s, dir)
      val idx = storedIndex("txtindex_cmp", dir,
          s"txtindexcmp|$dir|t0.6") { idx =>
        TextIndex.writeJaccardIndex(
          corpus.filter(col("doc_id") % 11 =!= 5), idx, threshold = 0.6)
        TextIndex.appendJaccardIndex(idx,
          corpus.filter(col("doc_id") % 11 === 5))
        TextIndex.index.compact(s, idx)
      }
      TextIndex.jaccardPairsIndexed(idx, incoming, threshold = 0.6)
    }),

    // fp family: the q159 construction + COMPACT + VACUUM — the probe
    // must serve the identical verdict map from the floored, reclaimed
    // artifact (vacuum deletes every epoch below the floor, so a
    // compaction that lost a row has nothing to fall back to — the
    // gate proves the rewrite, not a lucky union with the sprawl).
    "q163_fp_dedup_compacted" -> ((s, dir) => {
      val (corpus, incoming) = textArrival(s, dir)
      val idx = storedIndex("fpindex_cmp", dir, s"fpindexcmp|$dir") { idx =>
        fpBaseAndSlice(corpus, idx)
        Dedup.index.compact(s, idx)
        Dedup.index.vacuum(s, idx)
      }
      fpVerdicts(Dedup.dedupAgainstIndex(idx, incoming))
    }),

    // The exact-dedup ingestion loop as a STREAMING gate (r11 VERDICT
    // #3 — q156's cadence at the granularity a real pipeline runs on
    // every arriving shard): document waves verdict against the stored
    // fingerprint index, their survivors fold in, and the artifact is
    // COMPACTED + VACUUMED inside the loop after every fold — the
    // full lifecycle composed. A doc verdicts exactly once and its
    // owner is the min id of the earliest tier sharing its
    // fingerprint, so one batch-free two-tier-coalesce oracle gates
    // the drained union; planted wave-C copies of wave-A docs are
    // owned across the batch boundary (premise checked loudly, present
    // at every SF by measurement).
    "q164_streaming_fp_ingest" -> ((s, dir) =>
      graft.streaming.IndexIngest.fpIngestOnce(
        s, dir, "q164_streaming_fp_ingest")),

    // The NEAR-dup TEXT granularity of the same cadence (q167): shards
    // probe the stored MinHash index for their Jaccard pairs, fold in,
    // and the two-table (docs + bands) artifact COMPACTS + VACUUMS
    // mid-drain — q164's lifecycle composition on the family whose
    // banding is count-independent (no currency step to straddle).
    // Each pair surfaces exactly once (the q156 argument), so the one
    // exact O(n·m) Jaccard oracle extended for the third wave gates
    // the whole drain batch-free.
    "q167_streaming_text_ingest" -> ((s, dir) =>
      graft.streaming.IndexIngest.textIngestOnce(
        s, dir, "q167_streaming_text_ingest")),

    // STREAMING index MAINTENANCE for the retrieval family (q170):
    // arriving waves APPEND into the stored BM25 postings index
    // (compact + vacuum per fold), and retrieval runs against the
    // grown artifact — df/N/Σdl additivity makes the maintained index
    // score bit-identically to one built whole, so the q86 oracle
    // gates the drain with no batch dependence. Every index family
    // now has its streaming cadence gated: cp q156, fp q164, text
    // q167, retrieval here.
    "q170_streaming_bm25_maintain" -> ((s, dir) =>
      graft.streaming.IndexIngest.bm25IngestOnce(
        s, dir, "q170_streaming_bm25_maintain")),

    // The IMAGE granularity of the q156/q164/q167 cadence (q175, r13 —
    // the one foreachBatch asymmetry r12 left): media waves probe the
    // stored dHash index (only the shard decodes, ever), fold in, and
    // the artifact compacts + vacuums per batch. Planted ≡ 0 mod 768
    // copies give cross-batch Hamming-0 pairs (≡ 0 mod 3 keeps a copy
    // an image, ≡ 0 mod 256 makes its raster an exact duplicate —
    // the CLAUDE.md mod-256 gotcha used deliberately); each pair
    // surfaces exactly once, so one closed-form raster oracle gates
    // the drain batch-free. Every index family's streaming cadence is
    // now gated: cp q156, fp q164, text q167, BM25 q170, image here.
    "q175_streaming_dhash_ingest" -> ((s, dir) =>
      graft.streaming.IndexIngest.dHashIngestOnce(
        s, dir, "q175_streaming_dhash_ingest")),

    // ---- STORED-INDEX lexical retrieval (r12, r11 VERDICT #4): q86
    // recomputed postings/df/lengths/stats per call — the same
    // asymmetry q148/q154/q159 closed for dedup. The corpus half
    // persists once on EpochStore; scoring is a columnar scan of the
    // query terms' postings with (N, avgdl) read from the meta as
    // literals. Same exact integer formula ⇒ the q86 oracle gates it
    // verbatim.
    "q165_bm25_indexed" -> ((s, dir) =>
      Bm25.topKIndexed(s, bm25IndexDir(s, dir),
        Seq("spark", "hash", "window"), k = 50)),

    // BATCHED retrieval against the SAME stored artifact q165 scores
    // from (one index serving both retrieval shapes — the q148/q151
    // story for lexical search): top-20 per query for the q129 query
    // slice, per-batch cost a postings scan pruned to the terms any
    // query uses. Same exact integer formula; the oracle is q129's
    // BM25 half with the same rank window.
    "q168_bm25_batched_indexed" -> ((s, dir) => {
      val queries = Tables.documents(s, dir)
        .filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("query_id"), col("text"))
      Bm25.topKPerQueryIndexed(s, bm25IndexDir(s, dir), queries, k = 20)
        .orderBy(col("query_id"), col("brank"))
    }),

    // APPEND IS EXACT BY ADDITIVITY (the refuse-vs-recompute decision
    // the r11 VERDICT asked to be pinned): df sums across epochs, N
    // and Σdl ride the meta cumulatively, avgdl recomputes at probe
    // time — so base + append + COMPACT must reproduce the monolithic
    // q86 scores bit-for-bit under the same oracle.
    "q166_bm25_index_appended" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val idx = storedIndex("bm25index_app", dir, s"bm25indexapp|$dir") { idx =>
        Bm25.writeBm25Index(d.filter(col("doc_id") % 11 =!= 5), idx)
        Bm25.appendBm25Index(idx, d.filter(col("doc_id") % 11 === 5))
        Bm25.index.compact(s, idx)
      }
      Bm25.topKIndexed(s, idx, Seq("spark", "hash", "window"), k = 50)
    }),

    // ---- DELETE / tombstone epochs (r13, r12 VERDICT #1): the LAST
    // lifecycle quarter — the layout was append-only, so a takedown /
    // retraction / corrupted-shard replacement forced a full rebuild
    // of a 100 TB artifact. A delete is one more epoch: layout-owned
    // tombstones (deletes/epoch=N) suppress older rows at probe time
    // via an epoch-qualified anti-join (so a deleted id may be
    // re-appended and serves again), the family meta shrinks in the
    // same meta-last commit, and compact folds the tombstones away
    // PHYSICALLY. One gate per family composes the full sequence —
    // build → append → DELETE → re-append half → compact → vacuum —
    // and the oracle recomputes the final state declaratively, knowing
    // nothing about epochs: probe-after-delete ≡ rebuild-without-
    // deleted is the hash-exact claim.

    // fp family: retract the live owners ≡ 2 (mod 13) — the delete set
    // is filtered from storedOwners and SNAPSHOT to parquet first
    // (lineage over a mutating artifact would silently re-read the
    // post-delete state) — then the even half re-appends BEFORE the
    // compaction, so the epoch-qualified tombstone (suppress the past,
    // serve the re-append) is live in both the probe and the rewrite.
    "q171_fp_dedup_deleted" -> ((s, dir) => {
      val (corpus, incoming) = textArrival(s, dir)
      val idx = storedIndex("fpindex_del", dir, s"fpindexdel|$dir") { idx =>
        fpBaseAndSlice(corpus, idx)
        fpRetractOwners(s, corpus, idx)
        Dedup.index.compact(s, idx)
        Dedup.index.vacuum(s, idx)
      }
      fpVerdicts(Dedup.dedupAgainstIndex(idx, incoming))
    }),

    // BM25 family: deletion is the additivity story in REVERSE — the
    // delete epoch carries NEGATIVE df rows and the shrunken (N, Σdl)
    // meta, so the probe's existing sum-across-epochs serves the
    // retracted state with zero plan change, and compact re-sums df so
    // the negatives physically cancel. Deleted index ≡ index over
    // documents-minus-deleted, bit-for-bit, under the q86 formula.
    "q172_bm25_deleted" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val idx = storedIndex("bm25index_del", dir, s"bm25indexdel|$dir") { idx =>
        Bm25.writeBm25Index(d, idx)
        Bm25.index.delete(idx,
          d.filter(col("doc_id") % 13 === 2).select("doc_id"))
        Bm25.appendBm25Index(idx,
          d.filter(col("doc_id") % 13 === 2 && col("doc_id") % 2 === 0)
            .select("doc_id", "text"))
        Bm25.index.compact(s, idx)
        Bm25.index.vacuum(s, idx)
      }
      Bm25.topKIndexed(s, idx, Seq("spark", "hash", "window"), k = 50)
    }),

    // text family: retract the stored docs ≡ 2 (mod 13) (only ≥3-word
    // docs were ever stored — storedDocIds is the liveness truth,
    // snapshot like q171's), re-append the even half, compact, vacuum;
    // both tables (docs + bands) suppress on the same tombstones. The
    // q153 oracle with the corpus minus the still-deleted docs.
    "q173_text_dedup_deleted" -> ((s, dir) => {
      val (corpus, incoming) = textArrival(s, dir)
      val idx = storedIndex("txtindex_del", dir,
          s"txtindexdel|$dir|t0.6") { idx =>
        TextIndex.writeJaccardIndex(corpus, idx, threshold = 0.6)
        val doomed = deleteSnapshot(TextIndex.index, idx,
          TextIndex.storedDocIds(s, idx).filter(col("doc_id") % 13 === 2))
        TextIndex.appendJaccardIndex(idx,
          corpus.join(doomed.filter(col("doc_id") % 2 === 0),
            Seq("doc_id"), "left_semi"))
        TextIndex.index.compact(s, idx)
        TextIndex.index.vacuum(s, idx)
      }
      TextIndex.jaccardPairsIndexed(idx, incoming, threshold = 0.6)
    }),

    // cp family: the same delete composition at the embedding
    // granularity — parameters pinned EXPLICITLY from the pre-delete
    // count (so neither the append nor the shrink can trip a currency
    // step; Ann.index documents why shrink never needs one),
    // probed by the q147 shard. With base-build-only construction,
    // every corpus vector is live, so the delete set is declarative.
    "q176_cp_dedup_deleted" -> ((s, dir) => {
      val (corpus, incoming) = vecArrival(s, dir)
      val idx = storedIndex("cpindex_del", dir,
          s"cpindexdel|$dir|t0.4") { idx =>
        writePinnedCpIndex(corpus, corpus, idx)
        Ann.index.delete(idx,
          corpus.filter(col("vec_id") % 13 === 2).select("vec_id"))
        Ann.appendCpIndex(idx,
          corpus.filter(col("vec_id") % 13 === 2 &&
            col("vec_id") % 2 === 0))
        Ann.index.compact(s, idx)
        Ann.index.vacuum(s, idx)
      }
      Ann.cosinePairsCpIndexed(idx, incoming, threshold = 0.4)
    }),

    // dHash family: the takedown composition at the image granularity
    // (the canonical delete use-case — a stored image must become
    // bytes on no disk, which the spec half of this gate pins); the
    // delete set is the stored image slice (doc_id % 3 == 0) ≡ 2
    // (mod 13), even half re-appended, probed by the %7==3 arrivals.
    "q177_dhash_deleted" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.filter(col("doc_id") % 7 =!= 3)
      val incoming = d.filter(col("doc_id") % 7 === 3)
      val idx = storedIndex("dhashidx_del", dir, s"dhashidxdel|$dir") { idx =>
        Multimodal.writeDHashIndex(corpus, idx)
        Multimodal.index.delete(idx,
          corpus.filter(col("doc_id") % 13 === 2 &&
              col("doc_id") % 3 === 0)
            .select(col("doc_id").as("media_id")))
        Multimodal.appendDHashIndex(idx,
          corpus.filter(col("doc_id") % 13 === 2 &&
            col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0))
        Multimodal.index.compact(s, idx)
        Multimodal.index.vacuum(s, idx)
      }
      Multimodal.imageDHashNearIndexed(idx, incoming)
    }),

    // ---- MinHash top-k SEARCH over the stored text index (r13, r12
    // VERDICT #4 — the q151 shape at the text granularity): per query
    // doc, the k nearest stored docs among those at Jaccard ≥ the
    // stored threshold, ranked on integer ppm (the float policy), ties
    // on ascending stored id. Shares q154's artifact — one index
    // serving pairs AND search is the deployment story. The threshold
    // floor makes the contract exact in plain SQL (q151's argument):
    // candidates from the stored banding, verified on true shingle
    // sets, ranked declaratively.
    "q174_text_jaccard_topk" -> ((s, dir) => {
      val (_, incoming) = textArrival(s, dir)
      TextIndex.jaccardTopKIndexed(textIndexDir(s, dir), incoming,
        k = 5, threshold = 0.6)
    }),

    // ---- AS-OF (time-travel) reads (r13): every epoch in
    // [floor, serving] has a complete meta and un-reclaimed data, so
    // the layout serves any historical epoch in that range exactly —
    // probes pin the horizon (later appends outside the epoch range,
    // later tombstones not suppressing, the family meta = the
    // HISTORICAL row) and an as-of below the floor refuses
    // (compaction is snapshot expiry). The gates probe ONE mutated
    // artifact at TWO horizons and the oracle recomputes each
    // historical corpus declaratively — "re-run yesterday's verdicts
    // bit-for-bit" is the 100 TB audit/reproducibility story.

    // fp family: the q171 composition WITHOUT compact/vacuum (history
    // retained), probed as-of epoch 1 (post-append, pre-delete: the
    // q159 arrival state verbatim) and as-of epoch 2 (post-delete,
    // pre-re-append: ALL %13==2 owners gone — the horizon where the
    // tombstone is visible but its re-append is not, which no serving
    // probe can ever see again).
    "q178_fp_dedup_asof" -> ((s, dir) => {
      val (corpus, incoming) = textArrival(s, dir)
      val idx = storedIndex("fpindex_asof", dir, s"fpindexasof|$dir") { idx =>
        fpBaseAndSlice(corpus, idx)
        fpRetractOwners(s, corpus, idx)
      }
      fpVerdicts(asOfUnion(1L -> Some(1), 2L -> Some(2))(asOf =>
        Dedup.dedupAgainstIndex(idx, incoming, asOf = asOf)), "as_of")
    }),

    // BM25 family: the additivity story rewound — (N, Σdl) come from
    // the HISTORICAL meta and df sums only the epochs ≤ the horizon,
    // so as-of 0 scores the base corpus with the base stats (the
    // appended docs influence NOTHING, not even avgdl) and as-of 1
    // scores the full corpus pre-delete. The serving (deleted) state
    // is q172's gate; here both horizons ride one artifact.
    "q179_bm25_asof" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val idx = storedIndex("bm25index_asof", dir,
          s"bm25indexasof|$dir") { idx =>
        Bm25.writeBm25Index(d.filter(col("doc_id") % 11 =!= 5), idx)
        Bm25.appendBm25Index(idx, d.filter(col("doc_id") % 11 === 5))
        Bm25.index.delete(idx,
          d.filter(col("doc_id") % 13 === 2).select("doc_id"))
      }
      val terms = Seq("spark", "hash", "window")
      asOfUnion(0L -> Some(0), 1L -> Some(1))(asOf =>
          Bm25.topKIndexed(s, idx, terms, k = 50, asOf = asOf))
        .select(col("as_of"), col("doc_id"), col("score_micro"),
          col("n_terms"))
        .orderBy(col("as_of"), col("score_micro").desc, col("doc_id"))
    }),

    // ---- The stored BENCHMARK-WINDOW suite (r13 — the SIXTH
    // EpochStore family): q158's benchmark half persisted as a
    // versioned artifact — the eval suite is frozen-but-versioned
    // while the corpus arrives forever, so its window set lives on
    // disk with the full lifecycle: a new benchmark wave APPENDS, a
    // leaked/retired benchmark DELETES (and stops cutting the instant
    // its tombstone commits), compact folds, vacuum reclaims. The
    // gate composes build → append → delete → re-append third →
    // compact → VACUUM and decontaminates the corpus against the
    // survivor suite; the oracle is q158's hash-free recompute over
    // exactly that benchmark set, knowing nothing about epochs.
    "q180_decontaminate_indexed" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("text",
          asciiGuardedText("q180")(col("doc_id"), col("text")))
      val corpus = d.filter(col("doc_id") % 20 =!= 3)
      val bench = d.filter(col("doc_id") % 20 === 3)
      val idx = storedIndex("deconindex", dir, s"deconindex|$dir|w60") { idx =>
        TextDedup.writeDeconIndex(
          bench.filter(col("doc_id") % 3 =!= 1), idx, w = 60)
        TextDedup.appendDeconIndex(idx,
          bench.filter(col("doc_id") % 3 === 1))
        val doomed = deleteSnapshot(TextDedup.index, idx,
          TextDedup.storedDeconDocIds(s, idx)
            .filter(col("doc_id") % 13 === 2))
        TextDedup.appendDeconIndex(idx,
          bench.join(doomed.filter(col("doc_id") % 3 === 0),
            Seq("doc_id"), "left_semi"))
        TextDedup.index.compact(s, idx)
        TextDedup.index.vacuum(s, idx)
      }
      TextDedup.decontaminateAgainstIndex(corpus, idx)
        .orderBy(col("doc_id"))
    }),

    // The suite's AS-OF story made a gate (r13): "was this corpus
    // clean against LAST month's benchmark suite" — a real compliance
    // question whose answer must use exactly the windows that suite
    // version held. One mutated artifact (base → append incl. a
    // PLANTED donor-text benchmark at id 899992 ≡ 2 mod 13 → delete
    // the ≡ 2 mod 13 benchmarks), cleaned at two horizons: as-of 1
    // has the planted benchmark live (the donor doc is guaranteed
    // fully cut at every SF), as-of 2 has it retired (the cuts
    // vanish) — the horizon delta is load-bearing by construction.
    // Corpus = the %4==1 slice (the as-of semantics don't need the
    // full-corpus floor q158/q180 already pay).
    "q181_decontaminate_asof" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("text",
          asciiGuardedText("q181")(col("doc_id"), col("text")))
      val corpus = d.filter(col("doc_id") % 20 =!= 3 &&
        col("doc_id") % 4 === 1).select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 20 === 3)
        .select("doc_id", "text")
      val planted = corpus.filter(length(col("text")) >= 120)
        .orderBy(col("doc_id")).limit(1)
        .select(lit(899992L).as("doc_id"), col("text"))
      val idx = storedIndex("deconidx_asof", dir,
          s"deconidxasof|$dir|w60") { idx =>
        TextDedup.writeDeconIndex(
          bench.filter(col("doc_id") % 3 =!= 1), idx, w = 60)
        TextDedup.appendDeconIndex(idx,
          bench.filter(col("doc_id") % 3 === 1).unionByName(planted))
        deleteSnapshot(TextDedup.index, idx,
          TextDedup.storedDeconDocIds(s, idx)
            .filter(col("doc_id") % 13 === 2))
      }
      asOfUnion(1L -> Some(1), 2L -> Some(2))(asOf =>
          TextDedup.decontaminateAgainstIndex(corpus, idx, asOf = asOf))
        .select(col("as_of"), col("doc_id"), col("orig_len"),
          col("clean_len"), col("n_cut"), col("chars_removed"),
          col("clean_md5"))
        .orderBy(col("as_of"), col("doc_id"))
    }),

    // AS-OF gated on the remaining three families (r13 — after these,
    // every one of the SIX index families has an oracle-gated
    // time-travel probe): one mutated artifact each (base %11!=5 →
    // append %11==5 → delete %13==2, NO re-append — horizon 2 is the
    // post-delete state no serving probe can see again), a FIXED
    // incoming shard probed at horizons 1 and 2, and the oracle
    // recomputes each horizon's declarative corpus. The horizon delta
    // is organic and present at every SF for text/cp (the J=1 /
    // cosine≈1 copies of deleted %10==0 originals lose their pairs).
    "q182_text_dedup_asof" -> ((s, dir) => {
      val (_, incoming) = textArrival(s, dir)
      val idx = txtAsOfIndexDir(s, dir)
      asOfUnion(1L -> Some(1), 2L -> Some(2))(asOf =>
          TextIndex.jaccardPairsIndexed(idx, incoming, threshold = 0.6,
            asOf = asOf))
        .select(col("as_of"), col("doc_a"), col("doc_b"),
          col("jaccard"))
        .orderBy(col("as_of"), col("doc_a"), col("doc_b"))
    }),

    // cp: parameters pinned explicitly from the full corpus count (the
    // q176 convention — neither the append nor the shrink can trip a
    // currency step), so the FROZEN (k, bands) are identical at every
    // horizon and a historical probe hashes under the stored rotations.
    "q183_cp_dedup_asof" -> ((s, dir) => {
      val (corpus, incoming) = vecArrival(s, dir)
      val idx = storedIndex("cpindex_asof", dir,
          s"cpindexasof|$dir|t0.4") { idx =>
        writePinnedCpIndex(corpus,
          corpus.filter(col("vec_id") % 11 =!= 5), idx)
        Ann.appendCpIndex(idx, corpus.filter(col("vec_id") % 11 === 5))
        Ann.index.delete(idx,
          corpus.filter(col("vec_id") % 13 === 2).select("vec_id"))
      }
      asOfUnion(1L -> Some(1), 2L -> Some(2))(asOf =>
          Ann.cosinePairsCpIndexed(idx, incoming, threshold = 0.4,
            asOf = asOf))
        .select(col("as_of"), col("vec_a"), col("vec_b"))
        .orderBy(col("as_of"), col("vec_a"), col("vec_b"))
    }),

    // dhash: the image horizon — the stored corpus decodes once EVER,
    // and every horizon of it is servable without a single re-decode
    // (the strongest as-of asymmetry of the six).
    "q184_dhash_asof" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.filter(col("doc_id") % 7 =!= 3)
      val incoming = d.filter(col("doc_id") % 7 === 3)
      val idx = storedIndex("dhashidx_asof", dir, s"dhashidxasof|$dir") { idx =>
        Multimodal.writeDHashIndex(
          corpus.filter(col("doc_id") % 11 =!= 5), idx)
        Multimodal.appendDHashIndex(idx,
          corpus.filter(col("doc_id") % 11 === 5))
        Multimodal.index.delete(idx,
          corpus.filter(col("doc_id") % 13 === 2 &&
              col("doc_id") % 3 === 0)
            .select(col("doc_id").as("media_id")))
      }
      asOfUnion(1L -> Some(1), 2L -> Some(2))(asOf =>
          Multimodal.imageDHashNearIndexed(idx, incoming, asOf = asOf))
        .select(col("as_of"), col("media_a"), col("media_b"),
          col("hamming"))
        .orderBy(col("as_of"), col("media_a"), col("media_b"))
    }),

    // ---- PARTIAL compaction at the gate (r14, r13 VERDICT #1 — bounded
    // history retention): the q178 composition (append×3 with a delete
    // in the middle), then a partial compact below 1 + VACUUM — epochs
    // 0-1 fold into a checkpoint, the sprawl below it physically
    // reclaims, and the artifact STILL serves horizon 1 (now the
    // checkpoint itself), horizon 2 (checkpoint + the tombstone epoch),
    // and the serving state (checkpoint + both deltas) — bit-for-bit
    // against the same declarative per-horizon oracles. The vacuum is
    // the proof the probes served the checkpoint (the q163 argument at
    // partial granularity): the original epoch-0/1 files no longer
    // exist. Housekeeping and audit reads compose instead of excluding
    // each other — the production cadence (reclaim a year of micro-batch
    // sprawl, keep last week's horizons). as_of 4 labels the serving
    // probe by its epoch number.
    "q185_fp_compact_below" -> ((s, dir) => {
      val (_, incoming) = textArrival(s, dir)
      val idx = fpCompactedBelowDir(s, dir, "cb", Nil)
      fpVerdicts(asOfUnion(1L -> Some(1), 2L -> Some(2), 4L -> None)(
        asOf => Dedup.dedupAgainstIndex(idx, incoming, asOf = asOf)),
        "as_of")
    }),

    // ---- DIFFERENTIAL reads (r14, r13 VERDICT #2 — CDC out of a
    // stored index): "what changed between horizon i and j" so an
    // incremental downstream consumer re-verdicts only the delta.
    // q186 diffs the q185 artifact (floor 1 after its partial compact —
    // the live-at-from side reads the CHECKPOINT) across the
    // delete + re-append window (1, 3]: added = the re-appended even
    // half's map entries, removed = every ≡ 2 (mod 13) owner live at
    // horizon 1 — an owner retracted and re-appended inside the
    // window appears in BOTH (honest replace semantics). The oracle
    // recomputes both sides from the declarative owner map, knowing
    // nothing about epochs, tombstones, or the checkpoint.
    "q186_fp_changes_between" -> ((s, dir) => {
      val idx = fpCompactedBelowDir(s, dir, "cb", Nil)
      Dedup.fingerprintIndexChanges(s, idx, fromEpoch = 1, toEpoch = 3)
        .orderBy(col("change"), col("owner"))
    }),

    // q187: the text granularity, diffing q182's as-of artifact across
    // the append + delete window (0, 2] — added = the appended %11==5
    // stored docs that survived the delete, removed = the base docs
    // the delete retracted (the appended-and-deleted docs appear in
    // NEITHER: the consumer at horizon 0 never saw them). The shingle
    // payloads are never read — the diff costs the delta epochs plus
    // one id-projected scan at horizon 0.
    "q187_text_changes_between" -> ((s, dir) => {
      val idx = txtAsOfIndexDir(s, dir)
      TextIndex.index.changes(s, idx, fromEpoch = 0, toEpoch = 2)
        .orderBy(col("change"), col("doc_id"))
    }),

    // ---- BOUNDED retention IN the streaming loop (r14 — what partial
    // compaction exists for at the production cadence): the q164 loop
    // housekeeps with FULL compaction, so every as-of horizon expires
    // each micro-batch; this loop folds with compact(below =
    // Some(serving − 1)) + vacuum instead — the artifact never sprawls
    // past checkpoint + one delta, yet the last pre-fold horizon stays
    // auditable. After the drain, a FIXED novel shard probes at the
    // RETAINED horizon (the post-B state, served from the mid-drain
    // checkpoint — the sub-floor epochs are loudly verified gone) and at
    // serving; the oracle recomputes both as declarative tier-coalesces.
    // Housekeeping and audit reads compose inside one streaming loop.
    "q188_streaming_fp_retained" -> ((s, dir) =>
      graft.streaming.IndexIngest.fpIngestRetainedOnce(
        s, dir, "q188_streaming_fp_retained")),

    // ---- The CDC consumer made literal (r14): a consumer holding
    // yesterday's verdicts (the q185 artifact at horizon 1) patches
    // them to today's state using ONLY fingerprintIndexChanges(1, 4)
    // — zero artifact reads beyond the delta, cost ∝ shard + delta.
    // The output must equal the full serving probe bit-for-bit, and
    // the oracle is q171's declarative serving recompute — the gate's
    // claim is that delta-patching IS re-verdicting.
    "q189_fp_incremental_reverdict" -> ((s, dir) => {
      val (_, incoming) = textArrival(s, dir)
      val idx = fpCompactedBelowDir(s, dir, "cb", Nil)
      val prior = Dedup.dedupAgainstIndex(idx, incoming, asOf = Some(1))
      val changes = Dedup.fingerprintIndexChanges(s, idx,
        fromEpoch = 1, toEpoch = 4)
      fpVerdicts(Dedup.patchVerdicts(prior, changes))
    }),

    // ---- DESCRIBE HISTORY (r14): the layout's mutation log from its
    // surviving metas — every lakehouse format's introspection
    // table-stake, driver-side only (one-row meta files; no data
    // read). Probed on the q185 artifact AFTER its partial compact +
    // vacuum, so the gate pins what the layout actually retains: the
    // checkpoint-backed floor epoch, the tombstone epoch, the
    // re-append, and the retention commit — with the floors each meta
    // recorded at ITS commit time. The oracle is the composition's
    // deterministic end state as a constant table: a structural gate
    // (the q07 precedent), not a recompute.
    "q190_epoch_history" -> ((s, dir) => {
      val idx = fpCompactedBelowDir(s, dir, "cb", Nil)
      Dedup.index.history(s, idx, "q190_epoch_history")
        .select(col("epoch").cast("long").as("epoch"),
          col("floor_at_commit").cast("long").as("floor_at_commit"),
          col("kind"), col("live").cast("long").as("live"))
        .orderBy(col("epoch"))
    }),

    // ---- ADDITIVE schema evolution (r15, r14 VERDICT #2 — the first
    // production wall after retention: rebuild-to-add-a-column at
    // 100 TB): the %11==5 survivors fold in WITH a new src_tag
    // provenance column (the one evolution parquet mixed reads handle
    // soundly — the stored prefix unchanged, the new column appended),
    // and the gate reads the live owner map ACROSS the schema boundary
    // in one scan: base-epoch rows NULL-backfill, evolved-epoch rows
    // carry the tag. The oracle recomputes the map declaratively with
    // the same NULL backfill, knowing nothing about epochs or schemas.
    // Renames/retypes/reorders still refuse (EpochSchemaSpec); the
    // additive accept + refusal edges are spec-pinned on all six
    // families.
    "q191_fp_schema_evolution" -> ((s, dir) => {
      val idx = fpEvoIndexDir(s, dir)
      Dedup.storedOwners(s, idx)
        .select(col("fp"), col("owner"), col("src_tag"))
        .orderBy(col("owner"))
    }),

    // ---- TIMESTAMP-based as-of (r15, r14 VERDICT #3 — the Delta
    // `TIMESTAMP AS OF` table-stake): the q185 composition with a
    // caller-supplied monotone clock at every mutation, probed at
    // three TIMESTAMPS instead of epoch numbers — 2500 resolves
    // between the append (2000) and the delete (3000), 3500 lands on
    // the post-delete state, 9999 on serving. The loud premise pins
    // the resolution itself (epochs 1 / 2 / 4); the oracle is the
    // q185 per-horizon recompute keyed by timestamp. Pre-floor and
    // unstamped-history refusals are spec-pinned (EpochAsOfSpec).
    "q192_fp_dedup_asof_time" -> ((s, dir) => {
      val (_, incoming) = textArrival(s, dir)
      val idx = fpCompactedBelowDir(s, dir, "ts",
        Seq(1000L, 2000L, 3000L, 4000L, 5000L))
      val resolved = Seq(2500L, 3500L, 9999L)
        .map(ts => ts -> Dedup.index.epochAtTime(s, idx, ts))
      require(resolved == Seq(2500L -> 1, 3500L -> 2, 9999L -> 4),
        "q192 premise violated: the injected commit timestamps must " +
          s"resolve to epochs 1/2/4, got $resolved — the artifact's " +
          "clock or composition drifted")
      fpVerdicts(resolved.map { case (ts, e) =>
        Dedup.dedupAgainstIndex(idx, incoming, asOf = Some(e))
          .withColumn("as_of_ts", lit(ts))
      }.reduce(_ unionByName _), "as_of_ts")
    }),

    // ---- DESCRIBE HISTORY with commit timestamps + PERSISTED kinds
    // (r15): on the timestamped artifact, history reports each
    // surviving epoch's floor-at-commit, its kind (persisted at commit
    // time since r15 — a vacuumed epoch keeps its true kind instead of
    // degrading to 'superseded'; the checkpoint label stays a
    // current-state precedence), liveness, and the commit_ts column
    // servingStateAtTime resolves against. Constant-table structural
    // oracle (the q07/q190 precedent).
    "q193_epoch_history_ts" -> ((s, dir) => {
      val idx = fpCompactedBelowDir(s, dir, "ts",
        Seq(1000L, 2000L, 3000L, 4000L, 5000L))
      Dedup.index.history(s, idx, "q193_epoch_history_ts")
        .select(col("epoch").cast("long").as("epoch"),
          col("floor_at_commit").cast("long").as("floor_at_commit"),
          col("kind"), col("live").cast("long").as("live"),
          col("commit_ts"))
        .orderBy(col("epoch"))
    }),

    // ---- The TEXT family's CDC consumer (r15, r14 VERDICT #4 —
    // closing the loop index.changes opened): yesterday's near-dup
    // verdicts (the q182 artifact at horizon 0) patch to the serving
    // state by dropping pairs whose stored side was removed and
    // re-probing the shard against ONLY the delta docs' stored bands
    // and shingles (delta-pruned scans — the corpus-sized prefix never
    // reads a row; cost ∝ shard + delta, never shard × corpus). The
    // output must equal the full serving probe bit-for-bit, and the
    // oracle is q182's horizon-2 declarative recompute — delta-
    // patching IS re-verdicting, at the near-dup granularity.
    "q194_text_incremental_reverdict" -> ((s, dir) => {
      val (_, incoming) = textArrival(s, dir)
      val idx = txtAsOfIndexDir(s, dir)
      val prior = TextIndex.jaccardPairsIndexed(idx, incoming,
        threshold = 0.6, asOf = Some(0))
      TextIndex.patchJaccardVerdicts(idx, prior, incoming,
          fromEpoch = 0, toEpoch = 2, threshold = 0.6)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Cross-polytope ANN top-k at the gate: EXHAUSTIVE probe (probes =
    // 2·d₂ = 128 — every cell), so the cell partition is provably
    // output-invisible and the result must equal the exact brute-force
    // top-k (the q25/q35 exhaustive-probe discipline applied to the
    // sub-ρ family); the pruned probe path is recall-tested in
    // ScalaTest with probe-monotonicity.
    "q146_ann_cp" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.cpTopK(e, e.filter(col("vec_id") % 50 === 0), k = 5,
        probes = 128)
    }),

    // Embedding near-dup pairs above a cosine threshold (integer-only
    // output). Exact, via the chunk-grid tiled self-join — no broadcast
    // of data rows, even n²/chunks² cells (r1's BroadcastNestedLoopJoin
    // demoted to a test-only baseline).
    "q28_cosine_pairs" -> ((s, dir) =>
      Ann.cosinePairsBlocked(Tables.embeddings(s, dir), threshold = 0.4)),

    // The same exact-pairs contract through banded sign-bit LSH +
    // verify-on-candidates — gate-proven lossless vs the O(n²) oracle.
    "q52_cosine_pairs_lsh" -> ((s, dir) =>
      Ann.cosinePairsLsh(Tables.embeddings(s, dir), threshold = 0.4)),

    // Cross-polytope LSH pairs (Andoni et al. 2015) — the sub-ρ member
    // of the q52 family (r8 VERDICT #1): same exact-verify contract,
    // same oracle, parameters DERIVED from a fixed-seed Monte-Carlo
    // estimate of the hash family's collision probabilities (bands from
    // the recall bound, hashes-per-band from corpus size). The stress
    // harness measures its scaling at the production 0.7 threshold
    // against q52's at-bound n^1.4.
    "q144_cosine_pairs_cp" -> ((s, dir) =>
      cpEmbeddingPairs(s, dir).orderBy(col("vec_a"), col("vec_b"))),

    // S2: malformed-row tolerance e2e — per-ROW corrupt capture (finer
    // than the reference's whole-chunk drop), then the pipeline over the
    // clean side. Counts pinned from the fixture's documented anatomy.
    "q08_malformed_csv" -> ((s, dir) => {
      val path = Fixtures.materializeMalformed()
      val (clean, corrupt) = CsvSource.readTxn(s, path)
      val piped = TxnTransform.pipeline(RunTs)(clean)
      clean.agg(count(lit(1)).as("n_clean"))
        .crossJoin(corrupt.agg(count(lit(1)).as("n_corrupt")))
        .crossJoin(piped.agg(count(lit(1)).as("n_pipeline")))
    }),

    // Multimodal: opaque binary payloads + typed metadata; partition-
    // batched REAL-codec decode via mapPartitions (PNG stills, PCM WAV
    // audio, multi-frame animated-GIF video), relational features after.
    "q29_media_features" -> ((s, dir) =>
      Multimodal.features(Tables.documents(s, dir))
        .orderBy(col("media_id"))),

    // Video FRAME breadth: the media table's animated-GIF payloads
    // decoded frame-by-frame (magic-byte sniffed, javax.imageio
    // sequence reader) — one gated row per (video, frame) with the
    // frame's exact gray checksum, recomputed in closed form by the
    // oracle. GIF's 256-gray palette makes the raster roundtrip
    // lossless, the same oracle contract as PNG (q29/q99).
    "q117_video_frames" -> ((s, dir) =>
      Multimodal.videoFrameFeatures(Tables.documents(s, dir))
        .orderBy(col("media_id"), col("frame_idx"))),

    // EMBEDDING near-dup corpus emit: gate-proven lossless cosine pairs
    // → connected components → survivors — the semantic-dedup
    // counterpart of q81's text pipeline (same find→cluster→drop
    // contract, embedding-space similarity instead of shingle Jaccard).
    // r9: the pair stage rides the sub-ρ CROSS-POLYTOPE path (q144's,
    // hash-identical to q52's pairs by the shared exact oracle), so the
    // END-TO-END dedup scales n^~1.07-1.3 instead of the sign family's
    // measured 1.35; the sign-banded path stays gated by q52 itself.
    // The oracle recomputes survivors from the exact O(n²) pair closure.
    "q118_embedding_dedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val pairs = cpEmbeddingPairs(s, dir)
        .select(col("vec_a"), col("vec_b"))
      val comps = Components.connectedComponents(pairs)
      val dropped = comps.filter(col("id") =!= col("comp"))
        .select(col("id").as("vec_id"))
      e.select("vec_id")
        .join(dropped, Seq("vec_id"), "left_anti")
        .join(comps.select(col("id").as("vec_id"),
          lit(true).as("in_cluster")), Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("in_cluster"), lit(false)).as("in_cluster"))
        .orderBy("vec_id")
    }),

    // Ordered conversion funnel (view → click → purchase): step k+1
    // only counts events strictly after the user's step-k time; lag
    // sums are exact integer µs. ts-VALUE-dependent ⇒ span-guarded.
    "q119_event_funnel" -> ((s, dir) =>
      Behavior.funnel(guardedEvents(s, dir, "q119_event_funnel"),
        Seq("view", "click", "purchase")).orderBy("step")),

    // Cohort retention matrix on exact integer UTC-day indices
    // (ts_us div 86400000000 — no calendar/timezone functions).
    // ts-VALUE-dependent ⇒ span-guarded.
    "q120_cohort_retention" -> ((s, dir) =>
      Behavior.cohortRetention(guardedEvents(s, dir, "q120_cohort_retention"))
        .orderBy("cohort_day", "day_offset")),

    // Data-MIXTURE rebalancing: every source deterministically
    // downsampled to the smallest source's total char mass via exact
    // integer ppm rates + the portable-hash draw (q85's arithmetic) —
    // the per-domain reweighting step of an LLM training mix.
    "q121_mixture_sample" -> ((s, dir) =>
      Sampling.mixtureSample(Tables.documents(s, dir),
          idCol = "doc_id", groupCol = "source", sizeCol = "n_chars")
        .select("doc_id", "source", "weight_ppm")
        .orderBy("doc_id")),

    // TEMPERATURE-scaled source mixing (r11): p(source) ∝ mass^α, the
    // T5/XLM-R re-weighting — materialized as per-source keep rates
    // (min_mass/mass)^(1-α) in exact ppm. α = 0.5 here; the rate's
    // quarter-power is a sqrt COMPOSITION (correctly rounded in every
    // IEEE engine) never pow() (not correctly rounded — a last-ulp
    // cross-engine diff under FLOOR flips a ppm step and the sample);
    // rows keep by the q85 portable-hash draw. q121 is the α = 0
    // point of the same family.
    "q157_temperature_mixture" -> ((s, dir) =>
      Sampling.temperatureSample(Tables.documents(s, dir),
          idCol = "doc_id", groupCol = "source", sizeCol = "n_chars",
          alpha = 0.5)
        .select("doc_id", "source", "weight_ppm")
        .orderBy("doc_id")),

    // RAG chunking: 40-token windows at stride 20 (50% overlap), chunk
    // text carried only as its md5 fingerprint — a pure narrow codegen
    // pipeline (split → sequence → posexplode → slice), zero shuffles.
    "q122_doc_chunks" -> ((s, dir) =>
      Chunker.chunk(Tables.documents(s, dir),
        sizeTokens = 40, strideTokens = 20)
        .orderBy("doc_id", "chunk_idx")),

    // Adjacent-pair sequence pattern (MATCH_RECOGNIZE-lite): error
    // immediately followed by purchase within 10 min, per user, on the
    // (ts_us, event_id)-ordered timeline. ts-VALUE-dependent ⇒ guarded.
    "q123_event_pattern" -> ((s, dir) =>
      Behavior.adjacentPattern(guardedEvents(s, dir, "q123_event_pattern"),
        first = "error", second = "purchase", maxGapUs = 600000000L)
        .orderBy("user_id")),

    // HARD-NEGATIVE mining: per query vector, the top-5 most-similar
    // corpus vectors with a DIFFERENT label — the contrastive-training
    // counterpart of q24's plain top-k (same broadcast shape, the
    // mismatch predicate rides the join condition).
    "q124_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.hardNegatives(e, e.filter(col("vec_id") % 50 === 0), k = 5)
    }),

    // Full merge_asof surface: nearest purchase BEFORE and AFTER each
    // click, each admitted only within a 30-min tolerance — one window
    // pass, no join. ts-VALUE-dependent ⇒ span-guarded.
    "q131_asof_tolerance" -> ((s, dir) =>
      Events.asofJoinTolerance(
        guardedEvents(s, dir, "q131_asof_tolerance"),
        leftType = "click", rightType = "purchase",
        toleranceUs = 30L * 60L * 1000000L)),

    // Declarative data-quality contract over the dirty view: one
    // aggregation scan for the whole rule battery (the reference ran a
    // scan per check), melted to a per-rule verdict report.
    "q133_expectations" -> ((s, dir) =>
      Stats.expectations(TxnView.dirty(s, dir), Seq(
        "null_transaction_id" -> col("transaction_id").isNull,
        "null_user_id" -> col("user_id").isNull,
        "unparseable_amount" -> (col("amount").isNotNull &&
          expr("try_cast(amount AS DOUBLE)").isNull),
        "negative_amount" -> (expr("try_cast(amount AS DOUBLE)") < 0),
        "null_status" -> col("status").isNull,
        "status_outside_enum" -> (col("status").isNotNull &&
          !lower(trim(col("status")))
            .isin("approved", "pending", "returned", "cancelled"))),
        uniqueKey = Some("transaction_id"))),

    // int8 quantized retrieval: per-vector symmetric quantization (4×
    // compression) + exact BIGINT dot kernel — integer-only scores, so
    // the gate hash-matches the full ranking, not a projection of it.
    "q128_quantized_ann" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Quant.quantizedTopK(e, e.filter(col("vec_id") % 83 === 0), k = 5)
    }),

    // Two-stage retrieval cascade: batched BM25 recall (top-20 lexical
    // candidates per query, exact integer scores) → exact embedding
    // cosine rerank (top-5) — the RAG/eval-mining retrieval shape,
    // composing the gate-proven q86 and q24 contracts.
    "q129_two_stage_retrieval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("query_id"), col("text"))
      val cands = Bm25.topKPerQuery(docs, queries, k = 20)
        .select(col("query_id"), col("doc_id").as("neighbor_id"),
          col("bm25_micro"))
      Ann.rerankTopK(cands, Tables.embeddings(s, dir), k = 5)
    }),

    // BPE merge learning (tokenizer induction, Sennrich 2016): 6
    // rounds of count-adjacent-pairs → argmax (count DESC, lex) →
    // fuse-everywhere over the word-frequency table — corpus scanned
    // once, every round vocab-sized. Round 6 learns a multi-char merge
    // ('m'+'er' at sf0.01), so the gate proves fuse APPLICATION, not
    // just counting. Completes the tokenization family (q21 stats →
    // q139 vocab → learned symbols).
    "q143_bpe_merges" -> ((s, dir) =>
      Bpe.learnMerges(Tables.documents(s, dir), k = 6)),

    // FROZEN tokenizer applied at arrival (r11): the merge table
    // learned on the %3 != 1 slice persists as an EpochStore artifact
    // (a tokenizer is immutable once frozen — deliberately NO append),
    // and the FULL corpus encodes against the store: unseen words
    // char-split and take the k stored merges in rank order, so the
    // apply corpus is independent of the learn corpus — what q145
    // (self-learned encode) cannot do. Oracle: the q143 learn chain
    // restricted to the slice, then an APPLY fuse chain over the full
    // corpus's distinct words.
    "q160_bpe_encode_frozen" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val idx = storedIndex("bpemerges", dir, s"bpemerges|$dir|k6") { idx =>
        Bpe.writeMerges(d.filter(col("doc_id") % 3 =!= 1), idx, k = 6)
      }
      Bpe.encodeWithStoredMerges(idx, d)
    }),

    // The dHash ARRIVAL index (r12) — the FIFTH granularity of the
    // stored-index story (embedding q148, shingle q154, fingerprint
    // q159, postings q165, now IMAGE perceptual hash) and the
    // strongest asymmetry of them all: the corpus half is DECODE +
    // hash, and at 100 TB the decode dwarfs every re-hash the other
    // families amortize. The corpus's dHashes + 4×16 band sub-keys
    // persist on EpochStore (built here as base + append + COMPACT +
    // VACUUM — the fifth family's full lifecycle in one gate); the
    // arriving shard decodes ONLY itself and verdicts against
    // columnar scans. Contract: every pair at Hamming <= 3 with >= 1
    // incoming side, INCLUDING Hamming 0 (an arrival identical to a
    // stored image is the most important hit), raw ids. The oracle
    // recomputes from the closed-form raster with no banding.
    "q169_image_neardup_indexed" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val corpus = d.filter(col("doc_id") % 7 =!= 3)
      val incoming = d.filter(col("doc_id") % 7 === 3)
      val idx = storedIndex("dhashindex", dir, s"dhashindex|$dir") { idx =>
        Multimodal.writeDHashIndex(
          corpus.filter(col("doc_id") % 11 =!= 5), idx)
        Multimodal.appendDHashIndex(idx,
          corpus.filter(col("doc_id") % 11 === 5))
        Multimodal.index.compact(s, idx)
        Multimodal.index.vacuum(s, idx)
      }
      Multimodal.imageDHashNearIndexed(idx, incoming)
    }),

    // Hamming-banded NEAR-duplicate image matching (r7 VERDICT #1 —
    // the one documented-but-unbuilt scale variant): exact-hash groups
    // collapse to min-id representatives, the 64-bit dHash splits into
    // 4×16-bit sub-keys (pigeonhole: Hamming ≤ 3 ⇒ one exact sub-key
    // collision), and the banded candidates get an exact bit_count
    // verify. Oracle = exact Hamming ≤ 3 pairs over the closed-form
    // raster hashes — the banded path must lose nothing (the q26/q52
    // shared-contract discipline, in image space).
    "q141_image_neardup" -> ((s, dir) =>
      Multimodal.imageDHashNear(Tables.documents(s, dir))
        .orderBy(col("media_a"), col("media_b"))),

    // Perceptual image dedup: decode → 8×9 point grid → 64-bit dHash
    // (split 32/32 for engine portability) → group-by-hash — the image
    // counterpart of q19's exact text dedup, gated against the
    // closed-form raster.
    "q130_image_dhash" -> ((s, dir) =>
      Multimodal.imageDHash(Tables.documents(s, dir))
        .orderBy("media_id")),

    // Gopher-style quality rule battery: every rule an exact integer
    // comparison (cross-multiplied mean-length bounds, 4/5 alpha
    // fraction, distinct-stopword floor) — one narrow scan, no shuffle.
    "q126_gopher_rules" -> ((s, dir) =>
      Curation.gopherRules(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Per-source OLS fit of doc char mass on word count from exact
    // DECIMAL(38,0) power sums; ppm outputs via the truncating integral
    // division both engines share (Spark div ≡ DuckDB //).
    "q127_linear_fit" -> ((s, dir) =>
      Stats.linearFit(
        Tables.documents(s, dir).select(col("source"),
          size(split(col("text"), " ")).cast("long").as("x"),
          col("n_chars").as("y")),
        groupCol = "source", xCol = "x", yCol = "y")
        .orderBy("source")),

    // Image FORMAT breadth: the same deterministic raster encoded as real
    // PNG / BMP / JPEG containers (the three the JDK codecs cover),
    // format SNIFFED from magic bytes (never trusted from metadata),
    // decoded via javax.imageio. Lossless containers gate exact pixel
    // sums; JPEG — lossy by design — gates exact resolution with a null
    // pixel_sum, the honest feature split mirrored by the oracle.
    "q99_image_formats" -> ((s, dir) =>
      Multimodal.imageFormatFeatures(Tables.documents(s, dir))
        .orderBy(col("media_id"))),

    // Salted two-phase aggregation over the skew-prone user_id key —
    // algebraic aggregates make it provably identical to a plain GROUP BY,
    // which is exactly what the oracle checks.
    "q33_salted_agg" -> ((s, dir) =>
      Skew.saltedStats(Tables.events(s, dir), key = "user_id",
        valueCol = "value", rowKey = "event_id")),

    // Term frequencies: top-5 tokens per language with deterministic
    // tiebreak (explode → count → ranked window).
    "q34_top_terms" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("term"))
      tok.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy(col("lang"), col("rank"))
    }),

    // IVF ANN at the gate: EXHAUSTIVE probe (nprobe = nCells), so the
    // engine-internal learned centroids are provably output-invisible —
    // every query scans every cell of the index it trained, and the
    // result must equal the exact brute-force top-k, hash-checked
    // against the same SQL oracle as q24 (the q28/q52 shared-oracle
    // discipline: the indexed path must lose nothing). The nprobe <
    // nCells PRUNED configuration — the 100 TB scan-reduction path — is
    // the same machinery with a smaller slice() and stays recall-tested
    // in ScalaTest (r5 VERDICT #6: gate the engine-independent
    // projection, shrink rows-only).
    "q35_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Ann.ivfTopK(e, e.filter(col("vec_id") % 50 === 0), k = 5, nprobe = 8)
    }),

    // Set operations: INTERSECT / EXCEPT over two deterministic doc sets.
    "q36_set_ops" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val en = d.filter(col("lang") === "en").select("doc_id")
      val src1 = d.filter(col("source") === "src1").select("doc_id")
      en.intersect(src1).withColumn("op", lit("intersect"))
        .unionByName(en.except(src1).withColumn("op", lit("except")))
        .select("op", "doc_id")
        .orderBy("op", "doc_id")
    }),

    // Semi/anti joins: customers with vs without orders.
    "q37_semi_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey")).withColumn("has_orders", lit(true))
      val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey")).withColumn("has_orders", lit(false))
      withO.unionByName(without).orderBy("c_custkey")
    }),

    // Pivot: event counts per user cohort × event type (explicit value
    // list keeps the output schema static).
    "q38_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("cohort", col("user_id") % 10)
        .groupBy(col("cohort"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .orderBy("cohort")),

    // Exact interpolated percentiles (median/p90) per group — integral
    // quantities make the interpolation arithmetic engine-identical.
    "q39_percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // Statistical moments from exact decimal power sums: mean/var/stddev
    // become deterministic closed-form arithmetic on exact sums (naive
    // two-pass-free moment computation that survives any partition order).
    "q40_moments" -> ((s, dir) => {
      val d = col("l_extendedprice").cast(DecimalType(18, 2))
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(d).cast(DoubleType).as("s1"),
          sum(d * d).cast(DoubleType).as("s2"))
        .select(col("l_returnflag"), col("n"),
          (col("s1") / col("n")).as("mean"),
          ((col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - lit(1))).as("variance"))
        .orderBy(col("l_returnflag"))
    }),

    // JSON sink + schema'd JSON scan (second text source format),
    // verified by aggregate parity like the CSV roundtrip.
    "q41_json_roundtrip" -> ((s, dir) => {
      val out = artifactDir("json_roundtrip", dir)
      val c = cleaned(s, dir)
      c.write.mode("overwrite").json(out)
      val back = s.read.schema(c.schema).json(out)
      back.agg(
        count(lit(1)).as("n_rows"),
        sum(col("amount").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_amount"),
        countDistinct(col("status")).as("n_statuses"))
    }),

    // Date-dimension rollup: extract year/month (identical semantics in
    // both engines, unlike day-of-week numbering).
    // JSON → typed MapType → explode (the props-as-map story; q17 keeps
    // the scalar-path extraction).
    "q42_props_map" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(explode(from_json(col("props"), MapType(StringType, LongType)))
          .as(Seq("key", "value")))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
        .orderBy(col("key"))),

    "q43_date_rollup" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("revenue"))
        .orderBy(col("o_year"), col("o_month"))),

    // Pearson correlation from exact decimal power sums — deterministic
    // under any partition order (same technique as q40's moments).
    "q44_correlation" -> ((s, dir) => {
      val x = col("l_quantity").cast(DecimalType(18, 2))
      val y = col("l_extendedprice").cast(DecimalType(18, 2))
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast(DoubleType).as("sx"),
          sum(y).cast(DoubleType).as("sy"),
          sum(x * x).cast(DoubleType).as("sxx"),
          sum(y * y).cast(DoubleType).as("syy"),
          sum(x * y).cast(DoubleType).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    }),

    // Histogram: fixed-width price bins via floor arithmetic (engine-
    // neutral, unlike width_bucket variants).
    "q45_histogram" -> ((s, dir) =>
      Tables.orders(s, dir)
        .withColumn("bin",
          expr("CAST(FLOOR(o_totalprice / 50000) AS BIGINT)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("bin"))),

    // Sketch percentiles — the one-pass bounded-memory variant of q39
    // (t-digest-style; engine-specific ⇒ rows-only, accuracy vs the
    // exact percentile asserted in ScalaTest).
    "q46_approx_percentile" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("p50"),
          expr("approx_percentile(l_extendedprice, 0.99, 1000)").as("p99"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // Bounded window frame: trailing-3-orders moving average per customer
    // (complements q13's unbounded running frame).
    "q47_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      Tables.orders(s, dir)
        .withColumn("trailing3_avg",
          (sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType) /
            count(lit(1)).over(w)).as("trailing3_avg"))
        .select("o_custkey", "o_orderkey", "trailing3_avg")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Navigation + distribution window functions over a GLOBAL order,
    // executed as the two-pass range-partitioned plan (GlobalWindow):
    // r1's Window.orderBy-with-no-partition forced all rows into one task.
    "q48_lead_lag_ntile" -> ((s, dir) =>
      GlobalWindow.ntileLagDesc(
          Tables.customer(s, dir).select("c_custkey", "c_acctbal"),
          "c_acctbal", "c_custkey", buckets = 4)
        .select(col("c_custkey"), col("c_acctbal"),
          col("ntile_bucket").cast("int").as("quartile"),
          (col("c_acctbal") -
            coalesce(col("prev_value"), col("c_acctbal"))).as("gap_to_prev"))
        .orderBy(col("c_custkey"))),

    // CUBE grouping sets (all 4 combinations of the two keys).
    "q49_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),

    // Edit-distance near-dup: name pairs within an edit distance of 2,
    // blocked on the 15-char name PREFIX — a key whose cardinality grows
    // with the data (r1 blocked on c_nationkey: 25 values forever, so
    // block size — and O(block²) DP work — grew linearly with n; the
    // prefix holds block size at ≤1000 for this data while block count
    // scales). UNSAMPLED: the full pair set is gated (r1 probed every
    // 10th key, silently changing the contract). The oracle mirrors the
    // same blocked join; levenshtein is computed ONCE per candidate
    // (withColumn after the equi-join), not re-evaluated in a join
    // condition and a projection.
    "q50_name_neardup" -> ((s, dir) => {
      // TextDedup.blockedEditPairs carries the r5-VERDICT loud blocking
      // premise: fixed-width "Customer#NNNNNNNNN" names free exactly the
      // last 3 digits under a 15-char prefix, so blocks are structurally
      // ≤ 1000 at ANY scale factor — a skewed distribution fails loud
      // instead of going quadratic silently.
      val pairs: DataFrame = TextDedup.blockedEditPairs(
        Tables.customer(s, dir)
          .select(col("c_custkey").as("id"), col("c_name").as("name")),
        prefixLen = 15, maxDist = 2, maxBlock = 1000L)
        .select(col("id_a").as("cust_a"), col("id_b").as("cust_b"),
          col("edit_dist"))
      // scoped cache: the global sort's range-sampling pass would
      // otherwise re-execute the join (the expensive part) a second time
      CacheScope.scoped(pairs).orderBy(col("cust_a"), col("cust_b"))
    }),

    // Scale-safe record linkage (r7 VERDICT #3): the q50 contract
    // through segment-pigeonhole (PassJoin-style) candidates — a hot
    // name-prefix block degrades to bounded per-key equi-join work
    // instead of tripping blockedEditPairs' maxBlock premise. Gated
    // against q50's EXACT oracle: the refined path must lose nothing.
    "q142_linkage_segmented" -> ((s, dir) => {
      val pairs: DataFrame = segmentedCustomerPairs(s, dir)
        .select(col("id_a").as("cust_a"), col("id_b").as("cust_b"),
          col("edit_dist"))
      // scoped cache: the global sort's range-sampling pass would
      // otherwise re-execute the segment join a second time
      CacheScope.scoped(pairs).orderBy(col("cust_a"), col("cust_b"))
    }),

    // S8 closed as a gate-visible query: partition-pruned point read.
    // The staging table is written partitionBy(status); the point filter
    // must prune to ONE directory (PartitionFilters in the executed plan
    // — asserted in SourcesAndDedupSpec), and the aggregate over the
    // pruned read must match the oracle computing the same slice.
    "q53_partition_prune" -> ((s, dir) => {
      val out = artifactDir("partitioned", dir)
      cleaned(s, dir).write.mode("overwrite")
        .partitionBy("status").parquet(out)
      s.read.parquet(out).filter(col("status") === "approved")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("amount").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_amount"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Winnowing-style rolling-hash fingerprint groups (the substring-
    // robust complement of q20's whole-text hash) — hash-gated since
    // r9: the oracle replays the Rabin-Karp walk byte-for-byte in
    // HUGEINT mod-2^64 arithmetic; properties stay in PlansSpec.
    "q51_rolling_fp" -> ((s, dir) => {
      graft.plans.GraftFunctions.register(s)
      val d = Tables.documents(s, dir)
      val copies = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      d.unionByName(copies)
        .select(col("doc_id"),
          asciiGuardedFp(col("doc_id"), col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("group_size"))
        .filter(col("group_size") >= 2)
        .orderBy(col("canonical_id"))
    }),

    // ORC sink + schema'd ORC scan — the third columnar format as a
    // gate-visible query (parity check mirrors q41's JSON roundtrip).
    "q54_orc_roundtrip" -> ((s, dir) => {
      val out = artifactDir("orc_roundtrip", dir)
      val c = cleaned(s, dir)
      c.write.mode("overwrite").orc(out)
      val back = s.read.schema(c.schema).orc(out)
      back.agg(
        count(lit(1)).as("n_rows"),
        sum(col("amount").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_amount"),
        countDistinct(col("user_id")).as("n_users"))
    }),

    // Explicit GROUPING SETS — independent per-key marginals in one pass
    // (completes the rollup/cube family of q32/q49).
    "q55_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))),

    // RANGE window frame (time-based, vs q47's ROWS frame): trailing
    // 30-day revenue per customer. The frame is keyed on epoch seconds —
    // a fixed 86400 s day in both engines, so the peer sets are
    // identical; all peers of a tied order date share one frame value.
    "q56_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        // NTZ has no direct long cast; via TIMESTAMP under the pinned UTC
        // session the epoch seconds are unambiguous
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400, 0)
      Tables.orders(s, dir)
        .withColumn("trailing30d_rev",
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType))
        .select("o_custkey", "o_orderkey", "trailing30d_rev")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Deterministic train/val/test split + stratified counts — the
    // reproducible-subsampling op every training-data pipeline needs.
    // The split key is MULTIPLICATIVE HASHING in plain BIGINT arithmetic
    // (Knuth's 2654435761 over a bounded residue), NOT an engine hash
    // function: both engines compute the identical value, so the split
    // is oracle-verifiable and reproducible on any engine. The residue
    // bound (id % 100003) keeps the product far from 2^63 at any scale
    // (on overflow Spark ANSI throws and DuckDB raises Out of Range —
    // either way the unbounded form dies at large ids).
    "q61_deterministic_split" -> ((s, dir) => {
      val bucket = pmod(pmod(col("doc_id"), lit(100003L)) * lit(2654435761L),
        lit(1000L))
      Tables.documents(s, dir)
        .withColumn("split",
          when(bucket < 800, "train")
            .when(bucket < 900, "val")
            .otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"), col("split"))
    }),

    // Per-label embedding pooling (the group-centroid / mean-pooling op
    // of an embedding pipeline) in FIXED-POINT arithmetic: each
    // component is scaled and floored to an integer (float→double exact,
    // one correctly-rounded multiply, FLOOR before the int cast — every
    // step mirrored verbatim in the oracle), then integer-summed.
    // Integer sums are partition-order-free, so the aggregate is
    // deterministic on any cluster — the double-sum form would not be.
    // Consumers recover the mean as s / (n * 1e7).
    "q62_embedding_pool" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"),
          posexplode(graft.functions.VecFns.toDouble(col("embedding")))
            .as(Seq("p", "v")))
        .select(col("label"), (col("p") + 1).cast(LongType).as("d"),
          floor(col("v") * lit(1.0e7)).as("scaled")) // floor is already LONG
        .groupBy(col("label"), col("d"))
        .agg(count(lit(1)).as("n"), sum(col("scaled")).as("s"))
        .orderBy(col("label"), col("d"))),

    // Ranking window family: rank/dense_rank/percent_rank/cume_dist over
    // a deliberately COARSE order key (1000-unit balance bands) so ties
    // exist and rank ≠ dense_rank; tie groups share identical outputs, so
    // the result is deterministic without a full tiebreak. first_value
    // rides a fully tie-broken window (ties would make it order-dependent).
    "q58_rank_family" -> ((s, dir) => {
      val coarse = floor(col("c_acctbal") / 1000)
      val wC = Window.partitionBy(col("c_nationkey")).orderBy(coarse.desc)
      val wT = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir).select(
        col("c_nationkey"), col("c_custkey"),
        rank().over(wC).as("rnk"),
        dense_rank().over(wC).as("drnk"),
        percent_rank().over(wC).as("prnk"),
        cume_dist().over(wC).as("cdist"),
        first_value(col("c_custkey")).over(wT).as("richest_cust"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    }),

    // Unpivot (wide → long) via stack + re-aggregation: the inverse of
    // q38's pivot; three measure columns melt into (metric, value) rows
    // in one pass with no join or union of scans.
    "q59_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          expr("""stack(3, 'discount', l_discount, 'price', l_extendedprice,
                        'quantity', l_quantity) AS (metric, value)"""))
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
        .orderBy(col("l_returnflag"), col("metric"))),

    // STRUCTURED STREAMING at the gate: the hourly rollup as an
    // AvailableNow streaming job (incremental micro-batches + stateful
    // window aggregation) whose drained memory-sink result is
    // hash-compared against the SAME DuckDB oracle as batch q16.
    "q57_streaming_rollup" -> ((s, dir) =>
      graft.streaming.EventStreams.hourlyRollupOnce(
        s, dir, "graft_q57_" + dir.replaceAll("[^A-Za-z0-9_]", "_"))),

    // UPDATE output mode at the gate (closing the mode matrix):
    // per-batch changed-window emissions, reconstructed to final state
    // via latest-batch-per-key, must equal the batch rollup; premises
    // assert cross-batch merge AND only-changed-keys emission.
    "q132_streaming_update_rollup" -> ((s, dir) =>
      graft.streaming.EventStreams.updateRollupOnce(
        s, dir, "graft_q132_" + dir.replaceAll("[^A-Za-z0-9_]", "_"))),

    // TTLConfig expiry on the v2 handles: a 1 ms-TTL counter state must
    // be GONE between micro-batches (each emission reads the possibly-
    // expired prior — a failed eviction would emit early+late and break
    // the hash) while the no-TTL seq state in the same processor
    // persists. Oracle recomputes per-half counts from the identical µs
    // midpoint split.
    "q115_streaming_ttl_state" -> ((s, dir) =>
      graft.streaming.EventStreams.ttlVisitCountsOnce(
        s, dir, "q115_streaming_ttl_state")),

    // TWO chained stateful operators in ONE streaming query: cross-batch
    // dedup state feeding hourly window state under event-time Append
    // semantics — planted second-batch duplicates die in the dedup
    // operator, a sentinel batch flushes every finalized window. The
    // oracle is the plain batch rollup, proving the chain end-to-end.
    "q114_streaming_dedup_rollup" -> ((s, dir) =>
      graft.streaming.EventStreams.dedupRollupOnce(
        s, dir, "q114_streaming_dedup_rollup")),

    // CHECKPOINT-RESTART recovery: the q114 chained-stateful pipeline
    // run as TWO query instances over ONE checkpoint + parquet file
    // sink — run 2 must not re-read run 1's file (offset log), must
    // kill duplicates against RESTORED dedup state, and must flush
    // window state on the sentinel; the read-back goes through the
    // sink's _spark_metadata commit log. Oracle = the same batch
    // rollup, proving exactly-once output across the restart.
    "q116_streaming_restart" -> ((s, dir) =>
      graft.streaming.EventStreams.dedupRollupRestartOnce(
        s, dir, "q116_streaming_restart")),

    // STATEFUL streaming at the gate: the flatMapGroupsWithState
    // sessionizer over two time-ordered micro-batches — per-user session
    // state provably survives the batch boundary, and the drained final
    // updates hash-match batch q18's oracle.
    "q60_streaming_sessionize" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionizeOnce(
        s, dir, gapMinutes = 30,
        "graft_q60_" + dir.replaceAll("[^A-Za-z0-9_]", "_"))),

    // The SAME sessionizer on Spark 4's transformWithState (arbitrary
    // stateful processing v2): named typed state handles + the mandatory
    // RocksDB changelog store — the state backend that holds when per-key
    // state outgrows executor heap at 100 TB. Gated against q60's
    // IDENTICAL oracle: batch form, v1 API, and v2 API must agree
    // row-for-row.
    "q103_streaming_tws_sessionize" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionizeTwsOnce(
        s, dir, gapMinutes = 30,
        "graft_q103_" + dir.replaceAll("[^A-Za-z0-9_]", "_"))),

    // S7's STREAMING form at the gate: watermark-bounded dedup must drop
    // byte-identical duplicates planted in a LATER micro-batch, leaving
    // aggregates equal to the raw table's (the oracle's view).
    "q63_streaming_dedup" -> ((s, dir) =>
      graft.streaming.EventStreams.dedupOnce(
        s, dir, "graft_q63_" + dir.replaceAll("[^A-Za-z0-9_]", "_"))),

    // Watermark LATE-DATA DROP at the gate: the earliest third of the
    // stream arrives LAST, after the watermark has advanced past it, and
    // the append-mode window agg must refuse every row of it — the oracle
    // aggregates only the on-time two-thirds (EventStreams.lateDropOnce).
    "q64_streaming_late_drop" -> ((s, dir) =>
      graft.streaming.EventStreams.lateDropOnce(
        s, dir, "graft_q64_" + dir.replaceAll("[^A-Za-z0-9_]", "_"))),

    // STREAM-STREAM interval join at the gate: clicks staged as
    // micro-batch 1, views as micro-batch 2, so every attribution pair
    // must cross batches through two-sided join state; the oracle is the
    // plain batch interval join (EventStreams.intervalJoinOnce).
    "q72_streaming_interval_join" -> ((s, dir) =>
      graft.streaming.EventStreams.intervalJoinOnce(
        s, dir, "graft_q72_" + dir.replaceAll("[^A-Za-z0-9_]", "_"))),

    // The typed grouped-map batch surface (flatMapGroups — Scala's
    // applyInPandas analogue) at the gate: per-user ordered timeline
    // features, integer-exact, checked by a DuckDB window oracle.
    "q65_grouped_transform" -> ((s, dir) =>
      GroupedTransform.userTimeline(guardedEvents(s, dir, "q65_grouped_transform"))),

    // Reproducible stratified subsample: the 20 smallest-hash docs per
    // language, two-phase top-k (no giant per-stratum sort at scale).
    "q66_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedTopK(Tables.documents(s, dir), "lang", "doc_id",
        k = 20)),

    // Salted skew JOIN: fact rows salt into 8 sub-keys, the supplier dim
    // replicates across them, join runs on (key, salt) — and the salt
    // cancels out, so the oracle is the PLAIN join + rollup.
    "q67_salted_join" -> ((s, dir) =>
      Skew.saltedJoin(
          Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber",
            "l_suppkey", "l_extendedprice"),
          Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
            .withColumnRenamed("s_suppkey", "l_suppkey"),
          key = "l_suppkey", factRowKey = "l_orderkey")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("revenue"))
        .orderBy(col("s_nationkey"))),

    // Schema EVOLUTION across parquet batches (the 100 TB lake reality:
    // old shards lack columns added later). Batch 1 is written WITHOUT
    // processed_at, batch 2 with it; the mergeSchema read unions the
    // field sets and back-fills nulls, and the aggregate proves exactly
    // which rows carry the late column. Oracle recomputes from the
    // cleaned CTE (same pattern as q07's roundtrip parity).
    "q68_schema_merge" -> ((s, dir) => {
      val out = artifactDir("schema_merge", dir)
      val c = cleaned(s, dir)
      // deterministic batch split on the row key's parity of length+last
      // digit is overkill — parity of try_cast to split evenly: use the
      // portable residue of transaction_id's numeric form
      // coalesce makes the split TOTAL: under three-valued logic a row
      // whose transaction_id failed the cast (pmod NULL) would satisfy
      // neither filter(_old) nor filter(!_old) and silently vanish from
      // both batches while the oracle still counts it (r3 advisor). The
      // cleaned pipeline guarantees numeric ids today; this guards the
      // operator, not the data.
      val withB = c.withColumn("_old",
        coalesce(
          pmod(expr("try_cast(transaction_id AS BIGINT)"), lit(2L)),
          lit(1L)) === 0)
      withB.filter(col("_old")).drop("_old", "processed_at")
        .write.mode("overwrite").parquet(s"$out/batch=0")
      withB.filter(!col("_old")).drop("_old")
        .write.mode("overwrite").parquet(s"$out/batch=1")
      s.read.option("mergeSchema", "true").parquet(s"$out/batch=0", s"$out/batch=1")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("processed_at").isNull, 1L).otherwise(0L))
            .as("n_legacy_rows"),
          sum(col("amount").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_amount"))
    }),

    // Small-file COMPACTION at the gate: stage the cleaned table as 64
    // tiny files (the streaming-writer reality), compact to size-derived
    // file counts, and prove content parity by aggregate against the
    // cleaned CTE oracle (q07 pattern). File-count mechanics are asserted
    // in SourcesAndDedupSpec; the gate proves no row was lost or doubled.
    "q71_compaction" -> ((s, dir) => {
      val base = artifactDir("compaction", dir)
      cleaned(s, dir).repartition(64)
        .write.mode("overwrite").parquet(s"$base/small")
      val compacted = graft.sources.Compaction.compactParquet(
        s, s"$base/small", s"$base/compact")
      compacted.agg(
        count(lit(1)).as("n_rows"),
        sum(col("amount").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_amount"),
        countDistinct(col("user_id")).as("n_users"))
    }),

    // Incremental load via DYNAMIC partition overwrite — the lake upsert
    // for partition-keyed batches: re-delivering one partition's
    // corrected data replaces ONLY that directory; untouched partitions
    // keep their exact files (asserted in SourcesAndDedupSpec). The
    // correction doubles pending amounts (×2 is an exponent bump —
    // exact in binary FP, so the decimal-cast parity is unaffected).
    "q73_partition_upsert" -> ((s, dir) => {
      val base = artifactDir("partition_upsert", dir)
      val c = cleaned(s, dir)
      c.write.mode("overwrite").partitionBy("status").parquet(base)
      c.filter(col("status") === "pending")
        .withColumn("amount", col("amount") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("status").parquet(base)
      s.read.parquet(base)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("amount").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_amount"))
        .orderBy(col("status"))
    }),

    // Streaming CDC-apply: foreachBatch + MERGE maintain a keyed serving
    // table across two time-split micro-batches (update/insert/delete by
    // tombstone); final state must equal the latest-non-error event per
    // user over the whole table — the oracle computes exactly that.
    "q82_streaming_cdc_apply" -> ((s, dir) =>
      graft.streaming.EventStreams.cdcApplyOnce(s, dir,
        "q82_streaming_cdc_apply")),

    // Benchmark decontamination: the eval set (docs with doc_id%20==3,
    // standing in for a leaked benchmark) is fingerprint-matched and its
    // copies dropped from the training corpus — broadcast anti-join on
    // the q20 oracle-proven normalized fingerprint, no corpus shuffle.
    "q80_decontaminate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.decontaminate(d, d.filter(col("doc_id") % 20 === 3))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // End-to-end near-dup dedup: q26's lossless LSH pairs → connected
    // components → EMIT the cleaned corpus (canonical per cluster +
    // singletons). The oracle recomputes survivors from the exact O(n²)
    // pair closure, so the gate proves the full find→cluster→drop
    // pipeline, not just the pair list.
    "q81_dedup_corpus" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = TextDedup.jaccardPairsLsh(d, threshold = 0.6)
        .select(col("doc_a"), col("doc_b"))
      val comps = Components.connectedComponents(pairs)
      val dropped = comps.filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"))
      d.select("doc_id")
        .join(dropped, Seq("doc_id"), "left_anti")
        .join(comps.select(col("id").as("doc_id"),
          lit(true).as("in_cluster")), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("in_cluster"), lit(false)).as("in_cluster"))
        .orderBy("doc_id")
    }),

    // Product-quantization ANN: corpus encoded as 8×4-bit centroid codes
    // (256 B → 8 B per vector — the representation a 100 TB embedding
    // store actually scans); search is integer ADC over a broadcast
    // per-query LUT. Learned codebooks are engine-internal ⇒ rows-only;
    // recall vs the exact baseline asserted in ScalaTest (embeddings are
    // unit-norm, so L2 ranking ≡ cosine ranking).
    "q79_pq_ann" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Pq.adcTopK(e, e.filter(col("vec_id") % 50 === 0), k = 5)
    }),

    // TF-IDF top terms per document — rational idf (N/df; ln is not
    // cross-engine bit-stable), integer-exact score_micro, df derived
    // from the (doc, term) counts so raw tokens are aggregated once.
    "q74_tfidf" -> ((s, dir) =>
      TfIdf.topTerms(Tables.documents(s, dir), k = 3)),

    // Bloom-filter semi-join reduction: the filter (built on the dim
    // side, broadcast as one row) prunes fact rows BEFORE the join's
    // exchange; false positives die in the exact join, so the plain-join
    // oracle proves the pruning lossless. Spec asserts the filter
    // actually prunes and admits every true match.
    "q75_bloom_join" -> ((s, dir) => {
      val dim = Tables.part(s, dir).filter(col("p_size") <= 5)
      val fact = BloomJoin.prune(Tables.lineitem(s, dir), dim,
        factKey = "l_partkey", dimKey = "p_partkey")
      fact.join(dim, fact("l_partkey") === dim("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("revenue"))
        .orderBy(col("p_brand"))
    }),

    // Row-level MERGE INTO: deletes for keys %10 ∈ {0,1}, updates (price
    // ×2 — exact exponent bump) for %10 ∈ {2,3,4}, inserts at key+10M
    // (price +0.5 — exact power of two) for %10 = 5. Matched-ness is
    // decided by the full-outer join, not the feed's claim; the oracle
    // recomputes the same MERGE with SQL CASE routing.
    "q76_merge_into" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val changes =
        o.filter(col("o_orderkey") % 10 <= 1)
          .select(col("o_orderkey"),
            lit(null).cast(DoubleType).as("o_totalprice"),
            lit(true).as("tombstone"))
          .unionByName(
            o.filter((col("o_orderkey") % 10).between(2, 4))
              .select(col("o_orderkey"),
                (col("o_totalprice") * 2).as("o_totalprice"),
                lit(false).as("tombstone")))
          .unionByName(
            o.filter(col("o_orderkey") % 10 === 5)
              .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
                (col("o_totalprice") + 0.5).as("o_totalprice"),
                lit(false).as("tombstone")))
      Merge.mergeInto(o, changes, key = "o_orderkey",
          payload = Seq("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // SCD type-2 history: per-customer order-priority runs collapsed to
    // validity intervals with change suppression; lead() closes each
    // interval with the next run's start.
    "q77_scd2" -> ((s, dir) =>
      Scd2.history(
        Tables.orders(s, dir).withColumnRenamed("o_orderpriority", "prio"),
        entity = "o_custkey", attr = "prio", ts = "o_orderdate",
        tiebreak = "o_orderkey")
        .select("o_custkey", "version", "prio", "valid_from", "valid_to",
          "is_current", "n_obs")),

    // Z-order clustering: Morton code over (custkey, price bucket);
    // per-curve-segment bounding boxes prove two-dimensional locality
    // (each bucket owns a small rectangle, the data-skipping premise).
    // The physical clusterByZ write path is asserted in its spec.
    "q78_zorder" -> ((s, dir) => {
      val coords = Tables.orders(s, dir).select(
        col("o_orderkey"),
        col("o_custkey").cast(LongType).as("x"),
        floor(col("o_totalprice") / 256.0).cast(LongType).as("y"))
      coords
        .withColumn("zval", ZOrder.zval(col("x"), col("y"), bits = 11))
        .groupBy(shiftright(col("zval"), 14).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("bucket"))
    }),

    // XML sink + schema'd XML scan — Spark 4's NATIVE xml data source as
    // the fourth roundtrip format (after CSV/JSON/ORC), verified by the
    // same aggregate-parity contract. DuckDB cannot read XML, so the
    // oracle aggregates the cleaned CTE directly: parity proves the
    // encode→decode cycle lossless for every row and column.
    "q83_xml_roundtrip" -> ((s, dir) => {
      val out = artifactDir("xml_roundtrip", dir)
      val c = cleaned(s, dir)
      c.write.mode("overwrite").option("rowTag", "txn").format("xml")
        .save(out)
      val back = s.read.option("rowTag", "txn").schema(c.schema)
        .format("xml").load(out)
      back.agg(
        count(lit(1)).as("n_rows"),
        sum(col("amount").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_amount"),
        countDistinct(col("user_id")).as("n_users"))
    }),

    // Sequence PACKING: documents walked in doc_id order land in
    // fixed-token-budget shards (shard = tokens-before DIV budget) — the
    // "pack the corpus into ~N-token training files" step. The operator
    // is the two-pass range-partitioned global cumsum (no single-task
    // window); the oracle is the naive SQL window cumsum it must equal.
    "q84_pack_sequences" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      Packing.packByBudget(d, "doc_id", "n_tokens", budget = 2048L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("token_sum"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"))
    }),

    // Deterministic quality-WEIGHTED sampling: inclusion probability
    // n_chars·2500 ppm (saturating at 1 — docs of ≥400 chars always
    // kept), decided by the engine-portable multiplicative hash, so the
    // oracle reproduces the exact sample. A pure narrow filter: no
    // shuffle, no RNG state.
    "q85_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id",
          least(lit(1000000L), col("n_chars") * lit(2500L)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(asc_nulls_first("lang"))),

    // BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed bag-of-words
    // query, in exact integer arithmetic (rational idf, one floor DIV
    // per term — see Bm25.scaladoc); top-50 via TakeOrdered.
    "q86_bm25" -> ((s, dir) =>
      Bm25.topK(Tables.documents(s, dir),
        Seq("spark", "hash", "window"), k = 50)),

    // Fixed-iteration integer PageRank over the bidirected part↔supplier
    // co-occurrence graph from lineitem (suppliers offset to a disjoint
    // id space). 3 rounds, fixed-point ppb ranks; the oracle unrolls the
    // identical rounds as plain CTEs. Top-100 via TakeOrdered.
    "q87_pagerank" -> ((s, dir) => {
      val pairs = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("p"),
          (col("l_suppkey") + lit(10000000L)).as("sp"))
        .distinct()
      val edges = pairs.select(explode(array(
          struct(col("p").as("src"), col("sp").as("dst")),
          struct(col("sp").as("src"), col("p").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      PageRank.ranks(edges, iters = 3)
        .orderBy(col("rank_ppb").desc, col("node_id"))
        .limit(100)
    }),

    // VariantType semi-structured path: props parsed ONCE into Spark 4's
    // binary variant encoding, typed extraction via variant_get (q42
    // keeps the MapType story; this is the open-ended-schema form a lake
    // stores when keys are not known up front).
    "q88_variant_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(variant_get(try_parse_json(col("props")), "$.k", "bigint")
          .as("v"))
        .groupBy(pmod(col("v"), lit(10L)).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
        .orderBy(asc_nulls_first("k_mod"))),

    // EventTimeTimeout state expiry: per-SESSION emission where each
    // user's final session can only emit via the fired timer (no later
    // event closes it) — the state-timeout surface q57-q91 don't touch.
    "q92_streaming_session_timeout" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionEmitOnce(s, dir, gapMinutes = 30,
        "q92_streaming_session_timeout")),

    // The engine's NATIVE sessionizer at the gate: session_window's
    // inclusive merge (t ≤ last + gap, spec-verified at the µs boundary)
    // is exactly the fold's diff ≤ gap, so the unadjusted gap must
    // produce the same per-session rows as the stateful forms; gated on
    // q92/q109's shared oracle, making it the FOURTH independent
    // implementation of the session contract to hash-match.
    "q113_session_window" -> ((s, dir) =>
      Events.sessionWindows(guardedEvents(s, dir, "q113_session_window"), gapMinutes = 30)
        .orderBy(col("user_id"), col("session_idx"))),

    // v2 MapState at the gate: per-user per-event-type tallies where the
    // RocksDB map touches only the bumped sub-key (a ValueState would
    // rewrite the whole map per event). Monotone counts across the two
    // staged batches ⇒ final = max per (user, type); oracle = the plain
    // batch GROUP BY.
    "q112_streaming_type_counts" -> ((s, dir) =>
      graft.streaming.EventStreams.typeCountsOnce(s, dir,
        "q112_streaming_type_counts")),

    // The batch→streaming STATE HANDOFF at the gate: sessionizer
    // bootstrapped from batch-computed state over the early half
    // (StatefulProcessorWithInitialState), streaming only the late half
    // — and the result must equal sessionizing EVERYTHING (q60's
    // oracle). The migration path for replacing checkpoints a new
    // operator can't read.
    "q111_streaming_bootstrap" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionizeBootstrapOnce(s, dir,
        gapMinutes = 30, "q111_streaming_bootstrap")),

    // v2 ListState at the gate: last-5-per-user recency ranking whose
    // O(K) RocksDB list buffer provably carries across the two staged
    // micro-batches (rows carry a monotone per-key emission sequence;
    // the harness keeps each user's final ranking). Oracle = the batch
    // recency window.
    "q110_streaming_lastk" -> ((s, dir) =>
      graft.streaming.EventStreams.lastKEventsOnce(s, dir, k = 5,
        "q110_streaming_lastk")),

    // q92's per-session timer emission on transformWithState EVENT-TIME
    // TIMERS (registerTimer / handleExpiredTimer + RocksDB) — the timer
    // half of the v2 API that q103's state-only form doesn't exercise.
    // Same fold, same tombstone numbering ⇒ gated on q92's identical
    // oracle: v1 timeout, v2 timer, and the batch gaps-and-islands must
    // agree row-for-row.
    "q109_streaming_tws_timer" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionEmitTwsOnce(s, dir,
        gapMinutes = 30, "q109_streaming_tws_timer")),

    // ProcessingTimeTimeout TTL eviction: per-user visit state that a
    // quiet micro-batch expires (hard remove) while flowing data re-arms
    // it — the wall-clock expiry surface q92's event-time timer can't
    // show. Batch layout plants gap-split, single-batch, and merged
    // visits by cohort; the oracle reconstructs the layout and groups
    // consecutive-batch islands per user.
    "q98_streaming_ttl_visits" -> ((s, dir) =>
      graft.streaming.EventStreams.visitEmitOnce(s, dir,
        "q98_streaming_ttl_visits")),

    // LEFT-OUTER stream-stream interval join: unmatched clicks must
    // survive state eviction and emit with nulls once a sentinel batch
    // advances the watermark — the eviction semantics q72 cannot show.
    "q91_streaming_outer_join" -> ((s, dir) =>
      graft.streaming.EventStreams.outerIntervalJoinOnce(s, dir,
        "q91_streaming_outer_join")),

    // FULL-OUTER stream-stream interval join: BOTH sides' unmatched rows
    // emit on their own watermark-driven evictions — the right-side
    // eviction path q91's left-outer form never reaches, closing the
    // join-type matrix (q72 inner / q91 left / q125 full).
    "q125_streaming_full_outer_join" -> ((s, dir) =>
      graft.streaming.EventStreams.fullOuterIntervalJoinOnce(s, dir,
        "q125_streaming_full_outer_join")),

    // Within-doc repetition metric (Gopher-style duplicate-trigram
    // fraction in ppm): the self-repetition quality signal no
    // inter-document dedup sees.
    "q95_repetition" -> ((s, dir) =>
      LangModel.repetitionPpm(Tables.documents(s, dir), n = 3)),

    // Stream-static broadcast enrichment at the gate (was spec-only):
    // per-micro-batch join to the static customer dim + Complete-mode
    // rollup; oracle is the plain batch join + rollup.
    "q94_streaming_enrich" -> ((s, dir) =>
      graft.streaming.EventStreams.enrichOnce(s, dir,
        "q94_streaming_enrich")),

    // 13-gram OVERLAP decontamination (the GPT-3-style stronger form of
    // q80): any doc sharing one word-13-gram with the eval set drops —
    // catches partial quotations a whole-doc fingerprint misses. Eval
    // grams broadcast; no corpus-sized shuffle.
    "q93_ngram_decontaminate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.ngramDecontaminate(d, d.filter(col("doc_id") % 20 === 3))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // q93's decontamination through the BLOOM-FILTERED path: benchmark
    // grams → broadcast bloom bits, corpus grams probed by the codegen
    // predicate (shuffle-free map discard), exact semi-join confirm over
    // survivors only. Gated against q93's IDENTICAL oracle SQL — the
    // proof the bloom pass is lossless. mBits=2^18 at ~10k benchmark
    // grams ⇒ FPR ~2e-4 AND a cache-resident filter (see BloomJoin
    // sizing note), so the confirm join sees a near-empty stream.
    "q97_ngram_decontaminate_bloom" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.ngramDecontaminateBloom(d,
          d.filter(col("doc_id") % 20 === 3))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // CCNet-style cross-document boilerplate removal over 10-word
    // segments: a fixed header planted on doc_id % 3 = 0 (both engines
    // build the identical corpus) must be deleted from every carrier and
    // nothing else touched — the oracle reassembles each document in
    // closed form. Detection is one keyed shuffle; deletion is map-side
    // via the broadcast boilerplate set (small BY DEFINITION — see
    // Curation scaladoc).
    "q100_boilerplate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit(Curation.header + " "), col("text")))
          .otherwise(col("text")).as("text"))
      // the DuckDB oracle's constant-bound segment index (range(0, 32))
      // caps docs at 320 words; a longer doc must fail LOUDLY here, not
      // as a confusing tail-segment row-diff at the gate (assert
      // threaded through the used column so pruning can't silence it)
      val guarded = docs.select(col("doc_id"),
        when(assert_true(size(split(col("text"), " ")) <= 320,
          concat(lit("q100 premise: doc exceeds the oracle's 320-word " +
            "bound: "), col("doc_id"))).isNull, col("text")).as("text"))
      Curation.removeBoilerplate(guarded).orderBy(col("doc_id"))
    }),

    // The curation funnel: lang-ID gate (q22's primitive) + token floor +
    // quality score (q23's primitive) + top-10-per-source diversity cap.
    // The only shuffle is the per-source ranking window — never a global
    // sort; doubles follow the q23 precedent (identical expression shape
    // on both sides), with doc_id pinning tied scores.
    "q101_curation_funnel" -> ((s, dir) =>
      Curation.curateCorpus(Tables.documents(s, dir))
        .orderBy(col("source"), col("q_rank"))),

    // Batch band self-join re-expressed as an EQUI-join: bucket µs time
    // by the 30-min band, left rows emitted into {b, b+1}, exact band
    // predicate inside the hash join — every time-ordered pair within the
    // band found exactly once, one keyed shuffle instead of a per-key
    // O(n²) theta-join. Gated against DuckDB's native inequality join.
    "q102_band_join" -> ((s, dir) =>
      RangeJoin.selfBandJoin(guardedEvents(s, dir, "q102_band_join"), 30L * 60 * 1000000)
        .orderBy(col("user_id"), col("id_a"), col("id_b"))),

    // Media-shard ingestion through the binaryFile SOURCE: executor-side
    // scatter of one real PNG per doc, directory scanned back as
    // (path, content), id recovered from the path, real decode — the
    // whole shard lifecycle gated against the closed-form raster oracle.
    "q105_binaryfile_roundtrip" -> ((s, dir) =>
      Multimodal.binaryRoundtripFeatures(Tables.documents(s, dir),
          artifactDir("binshard", dir))
        .orderBy(col("media_id"))),

    // Per-node triangle counting over the co-purchase graph (customers
    // sharing >= 3 distinct parts), degree-ORIENTED so wedge volume is
    // bounded Σ C(outdeg≤√m, 2) regardless of hot customers — the
    // published scale construction. Oracle counts naively with three
    // id-ordered joins.
    // Vocabulary induction + OOV coverage: top-20 corpus vocab
    // (TakeOrdered, deterministic tiebreak) broadcast as one sorted
    // array row; per-doc OOV mass as exact integral ppm — the
    // tokenizer-fit signal (V=20 of this corpus's 31 terms ⇒ ~1/3 of
    // token mass lands OOV, so the measurement is load-bearing).
    "q139_vocab_oov" -> ((s, dir) =>
      Vocab.oovCoverage(Tables.documents(s, dir), vocabSize = 20)),

    // Length-bucketed batch assignment: power-of-two token bands,
    // consecutive batchSize docs per bucket share a batch — per-bucket
    // global rank via the q84 two-pass range plan (no per-bucket
    // global sort).
    "q140_length_batches" -> ((s, dir) =>
      Packing.lengthBucketBatches(Tables.documents(s, dir),
        batchSize = 8)),

    // Observation API (CollectMetrics): the pipeline's profile harvested
    // from the SAME action that materializes it — observe → noop write →
    // 1-row metrics frame; oracle = the q04 aggregates over cleaned.
    "q138_observed_profile" -> ((s, dir) =>
      Stats.observedProfile(cleaned(s, dir))),

    // Entity resolution end-to-end: gate-proven edit pairs → connected
    // components → canonical entity per customer (singletons keep
    // themselves) — the find→cluster→canonicalize contract of q81/q118
    // applied to RECORD LINKAGE. r8: the pair stage rides the
    // SEGMENTED path (q142's, hash-identical to q50's blocked pairs by
    // the shared oracle), so the end-to-end pipeline survives a hot
    // prefix block instead of tripping maxBlock; the blocked loud-
    // premise variant stays exercised by q50 itself.
    "q136_entity_resolution" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val pairs = segmentedCustomerPairs(s, dir)
        .select(col("id_a"), col("id_b"))
      val comps = Components.connectedComponents(pairs)
      c.select("id")
        .join(comps, Seq("id"), "left_outer")
        .select(col("id").as("cust_id"),
          coalesce(col("comp"), col("id")).as("entity_id"))
        .withColumn("entity_size", count(lit(1)).over(
          Window.partitionBy(col("entity_id"))))
        .orderBy("cust_id")
    }),

    // Hourly resample + forward fill per event_type: every (type, hour)
    // cell exists — observed cells carry exact counts/sums, gaps carry
    // n=0 and the last observed sum. ts-VALUE-dependent ⇒ span-guarded.
    "q137_resample_fill" -> ((s, dir) =>
      TimeSeries.resampleFill(
        guardedEvents(s, dir, "q137_resample_fill"),
        keyCol = "event_type", bucketUs = 3600000000L)),

    // k-core of the co-purchase graph (k=3): iterative degree peel with
    // a loud 32-round convergence premise — the oracle unrolls exactly
    // 32 peel rounds, so a deeper cascade refuses instead of diffing.
    // Completes the graph family (components / PageRank / triangles).
    "q134_kcore" -> ((s, dir) =>
      // edge derivation shared with q108 (coPurchaseEdges — one
      // definition, bench-time parquetOnce, identity in Verify/tests)
      KCore.kCore(coPurchaseEdges(s, dir), k = 3, maxRounds = 32)),

    // BPE ENCODE — the apply side of q143's merge learning: per-doc
    // exact (n_words, n_chars, n_tokens) under the 6 self-learned
    // merges. Encoding rides the learn loop's final word table (vocab-
    // sized broadcast join), so the corpus pays ONE extra map pass.
    "q145_bpe_encode" -> ((s, dir) =>
      Bpe.encodeCounts(Tables.documents(s, dir), k = 6)),

    // Containment-ratio decontamination: per (corpus doc, benchmark
    // item), distinct shared 5-grams / the item's distinct 5-grams —
    // the graded audit view behind q93's boolean drop rule; benchmark
    // docs flag themselves at exactly 10⁶ ppm (planted positives).
    "q135_containment_decon" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.containmentDecontaminate(d,
        d.filter(col("doc_id") % 20 === 3))
    }),

    // edge derivation via Triangles.coOccurrenceEdges: one keyed
    // shuffle, map-side C(k,2) pair generation, map-combinable count —
    // and the r5-VERDICT hot-key premise made LOUD: TPC-H's
    // customers-per-part is scale-invariant (measured max 49 at
    // sf0.01, 53 at sf0.1), so 256 is generous headroom while
    // bounding any part's pair volume to C(256,2) ≈ 33k. The stage is
    // shared with q134 (coPurchaseEdges — bench-time parquetOnce).
    "q108_triangles" -> ((s, dir) =>
      Triangles.perNodeTriangles(coPurchaseEdges(s, dir))
        .orderBy(col("node"))),

    // Contamination forensics: longest shared token RUN per doc pair
    // (positional 13-grams → diagonal gaps-and-islands). The corpus gets
    // planted twins (doc_id % 5 = 0 docs copied with their first 25
    // words + a unique tail), so known 25-token runs exist alongside the
    // corpus's own genuine near-duplicates; the oracle rebuilds both.
    "q107_shared_runs" -> ((s, dir) => {
      // oracle gram positions are masked range(1, 128) ⇒ docs are capped
      // at 139 words (pos + 12 ≤ len); fail loudly, not as a row-diff
      val base = Tables.documents(s, dir).select(col("doc_id"),
        when(assert_true(size(split(col("text"), " ")) <= 139,
          concat(lit("q107 premise: doc exceeds the oracle's 139-word " +
            "bound: "), col("doc_id"))).isNull, col("text")).as("text"))
      val twins = base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(
            array_join(slice(split(col("text"), " "), 1, 25), " "),
            lit(" twin"), col("doc_id").cast(StringType),
            lit(" filler padding words here to break any accidental run"))
            .as("text"))
      TextDedup.sharedRuns(base.unionByName(twins))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Interval OVERLAP self-join under the same bucketing discipline as
    // q102: per-event intervals of planted bounded length (≤ 35 min),
    // bucket width = the bound, ≤ 2 buckets per interval, and the
    // overlap-start attribution predicate lands each intersecting pair
    // exactly once. Gated against DuckDB's native inequality join.
    "q106_overlap_join" -> ((s, dir) => {
      val iv = guardedEvents(s, dir, "q106_overlap_join").select(
        col("event_type").as("key"), col("event_id").as("id"),
        col("ts_us").as("s"),
        (col("ts_us") +
          (pmod(col("event_id"), lit(7L)) + 1) * 300000000L).as("e"))
      RangeJoin.overlapJoin(iv, 35L * 60 * 1000000)
        .select(col("key").as("event_type"), col("id_a"), col("id_b"),
          col("overlap_us"))
        .orderBy(col("event_type"), col("id_a"), col("id_b"))
    }),

    // Count-min-sketch heavy hitters with exact confirm, on a corpus
    // given a Zipf-like tail (3 planted rare tokens per doc, so vocab
    // grows with corpus size while 31 common words stay heavy). The CMS
    // candidate pass is lossless by the sketch's one-sided error — the
    // oracle is the naive GROUP BY ... HAVING, proving it.
    "q104_heavy_hitters" -> ((s, dir) => {
      val id = col("doc_id").cast(StringType)
      val corpus = Tables.documents(s, dir).select(
        concat(col("text"), lit(" r"), id, lit("a r"), id, lit("b r"),
          id, lit("c")).as("text"))
      Sketches.heavyHitters(
          corpus.select(explode(split(col("text"), " ")).as("word")), 100L)
        .orderBy(col("cnt").desc, col("word"))
    }),

    // Corpus-trained MLE bigram LM scoring (the cheap fluency/quality
    // signal of a curation pipeline): one tokenize pass, model counts
    // derived without re-reading tokens, integer-exact per-instance
    // floor(1e6·c12/c1) — see LangModel scaladoc.
    "q89_bigram_lm" -> ((s, dir) =>
      LangModel.bigramScore(Tables.documents(s, dir))),

    // PII redaction at the gate: deterministic email+phone markers are
    // injected from doc_id (both engines build the identical string), the
    // engine-agreeing regex subset scrubs them, and the oracle verifies
    // counts and exact length deltas per language. A pure codegen map —
    // no shuffle beyond the final small rollup.
    "q90_pii_redact" -> ((s, dir) => {
      val pii = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast(StringType), lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast(StringType), 4, "0"))
          .as("text"))
      pii.withColumn("clean", graft.functions.Redact.pii(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("clean").contains("<EMAIL>"), 1L).otherwise(0L))
            .as("n_email"),
          sum(when(col("clean").contains("<PHONE>"), 1L).otherwise(0L))
            .as("n_phone"),
          sum(length(col("text")) - length(col("clean"))).as("len_delta"))
        .orderBy(asc_nulls_first("lang"))
    }),

    // S1+S4: CSV sink then schema'd CSV scan, verified by aggregate parity.
    "q07_csv_roundtrip" -> ((s, dir) => {
      // path keyed by the sanitized sfDir: runs at different scale
      // factors must not clobber each other's roundtrip artifacts (and
      // the suffix stays traceable to its source, unlike a hash)
      val out = artifactDir("csv_roundtrip", dir)
      CsvSource.writeCsv(cleaned(s, dir), out)
      val schema = StructType(Seq(
        StructField("transaction_id", StringType),
        StructField("user_id", StringType),
        StructField("amount", DoubleType),
        StructField("ts", StringType),
        StructField("status", StringType),
        StructField("processed_at", StringType)))
      val back = s.read.option("header", "true").schema(schema).csv(out)
      back.agg(
        count(lit(1)).as("n_rows"),
        sum(col("amount").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_amount"),
        countDistinct(col("user_id")).as("n_users"))
    })
  )
}
