package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-based deduplication.
  *
  * The reference gets dedup implicitly from SQLite `INSERT OR REPLACE` on
  * the `transaction_id` primary key (reference: src/core/db_manager.py:135)
  * — last-writer-wins where "last" is thread-completion order, i.e.
  * nondeterministic (reference: src/file_manager.py:131 `as_completed`).
  * We define the survivor deterministically by an explicit total order
  * (SURVEY.md §7): a window `row_number` over the key, ordered by the
  * caller's priority columns plus the key itself as final tiebreak.
  *
  * Scale: one hash-shuffle on the key; AQE handles skewed keys. No
  * collect(), no global sort.
  */
object Dedup {

  /** Keep exactly one row per key: the first under `order` (descending
    * priority columns supplied by the caller, e.g. batch DESC).
    */
  def lastWriterWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Aggregation-based last-writer-wins: the survivor is the row whose
    * `orderCols` struct is MAXIMAL (field-by-field, all-descending
    * priority). Plans as a SortAggregate (struct aggregation buffers are
    * not hash-aggregable — verified on the executed plan) but, unlike the
    * window form, runs `partial_max_by` BEFORE the shuffle: duplicate and
    * hot keys collapse map-side, so shuffle volume is bounded by distinct
    * keys — the property that matters for skew at 100 TB.
    *
    * `payload` are the non-key output columns; `orderCols` must be
    * non-null for a total order.
    */
  def lastWriterWinsAgg(df: DataFrame, keys: Seq[String],
      payload: Seq[String], orderCols: Seq[String]): DataFrame = {
    val winner = max_by(
      struct(payload.map(col): _*),
      struct(orderCols.map(col): _*)).as("__w")
    df.groupBy(keys.map(col): _*)
      .agg(winner)
      .select(keys.map(col) ++ payload.map(p => col(s"__w.$p")): _*)
  }

  /** Exact duplicate-group detection by an arbitrary derived key (e.g. a
    * text hash): one row per group with the minimal id as canonical
    * representative plus the group size. Groups of size 1 are unique docs.
    */
  def exactGroups(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))

  // --------------------------------------------------------------------
  // The EXACT-dedup ARRIVAL lifecycle (r11) — the third granularity of
  // the stored-index family story (embedding cosine: q148/q151/q152;
  // MinHash shingle Jaccard: q154/q155; and now whole-document exact
  // identity), on the same graft.sources.EpochStore layout. The
  // fingerprint is TextFns.fingerprint (normalize + md5, the q20
  // oracle-proven recipe), so the whole path is exactly gateable.

  /** The fp family on the shared lifecycle. The id is bumped if the
    * normalize+md5 recipe ever changes. Owners are disjoint across
    * epochs by the append premise, so the compacted union IS the map —
    * compaction moves bytes, never rows (q163 gate). Its id-only
    * changes name owners; [[fingerprintIndexChanges]] carries the fp.
    */
  val index: graft.sources.IndexFamily = graft.sources.IndexFamily(
    "fp-md5-norm-v1", "writeFingerprintIndex",
    "probing across fingerprint versions treats every stored doc as " +
      "novel",
    Seq(graft.sources.EpochStore.CompactTable("fps", Some("owner"))),
    "fps", "owner")

  /** (doc_id, fp) for the given docs. NULL text → NULL fp: such a doc
    * has no content to match and is always its own owner downstream.
    */
  private def fps(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextFns.fingerprint(col("text")).as("fp"))

  /** Persist the corpus's fingerprint → owner map as epoch 0:
    * `fps/epoch=N` (fp, owner = min doc_id per distinct fp; NULL fps
    * are not stored — a NULL has no identity to collide with) and a
    * one-row `meta_N` (family, corpus_count, fp_count, epoch). Deletes
    * any previous artifact at `dir` first — the EpochStore contract
    * (single writer; a rebuild reading this artifact's own files must
    * build to a fresh directory).
    */
  def writeFingerprintIndex(corpus: DataFrame, dir: String,
      commitTs: Option[Long] = None): Unit = {
    val spark = corpus.sparkSession
    val f = graft.CacheScope.scoped(fps(corpus))
    val counts = f.agg(count(lit(1)).as("n"),
      count_distinct(col("doc_id")).as("nd")).head()
    require(counts.getLong(0) == counts.getLong(1),
      "writeFingerprintIndex: doc_id is not one id space — " +
        s"${counts.getLong(0) - counts.getLong(1)} duplicate id(s) " +
        "within the corpus; re-key upstream.")
    val owners = f.filter(col("fp").isNotNull)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("owner"))
    graft.sources.EpochStore.deleteAll(spark, dir)
    writeFpEpoch(spark, dir, 0, owners, counts.getLong(0),
      commitTs = commitTs)
  }

  private def writeFpEpoch(spark: org.apache.spark.sql.SparkSession,
      dir: String, epoch: Int, owners: DataFrame,
      totalCount: Long, floor: Int = 0,
      allowAdditive: Boolean = false,
      commitTs: Option[Long] = None): Unit = {
    import spark.implicits._
    val meta = Seq((index.id, totalCount, epoch))
      .toDF("family", "corpus_count", "epoch")
    graft.sources.EpochStore.writeEpoch(dir, epoch,
      Seq("fps" -> owners), meta, floor,
      allowAdditive = allowAdditive, commitTs = commitTs)
  }

  /** Broadcast cap for the shard side of [[dedupAgainstIndex]]'s probe
    * (r11 ADVICE: this path must not silently couple to the ANN cap's
    * sizing argument). A fingerprint row is ~2× a cp band row — a
    * 32-char md5 string (~56 B with UTF-8 + offsets) plus a long
    * doc_id vs (long, int, long) — so half the row budget keeps the
    * SAME heap reasoning: 4M rows ≈ ~800 MB hashed at ~200 B/row,
    * ~2× transiently during build, comfortable on the 8 GB heap and
    * still orders of magnitude above every gate/stress shard. Past
    * the cap the probe falls back to the plain shuffled left join,
    * which completes.
    */
  private[graft] val MaxBroadcastFpRows: Long = 4L * 1000 * 1000

  private case class FpIndexState(floor: Int, epoch: Int, count: Long)

  private def fpState(spark: org.apache.spark.sql.SparkSession,
      dir: String, who: String, asOf: Option[Int] = None)
      : FpIndexState = {
    val st = index.serving(spark, dir, who, asOf)
    FpIndexState(st.floor, st.epoch,
      st.meta.getAs[Long]("corpus_count"))
  }

  /** Verdict an arriving shard against the stored corpus: per incoming
    * doc — its fingerprint, its OWNER (the stored owner if the fp is
    * already corpus, else the smallest incoming doc_id sharing it),
    * and `kept` (it IS its own owner). NULL-fp docs (NULL text) are
    * always kept as their own owner — a NULL has no identity to
    * collide with, and SQL join/group NULL semantics would otherwise
    * diverge between "no match" (joins) and "one group" (aggregates).
    *
    * Per-shard cost: the shard fingerprints in one map stage (and
    * broadcasts, size-gated) against ONE columnar scan of the stored
    * (fp, owner) table — corpus growth costs that scan, never a
    * re-fingerprint. Survivors then fold in via
    * [[appendFingerprintIndex]]; the probe→append loop runs live as
    * q164's streaming cadence. The trailing `orderBy` exists ONLY for
    * deterministic gating — a throughput consumer should drop it; at
    * 100 TB it is a global sort downstream plans do not need.
    */
  def dedupAgainstIndex(indexDir: String, incoming: DataFrame,
      asOf: Option[Int] = None): DataFrame = {
    val spark = incoming.sparkSession
    // asOf (r13 — time-travel probes over the mutating artifact, the
    // convention shared by every family probe): the shard verdicts
    // against the owner map exactly as it stood when epoch `asOf`
    // committed — later appends invisible, later tombstones not
    // suppressing (EpochStore.servingStateAt pins the horizon) — so
    // yesterday's verdicts re-run bit-identically on an artifact that
    // has since appended, deleted, and re-appended. History retention
    // is the floor (compaction is snapshot expiry); same plan, pure
    // partition pruning.
    val st = fpState(spark, indexDir, "dedupAgainstIndex", asOf)
    probeAgainst(spark, indexDir, st, incoming, "dedupAgainstIndex")
  }

  private def probeAgainst(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, st: FpIndexState, incoming: DataFrame,
      who: String): DataFrame = {
    val inc = graft.CacheScope.scoped(fps(incoming))
    val counts = inc.agg(count(lit(1)).as("n"),
      count_distinct(col("doc_id")).as("nd")).head()
    require(counts.getLong(0) == counts.getLong(1),
      s"$who: doc_id is not one id space — " +
        s"${counts.getLong(0) - counts.getLong(1)} duplicate id(s) " +
        "within the incoming shard; re-key upstream.")
    val stored = graft.sources.EpochStore.tableThroughLive(spark,
      indexDir, "fps", "owner", st.floor, st.epoch)
      .select(col("fp"), col("owner").as("_stored_owner"))
    // The shard must be the BROADCAST side and the stored table must
    // STREAM — but Spark cannot build the preserved (left) side of a
    // left-outer join, so a hinted `inc LEFT JOIN stored` silently
    // ignores the hint and, past the stored table's auto-broadcast
    // size, shuffles the corpus-sized stored side per shard (r11
    // second review — the regenerated plan proved the first cut's
    // hint was a no-op). Shape it as hits ∪ misses instead: an INNER
    // join with the shard as build side (stored streams), then the
    // shard's non-matches by a shard-sized anti join. An oversized
    // shard falls back to the plain shuffled left join, which
    // completes.
    val joined =
      if (counts.getLong(0) <= MaxBroadcastFpRows) {
        // read twice (union + the misses anti join) — pinned
        val hits = graft.CacheScope.scoped(
          stored.join(broadcast(inc.filter(col("fp").isNotNull)),
              Seq("fp"))
            .select(col("doc_id"), col("fp"), col("_stored_owner")))
        val misses = inc
          .join(broadcast(hits.select("doc_id")), Seq("doc_id"),
            "left_anti")
          .withColumn("_stored_owner", lit(null).cast("long"))
          .select(col("doc_id"), col("fp"), col("_stored_owner"))
        hits.unionByName(misses)
      } else inc.join(stored, Seq("fp"), "left")
    val incMin = Window.partitionBy(col("fp"))
    joined
      .withColumn("_inc_min", min(col("doc_id")).over(incMin))
      .withColumn("owner", when(col("fp").isNull, col("doc_id"))
        .otherwise(coalesce(col("_stored_owner"), col("_inc_min"))))
      .withColumn("kept", col("doc_id") === col("owner"))
      .select(col("doc_id"), col("fp"), col("owner"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Fold a deduped shard's SURVIVORS into the artifact as epoch N+1.
    * Three loud premises: one id space within the shard; no appended
    * doc_id already stored as an owner; and — the survivors contract —
    * no appended FINGERPRINT already stored (appending a doc whose fp
    * is already corpus would create two owners for one identity;
    * append what [[dedupAgainstIndex]] marked `kept`, not the raw
    * shard). Shard-internal duplicate fps collapse to their min-id
    * owner (they are one identity arriving together). No parameter
    * currency exists to check: a fingerprint map has no parameters.
    *
    * `evolve` (r15 — ADDITIVE schema evolution, r14 VERDICT #2): new
    * columns appended to this epoch's (fp, owner) rows — e.g. a
    * provenance tag or per-owner quality score a production pipeline
    * starts recording mid-life. Earlier epochs NULL-backfill at read
    * time (the one evolution parquet mixed reads handle soundly), so
    * a 100 TB artifact gains the column without a rebuild; the
    * widened schema then IS the stored schema — later appends carry
    * it (backfill `lit(null).cast(<stored type>)` — a bare
    * `lit(null)` is NullType and refuses as drift) or widen
    * further. Names must be new
    * (replacing `fp`/`owner` is drift, not evolution) and expressions
    * are evaluated against the aggregated owner map (`fp`, `owner`
    * columns in scope). The q191 gate pins the cross-boundary read.
    *
    * `commitTs` (r15): caller-supplied commit timestamp for
    * timestamp-based as-of — see [[graft.sources.EpochStore.writeEpoch]].
    */
  def appendFingerprintIndex(indexDir: String, survivors: DataFrame,
      evolve: Seq[(String, Column)] = Seq.empty,
      commitTs: Option[Long] = None): Unit = {
    val spark = survivors.sparkSession
    val st = fpState(spark, indexDir, "appendFingerprintIndex")
    val f = graft.CacheScope.scoped(fps(survivors))
    val stored = graft.sources.EpochStore.tableThroughLive(spark,
      indexDir, "fps", "owner", st.floor, st.epoch)
    val owners = f.filter(col("fp").isNotNull)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("owner"))
    // all three premises (dup, id-clash, fp-clash) fused into ONE
    // action (r15 — Checks): three one-row aggregates that each paid a
    // full driver job round-trip at drain cadence
    val Seq(dup, idc, fpc) = Checks.counts(
      f.agg(count(lit(1)).as("n"),
        count_distinct(col("doc_id")).as("nd")),
      f.select(col("doc_id").as("owner"))
        .join(stored.select("owner"), Seq("owner"), "left_semi")
        .agg(count(lit(1)).as("c")),
      owners.select("fp")
        .join(stored.select("fp"), Seq("fp"), "left_semi")
        .agg(count(lit(1)).as("c")))
    val counts = dup
    require(counts(0) == counts(1),
      "appendFingerprintIndex: doc_id is not one id space — " +
        s"${counts(0) - counts(1)} duplicate id(s) " +
        "within the appended shard; re-key upstream.")
    require(idc(0) == 0,
      s"appendFingerprintIndex: appended doc_id(s) already own stored " +
        s"fingerprints at $indexDir — one id space is the contract.")
    require(fpc(0) == 0,
      s"appendFingerprintIndex: appended fingerprint(s) already exist " +
        s"at $indexDir — two owners for one identity. Append the " +
        "survivors dedupAgainstIndex marked kept, not the raw shard.")
    evolve.foreach { case (n, _) =>
      require(!owners.columns.contains(n),
        s"appendFingerprintIndex: evolve column '$n' already exists " +
          "in the owner map — replacing a stored column is drift, " +
          "not evolution; pick a new name or rebuild.")
    }
    val widened = evolve.foldLeft(owners) { case (df, (n, c)) =>
      df.withColumn(n, c) }
    writeFpEpoch(spark, indexDir, st.epoch + 1, widened,
      st.count + counts(0), st.floor,
      allowAdditive = evolve.nonEmpty, commitTs = commitTs)
  }

  /** The live (fp, owner) map the artifact currently serves —
    * tombstone-aware, the "audit what the index holds" read (and the
    * frame a retraction pipeline filters its delete set from; snapshot
    * it to disk before mutating, or its lineage re-reads the mutated
    * artifact).
    */
  def storedOwners(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val st = fpState(spark, indexDir, "storedOwners")
    graft.sources.EpochStore.tableThroughLive(spark, indexDir, "fps",
      "owner", st.floor, st.epoch)
  }

  /** DIFFERENTIAL read (r14 — r13 VERDICT #2): what changed in the
    * stored owner map between two retained horizons, so an incremental
    * downstream consumer re-verdicts only the DELTA instead of
    * re-reading the artifact (CDC out of a stored index). One row per
    * change: `('added', owner, fp)` for map entries committed in
    * `(fromEpoch, toEpoch]` and still live at `toEpoch`;
    * `('removed', owner, NULL)` for owners tombstoned in that window
    * that were live at `fromEpoch`. An owner retracted and re-appended
    * inside the window appears in BOTH (apply removes, then adds —
    * honest replace semantics). Both horizons must be retained
    * (floor ≤ from ≤ to ≤ serving); below the floor refuses, exactly
    * like as-of — see [[graft.sources.EpochStore.addedBetween]]. Cost
    * is proportional to the delta plus one id-projected live scan at
    * `fromEpoch`, never a re-fingerprint. The q186 gate recomputes
    * both sides declaratively.
    */
  def fingerprintIndexChanges(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, fromEpoch: Int, toEpoch: Int): DataFrame = {
    fpState(spark, indexDir, "fingerprintIndexChanges")
    val added = graft.sources.EpochStore.addedBetween(spark, indexDir,
        "fps", "owner", fromEpoch, toEpoch, "fingerprintIndexChanges",
        "writeFingerprintIndex")
      .select(lit("added").as("change"), col("owner"), col("fp"))
    val removed = graft.sources.EpochStore.removedBetween(spark,
        indexDir, "fps", "owner", fromEpoch, toEpoch,
        "fingerprintIndexChanges", "writeFingerprintIndex")
      .select(lit("removed").as("change"), col("owner"),
        lit(null).cast("string").as("fp"))
    added.unionByName(removed)
  }

  /** The CDC CONSUMER made literal (r14 — what [[fingerprintIndexChanges]]
    * exists FOR): patch a shard's horizon-i verdicts to the horizon-j
    * state using ONLY the differential — zero artifact reads, cost
    * ∝ |shard| + |delta|. `prior` is [[dedupAgainstIndex]]'s output at
    * horizon i (doc_id, fp, owner, kept) for a shard of FRESH ids
    * (none stored — true of every arrival shard; a stored-owner
    * verdict is then distinguishable from an incoming-min one by
    * whether the owner is a shard id); `changes` is
    * [[fingerprintIndexChanges]] over (i, j]. The patched stored map
    * is prior's stored owners minus the removed ones plus the added
    * entries, and each verdict re-derives by the probe's own formula
    * (stored owner, else the shard's min id per fp, NULL fp → self).
    * The q189 gate pins patched ≡ the full horizon-j probe against the
    * declarative oracle — re-verdict ONLY the delta, bit-for-bit.
    */
  def patchVerdicts(prior: DataFrame, changes: DataFrame): DataFrame = {
    val p = graft.CacheScope.scoped(prior)
    // the differential feeds THREE consumers below (added twice,
    // removed once) — pin it or the delta scans it exists to minimize
    // re-execute per consumer (r14 second review)
    val ch = graft.CacheScope.scoped(changes)
    // prior verdicts whose owner is NOT a shard id carry the
    // horizon-i STORED owner for their fp (fresh-id premise)
    val storedPrior = p.filter(col("fp").isNotNull)
      .join(p.select(col("doc_id").as("owner")), Seq("owner"),
        "left_anti")
      .select(col("fp"), col("owner")).distinct()
    val added = ch.filter(col("change") === "added")
      .select(col("fp"), col("owner"))
    val removedIds = ch.filter(col("change") === "removed")
      .select(col("owner"))
    // surviving prior entries: drop fps whose owner was removed; an
    // fp both removed and re-added rides the added branch (replace
    // semantics — added wins by construction, not by precedence)
    val removedFps = storedPrior
      .join(removedIds, Seq("owner"), "left_semi")
      .select("fp")
    val patchedStored = added
      .unionByName(storedPrior.join(removedFps, Seq("fp"), "left_anti")
        .join(added.select("fp"), Seq("fp"), "left_anti"))
      .select(col("fp"), col("owner").as("_stored_owner"))
    val incMin = Window.partitionBy(col("fp"))
    p.drop("owner", "kept")
      .join(patchedStored, Seq("fp"), "left")
      .withColumn("_inc_min", min(col("doc_id")).over(incMin))
      .withColumn("owner", when(col("fp").isNull, col("doc_id"))
        .otherwise(coalesce(col("_stored_owner"), col("_inc_min"))))
      .withColumn("kept", col("doc_id") === col("owner"))
      .select(col("doc_id"), col("fp"), col("owner"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** RETRACT stored documents (r13 — takedown / dedup retraction /
    * corrupted-shard replacement): one DELETE epoch tombstones the
    * given owner ids ([[graft.sources.EpochStore.writeDeleteEpoch]] —
    * meta-last, so the shrunken corpus_count and the tombstones commit
    * atomically), and every probe immediately serves the retracted
    * state: the fingerprints those docs owned are novel again (the
    * next arrival claims them as its own). Two loud premises: the
    * delete set is one id space, and every id is a CURRENTLY LIVE
    * stored owner — retracting a doc that is not stored is a caller
    * bug, not a no-op. A tombstone names the PAST, so a deleted id may
    * be re-appended afterwards (it serves again); physical reclaim is
    * `index.compact` + `index.vacuum` ([[graft.sources.IndexFamily]]),
    * which fold the tombstones away. Single writer, like every mutation.
    */
  def deleteFromFingerprintIndex(indexDir: String, ids: DataFrame,
      commitTs: Option[Long] = None): Unit = {
    val spark = ids.sparkSession
    val st = fpState(spark, indexDir, "deleteFromFingerprintIndex")
    import spark.implicits._
    graft.sources.EpochStore.deleteEpochChecked(indexDir,
      "deleteFromFingerprintIndex", ids, "doc_id",
      graft.sources.EpochStore.tableThroughLive(spark, indexDir, "fps",
        "owner", st.floor, st.epoch).select(col("owner").as("id")),
      s"delete id(s) are not live stored owners at $indexDir — a " +
        "retraction must name stored docs (already-deleted or " +
        "never-stored ids refuse loudly, they do not no-op).",
      Seq.empty,
      n => Seq((index.id, st.count - n, st.epoch + 1))
        .toDF("family", "corpus_count", "epoch"),
      st.epoch + 1, st.floor, commitTs)
  }
}
