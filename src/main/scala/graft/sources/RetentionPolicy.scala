package graft.sources

import org.apache.spark.sql.SparkSession

/** The housekeeping POLICY an index-ingestion loop runs between
  * micro-batches (r15 — r14 VERDICT #5): the streaming gates
  * hand-rolled this as per-loop lambdas (q164/q167/q170/q175
  * full-compact EVERY batch, q188 partially compacts every batch), and
  * every-batch compaction of a multi-table artifact is exactly where
  * the q167 cost lives. One value type names the trade instead:
  *
  *   - `everyBatches`: housekeep only after every K-th micro-batch
  *     (1 = every batch, today's gate cadence). At production cadence
  *     a compaction rewrites the artifact's live bytes, so running it
  *     per batch pays a full rewrite per arrival — the `pol` Stress
  *     section prices every-1 vs every-K on the text family.
  *   - `minSprawlEpochs`: skip while the artifact's sprawl (epochs
  *     above the floor) is ≤ this — "compact when fragmented", the
  *     trigger a size-tiered production owner actually wants. 0 (the
  *     default) never skips: [[EpochStore.compact]] already no-ops on
  *     a single-live-epoch artifact.
  *   - `retainHorizons`: None = FULL compaction (all history expires —
  *     q164's policy); Some(h) = partial, fold everything below
  *     `serving − h` into the checkpoint so the last h horizons stay
  *     auditable mid-stream (q188's policy is Some(1)). A horizon that
  *     would land below the current floor means nothing is foldable
  *     yet — the compact step is skipped, never refused.
  *
  * Vacuum runs whenever the policy fires (cheap when nothing is
  * reclaimable, and it also sweeps leaked staging). The DEFAULTS
  * reproduce the pre-r15 hardcoded cadence exactly, so every existing
  * gate's artifact end state is unchanged.
  *
  * The policy is layout-level: a loop passes its family's
  * [[IndexFamily]] — `compact` and `vacuum` as the two functions,
  * `writer` as the rebuild hint — so one policy type serves all six
  * families (and tests can drive it with recording fakes).
  */
final case class RetentionPolicy(
    everyBatches: Int = 1,
    minSprawlEpochs: Int = 0,
    retainHorizons: Option[Int] = None) {
  require(everyBatches >= 1,
    s"RetentionPolicy: everyBatches must be >= 1, got $everyBatches")
  require(minSprawlEpochs >= 0,
    s"RetentionPolicy: minSprawlEpochs must be >= 0, got " +
      s"$minSprawlEpochs")
  retainHorizons.foreach(h => require(h >= 1,
    s"RetentionPolicy: retainHorizons must be >= 1, got $h — " +
      "retaining zero horizons IS full compaction (pass None)"))

  /** Run the policy after micro-batch `batchIndex` (0-based, the
    * foreachBatch id): decide from the artifact's serving state, then
    * drive the family's `compact` (its `Option[Int]` is the
    * [[IndexFamily.compact]] `below` convention) and `vacuum`.
    */
  def housekeep(spark: SparkSession, dir: String, batchIndex: Long,
      who: String, rebuildHint: String)(
      compact: Option[Int] => Boolean, vacuum: () => Unit): Unit = {
    if ((batchIndex + 1) % everyBatches != 0) return
    val st = EpochStore.servingState(spark, dir, who, rebuildHint)
    if (st.epoch - st.floor <= minSprawlEpochs && minSprawlEpochs > 0)
      return
    val below: Option[Option[Int]] = retainHorizons match {
      case None => Some(None)
      case Some(h) if st.epoch - h >= st.floor =>
        Some(Some(st.epoch - h))
      case _ => None // every retained horizon is above the floor already
    }
    below.foreach { b => compact(b); () }
    vacuum()
  }
}
