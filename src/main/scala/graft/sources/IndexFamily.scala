package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** One stored-index family on the [[EpochStore]] layout, as data, and
  * the ONE lifecycle every family shares: the serving read with the
  * family refusal, compact, vacuum, timestamp as-of and id changes.
  *
  *   - `id`: the family version string the family writes into its meta
  *     `family` column; an artifact built under another id refuses.
  *   - `writer`: the family's rebuild entry point, named in refusals.
  *   - `mismatch`: why reading across family versions is wrong — the
  *     tail of the refusal.
  *   - `tables`: the tables a compaction rewrites (and a vacuum
  *     reclaims), with their tombstone keys and fold hooks.
  *   - `idTable` / `idCol`: the table and id column [[changes]] reports.
  *
  * What stays with each family: write, append, delete and probe, its
  * meta schema, and its currency and drift premises.
  */
final case class IndexFamily(id: String, writer: String, mismatch: String,
    tables: Seq[EpochStore.CompactTable], idTable: String, idCol: String) {

  /** The artifact's serving state (`asOf` = None) or its historical
    * horizon (Some(e), see [[EpochStore.servingStateAt]]), refused by
    * `who`'s name when the artifact was built by another family.
    */
  def serving(spark: SparkSession, dir: String, who: String,
      asOf: Option[Int] = None): EpochStore.Serving = {
    val st = asOf match {
      case Some(e) => EpochStore.servingStateAt(spark, dir, e, who, writer)
      case None => EpochStore.servingState(spark, dir, who, writer)
    }
    val family = st.meta.getAs[String]("family")
    require(family == id,
      s"$who: artifact at $dir was built by family '$family' but this " +
        s"code reads '$id' — rebuild it with $writer; $mismatch")
    st
  }

  /** The name a lifecycle op reports under, after the family refusal. */
  private def checked(spark: SparkSession, dir: String, op: String)
      : String = {
    val who = s"$op($id)"
    serving(spark, dir, who)
    who
  }

  /** COMPACT the artifact: None rewrites the live epochs into ONE fresh
    * epoch (all history expires, see [[EpochStore.compact]]); Some(h)
    * folds the history up to epoch h into a checkpoint while every
    * as-of horizon in [h, serving] keeps serving bit-for-bit (see
    * [[EpochStore.compactBelow]]). The family meta is carried
    * verbatim, so compaction moves bytes, never rows or scores.
    * Returns false when there is nothing to fold. Single writer;
    * superseded epochs are reclaimed by [[vacuum]].
    */
  def compact(spark: SparkSession, indexDir: String,
      below: Option[Int] = None, commitTs: Option[Long] = None)
      : Boolean = {
    val who = checked(spark, indexDir, "compact")
    below match {
      case Some(h) => EpochStore.compactBelow(spark, indexDir, tables, h,
        who, writer, commitTs = commitTs)
      case None => EpochStore.compact(spark, indexDir, tables, who,
        writer, commitTs = commitTs)
    }
  }

  /** Reclaim what a [[compact]] superseded — see [[EpochStore.vacuum]]
    * (safe against readers of the current serving state; quiesce
    * pre-compaction probes first, or pass a `graceMs`).
    */
  def vacuum(spark: SparkSession, indexDir: String,
      graceMs: Long = 0L): Unit =
    EpochStore.vacuum(spark, indexDir, tables.map(_.name),
      checked(spark, indexDir, "vacuum"), writer, graceMs)

  /** Resolve a caller-clock TIMESTAMP to the artifact's retained read
    * horizon: the epoch an `asOf = Some(_)` probe pins for "the index
    * as it stood at `ts`", from the commit_ts values the mutations
    * recorded (the caller supplies the clock, so gates stay
    * deterministic). Refusals — an unstamped history, a backwards
    * clock, a ts before the earliest retained horizon: see
    * [[EpochStore.servingStateAtTime]].
    */
  def epochAtTime(spark: SparkSession, indexDir: String, ts: Long): Int =
    EpochStore.servingStateAtTime(spark, indexDir, ts,
      checked(spark, indexDir, "epochAtTime"), writer).epoch

  /** DIFFERENTIAL read: which ids of `idTable` changed between two
    * retained horizons, as `('added'|'removed', <idCol>)` — added =
    * committed in `(fromEpoch, toEpoch]` and live at `toEpoch`
    * ([[EpochStore.addedBetween]], payload columns dropped), removed =
    * tombstoned in that window and live at `fromEpoch`
    * ([[EpochStore.removedBetween]]) — so a downstream consumer
    * re-verdicts only the delta (CDC out of the stored index). Both
    * horizons must be retained (floor ≤ from ≤ to ≤ serving; below the
    * floor refuses like as-of).
    */
  def changes(spark: SparkSession, indexDir: String, fromEpoch: Int,
      toEpoch: Int): DataFrame = {
    val who = checked(spark, indexDir, "changes")
    EpochStore.addedBetween(spark, indexDir, idTable, idCol, fromEpoch,
        toEpoch, who, writer)
      .select(lit("added").as("change"), col(idCol))
      .unionByName(EpochStore.removedBetween(spark, indexDir, idTable,
          idCol, fromEpoch, toEpoch, who, writer)
        .select(lit("removed").as("change"), col(idCol)))
  }
}
