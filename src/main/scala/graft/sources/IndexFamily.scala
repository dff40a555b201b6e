package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count,
  count_distinct, lit}

/** One stored-index family on the [[EpochStore]] layout, as data, and
  * the ONE lifecycle every family shares: the serving read with the
  * family refusal, delete, compact, vacuum, timestamp as-of and id
  * changes.
  *
  *   - `id`: the family version string the family writes into its meta
  *     `family` column; an artifact built under another id refuses.
  *   - `writer`: the family's rebuild entry point, named in refusals.
  *   - `mismatch`: why reading across family versions is wrong — the
  *     tail of the refusal.
  *   - `tables`: the tables a compaction rewrites (and a vacuum
  *     reclaims), with their tombstone keys and fold hooks.
  *   - `idTable` / `idCol`: the table and id column [[changes]] reports
  *     and [[delete]] checks liveness against.
  *   - `deleteKey`: the column a delete set names its ids in.
  *   - `countCol`: the meta count a delete shrinks by the deleted ids.
  *   - `onDelete`: the family's extra delete-epoch content — see
  *     [[IndexFamily.DeleteHook]] (BM25 only).
  *
  * What stays with each family: write, append and probe, its meta
  * schema, and its currency and drift premises.
  */
final case class IndexFamily(id: String, writer: String, mismatch: String,
    tables: Seq[EpochStore.CompactTable], idTable: String, idCol: String,
    deleteKey: String, countCol: String,
    onDelete: Option[IndexFamily.DeleteHook] = None) {

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

  /** RETRACT stored rows: `ids` names them in its `deleteKey` column,
    * and one DELETE epoch commits their tombstones (the layout-owned
    * deletes table, see [[EpochStore.tableThroughLive]]) with the meta
    * carried forward LAST — every column kept, `epoch` advanced and
    * `countCol` shrunk by the number of ids (plus the hook's shrinks),
    * so tombstones and counts move atomically or not at all. Every
    * probe immediately serves the retracted state. Two loud premises,
    * fused into one action with the hook's aggregate: the delete set
    * is one id space, and every id is CURRENTLY LIVE in `idTable` —
    * retracting an already-deleted or never-stored id is a caller bug,
    * not a no-op. A tombstone names the past, so a deleted id may be
    * re-appended afterwards (it serves again); physical reclaim is
    * [[compact]] + [[vacuum]], which fold the tombstones away.
    * Parameters never re-derive on a shrink (a smaller corpus cannot
    * rot a recall bound sized for a larger one). Single writer.
    */
  def delete(indexDir: String, ids: DataFrame,
      commitTs: Option[Long] = None): Unit = {
    val spark = ids.sparkSession
    val who = s"delete($id)"
    val st = serving(spark, indexDir, who)
    val del = graft.CacheScope.scoped(
      ids.select(col(deleteKey).cast("long").as("id")))
    def live(table: String): DataFrame = EpochStore.tableThroughLive(
      spark, indexDir, table, idCol, st.floor, st.epoch)
    // the dup premise and ONE join of the live id table with the
    // (small, broadcast) delete set — its row count is the liveness
    // premise and it feeds the hook's shrink aggregates — fused into ONE
    // action (r15 — graft.operators.Checks)
    val hit = live(idTable).join(broadcast(del), col(idCol) === del("id"))
      .agg(count(lit(1)).as(countCol), onDelete.toSeq.flatMap(_.shrink): _*)
    val Seq(counts, found) = graft.operators.Checks.counts(
      del.agg(count(lit(1)).as("n"), count_distinct(col("id")).as("nd")),
      hit)
    require(counts(0) == counts(1),
      s"$who: the delete set is not one id space — " +
        s"${counts(0) - counts(1)} duplicate id(s); " +
        "de-duplicate it upstream.")
    require(found(0) == counts(0),
      s"$who: ${counts(0) - found(0)} delete id(s) are not live stored " +
        s"${idCol}s ('$idTable') at $indexDir — a retraction must name " +
        "stored rows (already-deleted or never-stored ids refuse loudly, " +
        "they do not no-op).")
    EpochStore.writeEpoch(indexDir, st.epoch + 1,
      (EpochStore.DeletesTable -> del) +:
        onDelete.toSeq.flatMap(_.sideTables(live, del)),
      EpochStore.carriedMeta(spark, st.meta, st.epoch + 1,
        hit.columns.toSeq.zip(found)),
      st.floor, commitTs = commitTs)
  }

  /** COMPACT the artifact: None rewrites the live epochs into ONE fresh
    * epoch (all history expires); Some(h) folds the history up to epoch
    * h into a checkpoint while every as-of horizon in [h, serving]
    * keeps serving bit-for-bit (both: [[EpochStore.compact]]). The
    * family meta is carried verbatim, so compaction moves bytes, never
    * rows or scores. Returns false when there is nothing to fold.
    * Single writer; superseded epochs are reclaimed by [[vacuum]].
    */
  def compact(spark: SparkSession, indexDir: String,
      below: Option[Int] = None, commitTs: Option[Long] = None)
      : Boolean =
    EpochStore.compact(spark, indexDir, tables,
      checked(spark, indexDir, "compact"), writer, below = below,
      commitTs = commitTs)

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

object IndexFamily {

  /** A family's extra DELETE-epoch content (BM25's additive statistics
    * are the one user):
    *   - `shrink`: aggregates over the deleted rows of the live
    *     `idTable`, each named after the meta column it shrinks by that
    *     amount (evaluated in the delete's one premise action);
    *   - `sideTables`: given the live-table read (`table` => its live
    *     rows at the serving epoch) and the delete set (one LONG column
    *     `id`), the tables that land beside the tombstones.
    */
  final case class DeleteHook(shrink: Seq[Column],
      sideTables: (String => DataFrame, DataFrame) =>
        Seq[(String, DataFrame)])
}
