package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count,
  count_distinct, lit}

/** One stored-index family on the [[EpochStore]] layout, as data, and
  * the ONE lifecycle every family shares: build, append, the serving
  * read with the family refusal, delete, compact, vacuum, timestamp
  * as-of and id changes.
  *
  *   - `id`: the family version string the family writes into its meta
  *     `family` column; an artifact built under another id refuses.
  *   - `writer`: the family's rebuild entry point, named in refusals.
  *   - `mismatch`: why reading across family versions is wrong — the
  *     tail of the refusal.
  *   - `tables`: every table [[live]] reads, a compaction rewrites and
  *     a vacuum reclaims, with their tombstone keys and fold hooks.
  *   - `idTable` / `idCol`: the table and id column [[changes]] reports
  *     and [[delete]] checks liveness (and [[append]] clashes) against.
  *   - `deleteKey`: the column a delete set — and a build or append
  *     shard — names its ids in.
  *   - `countCol`: the meta count an append grows and a delete shrinks
  *     by the number of ids.
  *   - `shard`: how a build or append input becomes the epoch's tables
  *     and meta — see [[IndexFamily.Shard]].
  *   - `onDelete`: the family's extra delete-epoch content — see
  *     [[IndexFamily.DeleteHook]] (BM25 only).
  *
  * Every read and write of a family's artifact goes through here — the
  * [[EpochStore]] layout is private to `sources`. What stays with each
  * family: its probes' join and scoring logic over [[live]]'s tables,
  * and its currency and drift premises.
  */
final case class IndexFamily(id: String, writer: String, mismatch: String,
    tables: Seq[EpochStore.CompactTable], idTable: String, idCol: String,
    deleteKey: String, countCol: String, shard: IndexFamily.Shard,
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

  /** THE probe read: [[serving]] at `asOf`, and a reader of each
    * declared table's rows at that horizon — tombstone-aware
    * ([[EpochStore.tableThroughLive]]) through the table's declared
    * `idCol`, else the plain [[EpochStore.tableThrough]]. No cache, no
    * Spark job; an undeclared table refuses by the family's name.
    */
  def live(spark: SparkSession, dir: String, who: String,
      asOf: Option[Int] = None): IndexFamily.Live = {
    val st = serving(spark, dir, who, asOf)
    IndexFamily.Live(st, name => declared(name, who).idCol match {
      case Some(key) => EpochStore.tableThroughLive(spark, dir, name, key,
        st.floor, st.epoch)
      case None => EpochStore.tableThrough(spark, dir, name, st.floor,
        st.epoch)
    })
  }

  private def declared(name: String, who: String)
      : EpochStore.CompactTable =
    tables.find(_.name == name).getOrElse(throw new
      IllegalArgumentException(s"$who: family '$id' declares no table " +
        s"'$name' (its tables: ${tables.map(_.name).mkString(", ")})"))

  /** BUILD the artifact from `input` as epoch 0: the projected shard,
    * cached once, passes the one-id-space premise (one action, which
    * also evaluates the shard's `grow` aggregates), then any previous
    * artifact at `dir` is deleted ([[EpochStore.deleteAll]] — a rebuild
    * whose input reads this artifact's own files must build to a fresh
    * directory) and the epoch commits meta-last. The meta row is
    * `shard.meta` filled from the family id, epoch 0, `countCol` = the
    * shard's row count, each grown column = its aggregate, and
    * `params(n)` — the family's parameter columns, which every later
    * epoch carries frozen. Single writer.
    */
  def write(input: DataFrame, dir: String,
      params: Long => Seq[(String, Any)] = _ => Seq.empty,
      commitTs: Option[Long] = None): Unit = {
    val spark = input.sparkSession
    val s = graft.CacheScope.scoped(shard.project(input))
    val idSpace = idSpaceOf(s)
    val Seq(c) = graft.operators.Checks.counts(idSpace)
    requireOneIdSpace(writer, shard.corpusNoun, c)
    val values = (Seq("family" -> id, countCol -> c(0), "epoch" -> 0) ++
      grown(idSpace, c) ++ params(c(0))).toMap
    require(values.keySet == shard.meta.toSet,
      s"$writer: meta columns ${values.keySet.mkString(", ")} are not " +
        s"the family's meta schema ${shard.meta.mkString(", ")}")
    val meta = new org.apache.spark.sql.catalyst.expressions
      .GenericRowWithSchema(shard.meta.map(values).toArray,
        org.apache.spark.sql.types.StructType(shard.meta.map(m =>
          org.apache.spark.sql.types.StructField(m,
            org.apache.spark.sql.catalyst.expressions.Literal(values(m))
              .dataType))))
    EpochStore.deleteAll(spark, dir)
    EpochStore.writeEpoch(dir, 0, shard.build(s, meta),
      spark.createDataFrame(java.util.Collections.singletonList[Row](meta),
        meta.schema),
      commitTs = commitTs)
  }

  /** FOLD `more` into the artifact as epoch N+1 under the parameters
    * frozen in the stored meta. The projected shard, cached once, is
    * checked in ONE action: it is one id space, and none of its ids is
    * live in `idTable` (nor, with `shard.clashOn`, any of its second
    * keys) — an id stored twice silently drops its probe pairs or
    * double-counts its statistics. Refusal order: duplicates, the
    * family's `shard.check`, then the clashes. The meta is the stored
    * row carried forward ([[EpochStore.carriedMeta]]): `epoch` + 1,
    * `countCol` + n, each grown column + its aggregate, every other
    * column verbatim. `widen` (additive schema evolution) widens the
    * `idTable` frame before the write. Meta last, so a torn append is
    * invisible and retried. Single writer.
    */
  def append(indexDir: String, more: DataFrame,
      commitTs: Option[Long] = None,
      widen: Option[DataFrame => DataFrame] = None): Unit = {
    val spark = more.sparkSession
    val who = shard.appender
    val lv = live(spark, indexDir, who)
    val st = lv.state
    val s = graft.CacheScope.scoped(shard.project(more))
    val stored = lv.table(idTable)
    val clashes = (deleteKey, idCol, shard.clash) +:
      shard.clashOn.toSeq.map { case (k, refusal) => (k, k, refusal) }
    val idSpace = idSpaceOf(s)
    val c +: hits = graft.operators.Checks.counts(idSpace +:
      clashes.map { case (mine, key, _) =>
        s.select(col(mine).as(key))
          .join(stored.select(key), Seq(key), "left_semi")
          .agg(count(lit(1)).as("c"))
      }: _*)
    requireOneIdSpace(who, shard.shardNoun, c)
    shard.check(st.meta, c(0))
    clashes.zip(hits).foreach { case ((_, _, refusal), h) =>
      require(h(0) == 0, s"$who: ${refusal(indexDir)}")
    }
    val tables = shard.build(s, st.meta).map { case (name, df) =>
      name -> widen.filter(_ => name == idTable).fold(df)(_(df))
    }
    EpochStore.writeEpoch(indexDir, st.epoch + 1, tables,
      EpochStore.carriedMeta(spark, st.meta, st.epoch + 1,
        (countCol -> c(0)) +: grown(idSpace, c)),
      st.floor, allowAdditive = widen.isDefined, commitTs = commitTs)
  }

  /** The shard's (n, n_distinct ids) aggregate plus its `grow` ones. */
  private def idSpaceOf(s: DataFrame): DataFrame =
    s.agg(count(lit(1)).as("n"),
      (count_distinct(col(deleteKey)).as("nd") +: shard.grow): _*)

  /** The `grow` aggregates' values, by the meta column each grows. */
  private def grown(idSpace: DataFrame, c: IndexedSeq[Long])
      : Seq[(String, Long)] =
    idSpace.columns.toSeq.drop(2).zip(c.drop(2))

  private def requireOneIdSpace(who: String, scope: String,
      c: IndexedSeq[Long]): Unit =
    require(c(0) == c(1),
      s"$who: $deleteKey is not one id space — ${c(0) - c(1)} " +
        s"duplicate id(s) within $scope${shard.dup}")

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
    val lv = live(spark, indexDir, who)
    val st = lv.state
    val del = graft.CacheScope.scoped(
      ids.select(col(deleteKey).cast("long").as("id")))
    // the dup premise and ONE join of the live id table with the
    // (small, broadcast) delete set — its row count is the liveness
    // premise and it feeds the hook's shrink aggregates — fused into ONE
    // action (r15 — graft.operators.Checks)
    val hit = lv.table(idTable).join(broadcast(del), col(idCol) === del("id"))
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
        onDelete.toSeq.flatMap(_.sideTables(lv.table, del)),
      EpochStore.carriedMeta(spark, st.meta, st.epoch + 1,
        hit.columns.toSeq.zip(found.map(-_))),
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
    * [[addedBetween]]'s rows, payload columns dropped; removed =
    * [[removedBetween]] — so a downstream consumer re-verdicts only the
    * delta (CDC out of the stored index).
    */
  def changes(spark: SparkSession, indexDir: String, fromEpoch: Int,
      toEpoch: Int): DataFrame = {
    val who = s"changes($id)"
    addedBetween(spark, indexDir, idTable, fromEpoch, toEpoch, who)
      .select(lit("added").as("change"), col(idCol))
      .unionByName(removedBetween(spark, indexDir, fromEpoch, toEpoch, who)
        .select(lit("removed").as("change"), col(idCol)))
  }

  /** The rows of id-keyed table `name` committed in `(fromEpoch,
    * toEpoch]` and still live at `toEpoch`, payload kept
    * ([[EpochStore.addedBetween]]). Both horizons must be retained
    * (floor ≤ from ≤ to ≤ serving; below the floor refuses like as-of).
    */
  def addedBetween(spark: SparkSession, indexDir: String, name: String,
      fromEpoch: Int, toEpoch: Int, who: String): DataFrame = {
    serving(spark, indexDir, who)
    EpochStore.addedBetween(spark, indexDir, declared(name, who).name,
      idCol, fromEpoch, toEpoch, who, writer)
  }

  /** The `idTable` ids tombstoned in `(fromEpoch, toEpoch]` that were
    * live at `fromEpoch` ([[EpochStore.removedBetween]]).
    */
  def removedBetween(spark: SparkSession, indexDir: String,
      fromEpoch: Int, toEpoch: Int, who: String): DataFrame = {
    serving(spark, indexDir, who)
    EpochStore.removedBetween(spark, indexDir, idTable, idCol, fromEpoch,
      toEpoch, who, writer)
  }

  /** The artifact's mutation history, one row per readable meta — see
    * [[EpochStore.describeHistory]].
    */
  def history(spark: SparkSession, indexDir: String, who: String)
      : DataFrame = {
    serving(spark, indexDir, who)
    EpochStore.describeHistory(spark, indexDir, tables.map(_.name), who,
      writer)
  }

  /** Layout facts a gate asserts after a [[vacuum]]: whether table
    * `name`'s epoch-`n` directory, or the checkpoint a partial
    * [[compact]] folded at horizon `n`, is on disk.
    */
  def epochDirExists(spark: SparkSession, indexDir: String, name: String,
      n: Int): Boolean = EpochStore.epochDirExists(spark, indexDir, name, n)

  def checkpointDirExists(spark: SparkSession, indexDir: String,
      name: String, n: Int): Boolean =
    EpochStore.checkpointDirExists(spark, indexDir, name, n)
}

object IndexFamily {

  /** One probe's read of the artifact ([[IndexFamily.live]]): the
    * serving `state` at the asked horizon and `table`, the reader of
    * each declared table's rows there.
    */
  final case class Live(state: EpochStore.Serving,
      table: String => DataFrame) {
    def meta: Row = state.meta
  }

  /** Delete whatever artifact is at `dir`, of any family, with the
    * layout's cache invalidation ([[EpochStore.deleteAll]]) — for a
    * caller that replaces the directory's bytes itself (a staged copy).
    */
  def wipe(spark: SparkSession, dir: String): Unit =
    EpochStore.deleteAll(spark, dir)

  /** How a family's build or append input becomes an epoch:
    *   - `appender`: the family's append entry point, named in refusals;
    *   - `meta`: the family's meta schema, its column names in order —
    *     `family`, the parameter columns, `countCol` and the grown
    *     columns, `epoch`;
    *   - `project`: the input → the shard, ids in `deleteKey`;
    *   - `build`: the epoch's tables from the (cached) shard and the
    *     epoch's meta row, whose parameter columns it hashes under;
    *   - `dup`: the tail of the duplicate-id refusal, after "within
    *     `corpusNoun`" (a build) or "within `shardNoun`" (an append);
    *   - `clash`: the append's id-clash refusal, given the artifact dir;
    *   - `grow`: shard aggregates, each named after the meta column it
    *     grows (BM25's Σdl) — evaluated in the premise action;
    *   - `clashOn`: a second key shared by the shard and the live
    *     `idTable` that must not clash either, with its refusal (fp's
    *     fingerprint);
    *   - `check`: the append's family premise on (stored meta, shard
    *     row count), run after the duplicate refusal and before the
    *     clashes (cp's parameter currency).
    */
  final case class Shard(appender: String, meta: Seq[String],
      project: DataFrame => DataFrame,
      build: (DataFrame, Row) => Seq[(String, DataFrame)],
      dup: String, clash: String => String,
      corpusNoun: String = "the corpus",
      shardNoun: String = "the appended shard",
      grow: Seq[Column] = Seq.empty,
      clashOn: Option[(String, String => String)] = None,
      check: (Row, Long) => Unit = (_, _) => ())

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
