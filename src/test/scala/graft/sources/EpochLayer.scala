package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-only entry to the [[EpochStore]] layout, whose members are
  * private to `sources` (main code reaches it only through
  * [[IndexFamily]]). The specs that plant raw layouts — drifted
  * schemas, fake families, a stale pre-compaction read, a concurrent
  * writer inside the compaction seam — call these forwarders; each is
  * the layout member of the same name.
  */
object EpochLayer {

  def writeEpoch(dir: String, epoch: Int,
      tables: Seq[(String, DataFrame)], meta: DataFrame, floor: Int = 0,
      allowAdditive: Boolean = false): Unit =
    EpochStore.writeEpoch(dir, epoch, tables, meta, floor,
      allowAdditive = allowAdditive)

  def deleteAll(spark: SparkSession, dir: String): Unit =
    EpochStore.deleteAll(spark, dir)

  def servingState(spark: SparkSession, dir: String, who: String,
      rebuildHint: String): EpochStore.Serving =
    EpochStore.servingState(spark, dir, who, rebuildHint)

  def tableThrough(spark: SparkSession, dir: String, name: String,
      floor: Int, epoch: Int): DataFrame =
    EpochStore.tableThrough(spark, dir, name, floor, epoch)

  def tableThroughLive(spark: SparkSession, dir: String, name: String,
      idCol: String, floor: Int, epoch: Int): DataFrame =
    EpochStore.tableThroughLive(spark, dir, name, idCol, floor, epoch)

  def compact(spark: SparkSession, dir: String,
      tables: Seq[EpochStore.CompactTable], who: String,
      rebuildHint: String): Boolean =
    EpochStore.compact(spark, dir, tables, who, rebuildHint)

  /** The compaction's pre-commit seam. */
  def beforeCompactCommit: () => Unit = EpochStore.beforeCompactCommit
  def beforeCompactCommit_=(hook: () => Unit): Unit =
    EpochStore.beforeCompactCommit = hook
}
