package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The epoch'd write-once artifact layout shared by the stored index
  * families (the cross-polytope embedding index, r10/r11, the MinHash
  * text index, r11, the exact-fingerprint index, r11, and the BM25
  * postings index, r12) — extracted from `Ann`'s cp-index machinery
  * verbatim so every family rides the same proven torn-write
  * discipline instead of re-implementing it.
  *
  * Layout under `dir`:
  *   - `<table>/epoch=N/`  one directory per named table per epoch
  *   - `meta_N/`           ONE row naming epoch N complete
  *
  * `meta_N` is written LAST per epoch (the staging-token discipline):
  * readers serve epochs ≤ the highest N whose meta READS, so a write
  * or append that dies mid-epoch leaves data files no reader ever
  * scans — epoch partition pruning skips them without reading a byte
  * — and the torn epoch is simply retried into the same number with
  * overwrite. Completeness is "the meta READS", not "a meta_N
  * directory exists": a crash during the meta job itself leaves
  * `meta_N` holding only `_temporary` (the committer mkdirs it before
  * any task commits), and treating that as current would brick every
  * probe AND the retry path.
  *
  * COMPACTION (r12 — the fourth quarter of the lifecycle): a
  * production append cadence (one epoch per micro-batch, q156/q164)
  * grows `<table>/epoch=N` × hundreds, and both [[tableThrough]]'s
  * file fan-in and [[servingState]]'s newest-down meta probes pay
  * O(epochs) forever. [[compact]] rewrites the serving row set into
  * ONE fresh epoch under the same meta-last discipline, recording
  * that epoch as the artifact's FLOOR: readers scan only epochs in
  * `[floor, serving]`, so the sprawl below the floor is dead weight
  * (reclaimed by [[vacuum]]) and the compacted artifact probes like a
  * fresh base build. The floor rides the meta row (a layout-owned
  * `floor_epoch` column appended at write time) — appends after a
  * compaction carry it forward, so compact/append interleave freely.
  *
  * AS-OF (r13 — the layout's remaining read dimension): every epoch in
  * `[floor, serving]` has a complete meta and un-reclaimed data by the
  * invariants above, so [[servingStateAt]] serves any of them as an
  * exact historical read horizon; below the floor the compaction
  * folded the per-epoch states away and the read refuses — compaction
  * is snapshot expiry, history retention = delayed compaction.
  *
  * PARTIAL COMPACTION (r14 — bounded history retention): [[compact]]
  * makes housekeeping and history mutually exclusive (its floor is
  * its own fresh epoch, so EVERY horizon expires). [[compactBelow]]
  * folds only the history up to a chosen horizon into a per-table
  * CHECKPOINT directory (`<table>/checkpoint=C`, served as effective
  * epoch C), so an artifact can reclaim a year of micro-batch sprawl
  * while last week's as-of horizons keep serving bit-for-bit. A
  * checkpoint is live iff the serving floor names it; [[vacuum]]
  * reclaims the folded epoch dirs and superseded checkpoints.
  *
  * SINGLE WRITER, like any parquet layout without a table format: two
  * concurrent appends both target epoch N+1 and the loser's data is
  * silently clobbered or interleaved — serialize appends externally.
  * Since r14 the contract is FENCED, not just prose: every mutation
  * holds the `_writer_lock` lease (see the writer-fencing section),
  * so a second writer refuses loudly at acquisition and a
  * lease-breaking writer is detected before any meta commit.
  * Concurrent READERS are always safe against writes, appends, and
  * compactions: they serve the highest complete meta, an in-flight
  * epoch has none, and compaction only ADDS an epoch (the superseded
  * ones stay on disk until [[vacuum]]). [[vacuum]] is the ONE
  * operation not safe against a reader still scanning pre-compaction
  * epochs — run it after in-flight probes of the old serving state
  * have drained.
  *
  * What stays with each index family: the meta SCHEMA, the hash-family
  * version string and its drift refusals, and parameter-currency
  * premises — those are semantics of the family's hashes, not of the
  * layout. Each family declares its version string, refusal and tables
  * once as an [[IndexFamily]], whose generic lifecycle rides this
  * layout.
  */
object EpochStore {

  /** The artifact's serving state: the highest epoch whose meta READS,
    * the floor (lowest LIVE epoch — above it, every epoch's data is
    * part of the serving row set; below it, superseded by a
    * compaction), and the meta row itself.
    */
  final case class Serving(epoch: Int, floor: Int, meta: Row)

  /** Delete any previous artifact at `dir` — the base build's first
    * step (stale higher epochs surviving an overwrite would otherwise
    * be served as current). Corollary for callers: a rebuild whose
    * input frame READS this artifact's own files must materialize it
    * elsewhere first or build to a fresh directory — lineage recomputed
    * after the delete would find nothing.
    */
  def deleteAll(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    dropShapesUnder(dir)
    // invalidate any cached plans/file listings over the old artifact
    // (r15): a consumer that cached a frame reading this path would
    // otherwise cache-match a post-rebuild identical plan and
    // re-materialize from the DELETED part files (FAILED_READ_FILE).
    // Best-effort on the RECACHE half: refreshByPath first drops the
    // stale entries (the half that matters here), then tries to
    // re-cache them — re-analysis over the just-deleted dir can throw,
    // and a failed recache of a frame whose artifact is gone is
    // exactly the documented stale-lineage situation (snapshot before
    // mutating), not a deleteAll failure
    try spark.catalog.refreshByPath(dir)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  // --------------------------------------------------------------------
  // STORED-SCHEMA SHAPE CACHE (r15 — the q167 fix, r14 VERDICT #1): the
  // r14 schema premise paid one driver-side parquet footer read PER
  // TABLE PER APPEND (spark.read.parquet(dir).schema), which BASELINE
  // note 14 priced at gate scale and the streaming ingestion loops pay
  // at DRAIN cadence — q167 appends a two-table artifact three times a
  // drain, and the measured cost was the round's one real regression.
  // The layout makes the read memoizable: a committed epoch or live
  // checkpoint directory is WRITE-ONCE (a torn epoch is overwritten
  // only by a retry of the same write, and the premise never consults
  // dirs above the serving epoch), so a path's normalized shape can be
  // cached for the JVM's life and, crucially, POPULATED AT WRITE TIME —
  // a drain loop's next append then compares against the shape its own
  // previous mutation recorded, paying zero footer reads. Invalidation
  // is exact: [[deleteAll]] clears the artifact's prefix (a rebuild to
  // the same dir may change schemas) and the compact/compactBelow
  // renames re-put the rewrite's shape at its destination.

  private val schemaShapes =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[(String, org.apache.spark.sql.types.DataType)]]()

  // COMMITTED-META ROW CACHE (r15 optimization — the shape cache's
  // argument applied to the meta read): every servingState /
  // servingStateAt(Time) / describeHistory / target re-check pays one
  // driver-side `spark.read.parquet(meta_N).head()` PER CONSULTED META
  // — a footer read plus a one-row Spark job (~0.1 s each at local[32]),
  // and the streaming drain loops consult ~6-7 metas per micro-batch
  // (probe + append + compact×2 + vacuum + policy). A COMMITTED meta is
  // write-once: the target re-check refuses a second commit at the same
  // number, a TORN meta never reads (so it is never cached — the retry
  // overwrite only ever replaces bytes no reader returned), and vacuum
  // deletes only sub-floor metas, which every consult is listing- or
  // floor-guarded away from. So a successfully-read meta Row can be
  // cached for the JVM's life, keyed on its path; [[deleteAll]] clears
  // the artifact's prefix (a rebuild may recommit the same numbers).
  //
  // SINGLE-PROCESS-READER ASSUMPTION (r15 ADVICE): invalidation is
  // in-process only. A rebuild by a DIFFERENT process at the same path
  // that recommits the same meta numbers would serve this JVM stale
  // cached rows — acceptable here because the artifact contract is
  // single-writer AND the one long-lived-reader process is the writer
  // itself (the drain loops); a multi-process deployment would key
  // entries on (path, meta file mtime) to self-invalidate, at one
  // fs-stat per consult.
  private val metaRows =
    new java.util.concurrent.ConcurrentHashMap[String, Row]()

  /** Nullability normalizes away at every nesting level: an in-flight
    * frame is often non-nullable (and its array<string> often carries
    * containsNull=false) where the parquet read-back says nullable —
    * that is round-tripping, not drift.
    */
  private def normType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(e, _) => ArrayType(normType(e), true)
      case MapType(k, v, _) => MapType(normType(k), normType(v), true)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = normType(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** A schema's comparable shape: (name, normalized type), in order. */
  private def shapeOf(s: org.apache.spark.sql.types.StructType)
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    s.fields.toSeq.map(f => (f.name, normType(f.dataType)))

  /** The shape stored at a data directory — cached per path for the
    * JVM's life (sound because committed dirs are write-once; see the
    * cache section comment). The first consult of a dir not written by
    * this JVM pays the one footer read.
    */
  private def storedShapeAt(spark: SparkSession, path: String)
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    schemaShapes.computeIfAbsent(path,
      _ => shapeOf(spark.read.parquet(path).schema))

  private def recordShape(path: String,
      s: org.apache.spark.sql.types.StructType): Unit = {
    schemaShapes.put(path, shapeOf(s)); ()
  }

  private def dropShapesUnder(dir: String): Unit = {
    val prefix = s"$dir/"
    schemaShapes.keySet.removeIf(_.startsWith(prefix))
    metaRows.keySet.removeIf(_.startsWith(prefix)); ()
  }

  // --------------------------------------------------------------------
  // WRITER FENCING (r14 — r13 VERDICT #3): the single-writer contract
  // was pure prose; the rename→meta window of a compaction was
  // documented as undetectable. A LEASE FILE (`_writer_lock` at the
  // artifact root, created with overwrite=false so creation fails if
  // one exists) turns the contract into detection at near-zero cost:
  // every mutation acquires it first (a second writer refuses loudly
  // instead of interleaving), re-verifies its own token right before
  // the meta commit (a writer that force-broke a lease and took over
  // is detected BEFORE the commit can clobber its rows — the fencing
  // check), and releases it after. This is still detection, not a
  // lock service: filesystem create-exclusive is best-effort on
  // object stores, and a CRASHED writer leaves its lease behind —
  // breaking a dead writer's lease is an operator decision (delete
  // the file; the refusal message says so), because auto-expiry would
  // need a clock contract the layout does not have. Readers never
  // touch the lease.

  private val LeaseFile = "_writer_lock"

  private def leasePath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/$LeaseFile")

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Acquire the artifact's writer lease or refuse loudly naming the
    * holder. The token identifies this acquisition (who + uuid +
    * wall time, the latter purely for the human reading a refusal).
    *
    * Failure taxonomy (r14 ADVICE): only the CREATE failing (the file
    * already exists) is "another writer holds the lease" — matched on
    * FileAlreadyExistsException plus the local-fs shape that surfaces
    * as a generic IOException with the file present. A failure WRITING
    * our own token after a successful create is a torn acquisition,
    * not a holder: the half-written lease is best-effort deleted (it
    * is ours — leaving it would block every future writer on an
    * ownerless file) and the original error propagates.
    */
  private[graft] def acquireLease(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, who: String): String = {
    val p = leasePath(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(root)) fs.mkdirs(root)
    val token = s"$who|${java.util.UUID.randomUUID()}|" +
      s"${System.currentTimeMillis()}"
    def refuseHeld(): Nothing = {
      val holder = try readLease(fs, p) catch { case _: Exception =>
        "<unreadable>" }
      throw new IllegalArgumentException(
        s"$who: another writer holds the lease at $dir " +
          s"(held by '$holder') — writers must serialize (the " +
          "single-writer contract). If that writer crashed (a dead " +
          "writer leaves its lease behind), delete " +
          s"$dir/$LeaseFile and retry; never delete a live " +
          "writer's lease.")
    }
    val out =
      try fs.create(p, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          refuseHeld()
        case _: java.io.IOException if fs.exists(p) => refuseHeld()
      }
    try {
      try out.write(token.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      token
    } catch {
      case e: Throwable =>
        try { fs.delete(p, false); () } catch { case _: Exception => () }
        throw e
    }
  }

  /** The fencing check: the lease must still hold OUR token. A
    * mismatch means a second writer force-broke the lease and took
    * over — committing now would corrupt its writes, so refuse; the
    * in-flight data stays invisible (no meta names it).
    */
  private def verifyLease(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, who: String, token: String): Unit = {
    val p = leasePath(dir)
    val current = if (!fs.exists(p)) "<gone>"
      else try readLease(fs, p) catch { case _: Exception =>
        "<unreadable>" }
    require(current == token,
      s"$who: the writer lease at $dir changed hands mid-write " +
        s"(now '$current') — a second writer broke the lease and " +
        "took over, so this write is FENCED OFF before its meta " +
        "commit could clobber the other writer's rows. Nothing of " +
        "it is visible (no meta names it); serialize writers and " +
        "retry.")
  }

  /** Release our lease — only if it still holds our token (never
    * delete a lease a force-breaking writer replaced).
    */
  private def releaseLease(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, token: String): Unit = {
    val p = leasePath(dir)
    if (fs.exists(p) &&
        (try readLease(fs, p) == token catch { case _: Exception =>
          false })) {
      fs.delete(p, false); ()
    }
  }

  /** Write one epoch: every named table lands at `dir/<name>/epoch=N`,
    * then the ONE-row `meta` frame lands at `dir/meta_N` — strictly
    * last, so the epoch only becomes visible complete. `floor` is the
    * artifact's lowest live epoch as of this write: 0 for a base
    * build and for every append to a never-compacted artifact; the
    * serving floor (carried through [[Serving]]) for appends after a
    * compaction; the new epoch's own number for [[compact]] itself.
    *
    * Before the meta commit, any SIBLING table directory holding
    * `epoch=N` data this write does not own is CLEARED (r13 review):
    * epoch writers of different KINDS write disjoint table sets at the
    * same number — a torn DELETE leaves `deletes/epoch=N` that a
    * retried APPEND's meta would otherwise resurrect as live
    * tombstones (silently vanishing every owner in the failed delete,
    * with counts that never shrank), and a torn append's family rows
    * would go live uncounted under a delete's meta. Torn relics are
    * invisible until a meta names their number, so clearing them here
    * is always safe; `ownedTables` lets [[compact]] name tables it
    * already renamed into place (its own writeEpoch call carries no
    * frames).
    *
    * PREMISE the sweep depends on (r13 ADVICE): each epoch number is
    * committed by exactly ONE writeEpoch call carrying the family's
    * full table set for that epoch (alongside the single-writer
    * contract). A family that split one epoch across two writeEpoch
    * calls would have the first call's tables silently deleted by the
    * second call's sweep — never do that; stage all of an epoch's
    * frames and commit them in one call.
    *
    * The write holds the artifact's writer LEASE (r14, the fencing
    * section above): acquired at entry unless the caller passed its
    * own token via `lease` (compact/compactBelow hold it across their
    * whole rewrite), re-verified strictly before the meta commit, and
    * released on every exit path — only a JVM crash leaks it, and the
    * next writer's refusal says how to break a dead writer's lease.
    * Both premises below run UNDER the lease (r14 ADVICE): the target
    * re-check is only meaningful once acquisition has serialized us
    * behind the writer that might have landed the epoch, and the
    * schema footer read must not race a compaction deleting the dir
    * it reads.
    *
    * ADDITIVE SCHEMA EVOLUTION (r15 — r14 VERDICT #2): with
    * `allowAdditive`, an epoch may WIDEN a table's schema — the stored
    * columns must be an unchanged PREFIX (same names, same types, same
    * order) and new columns append after them. This is the one
    * evolution parquet mixed reads handle soundly: a column absent in
    * earlier epochs reads as NULL there ([[rowsWithEpoch]] unions
    * shape-groups by name with NULL backfill), so a 100 TB artifact
    * gains a column without a rebuild. Renames, retypes, reorders, and
    * DROPS still refuse in both modes — those corrupt silently at
    * probe time. After a widening epoch commits, the widened schema IS
    * the stored schema: later appends must carry it — backfill
    * `lit(null).cast(<stored type>)` in the writer (a bare
    * `lit(null)` is NullType and fails this very prefix check) — or
    * widen further.
    *
    * `commitTs` (r15 — r14 VERDICT #3): a CALLER-SUPPLIED commit
    * timestamp (epoch millis) recorded in the meta as the layout-owned
    * `commit_ts` column — caller-supplied keeps gates deterministic
    * (the P9 per-job-constant precedent); None records NULL, which
    * [[servingStateAtTime]] refuses to resolve across. The commit KIND
    * persists alongside it (`commit_kind`: delete/data/retention,
    * derived from the table set) so [[describeHistory]] reports a
    * vacuumed epoch's true kind instead of degrading to 'superseded'.
    */
  def writeEpoch(dir: String, epoch: Int,
      tables: Seq[(String, DataFrame)], meta: DataFrame,
      floor: Int = 0, ownedTables: Seq[String] = Seq.empty,
      lease: Option[String] = None, allowAdditive: Boolean = false,
      commitTs: Option[Long] = None,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0,
      "writeEpoch: target file size must be positive")
    require(floor >= 0 && floor <= epoch,
      s"writeEpoch: floor $floor out of range for epoch $epoch")
    val spark = meta.sparkSession
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer fencing (r14): acquire the lease unless the caller
    // (compact/compactBelow) already holds it and passed its token
    val held = lease.getOrElse(acquireLease(fs, dir, "writeEpoch"))
    try {
      // TARGET RE-CHECK (r15 — r14 ADVICE #1): the lease detects only
      // temporally-OVERLAPPING writers. Two appends that both read the
      // serving state before either acquired will serialize here yet
      // both target epoch N+1 — without this check the second would
      // silently overwrite the first's committed epoch (mode is
      // overwrite by the torn-retry contract). A COMMITTED meta at the
      // target therefore refuses; a torn one (readMetaRow = None) is
      // exactly the retry case and proceeds. The fs.exists guard keeps
      // the common case (no meta dir at all) one cheap driver fs-op
      // instead of a failing Spark read.
      require(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$dir/meta_$epoch")) ||
          readMetaRow(spark, dir, epoch).isEmpty,
        s"writeEpoch: epoch $epoch is already committed at $dir — " +
          "another writer landed it after this write's serving-state " +
          "read (writers serialized on the lease but targeted the " +
          "same epoch). Re-read the serving state and retry against " +
          "the advanced artifact.")
      // SCHEMA PREMISE (r14 — r13 VERDICT #4): every epoch of a table
      // must carry the table's stored schema. Parquet mixed reads do
      // not fail on drift — a renamed column reads as NULLs, a retyped
      // one breaks only at probe time — so an append with a drifted
      // frame would corrupt silently at write time and loudly much
      // later. Refuse HERE instead, before any bytes land: same column
      // names, same types, same order; nullability normalized away.
      // Schema evolution = rebuild the artifact. The stored shape is
      // served by the write-once cache ([[storedShapeAt]] — populated
      // at write time, so a drain-cadence loop pays zero footer reads;
      // the r14 per-append read was the q167 regression).
      tables.foreach { case (name, df) =>
        val src = epochDirNums(fs, dir, name, floor, epoch - 1)
          .lastOption.map(n => s"$dir/$name/epoch=$n")
          .orElse(checkpointDir(fs, dir, name, floor))
        src.foreach { d =>
          val stored = storedShapeAt(spark, d)
          val incoming = shapeOf(df.schema)
          val ok =
            if (allowAdditive) incoming.take(stored.size) == stored
            else incoming == stored
          require(ok,
            s"writeEpoch: schema drift on table '$name' at $dir — " +
              s"stored ${stored.map { case (n, t) => s"$n:${t.simpleString}" }
                .mkString("(", ", ", ")")} vs incoming " +
              s"${df.schema.simpleString}. Every epoch of a table must " +
              "carry the stored schema (a drifted epoch would produce " +
              "a silently broken mixed read at probe time, not an " +
              "error here)" +
              (if (allowAdditive)
                ", and even an ADDITIVE epoch must keep the stored " +
                  "columns as an unchanged prefix — renames, retypes, " +
                  "reorders, and drops always refuse; rebuild for those."
              else
                "; widen schemas through the family's additive-" +
                  "evolution path (allowAdditive — new columns NULL-" +
                  "backfill in earlier epochs) or rebuild the " +
                  "artifact; never append a drifted frame."))
        }
      }
      // SIZED APPEND OUTPUT (r16 — r15 VERDICT #1, guide §6 small
      // files): an append used to land its frame's shuffle
      // partitioning — often one TINY file per local core at drain
      // cadence — and every subsequent probe across [floor, serving]
      // paid that file-count floor per epoch; only compact sized by
      // bytes. Stage the write into the hidden rewrite dir, measure
      // ACTUAL bytes (plan-stats estimates are unreliable on cached
      // frames; the staged listing is exact), and collapse GENUINE
      // SPRAWL only: more files than [[Compaction.partsFor]]'s
      // byte-derived count AND an average file below the scan-packing
      // open-cost charge (`spark.sql.files.openCostInBytes`, 4 MB —
      // below it Spark packs many files into one split anyway, so the
      // collapse costs zero read parallelism while deleting the
      // per-file open/listing tax). A HEALTHY multi-MB layout renames
      // into place untouched — the first cut of this change collapsed
      // every epoch to bytes/128MB files and a 40 MB single-file base
      // epoch serialized every probe's verify scan at local widths
      // (q154 4.1 → 14.5 s, measured r16); producer partitioning of
      // well-sized output stands. A crashed writer's leaked staging is
      // invisible to readers (dot-dir) and reclaimed by [[vacuum]].
      tables.foreach { case (name, df) =>
        val stage = s"$dir/$name/$StagingDir"
        val dest = s"$dir/$name/epoch=$epoch"
        df.write.mode("overwrite").parquet(stage)
        val stagePath = new org.apache.hadoop.fs.Path(stage)
        val destPath = new org.apache.hadoop.fs.Path(dest)
        val dataFiles = fs.listStatus(stagePath).filter(s =>
          s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
        val bytes = dataFiles.map(_.getLen).sum
        val parts = Compaction.partsFor(bytes, targetFileBytes,
          s"writeEpoch ('$name')")
        val sprawled = dataFiles.length > parts &&
          bytes < dataFiles.length * OpenCostBytes
        if (sprawled) {
          // coalesce, not repartition: sprawl collapse is file-count
          // housekeeping over bytes a single split already reads —
          // no shuffle warranted. Schema passed EXPLICITLY: schema
          // inference over an explicitly-given hidden directory warns
          // ("All paths were ignored") before falling through to the
          // children — the frame's own schema skips that wobble.
          spark.read.schema(df.schema).parquet(stage).coalesce(parts)
            .write.mode("overwrite").parquet(dest)
          fs.delete(stagePath, true); ()
        } else {
          if (fs.exists(destPath)) fs.delete(destPath, true)
          require(fs.rename(stagePath, destPath),
            s"writeEpoch: could not rename $stage to $dest")
        }
        recordShape(dest, df.schema)
      }
      val owned = (tables.map(_._1) ++ ownedTables).toSet
      if (fs.exists(root)) fs.listStatus(root).foreach { s =>
        val name = s.getPath.getName
        if (s.isDirectory && !owned(name) && !name.startsWith("meta_") &&
            !name.startsWith(".")) {
          val torn = new org.apache.hadoop.fs.Path(
            s"$dir/$name/epoch=$epoch")
          if (fs.exists(torn)) { fs.delete(torn, true); () }
        }
      }
      // the fencing check, strictly before the commit that would make
      // this epoch visible
      verifyLease(fs, dir, "writeEpoch", held)
      // the commit's KIND, derivable here and nowhere later: which
      // table set this epoch committed (deletes ⇒ 'delete'; any data
      // tables, renamed-into-place ones included ⇒ 'data'; none ⇒ a
      // compactBelow retention commit). Persisted so history survives
      // the directory shapes it would otherwise be inferred from.
      val kind =
        if (tables.exists(_._1 == DeletesTable) ||
            ownedTables.contains(DeletesTable)) "delete"
        else if (tables.nonEmpty || ownedTables.nonEmpty) "data"
        else "retention"
      meta.withColumn("floor_epoch", lit(floor))
        .withColumn("commit_ts",
          commitTs.map(lit(_)).getOrElse(lit(null)).cast("long"))
        .withColumn("commit_kind", lit(kind))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta_$epoch")
    } finally {
      if (lease.isEmpty) releaseLease(fs, dir, held)
    }
  }

  /** The two torn-meta shapes an uncommitted `meta_N` can read as —
    * the committer mkdirs the directory before any task commits, so a
    * crash mid-meta leaves `_temporary` only (UNABLE_TO_INFER_SCHEMA)
    * or, on some committers, no directory at all (PATH_NOT_FOUND).
    * Every OTHER AnalysisException cause (a foreign file in the meta
    * dir, a schema-broken read, an access failure surfacing as
    * analysis) must PROPAGATE — silently serving epoch N−1 because
    * epoch N is broken-but-not-torn would emit an incomplete answer
    * with no error (r11 ADVICE: the broad catch admitted them all).
    */
  private val TornMetaConditions: Set[String] =
    Set("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")

  /** Read `meta_N` if it is COMMITTED — None on the two torn shapes
    * and the zero-row commit (see [[TornMetaConditions]]); every other
    * failure PROPAGATES (the r11 narrowing). The one torn-meta read
    * [[servingState]] and [[describeHistory]] share — a future
    * narrowing must not diverge between them.
    */
  private def readMetaRow(spark: SparkSession, dir: String, n: Int)
      : Option[Row] = {
    val key = s"$dir/meta_$n"
    val cached = metaRows.get(key)
    if (cached != null) Some(cached)
    else
      try {
        val r = spark.read.parquet(key).head()
        metaRows.put(key, r)
        Some(r)
      } catch {
        case ae: org.apache.spark.sql.AnalysisException
            if TornMetaConditions.contains(ae.getCondition) => None
        case _: java.util.NoSuchElementException => None
      }
  }

  /** The LOUD committed-meta read ([[servingStateAt]]'s shape — every
    * epoch in `[floor, serving]` committed meta-last, so a failure here
    * is a broken artifact and PROPAGATES, deliberately not the
    * torn-skipping [[readMetaRow]]). Rides the same write-once cache.
    */
  private def readMetaRowLoud(spark: SparkSession, dir: String,
      n: Int): Row = {
    val key = s"$dir/meta_$n"
    val cached = metaRows.get(key)
    if (cached != null) cached
    else {
      val r = spark.read.parquet(key).head()
      metaRows.put(key, r)
      r
    }
  }

  /** The floor a meta row recorded — pre-floor metas (and foreign
    * writers) may lack the column; missing or NULL means "never
    * compacted" = 0.
    */
  private def metaFloor(m: Row): Int = {
    val fi = m.schema.fieldNames.indexOf("floor_epoch")
    if (fi >= 0 && !m.isNullAt(fi)) m.getInt(fi) else 0
  }

  /** The artifact's serving state — see [[Serving]]. Refuses, by
    * `who`'s name, an artifact with no complete epoch (torn base
    * build, missing directory, or a foreign layout); `rebuildHint`
    * names the family's rebuild entry point.
    */
  def servingState(spark: SparkSession, dir: String, who: String,
      rebuildHint: String): Serving = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rx = "meta_(\\d+)".r
    val epochs =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .collect { case rx(n) => n.toInt }
    // Only the TORN shapes skip to a lower epoch: an uncommitted
    // meta_N holds no readable parquet (the two conditions above) or
    // committed zero rows (head() throws NoSuchElement). Anything
    // else — a transient I/O error, a permission failure, a foreign
    // file breaking the read — PROPAGATES: silently serving epoch N−1
    // because epoch N hiccuped would emit an incomplete answer with
    // no error, which is worse than failing the probe (r11 review +
    // r11 ADVICE narrowing).
    val serving = epochs.sorted(Ordering[Int].reverse).view
      .flatMap(n => readMetaRow(spark, dir, n).map(m => (n, m)))
      .headOption
    require(serving.nonEmpty,
      s"$who: no complete epoch at $dir (no readable meta_N) — " +
        "the artifact is torn, missing, or a foreign layout; " +
        s"(re)build it with $rebuildHint")
    val (epoch, meta) = serving.get
    Serving(epoch, metaFloor(meta), meta)
  }

  /** The artifact's state AS OF a historical epoch (r13 — time-travel
    * reads): the returned [[Serving]] pins `asOf` as the read horizon
    * with the floor THAT epoch's meta recorded, so
    * [[tableThroughLive]] under it reproduces exactly what a probe at
    * the time of epoch `asOf`'s commit served — later appends are
    * outside the epoch range, later tombstones don't suppress
    * (`deletesThrough` is bounded by the same horizon), and the family
    * meta (counts, parameters) is the HISTORICAL row, not the current
    * one. This is what makes "re-run yesterday's verdicts against the
    * index as it stood yesterday" an exact operation on a since-mutated
    * artifact.
    *
    * History retention IS the floor: every epoch in `[floor, serving]`
    * has a complete meta (writers are serialized and each epoch commits
    * meta-last before the next begins) and its data files are never
    * reclaimed ([[vacuum]] deletes strictly below the floor), so any
    * `asOf` in that range is always servable. Below the floor the
    * history was compacted away — the rewrite folded those epochs (and
    * their tombstones) into one, so the per-epoch states no longer
    * exist even before a vacuum reclaims the bytes — and the read
    * REFUSES deterministically rather than serving whichever sub-floor
    * remnants happen to survive. Keep history by delaying compaction;
    * compaction is snapshot expiry.
    */
  def servingStateAt(spark: SparkSession, dir: String, asOf: Int,
      who: String, rebuildHint: String): Serving = {
    val cur = servingState(spark, dir, who, rebuildHint)
    require(asOf <= cur.epoch,
      s"$who: as-of epoch $asOf does not exist at $dir — the serving " +
        s"epoch is ${cur.epoch}")
    require(asOf >= cur.floor,
      s"$who: as-of epoch $asOf predates the floor ${cur.floor} at " +
        s"$dir — a compaction folded that history into one epoch (and " +
        "vacuum may have reclaimed it), so per-epoch states below the " +
        "floor no longer exist. History retention is the floor: delay " +
        "compaction on artifacts that must serve time-travel reads.")
    if (asOf == cur.epoch) cur
    else {
      // every epoch in [floor, serving] committed meta-last under the
      // single-writer contract, so this read can only fail on a broken
      // artifact — let that propagate loudly (deliberately NOT the
      // torn-skipping readMetaRow)
      val meta = readMetaRowLoud(spark, dir, asOf)
      val floor = metaFloor(meta)
      // The CURRENT floor wins over the historical one (r14): after a
      // [[compactBelow]], the epochs below the serving floor C were
      // folded into `checkpoint=C` and their directories are vacuum
      // bait, so a historical read must start at C (where the
      // checkpoint serves the folded prefix exactly) — the stale
      // floor recorded in meta_asOf would double-read pre-vacuum and
      // lose rows post-vacuum. cur.floor ≤ asOf always holds here
      // (the refusal above), so the clamp never moves the horizon.
      Serving(asOf, math.max(floor, cur.floor), meta)
    }
  }

  /** The layout-owned `commit_ts` a meta row recorded — None when the
    * commit predates r15 or its writer passed no timestamp.
    */
  private def metaCommitTs(m: Row): Option[Long] = {
    val i = m.schema.fieldNames.indexOf("commit_ts")
    if (i >= 0 && !m.isNullAt(i)) Some(m.getLong(i)) else None
  }

  /** TIMESTAMP-based as-of (r15 — r14 VERDICT #3, the Delta
    * `TIMESTAMP AS OF` table-stake): resolve `ts` (epoch millis, the
    * same caller-supplied clock the mutations recorded via
    * writeEpoch's `commitTs`) to the NEWEST retained horizon whose
    * commit_ts ≤ ts, and serve it exactly like [[servingStateAt]] —
    * "the index as it stood yesterday 14:00" instead of "as of epoch
    * 7". Three loud refusals keep it deterministic:
    *   - any meta in `[floor, serving]` without a commit_ts refuses —
    *     a history only partially stamped cannot be time-resolved
    *     (stamp every mutation, or ask by epoch);
    *   - non-monotone timestamps refuse naming the offending epochs —
    *     the caller supplies the clock, and resolution on a clock
    *     that runs backwards would silently serve the wrong horizon;
    *   - a ts before the floor horizon's commit refuses exactly like
    *     epoch as-of below the floor (that history was folded away —
    *     or never existed).
    * Cost: one driver-side meta read per retained horizon — bounded
    * by the retention policy, no table data read.
    */
  def servingStateAtTime(spark: SparkSession, dir: String, ts: Long,
      who: String, rebuildHint: String): Serving = {
    val st = servingState(spark, dir, who, rebuildHint)
    val stamped = (st.floor to st.epoch).map { n =>
      // the shared torn-aware read (r15 review — the narrowing must
      // keep exactly one home); a retained horizon's meta is committed
      // by the layout's own invariants, so None here is corruption,
      // not a torn write to skip
      val m = if (n == st.epoch) st.meta
        else readMetaRow(spark, dir, n).getOrElse(
          throw new IllegalArgumentException(
            s"$who: meta_$n at $dir is missing or torn inside the " +
              s"retained range [${st.floor}, ${st.epoch}] — the " +
              "layout commits metas last and vacuums only below the " +
              s"floor, so this artifact is corrupt; $rebuildHint"))
      (n, metaCommitTs(m))
    }
    val missing = stamped.collect { case (n, None) => n }
    require(missing.isEmpty,
      s"$who: epoch(s) ${missing.mkString(", ")} at $dir carry no " +
        "commit_ts — this artifact's retained history is not (fully) " +
        "timestamped, so a timestamp cannot resolve to a horizon " +
        "deterministically. Stamp every mutation (the commitTs " +
        "parameter) or ask by epoch (as-of).")
    val ordered = stamped.map { case (n, v) => (n, v.get) }
    val backwards = ordered.sliding(2).collectFirst {
      case Seq((a, ta), (b, tb)) if tb < ta => (a, ta, b, tb) }
    require(backwards.isEmpty, {
      val (a, ta, b, tb) = backwards.get
      s"$who: commit timestamps at $dir run backwards (epoch $a at " +
        s"$ta, then epoch $b at $tb) — the caller-supplied clock must " +
        "be monotone for a timestamp to name one horizon; fix the " +
        "writer's clock or ask by epoch."
    })
    require(ts >= ordered.head._2,
      s"$who: timestamp $ts predates the earliest retained horizon at " +
        s"$dir (epoch ${ordered.head._1}, commit_ts " +
        s"${ordered.head._2}) — like epoch as-of below the floor, " +
        "that history was folded away by a compaction or never " +
        "existed. History retention is the floor.")
    servingStateAt(spark, dir, ordered.takeWhile(_._2 <= ts).last._1,
      who, rebuildHint)
  }

  /** The checkpoint directory prefix inside each table root (r14 —
    * PARTIAL compaction, r13 VERDICT #1): `<table>/checkpoint=C/`
    * holds the table's as-of-C live row set materialized by
    * [[compactBelow]]. A checkpoint is LIVE iff the serving floor
    * equals its number (floors are monotone and only [[compactBelow]]
    * sets floor = C after rewriting `checkpoint=C`, so existence at
    * the floor is a sound liveness test); any other `checkpoint=K` is
    * a superseded or torn relic no reader touches ([[vacuum]] sweeps
    * them). Checkpoint rows carry EFFECTIVE epoch C in every read, so
    * retained tombstones (del_epoch > C) keep suppressing them exactly
    * as they suppressed the original sub-C rows.
    */
  private val CheckpointPrefix = "checkpoint="

  /** The table's live checkpoint directory — present iff the floor is
    * checkpoint-based (see [[CheckpointPrefix]]).
    */
  private def checkpointDir(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String, floor: Int): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(
      s"$dir/$name/$CheckpointPrefix$floor")
    if (fs.exists(p)) Some(s"$dir/$name/$CheckpointPrefix$floor")
    else None
  }

  /** Committed `epoch=N` directory numbers of a table with N in
    * `[lo, hi]`, ascending. Only `epoch=` names match — hidden staging
    * and checkpoint directories are never listed, so this read can
    * never race a rewrite's stage.
    */
  private def epochDirNums(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String, lo: Int, hi: Int): Seq[Int] = {
    val rx = "epoch=(\\d+)".r
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(_.getPath.getName match {
        case rx(n) if n.toInt >= lo && n.toInt <= hi => Some(n.toInt)
        case _ => None
      })
      .sorted
  }

  /** A table's live rows in `[floor, epoch]` WITH their effective
    * `epoch` column — the ONE checkpoint-aware read every consumer
    * rides. With a checkpoint-based floor the scan is the checkpoint
    * (rows at effective epoch = floor) unioned with the delta epochs
    * in `(floor, epoch]`; otherwise it is the epoch directories in
    * `[floor, epoch]` — both as EXPLICIT directory reads (a root read
    * would trip partition discovery on the checkpoint sibling and
    * could race a rewrite's visible relics). Directory selection
    * prunes at the driver, so neither shape reads a byte outside the
    * range.
    */
  private def rowsWithEpoch(spark: SparkSession, dir: String,
      name: String, floor: Int, epoch: Int): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cp = checkpointDir(fs, dir, name, floor)
    val lo = if (cp.isDefined) floor + 1 else floor
    val dirs = epochDirNums(fs, dir, name, lo, epoch)
      .map(n => s"$dir/$name/epoch=$n")
    // ADDITIVE schema evolution (r15) makes epoch shapes differ:
    // group CONSECUTIVE same-shape dirs (ascending epoch — shapes only
    // ever widen, so runs are maximal) and union the runs by name with
    // NULL backfill, oldest first, which reproduces the widened column
    // order (the additive premise pins the stored prefix). The per-dir
    // shape consult rides the write-once cache, so the homogeneous
    // fast path — every artifact that never evolved — stays today's
    // single multi-dir scan with zero extra footer reads in-JVM.
    val delta =
      if (dirs.isEmpty) None
      else {
        val runs = dirs.foldLeft(
            List.empty[(Seq[(String, org.apache.spark.sql.types.DataType)],
              List[String])]) { (acc, d) =>
          val s = storedShapeAt(spark, d)
          acc match {
            case (hs, hd) :: tail if hs == s => (hs, d :: hd) :: tail
            case _ => (s, List(d)) :: acc
          }
        }.reverse.map { case (_, ds) => ds.reverse }
        Some(runs
          .map(ds => spark.read.option("basePath", s"$dir/$name")
            .parquet(ds: _*))
          .reduce((a, b) => a.unionByName(b, allowMissingColumns = true)))
      }
    val base = cp.map(c =>
      spark.read.parquet(c).withColumn("epoch", lit(floor)))
    (base, delta) match {
      // allowMissingColumns: after an evolution the checkpoint (the
      // folded OLD shape) is narrower than the deltas until the next
      // compaction folds the widened rows in — identical plan to the
      // plain union when the shapes already match
      case (Some(b), Some(d)) =>
        b.unionByName(d, allowMissingColumns = true)
      case (Some(b), None) => b
      case (None, Some(d)) => d
      case (None, None) => throw new IllegalArgumentException(
        s"EpochStore: table '$name' has no data in epochs " +
          s"[$floor, $epoch] at $dir — the artifact is torn, foreign, " +
          "or was vacuumed outside the layout's rules")
    }
  }

  /** A table's LIVE rows — epochs in `[floor, epoch]` (checkpoint-
    * aware, see [[rowsWithEpoch]]: a checkpoint-based floor serves the
    * folded base plus the retained deltas). Directory selection skips
    * torn higher epochs AND compacted-away lower ones without reading
    * a byte of them. Callers project their own columns (the epoch
    * column is dropped here). NOT tombstone-aware — families with a
    * delete entry point read through [[tableThroughLive]] instead.
    */
  def tableThrough(spark: SparkSession, dir: String, name: String,
      floor: Int, epoch: Int): DataFrame =
    rowsWithEpoch(spark, dir, name, floor, epoch).drop("epoch")

  // --------------------------------------------------------------------
  // TOMBSTONES (r13 — the DELETE quarter of the lifecycle, r12 VERDICT
  // #1): the layout was append-only, so retracting a stored document (a
  // dedup retraction, a takedown/right-to-be-forgotten request, a
  // corrupted-shard replacement) forced a FULL rebuild of a 100 TB
  // artifact. A delete is now one more epoch: the layout-owned
  // `deletes/epoch=N` table holds the retracted row ids, committed by
  // the same meta-last discipline (a torn delete is invisible and
  // retried; the family meta carries its shrunken cumulative counts in
  // the same commit, so counts and tombstones can never skew). Readers
  // apply live tombstones as an anti-join at [[tableThroughLive]] time;
  // [[compact]] folds them away PHYSICALLY (tombstoned rows are dropped
  // from the rewrite and no deletes table is carried above the floor),
  // so delete + compact + vacuum reclaims the bytes.
  //
  // A tombstone names the PAST, not the id forever: it suppresses rows
  // only in epochs STRICTLY BELOW its own, so a deleted id may be
  // re-appended afterwards and serves again — the epoch-qualified
  // anti-join (`row.epoch < tombstone.epoch`) is what makes
  // delete → re-append → delete sequences compose without any
  // cross-epoch bookkeeping.

  /** The layout-owned tombstone table: `deletes/epoch=N` holds one
    * LONG `id` column naming the rows epoch N retracted.
    */
  private[graft] val DeletesTable = "deletes"

  /** Write a DELETE epoch: `ids` (exactly one LONG column named `id`)
    * lands as the layout-owned deletes table, any family side tables
    * (e.g. BM25's negative df rows) land beside it, and the family's
    * UPDATED meta (shrunken cumulative counts, same family string and
    * parameters) commits LAST — tombstones and counts move atomically
    * or not at all. Which ids are legal to retract is family
    * semantics: families refuse ids that are not currently live
    * BEFORE calling this.
    */
  def writeDeleteEpoch(dir: String, epoch: Int, ids: DataFrame,
      extraTables: Seq[(String, DataFrame)], meta: DataFrame,
      floor: Int, commitTs: Option[Long] = None): Unit = {
    require(ids.schema.length == 1 && ids.schema.head.name == "id" &&
        ids.schema.head.dataType ==
          org.apache.spark.sql.types.LongType,
      "writeDeleteEpoch: ids must be exactly one LONG column named " +
        s"'id', got ${ids.schema.simpleString}")
    writeEpoch(dir, epoch, (DeletesTable -> ids) +: extraTables, meta,
      floor, commitTs = commitTs)
  }

  /** The shared DELETE-epoch scaffold (r13 review — five families
    * carried byte-similar ~25-line copies of it): validates the
    * delete set (one id space; every id present in the family's live
    * frame — a retraction must name stored rows, never no-op) and
    * commits the tombstone epoch meta-last via [[writeDeleteEpoch]].
    * The family supplies only what is genuinely family semantics: its
    * live-id frame (one LONG column named `id`), the refusal's noun
    * phrasing, any side tables, and the shrunken meta built from the
    * validated delete count. BM25 stays bespoke by design: its
    * liveness check is fused with the deleted docs' (count, Σdl)
    * aggregate and its side table derives from the live postings.
    */
  def deleteEpochChecked(dir: String, who: String, ids: DataFrame,
      idCol: String, liveIds: DataFrame, notLiveMsg: String,
      extraTables: Seq[(String, DataFrame)],
      shrunkenMeta: Long => DataFrame, epoch: Int, floor: Int,
      commitTs: Option[Long] = None): Unit = {
    val del = graft.CacheScope.scoped(
      ids.select(col(idCol).cast("long").as("id")))
    // dup + liveness premises fused into ONE action (r15 —
    // graft.operators.Checks): each was its own driver job round-trip
    val Seq(counts, miss) = graft.operators.Checks.counts(
      del.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.count_distinct(col("id"))
          .as("nd")),
      del.join(liveIds, Seq("id"), "left_anti")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("c")))
    require(counts(0) == counts(1),
      s"$who: the delete set is not one id space — " +
        s"${counts(0) - counts(1)} duplicate id(s); " +
        "de-duplicate it upstream.")
    require(miss(0) == 0, s"$who: $notLiveMsg")
    writeDeleteEpoch(dir, epoch, del, extraTables,
      shrunkenMeta(counts(0)), floor, commitTs)
  }

  /** The LIVE tombstones in `[floor, epoch]` as (id, del_epoch) — or
    * None when the artifact has no delete epoch in the live range (the
    * common case: one driver-side existence probe, zero plan change).
    */
  def deletesThrough(spark: SparkSession, dir: String, floor: Int,
      epoch: Int): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/$DeletesTable")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rx = "epoch=(\\d+)".r
    val anyLive = fs.exists(root) && fs.listStatus(root).exists(s =>
      s.getPath.getName match {
        case rx(n) => n.toInt >= floor && n.toInt <= epoch
        case _ => false
      })
    if (!anyLive) None
    else Some(spark.read.parquet(s"$dir/$DeletesTable")
      .filter(col("epoch") >= floor && col("epoch") <= epoch)
      .select(col("id"), col("epoch").cast("int").as("del_epoch")))
  }

  /** A table's live rows MINUS tombstoned ones: a row from epoch e is
    * suppressed by tombstone (id, del_epoch) iff `idCol` matches and
    * e < del_epoch — the epoch-qualified anti-join that lets a deleted
    * id be re-appended (see the tombstone section comment). The join
    * keeps its equi component on the id, so Spark plans a hash/merge
    * anti join (never a nested loop); with no live tombstones the plan
    * is [[tableThrough]]'s, unchanged.
    */
  def tableThroughLive(spark: SparkSession, dir: String, name: String,
      idCol: String, floor: Int, epoch: Int): DataFrame = {
    val rows = rowsWithEpoch(spark, dir, name, floor, epoch)
    val live = deletesThrough(spark, dir, floor, epoch) match {
      case None => rows
      case Some(dels) =>
        rows.join(dels, rows(idCol) === dels("id") &&
          rows("epoch") < dels("del_epoch"), "left_anti")
    }
    live.drop("epoch")
  }

  /** Bytes of committed data files across a table's live epochs —
    * driver-side listing only, sizes the compaction's output file
    * count the same way [[Compaction.compactParquet]] does.
    */
  // --------------------------------------------------------------------
  // DIFFERENTIAL reads (r14 — r13 VERDICT #2): the layout serves any
  // retained horizon; changesBetween answers "what changed between
  // horizon i and j" so an incremental downstream consumer re-verdicts
  // only the delta instead of re-reading a 100 TB artifact — CDC out
  // of a stored index, layout-owned because the answer is pure epoch
  // arithmetic: ADDED = rows committed in (i, j] still live at j;
  // REMOVED = ids tombstoned in (i, j] that were live at i. An id
  // deleted and re-appended inside the window appears in BOTH (the
  // consumer applies removes then adds — honest replace semantics);
  // one appended and deleted inside the window appears in NEITHER.
  // Both ends must be retained horizons (floor ≤ i ≤ j ≤ serving) —
  // below the floor the per-epoch states were folded away and the
  // read refuses exactly like as-of.

  private def changeBounds(spark: SparkSession, dir: String, from: Int,
      to: Int, who: String, rebuildHint: String): Serving = {
    val st = servingState(spark, dir, who, rebuildHint)
    require(from <= to,
      s"$who: change range [$from, $to] is inverted")
    require(to <= st.epoch,
      s"$who: change range end $to does not exist at $dir — the " +
        s"serving epoch is ${st.epoch}")
    require(from >= st.floor,
      s"$who: change range start $from predates the floor ${st.floor} " +
        s"at $dir — a compaction folded that history away, so the " +
        "delta from it no longer exists. History retention is the " +
        "floor: delay compaction (or compactBelow a later horizon) on " +
        "artifacts that must serve differential reads.")
    st
  }

  /** Rows ADDED to a table between horizons `from` (exclusive) and
    * `to` (inclusive): committed in epochs `(from, to]` and not
    * tombstoned by `to`. The scan prunes to the delta epochs at the
    * driver (the checkpoint — effective epoch = floor ≤ from — never
    * reads a row), so the cost is proportional to the DELTA, not the
    * artifact.
    */
  def addedBetween(spark: SparkSession, dir: String, name: String,
      idCol: String, from: Int, to: Int, who: String,
      rebuildHint: String): DataFrame = {
    val st = changeBounds(spark, dir, from, to, who, rebuildHint)
    val rows = rowsWithEpoch(spark, dir, name, st.floor, to)
      .filter(col("epoch") > from)
    val live = deletesThrough(spark, dir, from + 1, to) match {
      case None => rows
      case Some(dels) =>
        rows.join(dels, rows(idCol) === dels("id") &&
          rows("epoch") < dels("del_epoch"), "left_anti")
    }
    live.drop("epoch")
  }

  /** Ids REMOVED from a table between horizons `from` (exclusive) and
    * `to` (inclusive): tombstoned in epochs `(from, to]` AND live at
    * horizon `from` (a delete of something added inside the window is
    * not a removal the consumer ever saw). One column named `idCol`
    * (LONG). The tombstone side is tiny by construction; the live-at-
    * `from` side is an id-projected (column-pruned) scan consumed by
    * a semi join.
    */
  def removedBetween(spark: SparkSession, dir: String, name: String,
      idCol: String, from: Int, to: Int, who: String,
      rebuildHint: String): DataFrame = {
    val st = changeBounds(spark, dir, from, to, who, rebuildHint)
    deletesThrough(spark, dir, from + 1, to) match {
      case None =>
        spark.range(0).select(col("id").cast("long").as(idCol))
      case Some(dels) =>
        val liveAtFrom = tableThroughLive(spark, dir, name, idCol,
          st.floor, from)
        dels.select(col("id")).distinct()
          .join(liveAtFrom.select(col(idCol).as("id")), Seq("id"),
            "left_semi")
          .select(col("id").as(idCol))
    }
  }

  /** The artifact's MUTATION HISTORY from its surviving metas (r14 —
    * the DESCRIBE-HISTORY introspection every lakehouse table format
    * ships): one row per readable `meta_N`, driver-side only (metas
    * are one-row files; no table data is read). Columns:
    *   - `epoch`, `floor_at_commit` (the floor that epoch's meta
    *     recorded — the artifact's retention point as of that commit),
    *   - `kind`: 'checkpoint' (the serving floor's epoch when a
    *     [[compactBelow]] fold backs it — a CURRENT-state label, so it
    *     takes precedence), else the PERSISTED `commit_kind` the epoch
    *     recorded at commit time (r15 — 'delete' / 'data' /
    *     'retention'; a vacuumed epoch keeps reporting its true kind).
    *     Pre-r15 metas carry no commit_kind and fall back to the r14
    *     inference from surviving directory shapes: 'delete' (a
    *     tombstone table at the epoch), 'data' (any family table),
    *     'retention' (live, no tables — a compactBelow commit), or
    *     'superseded' (a SUB-FLOOR epoch whose directories are gone —
    *     only reachable without a persisted kind, where the original
    *     is genuinely unknowable),
    *   - `live`: whether the epoch is in the serving read range,
    *   - `commit_ts`: the caller-supplied commit timestamp (r15 —
    *     NULL when the writer passed none), the column
    *     [[servingStateAtTime]] resolves against.
    * Sub-floor metas survive only until [[vacuum]]; they report with
    * live = false. `tables` names the family's data tables (the
    * [[vacuum]] convention) for the fallback kind detection.
    */
  def describeHistory(spark: SparkSession, dir: String,
      tables: Seq[String], who: String, rebuildHint: String)
      : DataFrame = {
    val st = servingState(spark, dir, who, rebuildHint)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rx = "meta_(\\d+)".r
    val epochs = fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case rx(n) => n.toInt }.sorted
    val rows = epochs.flatMap { n =>
      readMetaRow(spark, dir, n).map { m =>
        val live = n >= st.floor && n <= st.epoch
        val persisted = {
          val i = m.schema.fieldNames.indexOf("commit_kind")
          if (i >= 0 && !m.isNullAt(i)) Some(m.getString(i)) else None
        }
        val kind =
          if (n == st.floor &&
              tables.exists(t => checkpointDir(fs, dir, t, n).isDefined))
            "checkpoint"
          else persisted.getOrElse {
            if (fs.exists(new org.apache.hadoop.fs.Path(
                s"$dir/$DeletesTable/epoch=$n"))) "delete"
            else if (tables.exists(t => fs.exists(
                new org.apache.hadoop.fs.Path(s"$dir/$t/epoch=$n"))))
              "data"
            // a live epoch with no dirs committed none (a compactBelow
            // retention commit); a SUB-FLOOR one may simply have been
            // reclaimed — without a persisted kind it is unknowable,
            // say so
            else if (live) "retention"
            else "superseded"
          }
        org.apache.spark.sql.Row(n, metaFloor(m), kind, live,
          metaCommitTs(m).map(java.lang.Long.valueOf).orNull)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("epoch",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("floor_at_commit",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("live",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("commit_ts",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** Layout-owned existence probes for callers (gates, premises) that
    * must assert physical layout facts without re-deriving the naming
    * convention by string concatenation (r14 second review — a layout
    * rename would silently make such premises vacuous).
    */
  private[graft] def checkpointDirExists(spark: SparkSession,
      dir: String, name: String, k: Int): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    checkpointDir(fs, dir, name, k).isDefined
  }

  private[graft] def epochDirExists(spark: SparkSession, dir: String,
      name: String, n: Int): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name/epoch=$n")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def dataFileBytes(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(d)) 0L
    else fs.listStatus(d).iterator
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getLen).sum

  private def liveBytes(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String, floor: Int, epoch: Int): Long = {
    val cp = checkpointDir(fs, dir, name, floor)
    val cpBytes = cp.map(c =>
      dataFileBytes(fs, new org.apache.hadoop.fs.Path(c))).getOrElse(0L)
    val lo = if (cp.isDefined) floor + 1 else floor
    cpBytes + epochDirNums(fs, dir, name, lo, epoch)
      .map(n => dataFileBytes(fs,
        new org.apache.hadoop.fs.Path(s"$dir/$name/epoch=$n"))).sum
  }

  /** One table in a [[compact]] rewrite: `idCol` names the column the
    * layout-owned tombstones suppress (None for tables not keyed by a
    * row id — e.g. BM25's per-epoch df aggregate); `rewrite` is an
    * optional family hook applied to the live row set before it lands
    * (e.g. re-aggregating additive rows so delete-epoch negatives
    * physically cancel) — it must preserve the table's schema and the
    * semantics the family's probes consume.
    */
  final case class CompactTable(name: String,
      idCol: Option[String] = None,
      rewrite: DataFrame => DataFrame = identity)

  /** COMPACT the artifact: rewrite every table's live row set
    * (`[floor, serving]`, MINUS tombstoned rows — see the tombstone
    * section comment) into the single fresh epoch `serving + 1`, meta
    * written LAST with `floor_epoch = serving + 1` — so the new epoch
    * both IS the whole artifact and supersedes everything below it in
    * one atomic meta commit. Tombstones fold away PHYSICALLY: the
    * rewrite drops the rows they suppress, no deletes table is carried
    * above the floor, and [[vacuum]] reclaims the old ones — so
    * delete + compact is how a 100 TB artifact actually sheds retracted
    * bytes. A compaction that dies mid-write leaves only hidden staging
    * (below) or a torn epoch — invisible either way, retried. The
    * family meta row is carried VERBATIM (same family string, same
    * parameters, same cumulative counts — deletes already shrank them
    * in their own commit), so every family premise (drift refusals,
    * parameter currency) holds across it unchanged.
    *
    * The rewrite STAGES OUTSIDE the epoch namespace (a dot-prefixed
    * dir Spark's listing ignores) and only RENAMES into
    * `epoch=<target>` after re-checking that the serving epoch did
    * not advance — so a concurrent append (a single-writer-contract
    * violation) is detected and REFUSED without the rewrite ever
    * having clobbered the append's committed data, and the appended
    * state keeps serving. The refusal is best-effort DETECTION of a
    * contract violation, not a concurrency guarantee: like any
    * parquet layout without a table format, two writers racing inside
    * the rename→meta window can still corrupt the artifact —
    * serialize writers externally; that is the contract. (Concurrent
    * READERS remain safe under serialized writers: they serve the
    * highest complete meta, and staging is invisible to them.)
    *
    * Output files are sized from the live input bytes (128 MB target,
    * the [[Compaction]] convention) — the point of compacting is to
    * collapse an epoch-per-micro-batch sprawl of small files, not to
    * re-shard it verbatim.
    *
    * Returns false (and writes nothing) when the artifact is already
    * a single live epoch — compacting it again would only move bytes.
    */
  def compact(spark: SparkSession, dir: String,
      tables: Seq[CompactTable], who: String, rebuildHint: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      commitTs: Option[Long] = None): Boolean = {
    require(targetFileBytes > 0, s"$who: target file size must be positive")
    val st = servingState(spark, dir, who, rebuildHint)
    if (st.epoch == st.floor) return false
    // every family meta carries its serving epoch in an `epoch` column
    // (all current families do); fail fast on a new family that forgot
    // — BEFORE the rewrite, not after the renames (r13 review: a
    // late throw would leave a torn epoch plus a paid-for rewrite of
    // what the scaladoc describes as a 100 TB artifact on every retry)
    require(st.meta.schema.fieldNames.contains("epoch"),
      s"$who: the family meta at $dir has no 'epoch' column — every " +
        "EpochStore family meta must carry its serving epoch so " +
        "compact can rewrite it; fix the family's writeEpoch call")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the lease spans the WHOLE rewrite (r14): a concurrent append now
    // refuses at its own writeEpoch instead of racing the rename→meta
    // window, and a force-broken lease is detected by the fencing
    // check before the meta commit
    val token = acquireLease(fs, dir, who)
    try {
    val target = st.epoch + 1
    // the live tombstones, computed once for every table's rewrite; a
    // delete always writes a NEW epoch above its floor, so live
    // tombstones imply epoch > floor and the early return above can
    // never hide them
    val dels = deletesThrough(spark, dir, st.floor, st.epoch)
    val stagedShapes = tables.map { t =>
      val bytes = liveBytes(fs, dir, t.name, st.floor, st.epoch)
      val parts = Compaction.partsFor(bytes, targetFileBytes,
        s"$who ('${t.name}')")
      // the shared checkpoint-aware EXPLICIT-directory read (never the
      // table root): the staging dir is a sibling of the epoch dirs,
      // and a root listing must never race the output — a retried torn
      // compaction would otherwise re-list its own half-written stage.
      // The epoch column rides along for the epoch-qualified tombstone
      // anti-join (checkpoint rows at the effective floor epoch).
      val raw = rowsWithEpoch(spark, dir, t.name, st.floor, st.epoch)
      val alive = (dels, t.idCol) match {
        case (Some(dd), Some(ic)) =>
          raw.join(dd, raw(ic) === dd("id") &&
            raw("epoch") < dd("del_epoch"), "left_anti")
        case _ => raw
      }
      val live = alive.drop("epoch")
      val rewritten = t.rewrite(live)
      // REWRITE-SHAPE PREMISE (r15 review): the family hook must
      // preserve the table's (possibly additively-widened) schema —
      // a re-aggregating rewrite written before an evolution would
      // otherwise silently DROP the evolved columns' data in the fold
      // (and recordShape below would bless the narrowed shape as the
      // stored schema, so no later premise could ever catch it).
      // Driver-side schema comparison only; nothing executes here.
      require(shapeOf(rewritten.schema) == shapeOf(live.schema),
        s"$who: the '${t.name}' rewrite hook changed the table's " +
          s"schema — live ${live.schema.simpleString} vs rewritten " +
          s"${rewritten.schema.simpleString}. A compaction moves " +
          "bytes, never shapes; after an additive evolution the " +
          "rewrite must carry the widened columns through (decide " +
          "how they fold, e.g. a first()/sum() per group) or the " +
          "fold silently loses their data.")
      rewritten
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/${t.name}/$StagingDir")
      t.name -> rewritten.schema
    }.toMap
    beforeCompactCommit()
    val now = servingState(spark, dir, who, rebuildHint)
    require(now.epoch == st.epoch,
      s"$who: the artifact at $dir advanced during compaction " +
        s"(epoch ${st.epoch} → ${now.epoch}) — a concurrent append " +
        "violated the single-writer contract, and committing the " +
        "compacted meta would silently drop its rows. The rewrite " +
        "was left in hidden staging (never renamed into the epoch " +
        "namespace — readers serve the appended state untouched); " +
        "serialize writers and retry. This is best-effort DETECTION, " +
        "not a guarantee: a writer racing inside the rename→meta " +
        "window is still undetected (the single-writer contract).")
    tables.foreach { t =>
      val stage = new org.apache.hadoop.fs.Path(
        s"$dir/${t.name}/$StagingDir")
      val dst = new org.apache.hadoop.fs.Path(
        s"$dir/${t.name}/epoch=$target")
      // the re-check above just proved no meta_<target> exists, so any
      // data already at the target is a TORN epoch (a died append or
      // compaction) — exactly what the retry contract overwrites. (An
      // in-flight concurrent writer's pre-meta data is
      // indistinguishable from torn garbage; that hazard is what the
      // single-writer contract exists for — see the scaladoc.)
      if (fs.exists(dst)) fs.delete(dst, true)
      require(fs.rename(stage, dst),
        s"$who: could not rename $stage to $dst")
      recordShape(s"$dir/${t.name}/epoch=$target", stagedShapes(t.name))
    }
    val carried = spark.createDataFrame(
        java.util.Collections.singletonList(st.meta),
        st.meta.schema)
      .withColumn("epoch", lit(target))
      .drop("floor_epoch")
    // ownedTables: the renamed family tables must survive the torn-
    // sibling sweep; a torn deletes/epoch=<target> (a died delete at
    // the same number) is NOT owned and gets swept — otherwise this
    // meta commit would carry a zombie tombstone table above the
    // floor forever (r13 review), violating "no deletes table above
    // the floor" and taxing every future read with its anti-join
    writeEpoch(dir, target, Seq.empty, carried, floor = target,
      ownedTables = tables.map(_.name), lease = Some(token),
      commitTs = commitTs)
    true
    } finally { releaseLease(fs, dir, token) }
  }

  /** PARTIAL compaction (r14, r13 VERDICT #1 — bounded history
    * retention): fold the artifact's history UP TO `horizon` into one
    * materialized CHECKPOINT while every epoch above it — and every
    * as-of horizon in `[horizon, serving]` — stays exactly servable.
    * [[compact]] collapses ALL history (floor = its own epoch), which
    * makes housekeeping and audit reads mutually exclusive: at the
    * epoch-per-micro-batch cadence (q164/q175) an owner must choose
    * between reclaiming a year of sprawl and keeping last week's
    * horizons. compactBelow is the production middle: reclaim the
    * sprawl below the retention point, keep the recent history.
    *
    * Mechanism: each table's as-of-`horizon` live row set (epochs
    * `[floor, horizon]`, tombstones ≤ horizon applied — exactly what
    * [[tableThroughLive]] serves at that horizon) is rewritten into
    * `<table>/checkpoint=<horizon>/` (staged hidden, renamed only
    * after the serve-skew re-check), then ONE meta commit publishes
    * epoch `serving + 1` with `floor_epoch = horizon`. Readers under
    * the new floor serve the checkpoint as effective epoch `horizon`
    * plus the retained deltas ([[rowsWithEpoch]]): the serving row
    * set is unchanged, every as-of in `[horizon, serving]` reproduces
    * its pre-compaction read bit-for-bit (retained tombstones still
    * suppress checkpoint rows — effective epoch `horizon` < their
    * del_epoch, exactly as the folded originals were), and as-of
    * below `horizon` refuses (that history is folded — snapshot
    * expiry, now BOUNDED instead of total). Historical metas in
    * `[horizon, serving]` stay untouched and keep serving their
    * horizons' family rows. A crash anywhere before the meta commit
    * leaves only hidden staging or unreferenced checkpoint dirs —
    * invisible either way (checkpoints are live only when the floor
    * names them), retried by re-running. The superseded epoch dirs
    * (≤ horizon) and any prior checkpoint become [[vacuum]] bait.
    *
    * Returns false (writes nothing) when `horizon` IS the floor —
    * the artifact is already based there. Refuses a horizon above the
    * serving epoch or below the floor (that history is already gone).
    * Single-writer, like every mutation; the serve-skew re-check is
    * the same best-effort detection [[compact]] documents.
    */
  def compactBelow(spark: SparkSession, dir: String,
      tables: Seq[CompactTable], horizon: Int, who: String,
      rebuildHint: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      commitTs: Option[Long] = None): Boolean = {
    require(targetFileBytes > 0, s"$who: target file size must be positive")
    val st = servingState(spark, dir, who, rebuildHint)
    require(horizon <= st.epoch,
      s"$who: retention horizon $horizon does not exist at $dir — " +
        s"the serving epoch is ${st.epoch}")
    require(horizon >= st.floor,
      s"$who: retention horizon $horizon predates the floor " +
        s"${st.floor} at $dir — that history was already folded away " +
        "by an earlier compaction.")
    if (horizon == st.floor) return false
    require(st.meta.schema.fieldNames.contains("epoch"),
      s"$who: the family meta at $dir has no 'epoch' column — every " +
        "EpochStore family meta must carry its serving epoch so " +
        "compaction can rewrite it; fix the family's writeEpoch call")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = acquireLease(fs, dir, who)
    try {
    val target = st.epoch + 1
    // tombstones ≤ horizon fold into the checkpoint; later ones stay
    // live and keep suppressing it (effective epoch = horizon)
    val dels = deletesThrough(spark, dir, st.floor, horizon)
    val stagedShapes = tables.map { t =>
      val bytes = liveBytes(fs, dir, t.name, st.floor, horizon)
      val parts = Compaction.partsFor(bytes, targetFileBytes,
        s"$who ('${t.name}')")
      val raw = rowsWithEpoch(spark, dir, t.name, st.floor, horizon)
      val alive = (dels, t.idCol) match {
        case (Some(dd), Some(ic)) =>
          raw.join(dd, raw(ic) === dd("id") &&
            raw("epoch") < dd("del_epoch"), "left_anti")
        case _ => raw
      }
      val live = alive.drop("epoch")
      val rewritten = t.rewrite(live)
      // REWRITE-SHAPE PREMISE (r15 review): the family hook must
      // preserve the table's (possibly additively-widened) schema —
      // a re-aggregating rewrite written before an evolution would
      // otherwise silently DROP the evolved columns' data in the fold
      // (and recordShape below would bless the narrowed shape as the
      // stored schema, so no later premise could ever catch it).
      // Driver-side schema comparison only; nothing executes here.
      require(shapeOf(rewritten.schema) == shapeOf(live.schema),
        s"$who: the '${t.name}' rewrite hook changed the table's " +
          s"schema — live ${live.schema.simpleString} vs rewritten " +
          s"${rewritten.schema.simpleString}. A compaction moves " +
          "bytes, never shapes; after an additive evolution the " +
          "rewrite must carry the widened columns through (decide " +
          "how they fold, e.g. a first()/sum() per group) or the " +
          "fold silently loses their data.")
      rewritten
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/${t.name}/$StagingDir")
      t.name -> rewritten.schema
    }.toMap
    beforeCompactCommit()
    val now = servingState(spark, dir, who, rebuildHint)
    require(now.epoch == st.epoch,
      s"$who: the artifact at $dir advanced during compaction " +
        s"(epoch ${st.epoch} → ${now.epoch}) — a concurrent append " +
        "violated the single-writer contract, and committing the " +
        "compacted meta would silently drop its rows. The rewrite " +
        "was left in hidden staging (readers serve the appended " +
        "state untouched); serialize writers and retry.")
    tables.foreach { t =>
      val stage = new org.apache.hadoop.fs.Path(
        s"$dir/${t.name}/$StagingDir")
      val dst = new org.apache.hadoop.fs.Path(
        s"$dir/${t.name}/$CheckpointPrefix$horizon")
      // any data already at checkpoint=<horizon> is a torn prior
      // compactBelow at the same horizon (a live checkpoint at it
      // would mean floor == horizon, refused above) — retry overwrites
      if (fs.exists(dst)) fs.delete(dst, true)
      require(fs.rename(stage, dst),
        s"$who: could not rename $stage to $dst")
      recordShape(s"$dir/${t.name}/$CheckpointPrefix$horizon",
        stagedShapes(t.name))
    }
    val carried = spark.createDataFrame(
        java.util.Collections.singletonList(st.meta),
        st.meta.schema)
      .withColumn("epoch", lit(target))
      .drop("floor_epoch")
    // ownedTables EMPTY: unlike [[compact]], nothing of this commit
    // lives in the epoch=<target> namespace (the fold went to the
    // checkpoint dirs), so any epoch=<target> relic in ANY table is a
    // torn prior write and must be swept before the meta names it
    writeEpoch(dir, target, Seq.empty, carried, floor = horizon,
      lease = Some(token), commitTs = commitTs)
    true
    } finally { releaseLease(fs, dir, token) }
  }

  /** The hidden rewrite-staging dir inside each table root — dot-
    * prefixed, so Spark's file listing never reads it as data.
    */
  private val StagingDir = ".compact_staging"

  /** Spark's scan-packing open-cost charge (the default
    * `spark.sql.files.openCostInBytes`): files below it are packed
    * many-per-split at read time, so their COUNT, not their bytes, is
    * what a reader pays — the exact boundary [[writeEpoch]]'s sprawl
    * collapse keys on.
    */
  private val OpenCostBytes = 4L * 1024 * 1024

  /** Test-only seam: runs after the staged rewrite and BEFORE the
    * serve-skew re-check — the only way to exercise the concurrent-
    * append refusal without a real race. Never set outside tests.
    */
  private[graft] var beforeCompactCommit: () => Unit = () => ()

  /** Reclaim the sprawl a [[compact]] or [[compactBelow]] superseded:
    * delete every table's `epoch=N` directories AND every `meta_N`
    * with N < the serving floor (for a checkpoint-based floor the
    * `epoch=floor` delta directories sweep too — the checkpoint holds
    * the folded state — while `meta_floor` stays as the as-of-floor
    * horizon's family row), any checkpoint not named by the floor
    * (superseded retention points and torn compactBelow relics), plus
    * any leaked rewrite staging (a refused or crashed compaction
    * leaves `.compact_staging` behind; it is invisible to readers, so
    * deleting it is always safe — r12 ADVICE). Epoch reclaim is a
    * no-op on a never-compacted artifact (floor 0).
    *
    * `graceMs` (r12 VERDICT #2 — the reader-safety window): sub-floor
    * epochs became superseded the instant the floor's meta committed;
    * a reader that BEGAN its probe before then may still be scanning
    * them. With `graceMs > 0`, nothing below the floor is reclaimed
    * until at least that long after the floor meta's commit — so any
    * probe that started before the compaction and finishes within the
    * grace window cannot have its files deleted under it. The default
    * 0 keeps the quiesce-first contract (right inside single-writer
    * `foreachBatch` loops, where no concurrent reader exists); at
    * production scale pass a grace comfortably above the longest
    * probe.
    */
  def vacuum(spark: SparkSession, dir: String, tables: Seq[String],
      who: String, rebuildHint: String, graceMs: Long = 0L): Unit = {
    require(graceMs >= 0, s"$who: graceMs must be >= 0, got $graceMs")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // vacuum is a mutation too (r14): it holds the lease so it can
    // never race a compaction's staging or a writer's in-flight epoch.
    // The serving state is read UNDER the lease (r14 second review):
    // a snapshot taken before acquisition could carry a floor a
    // concurrent compactBelow has since advanced, and the stale-floor
    // checkpoint sweep below would then delete the LIVE checkpoint —
    // the one stale-state sweep that destroys data silently.
    val token = acquireLease(fs, dir, who)
    try {
    val st = servingState(spark, dir, who, rebuildHint)
    tables.foreach { name =>
      val stage = new org.apache.hadoop.fs.Path(s"$dir/$name/$StagingDir")
      if (fs.exists(stage)) { fs.delete(stage, true); () }
    }
    val cpRx = (java.util.regex.Pattern.quote(CheckpointPrefix) +
      "(\\d+)").r
    // a checkpoint not named by the serving floor is superseded (an
    // older retention point) or torn-never-live (a crashed
    // compactBelow before its meta) — either way vacuum bait. At
    // floor 0 NO checkpoint can be live (compactBelow always raises
    // the floor), so relics there reclaim ungated like staging.
    def sweepStaleCheckpoints(): Unit =
      tables.foreach { name =>
        val root = new org.apache.hadoop.fs.Path(s"$dir/$name")
        if (fs.exists(root)) fs.listStatus(root).foreach { s =>
          s.getPath.getName match {
            case cpRx(k) if k.toInt != st.floor =>
              fs.delete(s.getPath, true); ()
            case _ => ()
          }
        }
      }
    if (st.floor == 0) { sweepStaleCheckpoints(); return }
    // is the floor checkpoint-based (a compactBelow fold) or
    // epoch-based (a full compact whose epoch=floor IS the base)?
    val cpBased = tables.exists(name =>
      checkpointDir(fs, dir, name, st.floor).isDefined)
    if (graceMs > 0) {
      // supersession moment: for an epoch-based floor, the floor
      // meta's commit (the compaction that superseded everything
      // below it); for a checkpoint-based floor that meta is ancient
      // history — approximate with the SERVING meta's commit, which
      // is ≥ the compactBelow's and therefore conservative (active
      // appends defer reclaim, never hasten it)
      val marker = new org.apache.hadoop.fs.Path(
        if (cpBased) s"$dir/meta_${st.epoch}" else s"$dir/meta_${st.floor}")
      val supersededAt = fs.getFileStatus(marker).getModificationTime
      if (System.currentTimeMillis() - supersededAt < graceMs) return
    }
    val epochRx = "epoch=(\\d+)".r
    // the layout-owned deletes table sweeps with the family tables —
    // compaction folds tombstones away below (and, for a checkpoint-
    // based floor, AT) the floor, so those delete epochs are as
    // superseded as the data they retracted. With a checkpoint-based
    // floor the epoch=floor directories themselves are stale deltas
    // (the checkpoint holds the folded as-of-floor state) and sweep
    // too; with an epoch-based floor epoch=floor IS the base and
    // stays.
    (tables :+ DeletesTable).distinct.foreach { name =>
      val root = new org.apache.hadoop.fs.Path(s"$dir/$name")
      if (fs.exists(root)) fs.listStatus(root).foreach { s =>
        s.getPath.getName match {
          case epochRx(n) if n.toInt < st.floor ||
              (n.toInt == st.floor && cpBased) =>
            fs.delete(s.getPath, true); ()
          case _ => ()
        }
      }
    }
    sweepStaleCheckpoints()
    // meta_floor stays in BOTH shapes: it is the as-of-floor horizon's
    // historical family row (checkpoint-based) or the serving chain's
    // base meta (epoch-based)
    val metaRx = "meta_(\\d+)".r
    fs.listStatus(p).foreach { s =>
      s.getPath.getName match {
        case metaRx(n) if n.toInt < st.floor =>
          fs.delete(s.getPath, true); ()
        case _ => ()
      }
    }
    // the early returns above (floor 0, inside the grace window) still
    // release: Scala runs the finally on a non-local return
    } finally { releaseLease(fs, dir, token) }
  }
}
