package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** In-memory recorder for the benchmark's traced runs.
  *
  * The three listeners below only append raw events (wall-clock ms from
  * Spark's own event timestamps) to this object, so recording is not tied
  * to when the listener bus delivers them; spans, self times and
  * per-layer totals are worked out by the benchmark after the run from the
  * JSON [[dump]] writes. Counters that Spark keeps JVM-wide (codegen,
  * catalog file listing) are read as snapshots, and the benchmark takes
  * differences between two of them.
  *
  * The listeners can be installed by configuration alone, which is how
  * the `EtlMain` child process gets them:
  * {{{
  *   -Dspark.extraListeners=perfbench.JobListener
  *   -Dspark.sql.queryExecutionListeners=perfbench.QueryListener
  *   -Dperfbench.trace.out=<file>   (written when the application ends)
  * }}}
  */
object Trace {
  private val events = ArrayBuffer.empty[String]
  private val cached = scala.collection.mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L

  def str(s: String): String = "\"" + Option(s).getOrElse("").flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Append one event; values are strings, booleans or integers. */
  private[perfbench] def record(fields: (String, Any)*): Unit = {
    val body = fields.map {
      case (k, v: String) => str(k) + ":" + str(v)
      case (k, v) => str(k) + ":" + v
    }.mkString("{", ",", "}")
    synchronized { events += body }
  }

  /** Bytes of RDD blocks currently cached, memory plus disk. */
  private[perfbench] def blockUpdated(block: String, bytes: Long,
      at: Long): Unit = synchronized {
    if (bytes > 0) cached(block) = bytes else cached.remove(block)
    val now = cached.valuesIterator.sum
    if (now != cachedNow) {
      cachedNow = now
      record("ev" -> "cache", "t" -> at, "bytes" -> now)
    }
  }

  /** JVM-wide counters: codegen compile time (ns) and count, and the
    * catalog's file-listing counters.
    */
  def counters(label: String): Unit =
    record("ev" -> "counters", "label" -> label,
      "t" -> System.currentTimeMillis(),
      "codegen_ns" -> CodeGenerator.compileTime,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      "listing_jobs" ->
        HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount)

  /** Write every event recorded so far, one JSON object per line. */
  def dump(path: String): Unit = {
    val body = synchronized(events.mkString("", "\n", "\n"))
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}

/** Jobs, stages, tasks and cached blocks from the scheduler's bus. */
class JobListener extends SparkListener {
  /** Also records when this JVM started, by its own clock, so that the
    * benchmark can check the trace against the wall time it measured
    * around the process.
    */
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit = {
    Trace.record("ev" -> "jvm",
      "start" -> ManagementFactory.getRuntimeMXBean.getStartTime)
    Trace.counters("app_start")
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    Trace.counters("app_end")
    sys.props.get("perfbench.trace.out").foreach(Trace.dump)
  }

  /** A job's call site: the user-code call site of the SQL execution it
    * belongs to (jobs of adaptive query stages run on a pool thread and
    * carry no call site of their own), else its result stage's name.
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    Trace.record("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time,
      "exec" -> prop("spark.sql.execution.root.id")
        .orElse(prop("spark.sql.execution.id")).getOrElse("-1"),
      "site" -> e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
        .getOrElse(""),
      "stages" -> e.stageIds.mkString(","))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      Trace.record("ev" -> "sql", "exec" -> x.executionId.toString,
        "root" -> x.rootExecutionId.map(_.toString).getOrElse(""),
        "t" -> x.time, "site" -> x.description)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.record("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Trace.record("ev" -> "stage", "stage" -> s.stageId,
      "attempt" -> s.attemptNumber(), "name" -> s.name,
      "start" -> s.submissionTime.getOrElse(0L),
      "end" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks,
      "ok" -> s.failureReason.isEmpty)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val ok = e.reason == Success
    if (m == null)
      Trace.record("ev" -> "task", "stage" -> e.stageId, "t" -> i.finishTime,
        "ok" -> ok)
    else {
      val sr = m.shuffleReadMetrics
      Trace.record("ev" -> "task", "stage" -> e.stageId,
        "t" -> i.finishTime, "ok" -> ok,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "in_bytes" -> m.inputMetrics.bytesRead,
        "in_rows" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten,
        "out_rows" -> m.outputMetrics.recordsWritten,
        "shw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shr_bytes" -> (sr.remoteBytesRead + sr.localBytesRead),
        "fetch_wait_ms" -> sr.fetchWaitTime,
        "spill_mem" -> m.memoryBytesSpilled,
        "spill_disk" -> m.diskBytesSpilled,
        "peak_exec" -> m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId])
      Trace.blockUpdated(b.blockId.name, b.memSize + b.diskSize,
        System.currentTimeMillis())
  }
}

/** Catalyst's phase times of every action, from its planning tracker. */
class QueryListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution, ok: Boolean): Unit = {
    val p = qe.tracker.phases
    def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
    Trace.record("ev" -> "qe", "ok" -> ok,
      "t" -> p.valuesIterator.map(_.endTimeMs).foldLeft(0L)(_ max _),
      "analysis_ms" -> ms(QueryPlanningTracker.ANALYSIS),
      "optimization_ms" -> ms(QueryPlanningTracker.OPTIMIZATION),
      "planning_ms" -> ms(QueryPlanningTracker.PLANNING))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe, ok = false)
}

/** Micro-batch progress of every streaming query: one event per batch
  * with Structured Streaming's own phase split.
  */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long =
      if (d.containsKey(k)) d.get(k).longValue() else 0L
    Trace.record("ev" -> "batch", "batch" -> p.batchId,
      "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "trigger_ms" -> ms("triggerExecution"),
      "offset_ms" -> (ms("latestOffset") + ms("getOffset")),
      "get_batch_ms" -> ms("getBatch"),
      "planning_ms" -> ms("queryPlanning"),
      "add_batch_ms" -> ms("addBatch"),
      "wal_commit_ms" -> ms("walCommit"))
  }
}
