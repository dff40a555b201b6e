package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{CacheScope, Oracles, Queries}

/** In-process workload runner: one client calling the registry in a
  * closed loop, timed from outside the program.
  *
  * {{{
  *   java -cp <classpath> perfbench.Harness --data DIR --warm DIR
  *     --out DIR --ops q09_sql_surface,q13_window_orders,... --passes K
  *     [--trace 0|1] [--setup-only]
  * }}}
  *
  * It starts a `local[4]` session, runs one small aggregate on `--warm`
  * and prints `READY` (the end of set-up); it exits there with
  * `--setup-only`. Otherwise it runs K timed passes, each op being `Queries.all(op)(spark, data)` (the
  * build) followed by a `noop` write (the action), inside
  * `CacheScope.withScope`. In the first pass, after the timed action, the
  * same frame is written once more, untimed, to `<out>/check/<op>` for the
  * benchmark's oracle comparison; the op's `Oracles.all` SQL goes to
  * `<out>/oracle_sql.json`. Op timings go to `<out>/ops.jsonl`.
  *
  * With `--trace 1` the listeners of [[Trace]] are installed through the
  * session's configuration, each pass is bracketed by counter snapshots,
  * and the recorded events go to `<out>/trace.jsonl` once the session has
  * stopped (stopping drains the listener bus).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    def need(flag: String): String = opt(flag).getOrElse {
      System.err.println(s"missing $flag"); sys.exit(2)
    }
    val data = need("--data")
    val warm = need("--warm")
    val traced = opt("--trace").contains("1")
    val setupOnly = args.contains("--setup-only")
    for (d <- Seq(data, warm) if !new File(d).isDirectory) {
      System.err.println(s"no such data directory: $d"); sys.exit(2)
    }

    val builder = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (traced) builder
      .config("spark.extraListeners", classOf[JobListener].getName)
      .config("spark.sql.queryExecutionListeners",
        classOf[QueryListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var code = 0
    try {
      // warm-up: a first scan, aggregate and shuffle on the small data set
      spark.read.parquet(s"$warm/lineitem.parquet").groupBy("l_returnflag")
        .count().write.format("noop").mode("overwrite").save()
      println("READY")
      System.out.flush()
      if (!setupOnly) run(spark, data, traced, need("--out"),
        need("--ops").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        need("--passes").toInt)
    } catch {
      case t: Throwable =>
        System.err.println(s"harness failed: $t")
        code = 1
    } finally spark.stop()
    if (traced && !setupOnly) Trace.dump(s"${need("--out")}/trace.jsonl")
    sys.exit(code)
  }

  private def run(spark: SparkSession, data: String, traced: Boolean,
      out: String, ops: Seq[String], passes: Int): Unit = {
    new File(s"$out/check").mkdirs()
    val unknown = ops.filterNot(Queries.all.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")
    val oracles = ops.flatMap(op => Oracles.all.get(op).map(op -> _))
      .map { case (k, v) => s"${Trace.str(k)}: ${Trace.str(v)}" }
      .mkString("{", ",\n", "}\n")
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      oracles.getBytes(StandardCharsets.UTF_8))

    val log = ArrayBuffer.empty[String]
    for (pass <- 0 until passes) {
      if (traced) Trace.counters("pass_start")
      for (op <- ops) {
        // wall-clock ms to line up with Spark's event times; ns for the
        // durations themselves
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        var n1, n2 = 0L
        var err = ""
        try CacheScope.withScope {
          val df = Queries.all(op)(spark, data)
          n1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          n2 = System.nanoTime()
          if (pass == 0) df.coalesce(1).write.mode("overwrite")
            .parquet(s"$out/check/$op")
        } catch {
          case t: Throwable =>
            err = t.toString
            System.err.println(s"op $op failed: $t")
        }
        if (n2 == 0L) n2 = System.nanoTime()
        if (n1 == 0L) n1 = n2
        log += s"""{"pass":$pass,"op":"$op","t0":$t0,""" +
          s""""build_ns":${n1 - n0},"action_ns":${n2 - n1},""" +
          s""""ok":${err.isEmpty}}"""
      }
      if (traced) Trace.counters("pass_end")
    }
    val w = new PrintWriter(s"$out/ops.jsonl")
    try log.foreach(w.println) finally w.close()
  }
}
