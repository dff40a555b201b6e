package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main and the test harness start from:
  * `local[cores]` with as many shuffle partitions, AQE, the UI off, and
  * the UTC session time zone that oracle parity rests on (timestamps
  * render and bucket the same as in DuckDB). It goes through Spark's
  * session builder, so `-Dspark.*` system properties still apply
  * (perfbench's listeners in its traced EtlMain child, for one).
  */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS`, else every core of this host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** @param aqe off only where formatted plans must show the
    *   WholeStageCodegen spans AQE hides (PlanDump)
    */
  def session(cores: Int = cpus, aqe: Boolean = true,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
