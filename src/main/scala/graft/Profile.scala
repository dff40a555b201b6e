package graft

import org.apache.spark.sql.SparkSession

/** Phase-level profiler — a diagnostics main, not part of the driver
  * contract. Times a registered query end-to-end in a fresh session
  * (no warmup, so first-run numbers include one-shot Janino/JIT; use
  * paired runs per the CLAUDE.md two-run rule).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.Profile q81_dedup_corpus [more...]'
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PHASE $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val names = if (args.nonEmpty) args.toSeq
      else Seq("q81_dedup_corpus")
    names.foreach { name =>
      time(name) {
        CacheScope.withScope {
          Queries.all(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    spark.stop()
  }
}
