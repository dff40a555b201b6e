package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dump the formatted physical plan of NAMED queries, one file each —
  * the per-round optimization-evidence artifact (plans/rNN/<query>_
  * {before,after}.txt), distinct from PLANS.md's curated families.
  * Run: `sbt 'runMain graft.PlanFile <outDir> <suffix> q108_triangles ...'`
  * — writes `<outDir>/<query>_<suffix>.txt` at sf0.001 (the PlanDump
  * session shape: AQE off so WholeStageCodegen spans show).
  */
object PlanFile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanFile <outDir> <suffix> <queryName>...")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(Queries.all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Files.createDirectories(outDir)
    val spark = LocalSpark.session(cores = 8, aqe = false, logLevel = "ERROR")
    val dir = "/root/testdata/sf0.001"
    names.foreach { name =>
      val plan = CacheScope.withScope {
        Queries.all(name)(spark, dir)
          .queryExecution.explainString(FormattedMode)
      }
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
