package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM;
  * suites run sequentially).
  */
object TestSpark {
  lazy val spark: SparkSession = LocalSpark.session(cores = 4, logLevel = "ERROR")
  val sf: String = "/root/testdata/sf0.001"
}
