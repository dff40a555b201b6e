package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Run: `sbt 'runMain graft.Verify <sfDir> <outDir> [query...]'`; named
  * queries restrict the run to that subset, which
  * `tools/check.py <outDir> <sfDir> <query...>` then gates.
  */
object Verify {

  /** A thrown query must stay VISIBLE in the record: write a marker
    * result (one `_graft_error` row) so the downstream compare reports a
    * schema-mismatch FAIL for this name instead of the row silently
    * VANISHING from the correctness file — which is how q64's r6
    * regression hid (it threw, no output dir was created, and the
    * driver record simply had no row to flag).
    */
  private[graft] def writeErrorMarker(spark: SparkSession, outDir: String,
      name: String, e: Throwable): Unit =
    try {
      import spark.implicits._
      Seq(Option(e.getMessage).getOrElse(e.getClass.getName))
        .toDF("_graft_error")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    } catch {
      case t: Throwable =>
        // the marker write itself failing must not be silent — that
        // re-opens the vanishing-row hole the marker exists to close
        System.err.println(
          s"[verify] $name: error-marker write ALSO failed: $t")
    }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes the `names` queries' results under `outDir` (every
    * registered query when `names` is empty), then the FULL
    * oracle_sql.json. An unknown name is refused before anything is
    * written: a typo must not pass as a clean subset run.
    */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected =
      if (names.isEmpty) SparkEntry.queries.toSeq
      else names.map(n => n -> SparkEntry.queries(n))
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // names the query the Spark log lines that follow belong to
      System.err.println(s"[verify] $name")
      // withScope: operator-internal caches drop when this query's
      // action completes — release is owner-scoped, see CacheScope
      try CacheScope.withScope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        writeErrorMarker(spark, outDir, name, e)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val spark = LocalSpark.session()
    run(spark, args(0), args(1), args.drop(2).toSeq)
    spark.stop()
  }
}
