package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan checks the whole-registry audit cannot make: AQE's
  * runtime skew split against the salted-join remedy, and the flagship
  * pipeline's filter pushdown and column pruning. The registry-wide
  * nested-loop / cartesian audit rides RegistrySpec's one walk, with its
  * `nestedLoopAllowed` allowlist and `streaming` exclusions.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("AQE splits a skewed join partition at runtime, and the result " +
      "matches Skew.saltedJoin's manual remedy") {
    import org.apache.spark.sql.functions._
    // own session: thresholds lowered so gate-scale data trips the
    // optimizer the way a hot key trips it at 100 TB; broadcast disabled
    // because a broadcastable dim side would make skew moot (AQE's
    // preferred fix) — this pins the sort-merge path the salted join is
    // the manual remedy for
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    ss.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "131072")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // hot key 0 carries 200k rows; 50 cold keys carry ~1.2k each.
    // payload is hashed so shuffle compression can't erase the skew.
    val fact = ss.range(0, 260000).select(
      when(col("id") < 200000, 0L)
        .otherwise(pmod(col("id"), lit(50L)) + 1).as("k"),
      xxhash64(col("id")).as("payload"))
    val dim = ss.range(0, 51).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("tag"))
    // DECIMAL sum: 260k hashed longs overflow BIGINT under ANSI
    val agg = fact.join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("payload").cast("decimal(28,0)")).as("s"))
    val row = agg.collect().head
    assert(row.getLong(0) == 260000L, "every fact row joins exactly once")
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE must mark the hot join partition as skewed and split it:\n" +
        plan.linesIterator.filter(_.contains("SortMergeJoin"))
          .mkString("\n"))
    // the manual remedy gives the identical aggregate on the same data
    val salted = graft.operators.Skew
      .saltedJoin(fact, dim, key = "k", factRowKey = "payload")
      .agg(count(lit(1)).as("n"),
        sum(col("payload").cast("decimal(28,0)")).as("s"))
      .collect().head
    assert(salted.getLong(0) == row.getLong(0) &&
      salted.getDecimal(1) == row.getDecimal(1),
      "salted join and AQE-split join must agree")
  }

  test("the flagship pipeline pushes its filters and prunes its columns") {
    // q11's star join: orders scan must read only the 2 join/agg columns
    val plan = Queries.all("q11_region_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      "dimension joins must broadcast, not shuffle")
    // lineitem-wide scans must not appear in a 3-column rollup: check
    // ReadSchema mentions only expected columns for the orders scan
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty)
    readSchemas.foreach { s =>
      assert(s.split(",").length <= 4,
        s"a q11 scan reads more columns than the query needs: $s")
    }
  }
}
