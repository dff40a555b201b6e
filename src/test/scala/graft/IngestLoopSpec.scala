package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.Dedup
import graft.sources.RetentionPolicy
import graft.streaming.IndexIngest

/** The contract of the one ingest loop every streaming index gate runs
  * ([[IndexIngest.ingest]]): per micro-batch, probe → sink append with
  * the foreachBatch id → fold → housekeep under the same id, and a
  * rerun in the same JVM starts from a wiped sink and a rebuilt
  * artifact. The gates pin their end results; this spec pins the
  * order, with a recording probe and fold over a real fp artifact.
  */
class IngestLoopSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val name = "ingest_loop_spec"
  private val sink = s"/tmp/graft_stream_report_$name"
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def state(dir: String): (Int, Int) = {
    val st = Dedup.index.serving(spark, dir, name)
    (st.epoch, st.floor)
  }

  /** One drain over three waves (doc_id % 3 = 0/1/2 of the `% 7 == 3`
    * arrival), housekeeping after every 2nd batch; returns the drained
    * (doc_id, batch_id) rows and what the probe and fold saw.
    */
  private def run(): (Set[(Long, Long)], Seq[String]) = {
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = CacheScope.withScope {
      IndexIngest.ingest(spark, TestSpark.sf, name) { ss =>
        val d = Tables.documents(ss, TestSpark.sf).select("doc_id", "text")
        val arriving = d.filter(col("doc_id") % 7 === 3)
        IndexIngest.Gate(schema,
          (0 to 2).map(r => arriving.filter(col("doc_id") % 3 === r)),
          s"$name|fp",
          Dedup.writeFingerprintIndex(d.filter(col("doc_id") % 7 =!= 3), _),
          probe = Some { (dir, batch) =>
            log += s"probe state=${state(dir)}"
            CacheScope.scoped(Dedup.dedupAgainstIndex(dir, batch))
          },
          fold = (dir, batch, verdict) => {
            val ids = spark.read.parquet(sink).select("batch_id").distinct()
              .as[Long].collect().sorted
            log += s"fold sink=${ids.mkString(",")} state=${state(dir)}"
            Dedup.appendFingerprintIndex(dir,
              batch.join(verdict.get.filter(col("kept")).select("doc_id"),
                Seq("doc_id"), "left_semi"))
          },
          family = Some(Dedup.index),
          policy = RetentionPolicy(everyBatches = 2))
      }.get.select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
    }
    log += s"end state=${state(s"/tmp/graft_stream_idx_$name")}"
    (rows, log.toSeq)
  }

  test("ingest loop: each report lands in the sink under its batch id " +
      "before that batch's fold, housekeeping follows the fold under " +
      "the same id, and a rerun starts from a wiped sink") {
    val (rows, log) = run()
    // wave r is micro-batch r: every drained row carries its own id
    assert(rows.nonEmpty && rows.forall { case (doc, b) => doc % 3 == b },
      s"rows carry a batch id other than their wave's: $rows")
    // the sink already holds batch k (and nothing later) at fold k; the
    // fold appends one epoch per batch; housekeeping (every 2nd batch:
    // id 1 only) full-compacts AFTER batch 1's fold — epoch 2 becomes
    // the compacted epoch 3 with floor 3 — so batch 2 probes (3, 3).
    // A compact BEFORE the fold would probe (3, 2); a housekeep keyed
    // on id + 1 would fire at id 0 and probe batch 1 at (2, 2).
    assert(log == Seq(
      "probe state=(0,0)", "fold sink=0 state=(0,0)",
      "probe state=(1,0)", "fold sink=0,1 state=(1,0)",
      "probe state=(3,3)", "fold sink=0,1,2 state=(3,3)",
      "end state=(4,3)"), log.mkString("\n"))
    // same JVM, same inputs: the first fold sees only its own batch in
    // the sink (wiped, not appended to) and the same rows come back
    val (rows2, log2) = run()
    assert(log2 == log, log2.mkString("\n"))
    assert(rows2 == rows)
  }
}
