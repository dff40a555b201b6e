package graft

import org.apache.spark.sql.functions._

/** Diagnostics main (r16, guide §1): split the six streaming ingest
  * loops' cost into SETUP (the epoch-0 index build over the corpus
  * slice) vs the drain itself, at bench shape (local[cores], sf0.1).
  * Not part of the driver contract.
  *
  * Usage: sbt 'runMain graft.ProfileIngest [sfDir]'
  */
object ProfileIngest {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSpark.session(logLevel = "ERROR")

    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      CacheScope.withScope(f)
      println(f"INGEST-PHASE $label%-34s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }

    // warm the JVM/codegen on a small build first
    time("warmup(fp@sf0.001)") {
      graft.operators.Dedup.writeFingerprintIndex(
        Tables.documents(spark, "/root/testdata/sf0.001")
          .filter(col("doc_id") % 7 =!= 3).select("doc_id", "text"),
        "/tmp/pi_warm")
    }

    val d = Tables.documents(spark, sfDir)
    val docCorpus = d.filter(col("doc_id") % 7 =!= 3)
      .select("doc_id", "text")
    val e = Tables.embeddings(spark, sfDir)
    val vecCorpus = e.filter(col("vec_id") % 7 =!= 3)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val mediaCorpus = d.filter(col("doc_id") % 7 =!= 3)
      .select("doc_id", "text", "n_chars")

    (1 to 2).foreach { pass =>
      println(s"-- pass $pass --")
      time("fp: writeFingerprintIndex") {
        graft.operators.Dedup.writeFingerprintIndex(docCorpus,
          "/tmp/pi_fp")
      }
      time("text: writeJaccardIndex") {
        graft.operators.TextIndex.writeJaccardIndex(docCorpus,
          "/tmp/pi_txt", threshold = 0.6)
      }
      time("bm25: writeBm25Index") {
        graft.operators.Bm25.writeBm25Index(docCorpus, "/tmp/pi_bm25")
      }
      time("dhash: writeDHashIndex") {
        graft.operators.Multimodal.writeDHashIndex(mediaCorpus,
          "/tmp/pi_dh")
      }
      time("cp: count+writeCpIndex") {
        val (k, b) = graft.streaming.IndexIngest.cpSizing(e)
        graft.operators.Ann.writeCpIndex(vecCorpus, "/tmp/pi_cp",
          threshold = 0.4, hashesPerBand = k, bands = b)
      }
    }
    spark.stop()
  }
}
