package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Ann, Bm25, Dedup, Multimodal, TextDedup, TextIndex}
import graft.sources.IndexFamily

/** One small build/append fixture per stored-index family over the
  * sf0.001 tables, with the refusal wording each family's write and
  * append entry points give. Document texts get a per-id suffix, so
  * every doc has at least three words and a fingerprint of its own (no
  * fp-family survivors clash between base and shard).
  */
object FamilyFixtures {

  /** `input(lo, hi)`: the family's entry-point input for ids in
    * [lo, hi), keyed by `key`; `build`: its base build; `writeDup` /
    * `appendDup` / `clash`: substrings of its duplicate-id refusal (one
    * duplicate) on a build and an append, and of its append id-clash
    * refusal;
    * `meta0`: its epoch-0 meta schema as (name, type), layout columns
    * included.
    */
  final case class Fixture(family: IndexFamily, key: String,
      input: (Long, Long) => DataFrame, build: (DataFrame, String) => Unit,
      writeDup: String, appendDup: String, clash: String,
      meta0: Seq[(String, String)])

  private val layout = Seq("floor_epoch" -> "int", "commit_ts" -> "bigint",
    "commit_kind" -> "string")

  def all(spark: SparkSession): Seq[Fixture] = {
    val d = Tables.documents(spark, TestSpark.sf)
    def ids(df: DataFrame, key: String, lo: Long, hi: Long) =
      df.filter(col(key) >= lo && col(key) < hi)
    def docs(lo: Long, hi: Long) = ids(d, "doc_id", lo, hi)
      .select(col("doc_id"), concat_ws(" ", col("text"), lit("novel shard"),
        col("doc_id").cast("string")).as("text"))
    val vectors = (lo: Long, hi: Long) =>
      ids(Tables.embeddings(spark, TestSpark.sf), "vec_id", lo, hi)
        .select("vec_id", "embedding")
    val images = (lo: Long, hi: Long) =>
      ids(d, "doc_id", lo, hi).filter(col("doc_id") % 3 === 0)
    def dup(who: String, key: String, scope: String) =
      s"$who: $key is not one id space — 1 duplicate id(s) within $scope"
    Seq(
      Fixture(Dedup.index, "doc_id", docs,
        Dedup.writeFingerprintIndex(_, _),
        dup("writeFingerprintIndex", "doc_id", "the corpus") +
          "; re-key upstream.",
        dup("appendFingerprintIndex", "doc_id", "the appended shard") +
          "; re-key upstream.",
        "appendFingerprintIndex: appended doc_id(s) already own stored " +
          "fingerprints at",
        Seq("family" -> "string", "corpus_count" -> "bigint",
          "epoch" -> "int") ++ layout),
      Fixture(TextIndex.index, "doc_id", docs,
        TextIndex.writeJaccardIndex(_, _, 0.6),
        dup("writeJaccardIndex", "doc_id", "the corpus") +
          ". A shared doc_id would silently drop its real pair",
        dup("appendJaccardIndex", "doc_id", "the appended shard") +
          ". A shared doc_id would silently drop its real pair",
        "appendJaccardIndex: appended doc_id(s) already exist in the " +
          "index at",
        Seq("family" -> "string", "rows_per_band" -> "int",
          "bands" -> "int", "threshold" -> "double",
          "target_miss" -> "double", "shingle_k" -> "int",
          "corpus_count" -> "bigint", "epoch" -> "int") ++ layout),
      Fixture(Bm25.index, "doc_id", docs, Bm25.writeBm25Index(_, _),
        dup("writeBm25Index", "doc_id", "the corpus") +
          "; a doc indexed twice double-counts df and N. Re-key upstream.",
        dup("appendBm25Index", "doc_id", "the appended shard") + "; ",
        "appendBm25Index: appended doc_id(s) already indexed at",
        Seq("family" -> "string", "n_docs" -> "bigint",
          "sum_dl" -> "bigint", "epoch" -> "int") ++ layout),
      // parameters pinned, so an append never meets the currency premise
      Fixture(Ann.index, "vec_id", vectors,
        Ann.writeCpIndex(_, _, 0.4, hashesPerBand = 1, bands = 4),
        dup("writeCpIndex", "vec_id", "the corpus") +
          ". A shared id would silently drop its real pair",
        dup("appendCpIndex", "vec_id", "the appended shard") +
          ". A shared id would silently drop its real pair",
        "appendCpIndex: appended vec_id(s) already exist in the index at",
        Seq("family" -> "string", "k" -> "int", "bands" -> "int",
          "dim" -> "int", "target_miss" -> "double",
          "threshold" -> "double", "corpus_count" -> "bigint",
          "epoch" -> "int", "params_derived" -> "boolean") ++ layout),
      Fixture(Multimodal.index, "doc_id", images,
        Multimodal.writeDHashIndex(_, _),
        dup("writeDHashIndex", "media_id", "the corpus") +
          "; a shared id silently drops its real pair",
        dup("appendDHashIndex", "media_id", "the appended shard") +
          "; a shared id silently drops its real pair",
        "appendDHashIndex: appended media_id(s) already indexed at",
        Seq("family" -> "string", "bands" -> "int",
          "corpus_count" -> "bigint", "epoch" -> "int") ++ layout),
      Fixture(TextDedup.index, "doc_id", docs,
        TextDedup.writeDeconIndex(_, _, w = 60),
        dup("writeDeconIndex", "doc_id", "the benchmark suite") +
          "; re-key upstream.",
        dup("appendDeconIndex", "doc_id", "the appended benchmark wave") +
          "; re-key upstream.",
        "appendDeconIndex: appended benchmark doc_id(s) already stored at",
        Seq("family" -> "string", "w" -> "int", "bench_count" -> "bigint",
          "epoch" -> "int") ++ layout))
  }

  /** `input` with its lowest id repeated once — one duplicate id. */
  def withDup(input: DataFrame, key: String): DataFrame =
    input.unionByName(input.join(input.agg(min(col(key)).as(key)), key))
}
