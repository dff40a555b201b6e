package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints.RoundCheckpoint

/** Byte-pair-encoding MERGE LEARNING — tokenizer induction (Sennrich,
  * Haddow, Birch — ACL 2016), the algorithm behind every BPE/WordPiece
  * vocabulary a training pipeline ships: k rounds of "count adjacent
  * symbol pairs, fuse the most frequent one everywhere". Completes the
  * tokenization family (q21 token stats → q139 vocab induction → this:
  * the vocabulary's SYMBOLS themselves are learned).
  *
  * Scale shape (the Sennrich implementation's, distributed): the corpus
  * is scanned ONCE into a word-frequency table; every round after that
  * is vocab-sized, not corpus-sized — one map-combinable pair-count
  * aggregation over the word table (pairs weighted by word frequency,
  * overlapping occurrences counted like the reference implementation),
  * a deterministic 1-row argmax (count DESC, then lexicographic
  * (lhs, rhs) — total order, no float anywhere), broadcast of that one
  * row, and a narrow `aggregate()` fold over each word's token array
  * that fuses every left-to-right occurrence. Rounds truncate lineage
  * via [[graft.Checkpoints]] like every iterative operator here.
  *
  * The greedy left-to-right FOLD is exactly the positional walk the
  * oracle runs: a fused symbol is `lhs || rhs`, which can never equal
  * `lhs` (rhs is non-empty), so the fold's accumulator tail matches
  * `lhs` exactly when the walk's cursor sits on an unconsumed original
  * `lhs` — both consume the pair and skip it as a merge target.
  *
  * Tokenization is an explicit per-character substring transform (NOT
  * `split(w, "")`, whose Java-regex trailing-empty behavior is not the
  * oracle's `string_split`).
  *
  * LOUD premise: `k` rounds are learned and the oracle unrolls exactly
  * `k`; a corpus that exhausts its pairs earlier REFUSES (vocab-sized
  * count per round, the [[KCore]] discipline) instead of silently
  * emitting fewer merges than asked.
  *
  * Output: (merge_rank, lhs, rhs, pair_count) — the merge table a
  * tokenizer ships; integer/string-only, hash-gate-safe.
  */
object Bpe {

  def learnMerges(docs: DataFrame, k: Int): DataFrame =
    learnCore(docs, k)._1

  /** THE left-to-right fuse (one merge applied to one token array) —
    * shared by the learn loop and the stored-merge apply path so the
    * two can never drift on what a fuse is. Consumes `toks` against
    * the row's (lhs, rhs) columns.
    */
  private val FuseExpr: String =
    """aggregate(toks, CAST(array() AS ARRAY<STRING>), (acc, x) ->
      |  CASE WHEN size(acc) > 0
      |            AND element_at(acc, -1) = lhs AND x = rhs
      |       THEN concat(slice(acc, 1, size(acc) - 1),
      |                   array(concat(lhs, rhs)))
      |       ELSE concat(acc, array(x)) END)""".stripMargin

  /** The frozen-tokenizer family on the shared lifecycle: one epoch
    * whose `merges` table holds the k rows (merge_rank, lhs, rhs,
    * pair_count) — everything an apply site needs; the learn corpus's
    * word table is a cache, not part of the tokenizer — and whose meta
    * counts them in `k`. The id is bumped if the fuse or the
    * merge-table semantics ever change. A frozen tokenizer is immutable
    * by definition: there is deliberately NO append (one refuses) and
    * no delete entry point — retraining is a rebuild.
    */
  val index: graft.sources.IndexFamily = graft.sources.IndexFamily(
    "bpe-merges-v1", "writeMerges",
    "applying across fuse versions silently mistokenizes",
    Seq(graft.sources.EpochStore.CompactTable("merges")),
    "merges", "merge_rank", deleteKey = "merge_rank", countCol = "k",
    shard = graft.sources.IndexFamily.Shard("writeMerges",
      Seq("family", "k", "epoch"), identity, (m, _) => Seq("merges" -> m),
      dup = "; every round learns one merge.",
      clash = dir => s"merge rank(s) already stored at $dir",
      corpusNoun = "the learned merge table",
      check = (_, _) => throw new IllegalArgumentException(
        "writeMerges: a frozen tokenizer has no append — retraining is " +
          "a rebuild")))

  /** FREEZE a tokenizer: learn the k-round merge table over `docs` and
    * persist it as epoch 0 of a [[index]] artifact.
    */
  def writeMerges(docs: DataFrame, dir: String, k: Int): Unit =
    index.write(learnCore(docs, k)._1, dir)

  /** ENCODE against a FROZEN tokenizer ([[writeMerges]] artifact) —
    * the apply-at-arrival shape every training pipeline runs once its
    * tokenizer is fixed: per doc (doc_id, n_words, n_chars, n_tokens),
    * the q145 output, but the merges come from the store and the
    * corpus being encoded is INDEPENDENT of the corpus that learned
    * them — unseen words encode correctly (char-split, then the k
    * stored merges applied in rank order), where [[encodeCounts]]
    * could only encode the words its own learn loop had seen.
    *
    * Scale shape: the merge table is k ≤ 64 rows; encoding is k
    * vocab-sized fuse rounds over the APPLY corpus's distinct words
    * (each round a 1-row broadcast + the shared fold, round-
    * checkpointed like the learn loop) and then one corpus-sized word
    * explode joined to the vocab-sized encoded table. Hash-family
    * drift refuses loudly via the artifact meta.
    */
  def encodeWithStoredMerges(indexDir: String, docs: DataFrame)
      : DataFrame = {
    val spark = docs.sparkSession
    val lv = index.live(spark, indexDir, "encodeWithStoredMerges")
    val k = lv.meta.getAs[Long]("k").toInt
    val merges = graft.CacheScope.scoped(lv.table("merges"))
    var words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .withColumn("toks",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    for (rank <- 1 to k) {
      words = words.crossJoin(broadcast(
          merges.filter(col("merge_rank") === rank)
            .select(col("lhs"), col("rhs"))))
        .withColumn("toks", expr(FuseExpr))
        .select("w", "toks")
        .roundCheckpoint()
    }
    val encoded = words.select(col("w"),
      size(col("toks")).cast("long").as("n_toks"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(encoded), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** BPE ENCODING with self-learned merges: learn the k-round merge
    * table over `docs` (identical to [[learnMerges]]), then count each
    * document's encoded tokens — the apply side of the learn→apply
    * tokenizer lifecycle (what a pipeline runs to budget sequence
    * lengths before packing/batching).
    *
    * Scale shape: encoding rides the learn loop's OWN final word table
    * — each round's fold already left every distinct word fully encoded
    * under merges 1..k, so applying the merges to the corpus is a
    * broadcast-sized join from the per-doc word explode to the
    * vocab-sized word table (one corpus-sized map pass; zero extra fuse
    * work). Output per doc: (doc_id, n_words, n_chars, n_tokens) —
    * all exact integers; n_chars/n_tokens is the compression the
    * tokenizer bought.
    */
  def encodeCounts(docs: DataFrame, k: Int): DataFrame = {
    val (_, words) = learnCore(docs, k)
    val encoded = words.select(col("w"),
      size(col("toks")).cast("long").as("n_toks"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(encoded), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Shared learn loop: returns (merge table ordered by rank, final
    * word table (w, freq, toks) with every word encoded under all k
    * merges). Both frames are scope-cached and materialized.
    */
  private def learnCore(docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    require(k >= 1 && k <= 64,
      s"k = $k merge rounds out of range [1, 64] — each round is a " +
        "vocab-sized aggregation and the oracle unrolls exactly k")
    var words = graft.CacheScope.scoped(docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("toks",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")))
    var merges: DataFrame = null
    for (rank <- 1 to k) {
      val pairs = words
        .select(col("freq"), explode(expr(
          """transform(slice(toks, 1, size(toks) - 1),
            |  (x, i) -> struct(x AS lhs, element_at(toks, i + 2) AS rhs))"""
            .stripMargin)).as("pr"))
        .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
        .agg(sum(col("freq")).as("n"))
      val best = graft.CacheScope.scoped(
        pairs.orderBy(col("n").desc, col("lhs"), col("rhs")).limit(1)
          .select(lit(rank.toLong).as("merge_rank"), col("lhs"),
            col("rhs"), col("n").cast("long").as("pair_count")))
      merges = if (merges == null) best else merges.unionByName(best)
      words = words.crossJoin(broadcast(best.select("lhs", "rhs")))
        .withColumn("toks", expr(FuseExpr))
        .select("w", "freq", "toks")
        .roundCheckpoint()
      // the eager round checkpoint just materialized `best` (the
      // broadcast side of the fuse), so this count hits its cache: a
      // corpus that exhausts its adjacent pairs refuses AT the failing
      // round instead of dragging k - rank empty-frame jobs to the
      // final count (the same loud premise either way)
      require(best.count() == 1L,
        s"bpe premise: corpus exhausted its adjacent pairs after " +
          s"${rank - 1} merges — k = $k exceeds the learnable merge " +
          "count; the oracle unrolls exactly k rounds")
    }
    // the per-round best.count() refusal above guarantees every round
    // contributed exactly one merge, so merges has k rows by
    // construction — no trailing count job (r9 self-review: the old
    // final require was dead code costing one extra job per call)
    (graft.CacheScope.scoped(merges).orderBy(col("merge_rank")), words)
  }
}
