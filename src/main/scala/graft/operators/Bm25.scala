package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 retrieval scoring — the ranked-retrieval companion to [[TfIdf]]
  * (corpus search, eval-set mining, "find the docs most about X" curation
  * queries; north-star extension).
  *
  * Standard Okapi BM25 with k1 = 1.2, b = 0.75, written as ONE exact
  * integer formula so the oracle gate can hash-match it. With ad = the
  * integral average document length (A DIV N over the corpus) and the
  * conventional log-free rational idf (ln is not cross-engine bit-stable;
  * same policy as TfIdf's N/df), per (doc, term):
  *
  *   idf       = (2N − 2df + 1) / (2df + 1)        [ = (N−df+½)/(df+½) ]
  *   tf-factor = tf·(k1+1) / (tf + k1·(1 − b + b·L/ad))
  *             = 44·ad·tf / (20·ad·tf + 6·ad + 18·L)   [ k1=6/5, b=3/4 ]
  *
  *   score_micro_t = (10⁶ · (2N−2df+1) · 44·ad·tf)
  *                     DIV ((2df+1) · (20·ad·tf + 6·ad + 18·L))
  *
  * — a single integral floor division per term; the per-document score is
  * the integer SUM of its per-term micros. Every operand is BIGINT; the
  * numerator is bounded by 10⁶·2N·44·ad·tf_max (≈ 10¹⁶ at N = 10⁵,
  * ad ≈ 50, tf ≤ 50 — far under 2⁶³; at web scale lower the 10⁶ micro
  * scale or move to DECIMAL(38,0), a one-line change both sides).
  *
  * Scale shape: the tokenizer emits ONLY query-term hits (the isin filter
  * sits before the aggregation, so the (doc,term) shuffle carries hits,
  * not the corpus); document length comes from `size(split(...))` — a
  * per-row map, no second shuffle; df and the 1-row corpus stats frame
  * are broadcast; the final top-k is `orderBy.limit` = TakeOrdered (tree
  * top-k, no global sort). Two narrow corpus scans (a toks-free stats
  * pass + the tokenize pass, cheaper than caching the tokenized corpus),
  * one hit-sized shuffle.
  */
object Bm25 {

  /** The shared corpus-stats aggregate: one row (N docs, integral avg
    * doc length) over a toks-free projection. Both retrieval forms ride
    * this single definition so the formula cannot drift between them.
    */
  private def corpusStats(docs: DataFrame) = docs
    .select(size(split(col("text"), " ")).cast("long").as("dl"))
    // greatest(count,1): an EMPTY corpus must yield an empty result,
    // not an ANSI DIVIDE_BY_ZERO from the avg-doc-length division —
    // sum(dl) is NULL there, so ad is NULL and no score row exists to
    // consume it (tf is empty too). Non-empty corpora are unaffected.
    .agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) DIV greatest(count(1), 1)").as("ad"))

  /** The one exact integer per-(doc,term) BM25 expression (see the
    * object scaladoc) — shared text, so [[topK]] and [[topKPerQuery]]
    * are the same formula by construction.
    */
  private val scoreMicroT: String =
    """(1000000L * (2*n_docs - 2*df + 1) * 44 * ad * tf)
         DIV ((2*df + 1) * (20*ad*tf + 6*ad + 18*dl))"""

  /** Top-k (doc_id, score_micro, n_terms) for a bag-of-words query.
    * Ties break on ascending doc_id. Only documents containing at least
    * one query term appear.
    */
  def topK(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // corpus stats: a narrow second scan, cheaper than caching the
    // tokenized corpus just to share it with tf
    val stats = corpusStats(docs)
    // tf feeds BOTH dfreq and the score join — pinned so the hit
    // aggregation runs once (CLAUDE.md self-join rule); hit-sized, tiny
    val tf = graft.CacheScope.scoped(docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
    // one row per (doc, term) ⇒ rows-per-term IS the document frequency
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(broadcast(stats))
      .withColumn("score_micro_t", expr(scoreMicroT))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_micro_t")).as("score_micro"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** Batched retrieval: top-k per query for a whole QUERY SET in one
    * pass — the shape an eval-mining or RAG-indexing job actually runs
    * (N queries against the corpus, not one). Queries are (query_id,
    * text); a query's bag of words is its DISTINCT tokens. A query never
    * retrieves itself (`query_id <> doc_id`), so self-matches can't
    * crowd out real neighbors when queries are drawn from the corpus.
    *
    * Same exact integer formula as [[topK]] (see the object scaladoc) —
    * df per term is its true corpus document frequency (counted over all
    * docs containing the term, independent of which query asked).
    *
    * Scale shape: the query-term set is broadcast twice — once as a
    * LEFT SEMI join pruning corpus tokens to terms ANY query uses
    * (hits-only shuffle, like topK's isin), once as the scoring join
    * fanning hits out per interested query. Per-query top-k is a
    * rank-limited window on query_id — never a global sort. Queries are
    * assumed broadcast-small (thousands); a corpus-scale query set would
    * swap the broadcasts for shuffle joins on term, same plan shape.
    */
  def topKPerQuery(docs: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    val stats = corpusStats(docs)
    // distinct query terms, pinned: feeds both the corpus-token pruning
    // semi-join and the scoring fan-out (CLAUDE.md self-join rule)
    val qterms = graft.CacheScope.scoped(queries
      .select(col("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("term")))
    val tf = graft.CacheScope.scoped(docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"),
        "left_semi")
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
    tf.join(broadcast(dfreq), "term")
      .join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(stats))
      .withColumn("score_micro_t", expr(scoreMicroT))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score_micro_t")).as("bm25_micro"))
      .withColumn("brank", row_number().over(w))
      .filter(col("brank") <= k)
  }

  // --------------------------------------------------------------------
  // The STORED-INDEX retrieval form (r12, r11 VERDICT #4): [[topK]]
  // recomputes the corpus half — postings, document frequencies, doc
  // lengths, the (N, avgdl) stats — on EVERY call, the exact asymmetry
  // the cp/text/fp families closed for dedup in r10/r11. Persist that
  // half once on the shared graft.sources.EpochStore layout and score
  // query batches against the store: per query-batch cost is columnar
  // scans of query-term postings, zero corpus tokenization.
  //
  // APPEND IS EXACT BY ADDITIVITY, not a refusal (the r11 VERDICT asked
  // for refuse-vs-recompute to be decided and pinned): unlike the cp
  // family's k ~ log n, every corpus statistic BM25 needs is additive
  // over disjoint document sets — df(term) sums across epochs, N and
  // Σdl ride the meta cumulatively, and avgdl = Σdl DIV N recomputes
  // from those sums at probe time — so an appended index scores
  // IDENTICALLY to a monolithic rebuild (the q166 gate proves it
  // through an append + compaction). Disjointness is the same one-id-
  // space premise every index family refuses on.

  /** The BM25 family on the shared lifecycle. The id is bumped if the
    * tokenizer (whitespace split) or the posting schema ever change.
    * Compaction turns per-epoch df rows for a term into multiple rows
    * in one epoch, which the probe's sum-across-rows already
    * aggregates, so it moves bytes, never scores. Changes report the
    * doc grain (postings rows are an implementation detail; a
    * re-scoring consumer re-fetches exactly these docs).
    */
  val index: graft.sources.IndexFamily = graft.sources.IndexFamily(
    "bm25-ws-v1", "writeBm25Index",
    "scoring across tokenizer versions silently mis-weights every term",
    Seq(graft.sources.EpochStore.CompactTable("postings", Some("doc_id")),
      graft.sources.EpochStore.CompactTable("docs", Some("doc_id")),
      // per-epoch df rows are an ADDITIVE aggregate, not id-keyed:
      // tombstones never suppress them (deletes wrote negative rows
      // instead); the rewrite re-sums per term so those negatives
      // physically cancel, and exact zeros (a term fully retracted)
      // drop — sums, which are all any probe consumes, are unchanged
      graft.sources.EpochStore.CompactTable("dfs", None,
        d => d.groupBy(col("term")).agg(sum(col("df")).as("df"))
          .filter(col("df") =!= 0))),
    "docs", "doc_id", deleteKey = "doc_id", countCol = "n_docs",
    // an append grows Σdl by the shard's word count (N and Σdl are
    // additive over disjoint doc sets)
    shard = graft.sources.IndexFamily.Shard("appendBm25Index",
      Seq("family", "n_docs", "sum_dl", "epoch"),
      _.select("doc_id", "text"), (d, _) => tokenized(d),
      dup = "; a doc indexed twice double-counts df and N. Re-key " +
        "upstream.",
      clash = dir => s"appended doc_id(s) already indexed at $dir — one " +
        "id space is the contract (an id indexed twice double-counts df " +
        "and N); re-key or dedup the shard first.",
      grow = Seq(coalesce(sum(size(split(col("text"), " ")).cast("long")),
        lit(0L)).as("sum_dl"))),
    // a delete shrinks Σdl by the deleted docs' lengths and carries
    // NEGATIVE df rows — per term, minus the deleted docs containing
    // it, from the live postings — so the probe's sum-across-epochs
    // serves the retracted df with zero plan change
    onDelete = Some(graft.sources.IndexFamily.DeleteHook(
      Seq(coalesce(sum(col("dl")), lit(0L)).as("sum_dl")),
      (live, del) => Seq("dfs" -> live("postings")
        .join(broadcast(del), col("doc_id") === col("id"))
        .groupBy(col("term"))
        .agg((lit(0L) - count(lit(1))).as("df"))))))

  /** The tokenized corpus half, one epoch's three tables: postings
    * (term, doc_id, tf, dl — dl denormalized so scoring never joins a
    * lengths table), the per-doc membership/length table `docs`
    * (doc_id, dl — every doc, even ones whose text yields no postings
    * row, so the append id-space check is exact), and the epoch's
    * per-term `dfs` (term, df).
    */
  private def tokenized(docs: DataFrame): Seq[(String, DataFrame)] = {
    val lengths = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val postings = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    Seq("postings" -> postings, "docs" -> lengths,
      "dfs" -> postings.groupBy(col("term")).agg(count(lit(1)).as("df")))
  }

  /** Persist the corpus half as epoch 0 of an [[graft.sources
    * .EpochStore]] artifact: `postings/` (term, doc_id, tf, dl),
    * `docs/` (doc_id, dl), `dfs/` (term, per-epoch df), and a one-row
    * meta carrying the CUMULATIVE (n_docs, Σdl) — meta written LAST,
    * torn epochs invisible, single writer, the layout contract.
    * Deletes any previous artifact at `dir` first (a rebuild whose
    * input reads this artifact's own files must build elsewhere).
    */
  def writeBm25Index(docs: DataFrame, dir: String,
      commitTs: Option[Long] = None): Unit =
    index.write(docs, dir, commitTs = commitTs)

  /** The live read's corpus statistics: (N, avgdl) from its meta. */
  private def corpusStats(lv: graft.sources.IndexFamily.Live)
      : (Long, Long) = {
    val nDocs = lv.meta.getAs[Long]("n_docs")
    (nDocs, lv.meta.getAs[Long]("sum_dl") / math.max(nDocs, 1L))
  }

  /** FOLD new documents into the artifact as epoch N+1 — EXACT, never
    * approximate: df sums across epochs, (N, Σdl) ride the meta
    * cumulatively, avgdl recomputes from them at probe time (see the
    * section comment — the additivity decision the r11 VERDICT asked
    * to be pinned; q166 gates append ≡ monolithic). One id space
    * refuses (shard-internal and shard∩stored — an id appended twice
    * double-counts df and N). Meta last; torn appends invisible and
    * retried. Single writer.
    */
  def appendBm25Index(indexDir: String, moreDocs: DataFrame,
      commitTs: Option[Long] = None): Unit =
    index.append(indexDir, moreDocs, commitTs)

  /** Score a bag-of-words query against the STORED index — [[topK]]'s
    * exact contract and output shape (doc_id, score_micro, n_terms;
    * ties on ascending doc_id; only docs containing ≥ 1 query term),
    * but the corpus is never tokenized: per-call cost is a columnar
    * scan of the stored postings/dfs pruned to the query terms, with
    * (N, avgdl) read from the meta as LITERALS (no 1-row broadcast
    * join in the plan at all). df per term SUMS across epochs —
    * additive over the disjoint doc sets the append premise
    * guarantees — so a grown index scores identically to a rebuild.
    *
    * `asOf` (r13 — time-travel retrieval, the convention shared by
    * every family probe): scores against the corpus statistics as they
    * stood when epoch `asOf` committed — postings and per-epoch df
    * rows prune to that horizon, later tombstones don't suppress, and
    * the decisive part: (N, Σdl) come from the HISTORICAL meta row,
    * not the current one, so the additive stats rewind with the corpus
    * and the scores reproduce a past retrieval bit-for-bit (the q179
    * gate). History retention is the floor — an `asOf` below it
    * refuses (compaction is snapshot expiry). Same plan.
    */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queryTerms: Seq[String], k: Int,
      asOf: Option[Int] = None): DataFrame = {
    val lv = index.live(spark, indexDir, "topKIndexed", asOf)
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val (nDocs, ad) = corpusStats(lv)
    val tf = lv.table("postings")
      .filter(col("term").isin(queryTerms: _*))
    val dfreq = lv.table("dfs")
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("n_docs", lit(nDocs))
      .withColumn("ad", lit(ad))
      .withColumn("score_micro_t", expr(scoreMicroT))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_micro_t")).as("score_micro"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** BATCHED retrieval against the STORED index — [[topKPerQuery]]'s
    * exact contract (top-k per query over its DISTINCT tokens, df =
    * true corpus document frequency, a query never retrieves itself,
    * rank-limited window per query_id — never a global sort), with the
    * corpus half read from the artifact: per-batch cost is a columnar
    * scan of the stored postings pruned to the terms ANY query uses
    * (left-semi against the broadcast query-term set — predicate
    * pushdown keeps non-query terms unread), the summed stored df, and
    * (N, avgdl) from the meta as literals. The shape an eval-mining or
    * RAG job runs daily against a frozen corpus index.
    */
  def topKPerQueryIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int): DataFrame = {
    val lv = index.live(spark, indexDir, "topKPerQueryIndexed")
    val (nDocs, ad) = corpusStats(lv)
    // distinct query terms, pinned: feeds the postings pruning
    // semi-join, the df pruning, and the scoring fan-out
    val qterms = graft.CacheScope.scoped(queries
      .select(col("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("term")))
    val anyTerm = qterms.select("term").distinct()
    val tf = lv.table("postings")
      .join(broadcast(anyTerm), Seq("term"), "left_semi")
    val dfreq = lv.table("dfs")
      .join(broadcast(anyTerm), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
    tf.join(broadcast(dfreq), "term")
      .join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("ad", lit(ad))
      .withColumn("score_micro_t", expr(scoreMicroT))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score_micro_t")).as("bm25_micro"))
      .withColumn("brank", row_number().over(w))
      .filter(col("brank") <= k)
  }
}
