package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale stress of the suite's four heaviest operators (diagnostic
  * main, not part of the driver contract; r5 VERDICT #7: measure the
  * scale curves instead of asserting them).
  *
  * Builds a one-off ~sf1-equivalent corpus in /tmp as TEN id-shifted
  * copies of the sf0.1 tables, then times each heavy query at 1× and
  * 10× in the same JVM (warmed, min-of-`passes`) and reports the
  * measured scaling exponent log₁₀(t₁₀/t₁).
  *
  * The copy construction is chosen so each operator's PREMISE — not an
  * artifact — is what scales:
  *  - documents: per-copy digit injected after every space, so the
  *    within-copy near-dup structure is preserved (both members of a
  *    pair get the same transform) while cross-copy 12-gram Jaccard
  *    collapses — 10× docs, 10× true pairs, no spurious ×100 pair
  *    explosion from verbatim copies (q69/q70);
  *  - customer: plain id shift — q96's four residue-class chains thread
  *    THROUGH the copies, so the adversarial diameter itself grows 10×
  *    (the log₂(diameter) round count is the premise under test);
  *  - orders/lineitem: all keys shifted per copy — 10 disjoint
  *    marketplaces, so customers-per-part (the q108 C(k,2) premise)
  *    stays scale-invariant while part count grows 10×, exactly the
  *    TPC-H degree model the maxPerKey=256 cap encodes. q134's k-core
  *    rides the same copies: 10 independent co-purchase graphs, so the
  *    peel-cascade DEPTH (the round premise) is invariant while edge
  *    volume grows 10×.
  *
  * NOT stress-scaled at the GATE threshold, deliberately: the banded
  * cosine join family (q52/q118) at 0.4. At d = 64, ANY per-copy
  * orthogonal decorrelation (signed permutations measured, and a
  * perfect random rotation is no better: P(cos ≥ 0.4) ≈ 7·10⁻⁴ at
  * 64 dims) leaves a cross-copy similarity tail that inflates pair
  * volume ~10× beyond the true within-copy structure — the scaled
  * corpus would stress an artifact, not the operator's premise. The
  * PRODUCTION-threshold variant (≥ 0.7) IS measured here (r7 VERDICT
  * #4): the corpus plants exact-duplicate pairs (sf0.1 has no organic
  * ≥ 0.7 pairs), each copy gets its own signed permutation (orthogonal
  * — within-copy cosines exact, cross-copy tail ≈ 0 at 0.7), so both
  * the q52 pair emit and the q118 pairs→components→survivors pipeline
  * scale against true structure. EXPECTED exponent here is NOT 1.0:
  * angular LSH against a near-orthogonal bulk does Θ(n^(1+ρ)) work,
  * ρ = ln p₁/ln p₂ = ln(0.747)/ln(0.5) ≈ 0.42 at threshold 0.7 (p₁ =
  * per-plane collision at the threshold, p₂ = 0.5 for the random
  * bulk) — the Indyk–Motwani amplification bound, irreducible within
  * this family no matter how bands/planes are tuned. Measured 1.37 to
  * 1.40 ≈ the 1.42 theory line: the machinery performs AT its bound
  * (a defect would show as ≈ 2.0, the all-pairs slope). Sub-ρ scaling
  * needs a different family (cross-polytope LSH, graph-based ANN) —
  * documented, not built.
  *
  * ALSO measured (r7 VERDICT #6): the salted-path queries q33/q67 on a
  * deliberately hot-key corpus — ~half of all rows land on ONE
  * aggregation/join key, and the hot key GROWS 10× with the data (the
  * exact pathology salting exists for; per-copy key shifts keep the
  * rest of the key space growing too).
  *
  * Run: `sbt 'runMain graft.Stress'` (optionally SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_PASSES). One line per query:
  * `STRESS <q> t1x=<s> t10x=<s> ratio=<r> exponent=<e>`.
  */
object Stress {

  private val copies = 10
  private val offset = 100000000L // clears every sf0.1 id space

  /** Wall seconds `body` takes — the one timer every section reads. */
  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    // optional section selectors (heavy / emb / skew / link); no args =
    // run everything — lets a single section re-run without repaying
    // the full ~10-minute sweep
    val known = Set("heavy", "emb", "skew", "link", "emb100", "inc",
      "inc100", "span", "span100", "txt", "txt100", "cmp", "del",
      "dcn", "asof", "pol")
    // emb100 (the 220k-vector third decade) is EXCLUDED from the
    // no-args sweep: measured, its 100× pass OOMs the 8 GB local heap
    // when it runs AFTER the full heavy+emb sections' accumulated
    // state in one JVM, while running fine solo — `Stress emb100` is
    // the supported way to take that measurement.
    val sections: Set[String] =
      if (args.isEmpty) known - "emb100" - "inc100" - "span100" - "txt100"
      else args.toSet
    require(sections.subsetOf(known),
      s"unknown Stress section(s) ${(sections -- known).mkString(", ")} — " +
        s"valid: ${known.mkString(", ")} (a typo must refuse loudly, not " +
        "exit 0 having measured nothing)")
    def section(name: String): Boolean = sections.contains(name)
    val spark = LocalSpark.session(logLevel = "ERROR")
    val base = "/root/testdata/sf0.1"
    val dir10 = "/tmp/graft_stress_10x"

    if (section("heavy") || section("span") || section("txt"))
      buildCorpus(spark, base, dir10)

    val queries =
      if (section("heavy"))
        Seq("q69_chargram_jaccard", "q70_dedup_clusters",
          "q96_chain_components", "q108_triangles", "q134_kcore")
      else Seq.empty
    // warm the codegen/JIT once at sf0.001 so neither timed tier pays it
    queries.foreach { q =>
      CacheScope.withScope {
        Queries.all(q)(spark, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
      }
    }
    // ONE timing/printing contract for every section (min-of-n noop
    // writes under a cache scope; the STRESS line format): the heavy
    // loop and the r8 sections must not drift apart
    def timedN(mk: () => DataFrame, n: Int): Double =
      (1 to n).map { _ =>
        seconds(CacheScope.withScope {
          mk().write.format("noop").mode("overwrite").save()
        })
      }.min
    // min-of-passes with passes >= 2 for the UN-warmed shapes: their
    // first pass pays one-shot codegen, the min discards it
    def timed(mk: () => DataFrame): Double = timedN(mk, passes.max(2))
    def report(label: String, t1: Double, t10: Double): Unit = {
      val ratio = t10 / t1
      println(f"STRESS $label t1x=$t1%.1fs t10x=$t10%.1fs " +
        f"ratio=$ratio%.1f exponent=${math.log10(ratio)}%.2f")
    }
    queries.foreach { q =>
      report(q,
        timedN(() => Queries.all(q)(spark, base), passes),
        timedN(() => Queries.all(q)(spark, dir10), passes))
    }

    // ---- span-level exact dedup (r10 VERDICT #2's stress rows): the
    // O(total_chars) window-hash shuffle is the claimed honest floor
    // for q149/q150 — measure its exponent on the same 10× documents
    // corpus the heavy section uses (the per-copy space transform
    // kills cross-copy 60-char windows, so true duplication volume
    // grows ~linearly with the data, not quadratically). The third
    // row isolates the O(N·w) per-window re-hash CPU (the map stage
    // alone: transform+posexplode+xxhash64 with NO shuffle behind it)
    // so a reader can tell whether the hash or the shuffle dominates —
    // the scaladoc's documented decision point for the rolling
    // Rabin-Karp upgrade (TextDedup.duplicateSpans).
    if (section("span")) {
      // q158 rides the same O(total_chars) window-explode floor as
      // q149/q150 (both its corpus AND its %20 benchmark slice grow
      // with the tier), so it joins their rows directly
      Seq("q149_substring_spans", "q150_span_removal",
          "q158_span_decontaminate").foreach { q =>
        CacheScope.withScope {
          Queries.all(q)(spark, "/root/testdata/sf0.001")
            .write.format("noop").mode("overwrite").save()
        }
        report(q,
          timedN(() => Queries.all(q)(spark, base), passes),
          timedN(() => Queries.all(q)(spark, dir10), passes))
      }
      def hashStage(dir: String, w: Int): () => DataFrame = () =>
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(length(col("text")) >= 60)
          .select(col("doc_id"), lower(col("text")).as("t"))
          .select(col("doc_id"), expr(
            s"transform(sequence(1, length(t) - 59), " +
              s"i -> xxhash64(substring(t, i, $w)))").as("hs"))
          .select(col("doc_id"), posexplode(col("hs")).as(Seq("p0", "h")))
      report("q149_hash_stage_only (map, no shuffle)",
        timed(hashStage(base, 60)), timed(hashStage(dir10, 60)))
      // same explode/row count with a 2-char hash: the DELTA vs the
      // w=60 row is the pure O(N·w) substring-re-hash CPU — if it is
      // small, the stage cost is scan+explode and the rolling-hash
      // upgrade buys nothing at this scale
      report("q149_hash_stage_only w=2 (O(N*w) isolation)",
        timed(hashStage(base, 2)), timed(hashStage(dir10, 2)))
      // the SHIPPED r16 stage (TextDedup.dupWindows rides
      // graft_window_hashes — one O(bytes) rolling pass): same explode
      // row count as the w=60 xxhash row above, so the delta between
      // the two rows is the measured win of the rolling upgrade
      graft.plans.GraftFunctions.register(spark)
      def rollingStage(dir: String): () => DataFrame = () =>
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(length(col("text")) >= 60)
          .select(col("doc_id"), lower(col("text")).as("t"))
          .select(col("doc_id"),
            posexplode(expr("graft_window_hashes(t, 60)"))
              .as(Seq("p0", "h")))
      report("q149_hash_stage_only rolling (shipped r16)",
        timed(rollingStage(base)), timed(rollingStage(dir10)))
    }

    // ---- THIRD-DECADE span dedup (run SOLO like emb100/inc100): the
    // first-decade span rows are FLOOR-dominated (t1x carries
    // multi-second fixed cost, so 0.18/0.26 understate the marginal
    // slope); the 10×→100× decade is the honest O(total_chars)
    // measurement — expect ~linear (exponent ≈ 1), which IS the claim:
    // exact substring dedup pays one fixed-width row per character, on
    // any engine, and the knob at 100 TB is partition count, not
    // asymptotics. Only documents replicate at 100× (the span queries
    // read nothing else).
    if (section("span100")) {
      buildCorpus(spark, base, dir10)
      val doc100 = "/tmp/graft_stress_doc_100x"
      buildDocCorpus(spark, base, doc100, 100)
      Seq("q149_substring_spans", "q150_span_removal").foreach { q =>
        CacheScope.withScope {
          Queries.all(q)(spark, "/root/testdata/sf0.001")
            .write.format("noop").mode("overwrite").save()
        }
        val t10 = timedN(() => Queries.all(q)(spark, dir10), passes)
        val t100 = timedN(() => Queries.all(q)(spark, doc100), passes)
        println(f"STRESS $q 10x->100x t10x=$t10%.1fs " +
          f"t100x=$t100%.1fs ratio=${t100 / t10}%.1f " +
          f"exponent=${math.log10(t100 / t10)}%.2f")
      }
    }

    // ---- the text index's THIRD decade (solo, like inc100/span100):
    // the 10× `txt` rows are floor-dominated (live and indexed both
    // read flat — at 50k docs the corpus re-shingle term is invisible
    // under the multi-second job floor), so the honest live-vs-stored
    // separation is measured 1× → 100×: the live path re-shingles +
    // re-hashes a 500k-doc corpus per shard, the indexed probe pays
    // only the stored band/shingle columnar scans. Exponent =
    // log₁₀(ratio)/2 (two decades).
    // the text arrival family's shared fixtures (txt + txt100): both
    // tiers are buildDocCorpus outputs and the fixed shard is drawn
    // from the TRANSFORMED copy-0 space — see the txt section comment
    val txtDoc1 = "/tmp/graft_stress_doc_1x"
    def txtDocs(dir: String): DataFrame = spark.read
      .parquet(s"$dir/documents.parquet").select("doc_id", "text")
    def txtShard(): DataFrame = txtDocs(txtDoc1)
      .orderBy(col("doc_id")).limit(2200)
      .select((col("doc_id") + lit(100000000000L)).as("doc_id"),
        col("text"))

    if (section("txt100")) {
      val doc100 = "/tmp/graft_stress_doc_100x"
      buildDocCorpus(spark, base, txtDoc1, 1)
      buildDocCorpus(spark, base, doc100, 100)
      val idx1 = "/tmp/graft_stress_txtidx100_1x"
      val idx100 = "/tmp/graft_stress_txtidx100_100x"
      Seq((txtDoc1, idx1), (doc100, idx100)).foreach { case (src, idx) =>
        CacheScope.withScope {
          operators.TextIndex.writeJaccardIndex(txtDocs(src), idx,
            threshold = 0.6)
        }
      }
      def live(dir: String): () => DataFrame = () =>
        operators.TextIndex.jaccardPairsIncremental(txtDocs(dir),
          txtShard(), threshold = 0.6)
      def probe(idx: String): () => DataFrame = () =>
        operators.TextIndex.jaccardPairsIndexed(idx, txtShard(),
          threshold = 0.6)
      Seq(("q153_text_incremental@0.6 fixed-shard (live reshingle)",
            live(txtDoc1), live(doc100)),
          ("q154_text_indexed@0.6 fixed-shard (stored artifact)",
            probe(idx1), probe(idx100)))
        .foreach { case (label, mk1, mk100) =>
          val t1 = timed(mk1); val t100 = timed(mk100)
          println(f"STRESS $label 1x->100x t1x=$t1%.1fs " +
            f"t100x=$t100%.1fs ratio=${t100 / t1}%.1f " +
            f"exponent=${math.log10(t100 / t1) / 2}%.2f")
        }
    }

    // ---- banded cosine @ production threshold 0.7 (r7 VERDICT #4)
    val emb1 = "/tmp/graft_stress_emb_1x"
    val emb10 = "/tmp/graft_stress_emb_10x"
    // incremental dedup with a FIXED shard against a growing corpus
    // (r9; shared by the emb and inc sections): the production claim
    // is per-shard cost independent of corpus² — only the shard
    // probes, so the live path's expected slope is the ~linear
    // corpus-hashing term, never the pair-volume exponent. The shard
    // is 2200 double-scaled copies of 1×-corpus vectors (each matches
    // exactly its own copy's instance; cross-copy cosines sit in the
    // random tail), ids shifted clear of every corpus id space.
    // r10: the shift is 1e11, NOT the r9 run's 9e8 — 9e8 collided
    // EXACTLY with copy 9 of the 10× corpus (copies shift k·1e8, so
    // copy 9 occupies [9e8, ~9.2e8]; a first fix at 2e9 then collided
    // with copy 20 of the 100× corpus) and the r9 row's verify joins
    // silently double-matched those 2200 shared ids; the operator's
    // new one-id-space check caught BOTH collisions, live, on this
    // harness. 1e11 clears a 1000-copy corpus.
    def incShard(): DataFrame = spark.read
      .parquet(s"$emb1/embeddings.parquet")
      .orderBy(col("vec_id")).limit(2200)
      .select((col("vec_id") + lit(100000000000L)).as("vec_id"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x * 1.001)")
          .as("embedding"))
    def incPairs(dir: String): () => DataFrame = () =>
      operators.Ann.cosinePairsCpIncremental(
        spark.read.parquet(s"$dir/embeddings.parquet"), incShard(),
        threshold = 0.7)
    if (section("emb")) {
    buildEmbCorpus(spark, base, emb1, 1)
    buildEmbCorpus(spark, base, emb10, copies)
    def embPairs(dir: String): () => DataFrame = () => {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      operators.Ann.cosinePairsLsh(e, threshold = 0.7)
    }
    def embDedup(dir: String): () => DataFrame = () => {
      // the q118 pipeline at 0.7: pairs -> components -> survivors
      // (r9: rides the cross-polytope pair stage, mirroring q118)
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val pairs = operators.Ann.cosinePairsCp(e, threshold = 0.7)
        .select(col("vec_a"), col("vec_b"))
      val comps = operators.Components.connectedComponents(pairs)
      val dropped = comps.filter(col("id") =!= col("comp"))
        .select(col("id").as("vec_id"))
      e.select("vec_id").join(dropped, Seq("vec_id"), "left_anti")
    }
    report("q52_cosine_pairs_lsh@0.7",
      timed(embPairs(emb1)), timed(embPairs(emb10)))
    report("q118_embedding_dedup@0.7",
      timed(embDedup(emb1)), timed(embDedup(emb10)))
    // the sub-ρ family member on the SAME corpus and threshold: the
    // r8 rows measured the sign-hyperplane path at n^1.37-1.40 (AT its
    // family's Indyk–Motwani bound); cross-polytope hashes with
    // corpus-scaled k must come in measurably below it
    def embPairsCp(dir: String): () => DataFrame = () => {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      operators.Ann.cosinePairsCp(e, threshold = 0.7)
    }
    report("q144_cosine_pairs_cp@0.7",
      timed(embPairsCp(emb1)), timed(embPairsCp(emb10)))
    report("q147_incremental_dedup@0.7 fixed-shard",
      timed(incPairs(emb1)), timed(incPairs(emb10)))
    }

    // ---- incremental dedup against a STORED band-row artifact (r9
    // VERDICT #2's stress row): the corpus index is written ONCE per
    // tier (UNTIMED — at 100 TB the write amortizes across every
    // arriving shard; that amortization IS the claim), then the same
    // fixed shard probes the stored index at 1× and 10× corpus. The
    // live path re-pays the corpus FHT hashing per call (its measured
    // fixed-shard slope, ~1.5× at 10×, is exactly that linear term);
    // the indexed probe's only corpus-growth terms are columnar scans
    // of the stored band rows/vectors, so its ratio must come in well
    // under the live path's — per-shard cost decoupled from corpus
    // hashing, not just from corpus pair volume.
    if (section("inc")) {
      buildEmbCorpus(spark, base, emb1, 1)
      buildEmbCorpus(spark, base, emb10, copies)
      val idx1 = "/tmp/graft_stress_cpidx_1x"
      val idx10 = "/tmp/graft_stress_cpidx_10x"
      Seq((emb1, idx1), (emb10, idx10)).foreach { case (src, idx) =>
        CacheScope.withScope {
          operators.Ann.writeCpIndex(
            spark.read.parquet(s"$src/embeddings.parquet"), idx,
            threshold = 0.7)
        }
      }
      def probe(idx: String): () => DataFrame = () =>
        operators.Ann.cosinePairsCpIndexed(idx, incShard(),
          threshold = 0.7)
      report("q147_incremental_dedup@0.7 fixed-shard (live rehash)",
        timed(incPairs(emb1)), timed(incPairs(emb10)))
      report("q148_incremental_indexed@0.7 fixed-shard (stored artifact)",
        timed(probe(idx1)), timed(probe(idx10)))
      // the SEARCH side of the same artifacts (r10 VERDICT #3): a
      // fixed query batch's top-k against the 1× and 10× stored
      // corpora — per-batch cost must grow only with the stored
      // band-row scan (linear-ish), never with a corpus re-hash
      def search(idx: String): () => DataFrame = () =>
        operators.Ann.cpTopKIndexed(idx, incShard(), k = 5,
          threshold = 0.7)
      report("q151_ann_cp_search_indexed@0.7 fixed-queries",
        timed(search(idx1)), timed(search(idx10)))
      // APPEND of the fixed shard into each stored index, LAST (the
      // epoch mutates the artifact, and this section's artifacts are
      // rebuilt at the top of every run): cost must be shard-local —
      // hash + write one epoch — plus the id-collision semi-scan of
      // the stored vectors, i.e. near-flat against corpus size. One
      // pass each (an epoch can only be appended once per id space).
      // a k-chooser step straddled by corpus+shard at some future
      // corpus size would REFUSE (the derived-params premise, working
      // as designed) — report it loudly instead of killing the
      // section's remaining rows (r11 review)
      def timeAppend(idx: String): Double = seconds(CacheScope.withScope {
        operators.Ann.appendCpIndex(idx, incShard())
      })
      try report("q152_append@0.7 fixed-shard (1 pass)",
        timeAppend(idx1), timeAppend(idx10))
      catch {
        case e: IllegalArgumentException =>
          println(s"STRESS q152_append@0.7 REFUSED (parameter " +
            s"currency premise — corpus size straddles a k step): " +
            s"${e.getMessage}")
      }
    }

    // ---- the TEXT arrival family against a 10×-grown documents
    // corpus (r11 — the q147/q148/q152 measurement mirrored onto
    // MinHash): a FIXED 2200-doc shard drawn from the TRANSFORMED
    // copy-0 text space (ids shifted clear of every copy's id space).
    // Both tiers are buildDocCorpus outputs — the 1× tier is the
    // 1-copy build, NOT the raw base table, because the per-copy word
    // transform rewrites copy 0's text too (" " → " 0"); a verbatim
    // base-text shard would have J=1 partners at 1× and NONE at 10×,
    // silently shrinking the verify term across tiers (r11 review).
    // Drawn this way, the shard's exact copies are planted J=1 hits
    // against the identical transformed copy-0 docs in BOTH tiers,
    // and the transform keeps other copies' shingles out of its way.
    // The live path re-shingles + re-hashes the corpus per call — its
    // expected slope is that linear term; the indexed probe reads the
    // stored shingle/band tables, so its only growth term is the
    // columnar scan; append is shard-local + the id semi-scan. The
    // index per tier is written ONCE, untimed (the write amortizes
    // across every arriving shard — that amortization IS the claim).
    if (section("txt")) {
      buildDocCorpus(spark, base, txtDoc1, 1)
      val txtIdx1 = "/tmp/graft_stress_txtidx_1x"
      val txtIdx10 = "/tmp/graft_stress_txtidx_10x"
      Seq((txtDoc1, txtIdx1), (dir10, txtIdx10)).foreach { case (src, idx) =>
        CacheScope.withScope {
          operators.TextIndex.writeJaccardIndex(txtDocs(src), idx,
            threshold = 0.6)
        }
      }
      def txtLive(dir: String): () => DataFrame = () =>
        operators.TextIndex.jaccardPairsIncremental(txtDocs(dir),
          txtShard(), threshold = 0.6)
      def txtProbe(idx: String): () => DataFrame = () =>
        operators.TextIndex.jaccardPairsIndexed(idx, txtShard(),
          threshold = 0.6)
      report("q153_text_incremental@0.6 fixed-shard (live reshingle)",
        timed(txtLive(txtDoc1)), timed(txtLive(dir10)))
      report("q154_text_indexed@0.6 fixed-shard (stored artifact)",
        timed(txtProbe(txtIdx1)), timed(txtProbe(txtIdx10)))
      // append LAST (mutates the artifacts, which are rebuilt at the
      // top of every run); one pass each — an id space appends once.
      // No currency premise exists to refuse here: MinHash banding is
      // count-independent (TextIndex.appendJaccardIndex scaladoc).
      def timeTxtAppend(idx: String): Double =
        seconds(CacheScope.withScope {
          operators.TextIndex.appendJaccardIndex(idx, txtShard())
        })
      report("q155_text_append@0.6 fixed-shard (1 pass)",
        timeTxtAppend(txtIdx1), timeTxtAppend(txtIdx10))
      // the EXACT-granularity arrival (q159) on the same fixtures: a
      // fixed shard verdicts against the stored fingerprint map — the
      // cheapest stored-index probe, expected ~flat (one two-column
      // columnar scan is the only corpus-growth term)
      val fpIdx1 = "/tmp/graft_stress_fpidx_1x"
      val fpIdx10 = "/tmp/graft_stress_fpidx_10x"
      Seq((txtDoc1, fpIdx1), (dir10, fpIdx10)).foreach { case (src, idx) =>
        CacheScope.withScope {
          operators.Dedup.writeFingerprintIndex(txtDocs(src), idx)
        }
      }
      def fpProbe(idx: String): () => DataFrame = () =>
        operators.Dedup.dedupAgainstIndex(idx, txtShard())
      report("q159_exact_dedup_indexed fixed-shard (stored fp map)",
        timed(fpProbe(fpIdx1)), timed(fpProbe(fpIdx10)))
    }

    // ---- COMPACTION vs SPRAWL (r12, the r11-VERDICT #1 done
    // criterion): the SAME artifact built as an epoch-per-shard sprawl
    // (the q164 production cadence — base + 23 probe→append rounds)
    // vs that sprawl compacted + vacuumed; a fixed shard probes both.
    // The delta is pure layout cost — small-file fan-in in the
    // stored-table scans and the O(epochs) meta walk — because the
    // row set is identical by the compaction contract (q163 gates
    // that; this row prices it).
    if (section("cmp")) {
      buildDocCorpus(spark, base, txtDoc1, 1)
      val nEpochs = 24
      val sprawl = "/tmp/graft_stress_fpidx_sprawl"
      val compacted = "/tmp/graft_stress_fpidx_compact"
      def buildSprawl(dir: String): Unit = {
        val docs = txtDocs(txtDoc1)
        CacheScope.withScope {
          operators.Dedup.writeFingerprintIndex(
            docs.filter(col("doc_id") % nEpochs === 0), dir)
        }
        (1 until nEpochs).foreach { k =>
          CacheScope.withScope {
            val slice = docs.filter(col("doc_id") % nEpochs === k)
            val kept = operators.Dedup.dedupAgainstIndex(dir, slice)
              .filter(col("kept")).select("doc_id")
            operators.Dedup.appendFingerprintIndex(dir,
              slice.join(kept, Seq("doc_id"), "left_semi"))
          }
        }
      }
      buildSprawl(sprawl)
      // byte-identical copy instead of a second ~47-job build (r12
      // review): the comparison needs identical inputs, not a second
      // construction
      locally {
        val conf = spark.sparkContext.hadoopConfiguration
        val src = new org.apache.hadoop.fs.Path(sprawl)
        val dst = new org.apache.hadoop.fs.Path(compacted)
        val fs = src.getFileSystem(conf)
        fs.delete(dst, true)
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
      }
      CacheScope.withScope {
        operators.Dedup.index.compact(spark, compacted)
        operators.Dedup.index.vacuum(spark, compacted)
      }
      def fpProbeAt(idx: String): () => DataFrame = () =>
        operators.Dedup.dedupAgainstIndex(idx, txtShard())
      val tS = timed(fpProbeAt(sprawl))
      val tC = timed(fpProbeAt(compacted))
      println(f"STRESS fp_probe_${nEpochs}%d-epoch-sprawl-vs-compacted " +
        f"t_sprawl=$tS%.2fs t_compacted=$tC%.2fs ratio=${tS / tC}%.2f")

      // ---- the IMAGE arrival index (q169): a FIXED shard of arriving
      // images vs 1x and 10x stored corpora — the strongest asymmetry
      // of the family story, because the stored side's DECODE ran once
      // at build time and the probe decodes only the shard: expected
      // near-flat growth (columnar hash/band scans are the only
      // corpus-size term). The raster depends ONLY on id mod 256
      // (w/h/pixels all reduce mod 256/16/8), so BOTH the copy offset
      // and the shard shift must be ≢ 0 mod 256 or every copy/shard
      // image is an exact duplicate of its source and the row measures
      // planted-dup pair volume instead of the scan term (r12 review:
      // the first cut used k·1e8 and 3e11 — both ≡ 0 mod 256). Copy
      // offset 100000002 and shard shift 3000000000003 are ≡ 0 mod 3
      // (the image slice survives) and ≡ 2 / 3 mod 256 (organic
      // rasters). Corpora build INLINE (only documents is needed — no
      // 4-table buildCorpus).
      val baseDocs = spark.read.parquet(s"$base/documents.parquet")
        .select("doc_id", "text", "n_chars")
      def imgCorpus(nCopies: Int): DataFrame =
        (0 until nCopies).map(k => baseDocs.select(
            (col("doc_id") + lit(k * 100000002L)).as("doc_id"),
            col("text"), col("n_chars")))
          .reduce(_ unionByName _)
      val dh1 = "/tmp/graft_stress_dhidx_1x"
      val dh10 = "/tmp/graft_stress_dhidx_10x"
      Seq((1, dh1), (10, dh10)).foreach { case (n, idx) =>
        CacheScope.withScope {
          operators.Multimodal.writeDHashIndex(imgCorpus(n), idx)
        }
      }
      def imgShard(): DataFrame = baseDocs
        .orderBy(col("doc_id")).limit(6600)
        .select((col("doc_id") + lit(3000000000003L)).as("doc_id"),
          col("text"), col("n_chars"))
        .filter(col("doc_id") % 3 === 0)
      def dhProbe(idx: String): () => DataFrame = () =>
        operators.Multimodal.imageDHashNearIndexed(idx, imgShard())
      report("q169_image_neardup_indexed fixed-shard (stored dhash)",
        timed(dhProbe(dh1)), timed(dhProbe(dh10)))
    }

    // ---- RETENTION POLICY pricing (r15 — the r14-VERDICT #5 Stress
    // criterion): the SAME 12-shard text-family drain (the q167
    // cadence — the TWO-table docs+bands artifact whose every-batch
    // compaction is exactly where that gate's cost lives),
    // housekeeping driven by the actual RetentionPolicy type at
    // every-1 (today's gate cadence) vs every-4. Each compaction
    // rewrites the artifact's LIVE bytes, so the every-1 drain pays
    // ~N rewrites of growing size where every-4 pays N/4 — the write
    // half of the trade. The end probes price the read half: every-4
    // finishes with up to everyBatches−1 epochs of sprawl between
    // fires (the `cmp` row's small-file + meta-walk tax), so deferring
    // housekeeping is cheaper to write and (slightly) dearer to read —
    // the trade the policy type exists to name.
    if (section("pol")) {
      buildDocCorpus(spark, base, txtDoc1, 1)
      val nShards = 12
      def drain(policy: graft.sources.RetentionPolicy, idx: String)
          : Double = {
        val docs = txtDocs(txtDoc1)
        seconds {
          CacheScope.withScope {
            operators.TextIndex.writeJaccardIndex(
              docs.filter(col("doc_id") % nShards === 0), idx,
              threshold = 0.6)
          }
          (1 until nShards).foreach { k =>
            CacheScope.withScope {
              operators.TextIndex.appendJaccardIndex(idx,
                docs.filter(col("doc_id") % nShards === k))
              val fam = operators.TextIndex.index
              policy.housekeep(spark, idx, k - 1L, "stress_pol",
                  fam.writer)(
                fam.compact(spark, idx, _), () => fam.vacuum(spark, idx))
            }
          }
        }
      }
      val polIdx1 = "/tmp/graft_stress_polidx_every1"
      val polIdx4 = "/tmp/graft_stress_polidx_every4"
      val tE1 = drain(graft.sources.RetentionPolicy(), polIdx1)
      val tE4 = drain(graft.sources.RetentionPolicy(everyBatches = 4),
        polIdx4)
      def polProbe(idx: String): () => DataFrame = () =>
        operators.TextIndex.jaccardPairsIndexed(idx, txtShard(),
          threshold = 0.6)
      val pE1 = timed(polProbe(polIdx1))
      val pE4 = timed(polProbe(polIdx4))
      println(f"STRESS txt_ingest_policy_every1-vs-every4 " +
        f"t_drain_e1=$tE1%.1fs t_drain_e4=$tE4%.1fs " +
        f"drain_ratio=${tE1 / tE4}%.2f " +
        f"t_probe_e1=$pE1%.2fs t_probe_e4=$pE4%.2fs")
    }

    // ---- DELETE / TOMBSTONES (r13): two prices. (1) The delete
    // OPERATION at 1× vs 10× — its only corpus-size terms are the
    // liveness premise (an anti-join LIMIT 1 against the live
    // two-column map) and the owner-snapshot scan, so near-flat is the
    // claim. (2) The PROBE with the tombstones still LIVE (the
    // epoch-qualified anti-join in every stored-table read) vs the
    // same artifact after compact + vacuum folded them away — the
    // delta prices serving deletes live, and the fold is what removes
    // it (the `cmp` sprawl row's argument, at the delete quarter).
    if (section("del")) {
      buildDocCorpus(spark, base, txtDoc1, 1)
      val docDel10 = "/tmp/graft_stress_doc_del10x"
      buildDocCorpus(spark, base, docDel10, 10)
      val idx1 = "/tmp/graft_stress_fpdelidx_1x"
      val idx10 = "/tmp/graft_stress_fpdelidx_10x"
      Seq((txtDoc1, idx1), (docDel10, idx10)).foreach { case (src, idx) =>
        CacheScope.withScope {
          operators.Dedup.writeFingerprintIndex(txtDocs(src), idx)
        }
      }
      // delete sets: the stored owners ≡ 2 (mod 13), SNAPSHOT first
      // (lineage over a mutating artifact re-reads the mutated state —
      // the operator scaladoc's rule)
      def doom(idx: String, out: String): DataFrame = {
        CacheScope.withScope {
          operators.Dedup.storedOwners(spark, idx)
            .filter(col("owner") % 13 === 2)
            .select(col("owner").as("doc_id"))
            .write.mode("overwrite").parquet(out)
        }
        spark.read.parquet(out)
      }
      val doomed1 = doom(idx1, "/tmp/graft_stress_fpdel_doom1")
      val doomed10 = doom(idx10, "/tmp/graft_stress_fpdel_doom10")
      // one pass each — an id set deletes once (the append-timing rule)
      def timeDelete(idx: String, ids: DataFrame): Double =
        seconds(CacheScope.withScope {
          operators.Dedup.index.delete(idx, ids)
        })
      report("fp_delete_op owners%13==2 (1 pass)",
        timeDelete(idx1, doomed1), timeDelete(idx10, doomed10))
      // probe the 10× artifact with its tombstones LIVE, then after a
      // compact + vacuum folded them away (byte-identical copy — the
      // cmp section's identical-inputs discipline)
      val folded10 = "/tmp/graft_stress_fpdelidx_10x_folded"
      locally {
        val conf = spark.sparkContext.hadoopConfiguration
        val src = new org.apache.hadoop.fs.Path(idx10)
        val dst = new org.apache.hadoop.fs.Path(folded10)
        val fs = src.getFileSystem(conf)
        fs.delete(dst, true)
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
      }
      CacheScope.withScope {
        operators.Dedup.index.compact(spark, folded10)
        operators.Dedup.index.vacuum(spark, folded10)
      }
      def fpDelProbe(idx: String): () => DataFrame = () =>
        operators.Dedup.dedupAgainstIndex(idx, txtShard())
      val tLive = timed(fpDelProbe(idx10))
      val tFold = timed(fpDelProbe(folded10))
      println(f"STRESS fp_probe_tombstones-live-vs-folded@10x " +
        f"t_live=$tLive%.2fs t_folded=$tFold%.2fs " +
        f"ratio=${tLive / tFold}%.2f")
    }

    // ---- AS-OF at DEPTH (r14, r13 VERDICT #6): the gates probe
    // horizon ≤ 2; this section builds a ~100-epoch fp artifact (the
    // real micro-batch cadence) and prices (a) the as-of claim — a
    // historical probe costs no MORE than the serving probe (the meta
    // walk is one read at any depth; an early horizon scans FEWER
    // epoch dirs) — and (b) what a partial compact buys: after folding the
    // sprawl below epoch 95, the serving probe pays a checkpoint +
    // 5 deltas instead of 100 small epochs while horizons ≥ 95 keep
    // serving.
    if (section("asof")) {
      buildDocCorpus(spark, base, txtDoc1, 1)
      val docs = txtDocs(txtDoc1)
      val idx = "/tmp/graft_stress_fpasof_100ep"
      val keptDir = idx + "_kept"
      CacheScope.withScope {
        operators.Dedup.writeFingerprintIndex(
          docs.filter(col("doc_id") % 11 =!= 5), idx)
        // survivors computed ONCE (distinct fps by the verdict
        // contract), then folded in as 99 disjoint micro-waves — the
        // q164 cadence without per-wave probes
        operators.Dedup.dedupAgainstIndex(idx,
            docs.filter(col("doc_id") % 11 === 5))
          .filter(col("kept")).select("doc_id")
          .write.mode("overwrite").parquet(keptDir)
      }
      val survivors = docs.join(spark.read.parquet(keptDir),
        Seq("doc_id"), "left_semi")
      val tBuild = seconds {
        for (k <- 0 until 99) CacheScope.withScope {
          operators.Dedup.appendFingerprintIndex(idx,
            survivors.filter(pmod(col("doc_id"), lit(99)) === lit(k)))
        }
      }
      println(f"STRESS fp_asof_build 99-micro-appends t=$tBuild%.1fs")
      def probeAt(asOf: Option[Int]): Double = timed(() =>
        operators.Dedup.dedupAgainstIndex(idx, txtShard(), asOf))
      val tEarly = probeAt(Some(5))
      val tMid = probeAt(Some(50))
      val tServ = probeAt(None)
      println(f"STRESS fp_asof_depth@100ep t_asof5=$tEarly%.2fs " +
        f"t_asof50=$tMid%.2fs t_serving=$tServ%.2fs " +
        f"depth_ratio=${tServ / tEarly}%.2f")
      CacheScope.withScope {
        operators.Dedup.index.compact(spark, idx,
          below = Some(95))
        operators.Dedup.index.vacuum(spark, idx)
      }
      val tServC = probeAt(None)
      val tRetained = probeAt(Some(97))
      println(f"STRESS fp_asof_compactBelow@95 t_serving=$tServC%.2fs " +
        f"t_asof97=$tRetained%.2fs " +
        f"sprawl_tax_folded=${tServ / tServC}%.2f")
    }

    // ---- the stored benchmark-window suite (q180/q181, r13): two
    // honesty measurements the scaladoc claims rest on — (a) the
    // stored-suite probe costs the SAME as the live path at equal
    // inputs (the corpus window explode dominates; the artifact's
    // value is the VERSIONED suite, not the skipped benchmark
    // explode), and (b) a fixed corpus cleaned against a 10×-grown
    // suite grows only by the broadcast gram-set term.
    if (section("dcn")) {
      buildDocCorpus(spark, base, txtDoc1, 1)
      val docDcn10 = "/tmp/graft_stress_doc_dcn10x"
      buildDocCorpus(spark, base, docDcn10, 10)
      def slice(src: String, bench: Boolean): DataFrame = {
        val d = txtDocs(src)
        if (bench) d.filter(col("doc_id") % 20 === 3)
        else d.filter(col("doc_id") % 20 =!= 3)
      }
      val corpus = slice(txtDoc1, bench = false) // FIXED cleaning work
      val dcnIdx1 = "/tmp/graft_stress_dcnidx_1x"
      val dcnIdx10 = "/tmp/graft_stress_dcnidx_10x"
      Seq((txtDoc1, dcnIdx1), (docDcn10, dcnIdx10)).foreach {
        case (src, idx) => CacheScope.withScope {
          operators.TextDedup.writeDeconIndex(slice(src, bench = true),
            idx, w = 60)
        }
      }
      val tLive = timed(() => operators.TextDedup.decontaminateSpans(
        corpus, slice(txtDoc1, bench = true), w = 60))
      val tIdx1 = timed(() =>
        operators.TextDedup.decontaminateAgainstIndex(corpus, dcnIdx1))
      println(f"STRESS decon_live-vs-stored-suite@1x t_live=$tLive%.2fs " +
        f"t_indexed=$tIdx1%.2fs ratio=${tIdx1 / tLive}%.2f")
      report("q180_decontaminate_indexed fixed-corpus vs suite size",
        tIdx1, timed(() =>
          operators.TextDedup.decontaminateAgainstIndex(corpus,
            dcnIdx10)))
    }

    // ---- 100× point for the sub-ρ path (r9): the sign-LSH family's
    // fitted cost at 100× (~n^1.4 from the measured 10× row) is tens of
    // minutes, so only the cross-polytope path runs the third decade —
    // the exponent reported here is the 10×→100× slope, the one that
    // matters for "would this hold at 1000 executors on 100 TB".
    val emb100 = "/tmp/graft_stress_emb_100x"
    if (section("emb100")) {
      buildEmbCorpus(spark, base, emb1, 1)
      buildEmbCorpus(spark, base, emb100, 100)
      // SPARK_GRAFT_CP_K overrides the derived hashes-per-band — the
      // diagnostic knob that calibrated the k-chooser's cost ratio
      // (0 = derive, the production path)
      val kOverride = sys.env.getOrElse("SPARK_GRAFT_CP_K", "0").toInt
      def cp(dir: String): () => DataFrame = () => {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        operators.Ann.cosinePairsCp(e, threshold = 0.7,
          hashesPerBand = kOverride)
      }
      val (t1, t100) = (timed(cp(emb1)), timed(cp(emb100)))
      val ratio = t100 / t1
      // two decades of data ⇒ exponent is log10(ratio)/2
      println(f"STRESS q144_cosine_pairs_cp@0.7 t1x=$t1%.1fs " +
        f"t100x=$t100%.1fs ratio=$ratio%.1f " +
        f"exponent=${math.log10(ratio) / 2.0}%.2f")
    }

    // ---- THIRD-DECADE artifact probe (run SOLO like emb100 — same
    // heap reasoning): the fixed 2200-vector shard against stored
    // indexes of the 1× and 100× corpora. Two decades of corpus
    // growth ⇒ the reported exponent is log₁₀(ratio)/2. The live
    // incremental call at 100× re-hashes 220k corpus vectors per
    // shard; the indexed probe's corpus terms are pure columnar scans
    // of the stored band rows/vectors — the row that answers "does
    // per-shard dedup cost survive a corpus that outgrew its shards
    // by 100×".
    val incIdx100 = "/tmp/graft_stress_cpidx_100x"
    if (section("inc100")) {
      buildEmbCorpus(spark, base, emb1, 1)
      buildEmbCorpus(spark, base, emb100, 100)
      val idx1 = "/tmp/graft_stress_cpidx_1x"
      Seq((emb1, idx1), (emb100, incIdx100)).foreach { case (src, idx) =>
        CacheScope.withScope {
          operators.Ann.writeCpIndex(
            spark.read.parquet(s"$src/embeddings.parquet"), idx,
            threshold = 0.7)
        }
      }
      def probe(idx: String): () => DataFrame = () =>
        operators.Ann.cosinePairsCpIndexed(idx, incShard(),
          threshold = 0.7)
      val (l1, l100) = (timed(incPairs(emb1)), timed(incPairs(emb100)))
      val (p1, p100) = (timed(probe(idx1)), timed(probe(incIdx100)))
      println(f"STRESS q147_incremental_live@0.7 fixed-shard t1x=$l1%.1fs " +
        f"t100x=$l100%.1fs ratio=${l100 / l1}%.1f " +
        f"exponent=${math.log10(l100 / l1) / 2.0}%.2f")
      println(f"STRESS q148_incremental_indexed@0.7 fixed-shard t1x=$p1%.1fs " +
        f"t100x=$p100%.1fs ratio=${p100 / p1}%.1f " +
        f"exponent=${math.log10(p100 / p1) / 2.0}%.2f")
      // the SEARCH probe at the third decade (r11): same fixed batch,
      // same stored artifacts — the row that answers whether per-batch
      // top-k survives a corpus that outgrew its query batches by 100×
      def search(idx: String): () => DataFrame = () =>
        operators.Ann.cpTopKIndexed(idx, incShard(), k = 5,
          threshold = 0.7)
      val (s1, s100) = (timed(search(idx1)), timed(search(incIdx100)))
      println(f"STRESS q151_ann_cp_search_indexed@0.7 fixed-queries " +
        f"t1x=$s1%.1fs t100x=$s100%.1fs ratio=${s100 / s1}%.1f " +
        f"exponent=${math.log10(s100 / s1) / 2.0}%.2f")
    }

    // ---- hot-key skew for the salted paths (r7 VERDICT #6)
    val skew1 = "/tmp/graft_stress_skew_1x"
    val skew10 = "/tmp/graft_stress_skew_10x"
    if (section("skew")) {
    buildSkewCorpus(spark, base, skew1, 1)
    buildSkewCorpus(spark, base, skew10, copies)
    Seq("q33_salted_agg", "q67_salted_join").foreach { q =>
      report(s"$q@hotkey",
        timed(() => Queries.all(q)(spark, skew1)),
        timed(() => Queries.all(q)(spark, skew10)))
    }
    }

    // ---- segment-pigeonhole linkage on ONE hot prefix block (r7
    // VERDICT #3's stress row): every name shares the 15-char prefix,
    // so blockedEditPairs would refuse at any sane maxBlock; the
    // segmented path must grow with true pair volume (planted twins,
    // 10× rows → 10× pairs), not block².
    def linkNames(n: Long): DataFrame = {
      // 17-char suffix = 1 marker char + 16 fixed-width hex chars of
      // two hashed-id words: each maxDist+1 segment spans ~6 hex chars
      // (16⁶ ≈ 16.7M values), so segment keys stay selective at both
      // tiers — the realistic hot-prefix shape (a million "John Smith
      // …" rows with DIVERSE tails). A low-entropy tail is the OTHER
      // pathology, and the operator refuses it loudly via maxKeyPairs
      // instead of going quadratic silently. Every 10th id gets a twin
      // whose marker differs (edit distance exactly 1).
      val ids = spark.range(n).select(col("id"))
      def nameExpr(marker: String) = expr(
        s"concat('same-prefix-15-', $marker, " +
          "format_string('%08X%08X', hash(id, 7), hash(id, 13)))")
      val bases = ids.select(col("id"),
        nameExpr("substring(format_string('%08X', hash(id, 42)), 1, 1)")
          .as("name"))
      val twins = ids.filter(col("id") % 10 === 0)
        .select((col("id") + lit(1000000000L)).as("id"),
          nameExpr("'Z'").as("name"))
      bases.unionByName(twins)
    }
    def linkPairs(n: Long): () => DataFrame = () =>
      operators.TextDedup.segmentedEditPairs(linkNames(n),
        prefixLen = 15, maxDist = 2)
    if (section("link"))
      report("q142_linkage_segmented@hotprefix",
        timed(linkPairs(30000L)), timed(linkPairs(300000L)))
    spark.stop()
  }

  /** Embedding corpus with PLANTED near-dup structure: every 10th
    * vector duplicated (cosine exactly 1 — sf0.1 has zero organic
    * ≥ 0.7 pairs, so the planted pairs ARE the structure under test),
    * then `nCopies` copies each under its own SIGNED PERMUTATION
    * (rotation by 7k dims + k-seeded sign flips — orthogonal, so every
    * within-copy cosine is preserved EXACTLY while cross-copy cosines
    * collapse to the random tail, ≈ 0 beyond 0.7 at 64 dims).
    */
  private def buildEmbCorpus(spark: SparkSession, base: String,
      out: String, nCopies: Int): Unit = {
    graft.streaming.EventStreams.deleteStagingForTest(
      java.nio.file.Paths.get(out))
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = emb.unionByName(
      emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + lit(10000000L)))
    (0 until nCopies).map { k =>
      // sign from a REAL mix of (dimension, copy): an affine parity like
      // (i*odd + k*odd) % 2 reduces to (i+k) % 2 — every copy the same
      // alternating vector up to global negation, zero decorrelation
      // (r8 self-review finding); xxhash mixes, so copies differ in
      // ~half their signs and cross-copy cosine collapses to the
      // random tail regardless of the base corpus's autocorrelation
      planted
        .withColumn("vec_id", col("vec_id") + lit(k * offset))
        .withColumn("embedding", expr(
          s"""transform(sequence(0, 63), i ->
             |  (CASE WHEN pmod(hash(i, $k), 2) = 0
             |        THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) *
             |  element_at(embedding, ((i + ${7 * k}) % 64) + 1))"""
            .stripMargin))
    }.reduce(_ unionByName _)
      .write.parquet(s"$out/embeddings.parquet")
  }

  /** `nCopies` id-shifted copies of the DOCUMENTS table only (the
    * span100 section's 100× tier — replicating the relational tables
    * too would waste most of the build). Same per-copy space transform
    * as [[buildCorpus]]: within-copy duplication is preserved exactly,
    * cross-copy w-char windows are destroyed (any window containing a
    * space differs between copies).
    */
  private def buildDocCorpus(spark: SparkSession, base: String,
      out: String, nCopies: Int): Unit = {
    graft.streaming.EventStreams.deleteStagingForTest(
      java.nio.file.Paths.get(out))
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until nCopies).map(k => docs
      .withColumn("doc_id", col("doc_id") + lit(k.toLong * offset))
      .withColumn("text", regexp_replace(col("text"), lit(" "),
        concat(lit(" "), lit(k.toString)))))
      .reduce(_ unionByName _)
      .write.parquet(s"$out/documents.parquet")
    println(s"STRESS doc corpus built at $out (${nCopies}× $base)")
  }

  /** Hot-key corpus for the salted paths: ~half of every copy's events
    * land on user_id 1 and ~half of its lineitems on l_suppkey 1 — the
    * hot key is SHARED across copies, so it grows 10× with the data
    * (the premise salting exists for), while all other keys shift per
    * copy (key cardinality grows too, like the real corpus would).
    */
  private def buildSkewCorpus(spark: SparkSession, base: String,
      out: String, nCopies: Int): Unit = {
    graft.streaming.EventStreams.deleteStagingForTest(
      java.nio.file.Paths.get(out))
    def tenfoldTo(df: DataFrame, name: String,
        f: (DataFrame, Long) => DataFrame): Unit =
      (0 until nCopies).map(k => f(df, k.toLong)).reduce(_ unionByName _)
        .write.parquet(s"$out/$name.parquet")
    // events read ONLY via Tables.events (CLAUDE.md unit rule — a raw
    // parquet read dies on a TIMESTAMP(NANOS)-era corpus); the rewrite
    // lands µs TimestampType, a layout Tables.events re-reads exactly
    tenfoldTo(graft.Tables.events(spark, base), "events", (d, k) => d
      .withColumn("event_id", col("event_id") + lit(k * offset))
      .withColumn("user_id",
        when(col("event_id") % 2 === 0, lit(1L))
          .otherwise(col("user_id") + lit(k * offset))))
    tenfoldTo(spark.read.parquet(s"$base/lineitem.parquet"), "lineitem",
      (d, k) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(k * offset))
      .withColumn("l_suppkey",
        when(col("l_linenumber") % 2 === 0, lit(1L))
          .otherwise(col("l_suppkey") + lit(k * offset))))
    tenfoldTo(spark.read.parquet(s"$base/supplier.parquet"), "supplier",
      (d, k) => d
      .withColumn("s_suppkey", col("s_suppkey") + lit(k * offset)))
  }

  /** Ten id-shifted copies of each input table, written parquet in the
    * Tables.load layout so the registered queries run unmodified.
    */
  private def buildCorpus(spark: SparkSession, base: String,
      out: String): Unit = {
    graft.streaming.EventStreams.deleteStagingForTest(
      java.nio.file.Paths.get(out))
    def tenfold(df: DataFrame, f: (DataFrame, Long) => DataFrame)
        : DataFrame =
      (0 until copies).map(k => f(df, k.toLong)).reduce(_ unionByName _)
    val docs = spark.read.parquet(s"$base/documents.parquet")
    tenfold(docs, (d, k) => d
      .withColumn("doc_id", col("doc_id") + lit(k * offset))
      // same transform on every doc of a copy: preserves within-copy
      // pair similarity, kills cross-copy 12-gram overlap
      .withColumn("text", regexp_replace(col("text"), lit(" "),
        concat(lit(" "), lit(k.toString)))))
      .write.parquet(s"$out/documents.parquet")
    val cust = spark.read.parquet(s"$base/customer.parquet")
    tenfold(cust, (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * offset)))
      .write.parquet(s"$out/customer.parquet")
    val orders = spark.read.parquet(s"$base/orders.parquet")
    tenfold(orders, (d, k) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(k * offset))
      .withColumn("o_custkey", col("o_custkey") + lit(k * offset)))
      .write.parquet(s"$out/orders.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    tenfold(li, (d, k) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(k * offset))
      .withColumn("l_partkey", col("l_partkey") + lit(k * offset)))
      .write.parquet(s"$out/lineitem.parquet")
    println(s"STRESS corpus built at $out (${copies}× $base)")
  }
}
