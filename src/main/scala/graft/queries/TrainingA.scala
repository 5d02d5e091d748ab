package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{CurationPipeline, Dedup, Similarity}
import graft.queries.TrainingShared._

/** Training-data pipeline operators: text analysis, fingerprint/MinHash/SimHash dedup, embedding ANN and the retrieval stack (first quarter of the Training inventory; split from the single 10k-line Training.scala in round 9, zero behavior change). Query/oracle pairs stay in
  * the same file so engine and oracle change together.
  */
private[queries] object TrainingA {

  /** Dunning G² over the bigram 2×2 — ONE generated text consumed by
    * both the Spark expr and the DuckDB oracle, so the four k·ln(kN/RC)
    * terms (fixed parenthesized chain, 0·ln0 = 0 cases) cannot drift.
    * Expects columns k11, k12, k21, k22, r, c, n in scope.
    */
  private def llrSql: String = {
    def t(k: String, rr: String, cc: String) =
      s"(CASE WHEN $k > 0 THEN CAST($k AS DOUBLE)" +
        s" * ln(CAST($k AS DOUBLE) * CAST(n AS DOUBLE)" +
        s" / (CAST($rr AS DOUBLE) * CAST($cc AS DOUBLE))) ELSE 0.0 END)"
    "CAST(floor(2.0 * (((" + t("k11", "r", "c") + " + " +
      t("k12", "r", "(n - c)") + ") + " + t("k21", "(n - r)", "c") +
      ") + " + t("k22", "(n - r)", "(n - c)") +
      ") * 1000000.0) AS BIGINT)"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // language-ID heuristic (argmax stopword hits, first-listed wins ties).
    "q52_lang_id" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang"))
    }),


    // quality scoring for a training-data filter.
    "q53_quality_score" -> ((s, d) => {
      t(s, d, "documents")
        .withColumn("q", TextFunctions.qualityScore(col("text")))
        .select(col("doc_id"), col("q.n_chars").as("n_chars"),
          col("q.n_tokens").as("n_tokens"), col("q.alpha_ratio").as("alpha_ratio"),
          col("q.stop_ratio").as("stop_ratio"),
          col("q.mean_token_len").as("mean_token_len"), col("q.keep").as("keep"))
    }),


    // token counting: whitespace vs alnum-regex tokenizer.
    "q54_token_count" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_ws"),
        TextFunctions.alnumTokenCount(col("text")).cast("long").as("n_alnum"))
    }),


    // content fingerprint (md5 of canonical normalization).
    "q55_fingerprint" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
    }),


    // exact dedup groups by fingerprint.
    "q56_exact_dedup" -> ((s, d) => {
      Dedup.exactDupGroups(t(s, d, "documents"), "doc_id", "text")
    }),


    // F8 tonal scoring (news sentiment).
    "q57_tonal_score" -> ((s, d) => {
      t(s, d, "documents")
        .withColumn("sc", TextFunctions.tonalScore(col("text"), posWords, negWords))
        .select(col("doc_id"), col("sc.n_tokens").as("n_tokens"),
          col("sc.tf_pos").as("tf_pos"), col("sc.tf_neg").as("tf_neg"),
          col("sc.sentiment").as("sentiment"))
    }),


    // pairwise token-set Jaccard over a bounded range.
    "q58_jaccard_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 100)
      val a = docs.select(col("doc_id").as("id1"), col("text").as("ta"))
      val b = docs.select(col("doc_id").as("id2"), col("text").as("tb"))
      a.join(b, col("id1") < col("id2"))
        .withColumn("j", Dedup.jaccardTokens(col("ta"), col("tb")))
        .where(col("j") > 0.8)
        .select(col("id1"), col("id2"), floor(col("j") * 1e6).cast("long").as("j_e6"))
    }),


    // MinHash + LSH banding candidate pairs (32 perms, 8 bands x 4 rows).
    "q59_minhash_lsh" -> ((s, d) => {
      Dedup.lshCandidatePairs(
        t(s, d, "documents").where(col("doc_id") < 300), "doc_id", "text")
    }),


    // 60-bit SimHash per document.
    "q60_simhash" -> ((s, d) => {
      t(s, d, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), Dedup.simhash60("text").as("sim"))
    }),


    // brute-force cosine top-10 for three query vectors.
    "q61_cosine_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id").isin(10L, 20L, 30L)), 10)
    }),


    // LSH-bucketed ANN (8 data-derived hyperplanes), same output shape.
    "q62_ann_lsh" -> ((s, d) => {
      Similarity.lshTopK(t(s, d, "embeddings"), Seq(100L, 200L), 10, 8)
    }),


    // Embedding set-diversity (compute_diversity.py:34-39,163-167): the
    // mean-max-cosine diversity of the SELECTED set (top-64 by model
    // score, the threshold_calibrated top-rank cut) against a same-size
    // RANDOM baseline (hash-ordered — the reference's random_samples
    // draw, made deterministic). Score proxy = first embedding dim (the
    // q186 convention); both rank cuts use the scalable Ranking.globalRank
    // rather than a single-partition window. One output row per set:
    // lower mean-max similarity = more diverse selection.
    "q192_set_diversity" -> ((s, d) => {
      val scored = t(s, d, "embeddings").select(col("vec_id"), col("embedding"),
        floor(element_at(col("embedding"), 1).cast("double") * 1e6)
          .cast("long").as("score_e6"))
      // persisted: meanMaxCos uses each 64-row set as BOTH sides of its
      // self-top-1 — unpersisted, the rank chain (sort + zipWithIndex)
      // would replay per side. Harness clearCache releases them.
      val sel = graft.operators.Ranking
        .globalRank(scored, "rnk", desc("score_e6"), asc("vec_id"))
        .where(col("rnk") <= 64).select("vec_id", "embedding").persist()
      val rnd = graft.operators.Ranking
        .globalRank(scored.withColumn("h",
            TextFunctions.hash60(col("vec_id").cast("string"))),
          "rnk", asc("h"), asc("vec_id"))
        .where(col("rnk") <= 64).select("vec_id", "embedding").persist()
      Similarity.meanMaxCos(sel).select(lit("selected").as("set_name"),
          col("n"), col("mean_max_cos_e6"))
        .unionAll(Similarity.meanMaxCos(rnd).select(lit("random").as("set_name"),
          col("n"), col("mean_max_cos_e6")))
    }),


    // cosine near-duplicate pairs above a threshold, bounded range.
    "q63_cosine_neardup" -> ((s, d) => {
      Similarity.cosineNearDupPairs(t(s, d, "embeddings"), 200L, 0.25)
    }),


    // end-to-end near-dup dedup: LSH pairs -> distributed min-label
    // components -> min-id rep. Oracle-checked: DuckDB replays the
    // components with a recursive transitive-closure CTE. The oracle
    // replays UNCAPPED pair semantics, so the verified path passes
    // maxBucket=Int.MaxValue explicitly — the production default (10000)
    // is a deliberately different configuration that drops pairs inside
    // celebrity buckets and may split components vs this oracle.
    "q76_dedup_keep" -> ((s, d) => {
      Dedup.dedupNearDupes(
        t(s, d, "documents").where(col("doc_id") < 300), "doc_id", "text",
        maxBucket = Int.MaxValue)
        .select(col("doc_id"), col("rep_id"), col("is_kept"))
    }),


    // IVF ANN: probe the 2 nearest cells of a per-label centroid codebook
    // — the second bucketed scale path next to q62's hyperplane LSH.
    "q98_ann_ivf" -> ((s, d) => {
      Similarity.ivfTopK(t(s, d, "embeddings"), Seq(100L, 200L), 10, 2)
    }),


    // Boilerplate removal, CCNet-style: sentences occurring > 3 times
    // ACROSS the corpus are dropped from every document; the doc is
    // reassembled in original order. One explode + one count join —
    // linear in corpus size.
    "q102_line_dedup" -> ((s, d) => {
      val sent = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), "\\.")).as(Seq("i", "s")))
      val cnt = sent.groupBy("s").agg(count(lit(1)).as("n"))
      sent.join(cnt, "s").where(col("n") <= 3)
        .groupBy("doc_id")
        .agg(md5(array_join(transform(
            array_sort(collect_list(struct(col("i"), col("s")))),
            x => x.getField("s")), ".")).as("fp"),
          count(lit(1)).as("n_kept"))
    }),


    // Within-document repetition ratio (RefinedWeb-style quality signal):
    // 1 - distinct/total tokens, in exact micro-units.
    "q103_repetition" -> ((s, d) => {
      val w = TextFunctions.tokens(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        size(w).cast("long").as("n_tokens"),
        size(array_distinct(w)).cast("long").as("n_distinct"),
        floor((lit(1.0) - size(array_distinct(w)).cast("double") / size(w)) * 1e6)
          .cast("long").as("dup_ratio_e6"))
    }),


    // Sequence packing for pretraining: contiguous-fill assignment of
    // documents to fixed token-budget bins (2048), packed independently
    // per language. lang has ~5 values, so a cumsum window partitioned
    // by it would pack the whole corpus in 5 tasks — the running token
    // total runs on the keyed PrefixScan instead (range-sorted by
    // (lang, doc_id), every partition works, boundary offsets stitched).
    "q106_packing" -> ((s, d) => {
      graft.operators.PrefixScan.scanLongKeyed(
          t(s, d, "documents")
            .select(col("doc_id"), col("lang"),
              size(TextFunctions.tokens(col("text"))).cast("long")
                .as("n_tokens")),
          Seq("lang"),
          Seq(graft.operators.PrefixScan.KeyedScanCol(
            "cum", "n_tokens", "sum")),
          asc("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          ((col("cum") - col("n_tokens")) / 2048).cast("long").as("bin"),
          ((col("cum") - col("n_tokens")) % 2048).as("offset_in_bin"))
    }),


    // Dataset mixture sampling: per-source keep rates (out of 1000)
    // applied via the deterministic content hash — the oracle-checkable,
    // reshard-stable twin of the seeded sampleBy (q41). This is how a
    // training mix downweights a crawl source without a seed whose
    // output depends on partitioning.
    "q105_source_mix" -> ((s, d) => {
      val rate = when(col("source") === "src0", 100)
        .when(col("source") === "src1", 800)
        .when(col("source") === "src2", 500)
        .otherwise(300)
      t(s, d, "documents")
        .where(TextFunctions.hash60(col("text")) % 1000 < rate)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
    }),


    // End-to-end curation verdict per document: language gate, quality
    // gate, exact-dup canonicality — the composed filter a training-data
    // build applies before tokenization.
    "q104_curation" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = docs.select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang"),
        TextFunctions.qualityScore(col("text")).getField("keep").as("keep_quality"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      val canon = scored.groupBy("fp").agg(min("doc_id").as("canon_id"))
      scored.join(canon, "fp")
        .select(col("doc_id"), col("lang"), col("keep_quality"),
          (col("doc_id") === col("canon_id")).as("is_canonical"),
          (col("keep_quality") && col("lang") === "en" &&
            col("doc_id") === col("canon_id")).as("keep"))
    }),


    // k-skip bigrams (reference active-learning count_kskipngrams):
    // pairs (w_i, w_j) with i < j <= i+1+k, k=2; global top-30.
    "q77_kskip_bigrams" -> ((s, d) => {
      val w = TextFunctions.tokens(col("text"))
      t(s, d, "documents")
        // sequence(1, 0) DESCENDS in Spark while DuckDB range(1, 1) is
        // empty — exclude sub-2-token docs on both sides
        .where(size(w) >= 2)
        .select(explode(flatten(transform(sequence(lit(1), size(w) - 1),
          i => transform(sequence(i + 1, least(i + lit(3), size(w))),
            j => concat_ws(" ", element_at(w, i), element_at(w, j)))))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bg")).limit(30)
    }),


    // ntile decile stats over customer balances. The global ntile rides
    // the scalable range-sort rank (Ranking.globalRank) + the exact
    // ntile-from-rank formula (the q176 pattern) — a bare
    // `ntile(10) OVER (ORDER BY …)` funnels the whole table through one
    // window task (caught by PlanSpec's global-window sweep, round 9).
    "q78_ntile" -> ((s, d) => {
      val ranked = graft.operators.Ranking.globalRank(
        t(s, d, "customer").select("c_custkey", "c_acctbal"), "rnk",
        asc("c_acctbal"), asc("c_custkey"))
      val nDf = ranked.agg(count(lit(1)).as("n_total"))
      // exact ntile(10) from the 1-based rank: ranks 1..rem*(q+1) land
      // in buckets of size q+1 (q = n div 10, rem = n % 10), the rest
      // in buckets of size q (guarded for the n<10 edge)
      val ntileFromRank =
        """CASE WHEN rnk <= (n_total % 10) * (n_total div 10 + 1)
                THEN (rnk - 1) div (n_total div 10 + 1) + 1
                ELSE (n_total % 10) + 1 +
                     (rnk - 1 - (n_total % 10) * (n_total div 10 + 1))
                       div greatest(n_total div 10, 1)
           END"""
      ranked.crossJoin(broadcast(nDf))
        .withColumn("decile", expr(ntileFromRank))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), round(min("c_acctbal"), 2).as("lo"),
          round(max("c_acctbal"), 2).as("hi"))
        .select(col("decile").cast("long").as("decile"), col("n"),
          col("lo"), col("hi"))
    }),


    // Transitive SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — the
    // GROUP-level variant of q212's pairwise drop rule: q212 removes
    // the more-prototypical side of each duplicate PAIR independently,
    // which on a chain A~B~C (A≁C) can drop both A and B and keep only
    // C, or keep zero members of a cycle. Here duplicate pairs
    // (in-cluster cosine ≥ τ = 0.33, the synthetic corpus's top
    // in-cell decile) are closed into connected components and EXACTLY
    // ONE member per group survives — the one least similar to its
    // cluster centroid (the paper's keep-outliers pick, id tiebreak) —
    // the guarantee a curation contract actually wants. Fills the
    // long-standing q113 id gap. All comparisons are e6-floored
    // pinned-chain cosines, so keeper picks replay exactly
    // cross-engine. Scale shape: pairs live in corpus-scaled
    // (cell, bin) groups (withScaledBin — linear in n, vs q212's
    // fixed-k clusters), embeddings drop out at the cosine, components
    // ride the distributed min-label CC, and the keeper pick is one
    // keyed min(struct) aggregate — no global op anywhere.
    "q113_semdedup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.ivfCentroids(e)
      val withC = Similarity.withScaledBin(e, 200L)
        .persist() // both sides of the in-cell pair join + the cc join
      val rhs = withC.select(col("vec_id").as("nid"),
        col("embedding").as("nemb"), col("nrm").as("nn"), col("cell"),
        col("bin"))
      val dup = withC.join(rhs, Seq("cell", "bin"))
        .where(col("vec_id") < col("nid"))
        .withColumn("cos_e6", floor(Similarity.cosineWithNorms(
          Similarity.dot("embedding", "nemb"), col("nrm"), col("nn"))
          * 1e6).cast("long"))
        .where(col("cos_e6") >= 330000L)
        .select(col("cell"), col("bin"),
          col("vec_id").as("id1"), col("nid").as("id2"))
      // every vector has ONE (cell, bin), so components are bucket-
      // confined — the one-pass per-bucket union-find replaces iterative
      // CC (identical labels; the sf100 rung measured the edges×rounds
      // propagation at 304 s on this graph vs one shuffle here)
      val comp = Dedup.bucketedComponents(dup, Seq("cell", "bin"))
      val cc = withC.join(broadcast(cents.select(col("label").as("cell"),
          col("cvec"))), "cell")
        .withColumn("cc_e6", floor(Similarity.cosineWithNorms(
          Similarity.dot("embedding", "cvec"), col("nrm"),
          Similarity.norm2("cvec")) * 1e6).cast("long"))
        .select(col("vec_id"), col("cell"), col("cc_e6"))
      val members = comp
        .select(col("id").as("vec_id"), col("label").as("comp_id"))
        .join(cc, "vec_id")
      val keeper = members.groupBy("comp_id")
        .agg(min(struct(col("cc_e6"), col("vec_id"))).as("k"))
        .select(col("comp_id"), col("k.vec_id").as("keep_id"))
      members.join(keeper, "comp_id")
        .select(col("vec_id"), col("comp_id"), col("cell"), col("cc_e6"),
          (col("vec_id") === col("keep_id")).as("is_kept"))
    }),


    // Quality-filter disparity audit — the fairness check a curation
    // pipeline owes its corpus (quality classifiers are known to
    // disproportionately drop dialectal/low-resource text — the
    // Gururangan et al. 2022 finding): per language, the q53 keep-rule
    // pass rate, its ratio to the global pass rate, and the
    // four-fifths (80%) adverse-impact flag from employment-selection
    // practice. A language whose documents pass at under 0.8× the
    // corpus rate is being systematically filtered — the number to
    // surface BEFORE training, not discover after. Exact: rates are
    // integer e6 trunc-divs; the ratio is a trunc-div of trunc-divs
    // replayed identically in SQL. Scale shape: one scan + one keyed
    // groupBy + a 1-row totals broadcast.
    "q412_filter_disparity" -> ((s, d) => {
      val g = t(s, d, "documents")
        .withColumn("q", TextFunctions.qualityScore(col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("q.keep").cast("long")).as("n_keep"))
      val tot = g.agg(sum("n").as("nt"), sum("n_keep").as("kt"))
      g.crossJoin(broadcast(tot))
        .withColumn("keep_rate_e6", expr("n_keep * 1000000 div n"))
        .withColumn("global_rate_e6", expr("kt * 1000000 div nt"))
        .withColumn("parity_ratio_e6", expr(
          "keep_rate_e6 * 1000000 div greatest(global_rate_e6, 1L)"))
        .select(col("lang"), col("n"), col("n_keep"), col("keep_rate_e6"),
          col("global_rate_e6"), col("parity_ratio_e6"),
          (col("parity_ratio_e6") < 800000L).as("adverse_impact"))
    }),


    // deterministic hash sampling (scalable, engine-portable — unlike the
    // seeded Bernoulli sampler, this IS oracle-checkable).
    "q79_hash_sample" -> ((s, d) => {
      t(s, d, "documents")
        .where(TextFunctions.hash60(col("text")) % 10 === 0)
        .select("doc_id", "lang")
    }),


    // per-label embedding centroids, elementwise (posexplode -> mean per
    // (label, dim) — the aggregation shape of a k-means step).
    "q82_label_centroids" -> ((s, d) => {
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(floor(avg(col("v").cast("double")) * 1e6).cast("long").as("mean_e6"),
          count(lit(1)).as("n"))
        .select(col("label").cast("long").as("label"),
          col("dim").cast("long").as("dim"), col("mean_e6"), col("n"))
    }),


    // TF-IDF: top-50 (doc, term) scores over the corpus. ONE scan of
    // documents: the persisted term-count frame feeds all three consumers
    // (df agg, corpus size, final join); n_docs comes from a broadcast
    // 1-row aggregate instead of a second docs.count() scan (every doc_id
    // survives tokenization — split of "" is [""]). The harness clears the
    // cache after each query run (Verify/Bench clearCache), so the persist
    // does not leak across queries.
    "q83_tfidf" -> ((s, d) => {
      // Per-doc term counts are computed MAP-SIDE (a document is one
      // row): sort the token array, find run starts, emit one
      // (term, run-length) struct per distinct term — so the only rows
      // that ever shuffle are distinct (doc, term) pairs, never token
      // occurrences. The former explode → groupBy(doc, term) shape
      // shuffled every occurrence and was 17 of q83's 19 s at sf1
      // (measured); this cut is the whole 5.8x-ratio watch item. Cost
      // moved into the row: one O(n log n) array_sort per doc.
      val ws = array_sort(TextFunctions.tokens(col("text")))
      val terms = t(s, d, "documents")
        .select(col("doc_id"), ws.as("ws"))
        .withColumn("dl", size(col("ws")))
        .withColumn("starts", expr(
          "filter(sequence(1, size(ws)), i -> i = 1 OR " +
            "element_at(ws, i) != element_at(ws, i - 1))"))
        .select(col("doc_id"), col("dl"), explode(expr(
          """transform(starts, (st, j) -> struct(
               element_at(ws, st) as term,
               coalesce(try_element_at(starts, j + 2), size(ws) + 1) - st
                 as tc))""")).as("x"))
        .select(col("doc_id"), col("dl"), col("x.term").as("term"),
          col("x.tc").as("tc"))
        .persist()
      // `terms` is unique on (doc_id, term) by construction, so per-term
      // document frequency is a plain count — no distinct expansion.
      // n_docs comes from a map-only re-scan of `documents` instead of a
      // distinct shuffle over the term frame.
      val df = terms.groupBy("term").agg(count(lit(1)).as("df"))
      val nd = t(s, d, "documents")
        .where(size(TextFunctions.tokens(col("text"))) >= 1)
        .agg(count(lit(1)).cast("double").as("n_docs"))
      terms.join(df, "term")
        .crossJoin(broadcast(nd))
        .withColumn("tfidf",
          (col("tc").cast("double") / col("dl")) * log(col("n_docs") / col("df")))
        .select(col("doc_id"), col("term"),
          floor(col("tfidf") * 1e9).cast("long").as("tfidf_e9"))
        .orderBy(desc("tfidf_e9"), asc("doc_id"), asc("term"))
        .limit(50)
    }),


    // sliding-window chunking (LLM context prep): 32-token windows,
    // stride 16; fingerprint instead of echoing chunk text. The token
    // array is materialized BEFORE the generator (explode the chunk start
    // indices, slice after, as Dedup.bandKeysRows does): inlining
    // tokens(text) inside the per-chunk lambdas would re-run split/lower
    // per chunk — quadratic on book-length docs, since there is no
    // subexpression elimination across lambda boundaries.
    "q84_chunking" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
        .where(size(col("w")) >= 1)
        .select(col("doc_id"), col("w"),
          posexplode(sequence(lit(1), size(col("w")), lit(16)))
            .as(Seq("chunk_idx", "start")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("start").cast("long").as("start"),
          size(slice(col("w"), col("start"), lit(32))).cast("long").as("n_tokens"),
          md5(array_join(slice(col("w"), col("start"), lit(32)), " ")).as("chunk_fp"))
    }),


    // scrubbing pass (PII-shaped): mask digit runs and word@word tokens,
    // report whether anything changed + fingerprint of scrubbed text.
    "q85_scrub" -> ((s, d) => {
      val scrubbed = regexp_replace(
        regexp_replace(col("text"), "[0-9]+", "<NUM>"),
        "[a-zA-Z0-9.]+@[a-zA-Z0-9.]+", "<EMAIL>")
      t(s, d, "documents").select(col("doc_id"),
        (scrubbed =!= col("text")).as("changed"), md5(scrubbed).as("fp"))
    }),


    // Benchmark decontamination: flag training docs sharing word 3-grams
    // with an eval/benchmark set (here: the src0 slice). The benchmark
    // side is DISTINCT shingles broadcast to the candidate scan — eval
    // sets are tiny next to a training corpus, so the big side never
    // shuffles; overlap >= 10% of a doc's shingles marks contamination.
    // Shingle identity is the 62-bit polynomial gram hash (one md5 per
    // token, integer Horner chains — see gramHash62): no gram strings
    // are ever built or broadcast, the hashed-n-gram posture every
    // production decontaminator uses.
    "q107_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def sh(df: DataFrame) = tokenHashes(df, 3)
        .select(col("doc_id"),
          explode(array_distinct(TextFunctions.gramHashes(col("ht"), 3)))
            .as("sh"))
      val bench = sh(docs.where(col("source") === "src0"))
        .select("sh").distinct().withColumn("hit", lit(1L))
      sh(docs.where(col("source") =!= "src0"))
        .join(broadcast(bench), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
        .withColumn("contaminated", col("n_shared") * 10 >= col("n_shingles"))
    }),


    // Substring-duplicate span masking (the Lee et al. "Deduplicating
    // Training Data Makes Language Models Better" shape, approximated
    // with stride-8 48-char window hashes instead of a suffix array —
    // the distributed-friendly form): windows whose content hash repeats
    // anywhere in the corpus mark duplicated character spans, and
    // overlapping spans merge per doc into the masked intervals a
    // training pipeline would drop or loss-mask. Scale shape: one
    // generator explode (len/8 windows per doc), one hash groupBy, one
    // semi join back, and a PER-DOC window for the interval union
    // (gaps-and-islands by running max of span ends) — nothing global.
    "q190_dup_spans" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // persisted (the q197 pattern): the hashed-window stream feeds the
      // duplicate-hash groupBy AND the semi join back — unpersisted, the
      // explode + per-window md5 would run twice. Harness clearCache
      // releases it. (A block-hash variant — md5 per aligned 8-char
      // block + 62-bit polynomial per window — was measured SLOWER at
      // both SFs (sf1 7.0 → 9.5 s): materializing the per-doc block and
      // window arrays costs more than the md5 bytes it saves, the same
      // generator-vs-materialized lesson as the LSH signatures.)
      val wins = t(s, d, "documents")
        .where(length(col("text")) >= 48)
        .select(col("doc_id"),
          explode(expr("sequence(1, length(text) - 47, 8)")).as("pos"),
          col("text"))
        .select(col("doc_id"), col("pos"),
          TextFunctions.hash60(expr("substring(text, pos, 48)")).as("h"))
        .persist()
      val dup = wins.groupBy("h").agg(count(lit(1)).as("n"))
        .where(col("n") > 1).select("h")
      val spans = wins.join(dup, Seq("h"), "left_semi")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          (col("pos") + 47L).as("end"))
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      spans
        .withColumn("prev_max_end",
          max("end").over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("prev_max_end").isNull ||
            col("pos") > col("prev_max_end") + 1, 1L).otherwise(0L))
        .withColumn("island", sum("new_island").over(
          byDoc.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "island")
        .agg(min("pos").as("span_start"), max("end").as("span_end"),
          count(lit(1)).as("n_windows"))
        .select("doc_id", "span_start", "span_end", "n_windows")
    }),


    // Deterministic train/val/test split: the content hash, not rand(),
    // decides membership — reshard-stable, reproducible across retries,
    // and exactly replayable by the oracle. 80/10/10 by hash60 % 100.
    "q108_train_split" -> ((s, d) => {
      val h = TextFunctions.hash60(col("text")) % 100
      t(s, d, "documents")
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),


    // Inverted index (search-engine core): term -> document frequency +
    // fingerprint of the ordered posting list. Posting lists are built in
    // TWO levels — per (term, doc_id-shard) first, then shard summaries
    // combined per term — because a single-level collect_list puts a
    // celebrity term's ENTIRE posting list ("the" = every doc in the
    // corpus) into one aggregation row: unbounded state at 100 TB. Shard
    // state is bounded at ~1/nShards of the worst list (size nShards to
    // the corpus); the combine step sees nShards fixed-size fingerprints
    // per term. Terms in >= 5 docs only — the long tail is noise.
    "q110_inverted_index" -> ((s, d) => {
      val nShards = 16
      val sh = t(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TextFunctions.tokens(col("text")))).as("term"))
        .withColumn("shard", pmod(col("doc_id"), lit(nShards)))
        .groupBy("term", "shard")
        .agg(count(lit(1)).as("cnt"),
          md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), ",")).as("sfp"))
      sh.groupBy("term")
        .agg(sum("cnt").as("df"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("shard"), col("sfp")))),
            x => x.getField("sfp")), ",")).as("postings_fp"))
        .where(col("df") >= 5)
    }),


    // int8 embedding quantization: per-dimension global [min,max] -> 255
    // buckets, the storage-shrink step before ANN serving. The per-dim
    // stats frame is tiny (Dim rows) and broadcast; quantized vectors are
    // fingerprinted per row. Identical double arithmetic both engines:
    // floor((v - mn) * 255 / (mx - mn)).
    "q111_quantize" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val dims = e.select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
      val q = when(col("mx") === col("mn"), lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor((col("v").cast("double") - col("mn").cast("double")) * 255.0
            / (col("mx").cast("double") - col("mn").cast("double"))).cast("long"))))
      e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .join(broadcast(dims), "dim")
        .select(col("vec_id"), col("dim"), q.as("q"))
        .groupBy("vec_id")
        .agg(md5(array_join(transform(
            array_sort(collect_list(struct(col("dim"), col("q")))),
            x => x.getField("q").cast("string")), ",")).as("qfp"),
          sum("q").as("qsum"))
    }),


    // Deterministic k-per-group sampling: the "take N docs per language
    // for the training mix" op, keyed on the content hash so the sample
    // is reshard-stable and replayable. Runs through the custom
    // TopKPerKey physical operator (bounded per-key heaps, shuffle of
    // <= k rows per key per partition) instead of a full window sort —
    // the oracle replays it as row_number over the same total order.
    "q112_group_sample" -> ((s, d) => {
      graft.plans.TopKPerKey(
          t(s, d, "documents").select(col("doc_id"), col("lang"),
            TextFunctions.hash60(col("text")).as("h")),
          Seq("lang"), Seq(asc("h"), asc("doc_id")), 20)
        .select(col("lang"), col("doc_id"), col("h"))
    }),


    // Bigram conditional probabilities (count-based tiny-LM step):
    // P(w2|w1) in exact integer micro-units — c12 * 1e6 DIV c1, where c1
    // sums over the SAME bigram table so probabilities per w1 sum to ~1.
    // Two shuffles (bigram count, unigram-context count) + one join on
    // w1, all linear in corpus size.
    // Vocabulary drift curve — Jaccard of adjacent 100-doc ingestion
    // windows' vocabularies: the full-vocab drift series whose head-20
    // snapshot is q479, locating WHERE the corpus turns (a dip =
    // composition change at that ingestion point). Exact: distinct
    // (bucket, token) frame once, adjacent-bucket overlap via one
    // token-keyed self-join. One scan + keyed joins.
    "q542_vocab_drift_curve" -> ((s, d) => {
      val bt = t(s, d, "documents")
        .select(expr("doc_id div 100").as("bkt"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .distinct()
        .persist() // sizes + the adjacent join read it
      val sizes = bt.groupBy("bkt").agg(count(lit(1)).as("v"))
      val inter = bt.select(col("bkt"), col("tok"))
        .join(bt.select((col("bkt") - 1L).as("bkt"), col("tok")),
          Seq("bkt", "tok"))
        .groupBy("bkt").agg(count(lit(1)).as("inter"))
      sizes.select(col("bkt"), col("v").as("v1"))
        .join(sizes.select((col("bkt") - 1L).as("bkt"), col("v").as("v2")),
          "bkt")
        .join(inter, "bkt")
        .select(col("bkt"), col("v1"), col("v2"), col("inter"),
          expr("inter * 1000000 div (v1 + v2 - inter)").as("jaccard_e6"))
    }),

    // Effect sizes for the language-ID confusion (q478): Cramér's V
    // (how strong is the label↔prediction association) and multi-class
    // Cohen's κ (chance-corrected accuracy over all 5 classes) — the
    // two numbers that summarize the whole confusion matrix, where
    // q478 reports cells. Exact: χ² folds bounded cells in sorted
    // order (q148 rule), κ is integer until one trunc-div; V one
    // pinned sqrt chain.
    "q519_confusion_effect" -> ((s, d) => {
      val cells = t(s, d, "documents")
        .select(col("lang"), TextFunctions.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("nxy"))
        .persist() // margins + the fold read it
      val rows = cells.groupBy("lang").agg(sum("nxy").as("nr"))
      val cols = cells.groupBy("pred").agg(sum("nxy").as("ncl"))
      val nn = cells.agg(sum("nxy").as("n"),
        sum(when(col("lang") === col("pred"), col("nxy")).otherwise(0L))
          .as("agree"))
      // Pe uses the DIAGONAL marginal products Σ_k nr_k·ncl_k; χ² uses
      // the Σ o²/e − N identity so zero cells (contribution 0) need no
      // densify
      val diag = rows.join(cols, col("lang") === col("pred"))
        .agg(coalesce(sum(col("nr") * col("ncl")), lit(0L)).as("sum_rc"))
      val j = cells.join(rows, "lang").join(broadcast(cols), "pred")
        .crossJoin(broadcast(nn))
      val chi = j.agg(countDistinct("lang").as("r"),
          countDistinct("pred").as("cdim"),
          max("n").as("n"), max("agree").as("agree"),
          array_sort(collect_list(struct(col("lang"), col("pred"),
            col("nxy"), col("nr"), col("ncl"), col("n")))).as("ps"))
        .withColumn("chi2", aggregate(transform(col("ps"),
          x => x.getField("nxy").cast("double") *
            x.getField("nxy").cast("double") *
            x.getField("n").cast("double") /
            (x.getField("nr").cast("double") *
              x.getField("ncl").cast("double"))),
          lit(0.0d), (acc, x) => acc + x) - col("n").cast("double"))
      chi.crossJoin(broadcast(diag))
        .select(col("n"), col("agree"),
          floor(sqrt(col("chi2") / (col("n").cast("double") *
            (least(col("r"), col("cdim")).cast("double") - 1.0d))) * 1e6)
            .cast("long").as("cramers_v_e6"),
          expr("""CASE WHEN n * n > sum_rc
            THEN (agree * n - sum_rc) * 1000000 div (n * n - sum_rc)
            ELSE 0 END""").as("kappa_e6"))
    }),

    // word2vec negative-sampling distribution (Mikolov et al. 2013's
    // unigram^0.75) — the smoothed sampling table every embedding
    // trainer builds: the ¾ power flattens the head and lifts the
    // tail. Computable WITHOUT pow(): c^{3/4} = sqrt(c·sqrt(c)), two
    // IEEE-exact sqrts. Reports the head-20 tokens' raw vs smoothed
    // shares (per-term-floored e6 weights, integer share divisions) —
    // the measured size of the head-flattening. One token scan.
    "q517_ns_distribution" -> ((s, d) => {
      val tc = t(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .withColumn("w_e6", floor(sqrt(col("c").cast("double") *
          sqrt(col("c").cast("double"))) * 1e6).cast("long"))
        .persist() // totals + the head read it
      val tot = tc.agg(sum("c").as("tc"), sum("w_e6").as("tw"))
      tc.orderBy(col("c").desc, col("tok").asc).limit(20)
        .crossJoin(broadcast(tot))
        .select(col("tok"), col("c"),
          expr("c * 1000000 div tc").as("raw_share_e6"),
          expr("w_e6 * 1000000 div tw").as("ns_share_e6"))
    }),

    // 60-bit hash collision audit (the birthday check behind every
    // hash60 fingerprint in this engine): measured colliding token
    // pairs (distinct tokens minus distinct hashes) against the
    // birthday expectation n(n−1)/2^61 — the evidence that 60 bits
    // suffice at this vocabulary (and the formula that says when they
    // stop). Exact integer counts; expectation one pinned chain
    // reported at e9 resolution. One scan + two distinct aggregates.
    "q518_hash_collision_audit" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .distinct()
        .persist() // both distinct counts read it
      toks.agg(count(lit(1)).as("n_types"),
          countDistinct(TextFunctions.hash60(col("tok"))).as("n_hashes"))
        .select(col("n_types"), col("n_hashes"),
          (col("n_types") - col("n_hashes")).as("collisions"),
          floor(col("n_types").cast("double") *
            (col("n_types").cast("double") - 1.0d) /
            lit(2305843009213693952.0d) * 1e9).cast("long")
            .as("expected_e9"))
    }),

    // Term-burstiness adaptation table (Church & Gale 1995): for the
    // 20 heaviest terms, P(tf ≥ 2 | tf ≥ 1) — once a term appears in
    // a document it tends to REPEAT, which every bag-of-words
    // independence assumption (q127's unigram LM, q126's BM25 priors)
    // silently violates; this is the measured size of that violation,
    // with mean in-document rate alongside. Exact integers. Scale:
    // one token scan, two keyed groupBys, a bounded head.
    "q491_term_burstiness" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text")))
          .as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      tf.groupBy("tok")
        .agg(count(lit(1)).as("df"),
          sum(when(col("tf") >= 2L, 1L).otherwise(0L)).as("df2"),
          sum("tf").as("ctf"))
        .orderBy(col("ctf").desc, col("tok").asc).limit(20)
        .select(col("tok"), col("df"), col("df2"), col("ctf"),
          expr("df2 * 1000000 div df").as("p_repeat_e6"),
          expr("ctf * 1000000 div df").as("tf_per_doc_e6"))
    }),

    // Unique-span memorization-risk share — the PRIVACY tail of the
    // span-frequency spectrum (q190's dup_spans measures the other
    // end): what share of each source's 8-token spans occurs exactly
    // once in the whole corpus? Globally-unique spans are the verbatim-
    // memorizable surface a dedup pass cannot protect — the number a
    // memorization audit (Carlini-style) budgets canaries against.
    // Exact: 60-bit span hashes, one global count, one keyed tag join.
    // Scale: one shingle scan + hash-keyed groupBy/join.
    "q482_unique_span_share" -> ((s, d) => {
      val spans = t(s, d, "documents")
        .where(size(TextFunctions.tokens(col("text"))) >= 8)
        .select(col("source"),
          explode(Dedup.shingles(col("text"), 8)).as("sp"))
        .select(col("source"), TextFunctions.hash60(col("sp")).as("h"))
        .persist() // the global-count and per-source aggregates read it
      // r14 reshape: a globally-unique span has exactly ONE occurrence,
      // so its source is recoverable from the hash aggregate itself
      // (min(source) over one row) — no join-back of the count frame to
      // the occurrence stream. One h-keyed aggregate + two bounded
      // source-keyed aggregates replace groupBy + join + groupBy; the
      // per-source tag rows never re-cross the wire. Output unchanged.
      val uniq = spans.groupBy("h")
        .agg(count(lit(1)).as("c"), min("source").as("source"))
        .where(col("c") === 1L)
        .groupBy("source").agg(count(lit(1)).as("n_unique"))
      spans.groupBy("source").agg(count(lit(1)).as("n_spans"))
        .join(uniq, Seq("source"), "left")
        .select(col("source"), col("n_spans"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"))
        .withColumn("unique_share_e6",
          expr("n_unique * 1000000 div n_spans"))
    }),

    // ExactSubstr span-EXCISION dedup (Lee et al. 2022 arXiv:2107.06499,
    // the removal pass q190/q482 only measure): every duplicated 8-token
    // span is cut from all occurrences except its canonical (min
    // (doc_id, pos)) one, and each doc is reassembled from the surviving
    // tokens in order — the pass that strips verbatim boilerplate
    // EMBEDDED in otherwise-unique documents, which doc-level dedup
    // (q55/q76) cannot see. fp pins the reassembled text byte-exactly.
    // Reports only TOUCHED docs (n_excised > 0) — the excision audit a
    // curation run reads; the filter also keeps the bench honest (an
    // unfiltered left join with unique right keys is count()-eliminable,
    // which made the bench time the parquet scan alone).
    // Scale: two-phase partial aggregate on the 120-bit span hash
    // (a hot boilerplate span crosses the wire as one row per map task)
    // + shuffled-hash join-back that STREAMS the skewed occurrence side
    // + bounded k× explode + (doc,pos) anti-join — no window, no
    // collect; skew-safe on the boilerplate-heavy corpora ExactSubstr
    // exists for. The occurrence stream is persisted (the exciseKept
    // storage convention, released by the harness clearCache) so the
    // tokenize+shingle+md5 pass runs once, not once per branch — at
    // corpus scale a caller picks DISK_ONLY or stays stateless (None).
    "q547_substr_excise" -> ((s, d) => {
      Dedup.exciseDupSpans(t(s, d, "documents"), "doc_id", "text", 8,
          Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        .where(col("n_excised") > 0)
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          col("n_excised"), md5(col("text_kept")).as("fp"))
    }),

    // The COMPOSED curation chain a reference user actually runs, end to
    // end: quality gate + language tag -> exact dedup keep-one -> MinHash
    // LSH + connected components keep-one -> benchmark decontamination
    // (src0 slice as the eval set, q107 convention) -> deterministic
    // content-hash split -> ExactSubstr span excision over the KEPT
    // survivors only (Lee et al. ordering — `CurationPipeline.curate`
    // then `exciseKept`). Population doc_id < 300 so the oracle's
    // recursive transitive closure over the LSH pair graph stays
    // tractable (the q76 convention); every stage is replayed in one
    // DuckDB chain. fp pins each survivor's post-excision text
    // byte-exactly; inner join on the operator's own key, so the bench
    // count cannot shortcut the chain.
    "q548_curation_excise" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs
        .where(col("doc_id") < 300 && col("source") =!= "src0")
        .select("doc_id", "text")
      val evalSet = docs.where(col("source") === "src0").select("text")
      CurationPipeline
        .exciseKept(CurationPipeline.curate(corpus, "doc_id", "text",
          evalSet), "doc_id", "text", 8)
        .select(col("doc_id"), col("lang"), col("split"), col("n_tokens"),
          col("n_kept_tokens"), col("n_excised"),
          md5(col("text_excised")).as("fp"))
    }),

    // Language-ID confusion matrix — q52's stopword classifier judged
    // against the labeled lang column: the per-cell confusion table
    // plus each TRUE language's row share, the eval a routing pipeline
    // reads before trusting predicted language for filtering (zh has
    // no stopword list, so its row lands on 'und' — the audit makes
    // that visible instead of silent). Exact integers; one scan + a
    // bounded-cell aggregate.
    "q478_langid_confusion" -> ((s, d) => {
      val f = t(s, d, "documents").select(col("lang"),
        TextFunctions.langId(col("text")).as("pred_lang"))
      val cells = f.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val rows = cells.groupBy("lang").agg(sum("n").as("n_row"))
      cells.join(rows, "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("n * 1000000 div n_row").as("row_share_e6"))
    }),

    // Top-k vocabulary churn — do the corpus halves share a head? The
    // drift smoke-test a streaming ingest runs cheaply before heavier
    // q288/q391 distribution tests: top-20 tokens per half (doc_id
    // split at the midpoint), overlap and Jaccard of the two head
    // sets. Exact: integer counts, TopKPerKey per half (map-side
    // heaps), tie-broken by token. Scale: one token scan + two
    // bounded head sets.
    "q479_topk_churn" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mx = docs.agg(max("doc_id").as("mx"))
      val tc = docs.crossJoin(broadcast(mx))
        .select(when(col("doc_id") * 2 <= col("mx"), "h1").otherwise("h2")
          .as("half"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("half", "tok").agg(count(lit(1)).as("c"))
      val top = graft.plans.TopKPerKey(tc, Seq("half"),
        Seq(col("c").desc, col("tok").asc), 20)
      val h1 = top.where(col("half") === "h1").select(col("tok"))
      val h2 = top.where(col("half") === "h2").select(col("tok"))
      h1.join(h2, Seq("tok")).agg(count(lit(1)).as("overlap"))
        .select(col("overlap"),
          expr("overlap * 1000000 div (40 - overlap)").as("jaccard_e6"))
    }),

    // Batch padding-waste audit — the measured case for length-bucketed
    // batching: pack documents into fixed batches of 32 under (a)
    // length-sorted order and (b) hash-shuffled order, and price the
    // padding each strategy wastes (Σ batch_size·max_len − Σ len, the
    // tokens a fixed-shape training step pads). THE dataloader knob for
    // a 100 TB text pipeline, usually asserted — here exact. Batching
    // rides the two-phase globalRank (no global window); everything
    // else is integer sums. Scale: two rank passes + keyed batch
    // aggregates.
    "q468_padding_waste" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("len"))
        .withColumn("hv", TextFunctions.hash60(concat(lit("pad:"),
          col("doc_id").cast("string"))))
      def strat(name: String, sortCols: Seq[Column]): DataFrame =
        graft.operators.Ranking.globalRank(docs, "r", sortCols: _*)
          .withColumn("batch", expr("(r - 1) div 32"))
          .groupBy("batch")
          .agg(count(lit(1)).as("nb"), max("len").as("mx"),
            sum("len").as("sl"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("nb") * col("mx")).as("slots"),
            sum("sl").as("total_tokens"))
          .select(lit(name).as("strategy"), col("n_batches"),
            col("total_tokens"), (col("slots") - col("total_tokens"))
              .as("padded_slots"),
            expr("(slots - total_tokens) * 1000000 div slots")
              .as("waste_e6"))
      strat("sorted", Seq(col("len").asc, col("doc_id").asc))
        .unionByName(strat("shuffled", Seq(col("hv").asc, col("doc_id").asc)))
    }),

    // BM25 parameter-stability grid — how much does the top-10 CHANGE
    // across (k1, b) settings? The tuning question that matters before
    // anyone sweats defaults: if the head of the ranking is stable,
    // parameter tuning is cosmetic; if not, q126's (1.2, 0.75) needs
    // justification. Query = the corpus's three most frequent tokens
    // (deterministic argmax); per-term BM25 contributions are pinned
    // double chains floored to e6 BEFORE the per-doc sum (per-term
    // floor rule — integer doc scores, exact ranking); top-10 per
    // setting via TopKPerKey; output = pairwise top-10 overlap matrix.
    // Scale: one tf scan, bounded term set, param grid ×4.
    "q466_bm25_stability" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .persist() // query-term pick + doc lengths + the join read it
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("sdl"))
      val topTerms = tf.groupBy("tok").agg(sum("tf").as("ct"), count(lit(1)).as("df"))
        .orderBy(col("ct").desc, col("tok").asc).limit(3)
        .select(col("tok"), col("df"))
      val params = t(s, d, "documents").sparkSession.range(1)
        .select(explode(expr(
          """array(named_struct('param', 'k12_b075', 'k1', 1.2d, 'b', 0.75d),
                   named_struct('param', 'k09_b040', 'k1', 0.9d, 'b', 0.40d),
                   named_struct('param', 'k20_b075', 'k1', 2.0d, 'b', 0.75d),
                   named_struct('param', 'k12_b000', 'k1', 1.2d, 'b', 0.0d))"""))
          .as("p"))
        .select(col("p.param").as("param"), col("p.k1").as("k1"), col("p.b").as("b"))
      val scored = tf.join(broadcast(topTerms), "tok")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .crossJoin(broadcast(params))
        .withColumn("contrib_e6", floor(
          log((col("n").cast("double") - col("df").cast("double") + 0.5d) /
            (col("df").cast("double") + 0.5d) + lit(1.0d)) *
          (col("tf").cast("double") * (col("k1") + 1.0d)) /
          (col("tf").cast("double") + col("k1") * (lit(1.0d) - col("b") +
            col("b") * col("dl").cast("double") /
              (col("sdl").cast("double") / col("n").cast("double")))) *
          1e6).cast("long"))
        .groupBy("param", "doc_id").agg(sum("contrib_e6").as("score_e6"))
      val top = graft.plans.TopKPerKey(scored, Seq("param"),
        Seq(col("score_e6").desc, col("doc_id").asc), 10)
      top.select(col("param").as("p1"), col("doc_id"))
        .join(top.select(col("param").as("p2"), col("doc_id")), "doc_id")
        .where(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("overlap"))
    }),

    // Dunning log-likelihood-ratio collocations (Dunning 1993) — the
    // significance-based collocation score robust where q262's PPMI
    // over-rewards rare pairs: per bigram the 2×2 contingency
    // (k11 = c(w1w2), margins from the bigram totals) scored by
    // G² = 2·Σ k_ij·ln(k_ij·N/(R_i·C_j)). The four terms are ONE
    // generated expression (llrSql) shared verbatim by engine and
    // oracle — fixed 4-term parenthesized chain, each ln on the same
    // double inputs, no fold needed. k11 ≥ 5 support cut. Scale: one
    // shingle scan, two margin aggregates, broadcast total — the
    // vocab²-bounded frame carries everything after (the q114 rule).
    "q443_llr_collocations" -> ((s, d) => {
      val bg = t(s, d, "documents")
        .where(size(TextFunctions.tokens(col("text"))) >= 2)
        .select(explode(Dedup.shingles(col("text"), 2)).as("bgs"))
        .groupBy("bgs").agg(count(lit(1)).as("k11"))
        .select(expr("substring_index(bgs, ' ', 1)").as("w1"),
          expr("substring(bgs, instr(bgs, ' ') + 1)").as("w2"), col("k11"))
        .persist() // margins + the scored join read it
      val rr = bg.groupBy("w1").agg(sum("k11").as("r"))
      val cc = bg.groupBy("w2").agg(sum("k11").as("c"))
      val nn = bg.agg(sum("k11").as("n"))
      bg.where(col("k11") >= 5)
        .join(rr, "w1").join(cc, "w2").crossJoin(broadcast(nn))
        .withColumn("k12", col("r") - col("k11"))
        .withColumn("k21", col("c") - col("k11"))
        .withColumn("k22", col("n") - col("r") - col("c") + col("k11"))
        .select(col("w1"), col("w2"), col("k11"), col("r"), col("c"),
          expr(llrSql).as("llr_e6"))
    }),

    "q114_bigram_lm" -> ((s, d) => {
      // the q258 string-path lesson: one concat per occurrence, the
      // (w1, w2) split AFTER the aggregate on the vocab²-bounded frame
      val bg = t(s, d, "documents")
        .where(size(TextFunctions.tokens(col("text"))) >= 2)
        .select(explode(Dedup.shingles(col("text"), 2)).as("bgs"))
        .groupBy("bgs").agg(count(lit(1)).as("c12"))
        .select(expr("substring_index(bgs, ' ', 1)").as("w1"),
          expr("substring(bgs, instr(bgs, ' ') + 1)").as("w2"), col("c12"))
      val ctx = bg.groupBy("w1").agg(sum("c12").as("c1"))
      bg.join(ctx, "w1")
        .where(col("c12") >= 3)
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          expr("c12 * 1000000 DIV c1").as("p_e6"))
    }),


    // Flesch reading-ease per document — the readability gate quality
    // pipelines run next to the Gopher rules (q196). Heuristic counts:
    // words = whitespace tokens, sentences = '.' characters (min 1),
    // syllables = vowel groups. The score 206.835 − 1.015·W/S − 84.6·Y/W
    // is ONE exact rational over the common denominator S·W in e3 fixed
    // point: num = 206835·S·W − 1015·W² − 84600·Y·S — integer end to
    // end, no float anywhere. Map-only: scales embarrassingly.
    "q261_readability" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_words"),
          greatest(length(col("text")) -
            length(regexp_replace(col("text"), "\\.", "")), lit(1))
            .cast("long").as("n_sents"),
          regexp_count(lower(col("text")), lit("[aeiou]+")).cast("long")
            .as("n_syll"))
        .withColumn("fre_e3", expr(
          """(206835 * n_sents * n_words - 1015 * n_words * n_words
              - 84600 * n_syll * n_sents) div (n_sents * n_words)"""))
    }),


    // Skip-gram co-occurrence PPMI (the word2vec/GloVe counting step):
    // directed center→context pairs within a +2 token window, and the
    // pointwise-mutual-information RATIO p(x,y)/(p(x)p(y)) =
    // c_xy·N_pairs/(row_x·col_y) as an exact integer in e6 fixed point —
    // the log is monotone, so ranking and thresholding on the ratio is
    // ranking on PMI without the libm tail. One generator pass emits
    // both window offsets; marginals are two key shuffles over the
    // (small) distinct-pair frame; the 1-row total broadcasts. Top-100
    // by ratio bounds the output (support floor c >= 5 first).
    "q262_ppmi" -> ((s, d) => {
      // pair strings, not per-occurrence structs (the q258 lesson — 1.9×
      // at both scales): one concat per occurrence, split into (x, y)
      // AFTER the aggregate on the vocabulary²-bounded frame
      val pairs = t(s, d, "documents")
        .select(TextFunctions.tokens(col("text")).as("w"))
        .where(size(col("w")) >= 2)
        .select(explode(expr(
          """concat(
               transform(sequence(1, size(w) - 1),
                 i -> concat(element_at(w, i), ' ', element_at(w, i + 1))),
               if(size(w) >= 3,
                 transform(sequence(1, size(w) - 2),
                   i -> concat(element_at(w, i), ' ', element_at(w, i + 2))),
                 cast(array() as array<string>)))""")).as("ps"))
        .groupBy("ps").agg(count(lit(1)).as("c"))
        .select(expr("substring_index(ps, ' ', 1)").as("x"),
          expr("substring(ps, instr(ps, ' ') + 1)").as("y"), col("c"))
        .persist() // feeds both marginals, the total, and the ratio join
      val rowm = pairs.groupBy("x").agg(sum("c").as("row_c"))
      val colm = pairs.groupBy("y").agg(sum("c").as("col_c"))
      val tot = pairs.agg(sum("c").as("np"))
      pairs.where(col("c") >= 5)
        .join(rowm, "x").join(colm, "y").crossJoin(broadcast(tot))
        .select(col("x"), col("y"), col("c"), col("row_c"), col("col_c"),
          expr("c * np * 1000000 div (row_c * col_c)").as("ratio_e6"))
        .orderBy(desc("ratio_e6"), asc("x"), asc("y"))
        .limit(100)
    }),


    // Interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995, the
    // smoothing under every n-gram LM used for perplexity filtering) with
    // discount D = 3/4 — chosen so EVERY probability is an exact rational:
    // P(w2|w1) = max(c12−D,0)/c1 + D·N₊(w1,·)/c1 · N₊(·,w2)/T over common
    // denominator 4·c1·T gives p_num = max(4c12−3,0)·T + 3·nf·nc and
    // p_den = 4·c1·T, both BIGINT (bound: 4·corpus_bigrams·types ≪ 2^63
    // here; at web scale emit num/den and divide downstream). One bigram
    // aggregate persisted feeds all four marginals — context totals,
    // follower fan-out, continuation fan-in, and the 1-row type count
    // broadcast. Linear in corpus size, keyed shuffles only.
    "q258_kneser_ney" -> ((s, d) => {
      // bigrams ride the single-string shingle path (one array_join per
      // occurrence, no per-occurrence struct), and split back into
      // (w1, w2) only AFTER the aggregate — on the vocabulary²-bounded
      // frame, not the occurrence stream. Tokens are space-split, so
      // "w1 w2" ↔ (w1, w2) is a bijection and the grouping is identical.
      val bg = t(s, d, "documents")
        .where(size(TextFunctions.tokens(col("text"))) >= 2)
        .select(explode(Dedup.shingles(col("text"), 2)).as("bgs"))
        .groupBy("bgs").agg(count(lit(1)).as("c12"))
        .select(expr("substring_index(bgs, ' ', 1)").as("w1"),
          expr("substring(bgs, instr(bgs, ' ') + 1)").as("w2"), col("c12"))
        .persist()
      val ctx = bg.groupBy("w1").agg(sum("c12").as("c1"),
        count(lit(1)).as("nf"))
      val cont = bg.groupBy("w2").agg(count(lit(1)).as("nc"))
      val tot = bg.agg(count(lit(1)).as("tt"))
      bg.join(ctx, "w1").join(cont, "w2").crossJoin(broadcast(tot))
        .where(col("c12") >= 3)
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          col("nf"), col("nc"),
          (greatest(lit(4L) * col("c12") - 3L, lit(0L)) * col("tt") +
            lit(3L) * col("nf") * col("nc")).as("p_num"),
          (lit(4L) * col("c1") * col("tt")).as("p_den"))
        .withColumn("p_e6", expr("p_num * 1000000 div p_den"))
    }),


    // Misra-Gries heavy hitters via the custom TypedImperativeAggregate:
    // fixed-k state per partial, k-row exchanges — the mergeable-sketch
    // alternative to a domain-sized exact groupBy at 100 TB. Estimates
    // depend on Spark's (nondeterministic) merge order, so the output
    // asserts the sketch's GUARANTEES, which hold under any merge tree:
    // every true heavy hitter (c*k > n) is present, and its estimate is
    // within [c - n/(k+1), c]. The oracle expects both booleans TRUE
    // (q99's error-band pattern); exact counts anchor the hash.
    "q115_heavy_hitters" -> ((s, d) => {
      val kCap = 50
      val terms = t(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      val exact = terms.groupBy("term").agg(count(lit(1)).as("c"))
      val tot = exact.agg(sum("c").as("n"))
      val sketch = terms
        .agg(org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.HeavyHittersAgg(
            org.apache.spark.sql.GraftSqlBridge.expression(col("term")), kCap)
            .toAggregateExpression()).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.term").as("term"), col("e.est").as("est"))
      exact.crossJoin(broadcast(tot))
        .where(col("c") * kCap > col("n"))
        .join(broadcast(sketch), Seq("term"), "left")
        .select(col("term"), col("c"),
          col("est").isNotNull.as("in_sketch"),
          (col("est").isNotNull && col("est") <= col("c") &&
            col("est") >= col("c") - floor(col("n") / (kCap + 1)))
            .as("est_in_band"))
    }),


    // Heavy-hitter PHRASES per source — the q115 Misra-Gries guarantee
    // check under GROUPING: one sketch per source via the custom
    // TypedImperativeAggregate's partial-merge path inside a hash
    // aggregate (the shape that matters at 100 TB: sketches combine
    // map-side per group, no exact per-phrase shuffle needed for the
    // report). Verified the q115 way — every phrase above the n/k
    // guarantee threshold must appear in its source's sketch with the
    // estimate inside the MG error band.
    "q209_heavy_phrases_by_source" -> ((s, d) => {
      val kCap = 30
      // phrase identity is gramHash62 (one md5 per token): the exact
      // counts, totals, and MG sketch all run over BIGINTs — phrase
      // STRINGS are never shuffled or persisted. The heavy survivors
      // (≤ kCap per source by the n/k guarantee) recover their text by
      // re-probe: pick the min-(doc_id, pos) occurrence per heavy hash,
      // broadcast those few rows back against the documents scan, and
      // slice the two tokens out — the standard way production
      // heavy-hitter reports materialize display strings at scale.
      val grams = tokenHashes(t(s, d, "documents"), 2)
        .select(col("doc_id"), col("source"),
          posexplode(TextFunctions.gramHashes(col("ht"), 2)).as(Seq("i0", "g")))
        .select(col("doc_id"), col("source"), (col("i0") + 1).as("i"),
          col("g"))
        .persist() // exact counts + sketch + heavy re-probe read it
      val exact = grams.groupBy("source", "g").agg(count(lit(1)).as("c"))
      val tot = exact.groupBy("source").agg(sum("c").as("n"))
      val sketch = grams.groupBy("source")
        .agg(org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.HeavyHittersAgg(
            org.apache.spark.sql.GraftSqlBridge.expression(
              col("g").cast("string")), kCap)
            .toAggregateExpression()).as("hh"))
        .select(col("source"), explode(col("hh")).as("e"))
        .select(col("source"), col("e.term").cast("long").as("g"),
          col("e.est").as("est"))
      val heavy = exact.join(tot, "source")
        .where(col("c") * kCap > col("n")).persist() // ≤ kCap per source
      val reps = grams
        .join(broadcast(heavy.select("source", "g")), Seq("source", "g"))
        .groupBy("source", "g")
        .agg(min(struct(col("doc_id"), col("i"))).as("r"))
        .select(col("source"), col("g"), col("r.doc_id").as("doc_id"),
          col("r.i").as("i"))
      val withP = t(s, d, "documents").select(col("doc_id"), col("text"))
        .join(broadcast(reps), "doc_id")
        .select(col("source"), col("g"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), col("i"),
            lit(2))).as("p"))
      heavy.join(withP, Seq("source", "g"))
        .join(sketch, Seq("source", "g"), "left")
        .select(col("source"), col("p"), col("c"),
          col("est").isNotNull.as("in_sketch"),
          (col("est").isNotNull && col("est") <= col("c") &&
            col("est") >= col("c") - floor(col("n") / (kCap + 1)))
            .as("est_in_band"))
    }),


    // Token-distribution entropy per document (information-theoretic
    // quality signal: near-zero = degenerate repetition, high = diverse
    // text). Float summation order is pinned on BOTH engines by folding
    // the per-term contributions in sorted-term order with an explicit
    // left fold — entropy contributions are not associativity-safe.
    "q116_entropy" -> ((s, d) => {
      val tc = t(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n"),
          transform(array_sort(collect_list(struct(col("term"), col("c")))),
            x => x.getField("c")).as("cs"))
      tc.select(col("doc_id"), col("n"),
        floor(aggregate(col("cs"), lit(0.0d),
          (acc, c) => acc - (c.cast("double") / col("n")) *
            log(c.cast("double") / col("n"))) * 1e6).cast("long").as("entropy_e6"))
    }),


    // Recall@10 of both ANN scale paths against exact brute force, per
    // query and method — the evaluation that decides which bucketing
    // scheme's recall/cost trade-off earns the full-corpus run. Measured
    // honestly on this data: sign-pattern LSH at 8 planes ~0-5% recall
    // (256 buckets over 2k vectors; true neighbors rarely share an exact
    // sign pattern), IVF at 2 probes ~50% — IVF is the preferred path.
    // Exact integer recall (hits * 1e6 DIV k).
    "q117_ann_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val ids = Seq(100L, 200L)
      val bf = Similarity.bruteForceTopK(e, e.where(col("vec_id").isin(ids: _*)), 10)
        .select(col("query_id"), col("neighbor_id"))
      def recallOf(method: String, ann: DataFrame): DataFrame =
        bf.join(ann.select(col("query_id"), col("neighbor_id"))
            .withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(lit(method).as("method"), col("query_id"), col("k"),
            col("n_hit"), expr("n_hit * 1000000 DIV k").as("recall_e6"))
      recallOf("lsh8", Similarity.lshTopK(e, ids, 10, 8))
        .unionAll(recallOf("ivf2", Similarity.ivfTopK(e, ids, 10, 2)))
    }),


    // Triangle count over the LSH candidate-pair graph — the clustering
    // signal that distinguishes a tight duplicate clique from a chain of
    // borderline matches. Edges are kept in canonical (id1 < id2) order,
    // so the two-join wedge-close counts each triangle exactly once and
    // every join key is a node id (shuffle fan-in bounded by node degree,
    // the standard distributed-triangle shape).
    "q121_triangles" -> ((s, d) => {
      val e = Dedup.lshCandidatePairs(
        t(s, d, "documents").where(col("doc_id") < 300), "doc_id", "text")
      val e1 = e.select(col("id1").as("a"), col("id2").as("b"))
      val e2 = e.select(col("id1").as("b"), col("id2").as("c"))
      val e3 = e.select(col("id1").as("a"), col("id2").as("c"))
        .withColumn("closed", lit(1L))
      e1.join(e2, "b")
        .join(e3, Seq("a", "c"), "left")
        .agg(count(lit(1)).as("n_wedges"),
          sum(coalesce(col("closed"), lit(0L))).as("n_triangles"))
    }),


    // Link prediction over the same LSH pair graph: for every
    // NON-adjacent pair sharing >= 1 neighbor, the common-neighbor count
    // and the Resource-Allocation index (Zhou, Lü, Zhang 2009) in exact
    // fixed point — ra_e6 = sum over shared z of (1e6 div deg(z)). The
    // per-term integer floor keeps the sum associative and engine-exact
    // (Adamic-Adar's 1/ln(deg) would put a libm knife-edge in every
    // term). Wedge enumeration keys every join on a node id (fan-in
    // bounded by degree, the q121 shape); known edges are removed by one
    // anti-join on the canonical pair; bounded top-50 output.
    "q256_link_prediction" -> ((s, d) => {
      val pairs = Dedup.lshCandidatePairs(
        t(s, d, "documents").where(col("doc_id") < 300), "doc_id", "text")
        .persist() // feeds wedge sides AND the anti-join
      val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val zu = edges.select(col("src").as("z"), col("dst").as("u"))
      val zw = edges.select(col("src").as("z"), col("dst").as("w"))
      val cand = zu.join(zw, "z").where(col("u") < col("w"))
        .join(deg.withColumnRenamed("src", "z"), "z")
        .groupBy("u", "w")
        .agg(count(lit(1)).as("cn"), sum(expr("1000000 div deg")).as("ra_e6"))
      cand.join(pairs,
          cand("u") === pairs("id1") && cand("w") === pairs("id2"), "left_anti")
        .orderBy(desc("cn"), desc("ra_e6"), asc("u"), asc("w"))
        .limit(50)
        .select(col("u").as("id1"), col("w").as("id2"), col("cn"), col("ra_e6"))
    }),


    // near-dup pairs *within LSH buckets* — the linear-scale form of q63:
    // candidates come from the sign-pattern bucket, not an all-pairs join.
    "q86_bucketed_neardup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      // norms once per row, not per pair — k vs k^2 chain evaluations in a
      // bucket of k, and the pair stage stays inside whole-stage codegen
      // (three inlined 64-term chains fell back to interpreted mode).
      val withB = e.join(Similarity.withBucket(e, 8), "vec_id")
        .withColumn("nrm", Similarity.norm2("embedding"))
      val a = withB.select(col("vec_id").as("id1"), col("embedding").as("e1"),
        col("nrm").as("n1"), col("bucket"))
      val b = withB.select(col("vec_id").as("id2"), col("embedding").as("e2"),
        col("nrm").as("n2"), col("bucket"))
      a.join(b, Seq("bucket"))
        .where(col("id1") < col("id2"))
        .withColumn("cos",
          Similarity.cosineWithNorms(Similarity.dot("e1", "e2"), col("n1"), col("n2")))
        .where(col("cos") > 0.18)
        .select(col("id1"), col("id2"), floor(col("cos") * 1e6).cast("long").as("cos_e6"))
    }),


    // Incremental EMBEDDING-space dedup — q259's cadence in vector
    // space: a new batch (vec_id >= 400) probes the standing corpus's
    // (vec_id < 400) sign-pattern LSH buckets and flags semantic
    // near-dups by max cosine against co-bucketed corpus vectors. For
    // NEAR-IDENTICAL vectors (the dedup regime, cos ≫ the q117 ANN
    // regime) sign patterns agree with high probability, so the bucket
    // probe is the right cheap filter here even though q117 measured it
    // useless for top-k recall. Asymmetric: the corpus side contributes
    // only its (vec_id, bucket, embedding) index rows; no corpus
    // self-join.
    "q266_incremental_semdedup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val withB = e.join(Similarity.withBucket(e, 8), "vec_id")
        .withColumn("nrm", Similarity.norm2("embedding"))
      val corpus = withB.where(col("vec_id") < 400)
        .select(col("vec_id").as("old_id"), col("embedding").as("eo"),
          col("nrm").as("no"), col("bucket"))
      val batch = withB.where(col("vec_id") >= 400)
        .select(col("vec_id").as("new_id"), col("embedding").as("en"),
          col("nrm").as("nn"), col("bucket"))
      val hits = batch.join(corpus, Seq("bucket"))
        .withColumn("cos", Similarity.cosineWithNorms(
          Similarity.dot("en", "eo"), col("nn"), col("no")))
        .groupBy("new_id").agg(count(lit(1)).as("n_candidates"),
          floor(max(col("cos")) * 1e6).cast("long").as("max_cos_e6"))
      e.where(col("vec_id") >= 400).select(col("vec_id").as("new_id"))
        .join(hits, Seq("new_id"), "left")
        .select(col("new_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("max_cos_e6"),
          coalesce(col("max_cos_e6") >= 180000L, lit(false)).as("is_dup"))
    }),


    // BM25 retrieval scoring for a fixed two-term query ("spark fast"),
    // k1=1.2, b=0.75 — the lexical-retrieval baseline every RAG corpus
    // pipeline needs next to the ANN path. Per-doc term frequencies come
    // off the token array in ONE scan (no explode/re-group); corpus stats
    // (N, avgdl, per-term df) are a 1-row broadcast. Floats are pinned by
    // writing the formula with IDENTICAL operation order in both engines
    // and flooring to micro-units; the global top-k is a bounded
    // TakeOrderedAndProject, ties broken on doc_id.
    "q126_bm25" -> ((s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val base = t(s, d, "documents").select(col("doc_id"),
        size(toks).cast("long").as("dl"),
        size(filter(toks, x => x === "spark")).cast("long").as("tf1"),
        size(filter(toks, x => x === "fast")).cast("long").as("tf2"))
      val stats = base.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"),
        count(when(col("tf1") > 0, 1)).as("df1"),
        count(when(col("tf2") > 0, 1)).as("df2"))
      def term(tf: String, df: String): Column =
        log((col("n_docs") - col(df) + 0.5) / (col(df) + 0.5) + 1.0) *
          (col(tf) * 2.2) /
          (col(tf) + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))
      base.crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sum_dl") / col("n_docs"))
        .where(col("tf1") > 0 || col("tf2") > 0)
        .withColumn("score", term("tf1", "df1") + term("tf2", "df2"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("tf1"), col("tf2"), col("dl"),
          floor(col("score") * 1e6).cast("long").as("score_e6"))
    }),


    // n-gram novelty of the held-out slice (src0) against the training
    // remainder — the memorization/novelty readout LLM evals run on
    // generated text (a high share of seen n-grams = copying). Per n in
    // {2, 3}: the fraction of src0's DISTINCT n-grams that never occur
    // in the rest of the corpus, as exact integer counts and one e6
    // division. Scale shape: the train side contributes only its
    // distinct-shingle set (the q107/q200 broadcast posture); the test
    // side is the small slice.
    "q272_ngram_novelty" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // hashed gram identity (gramHash62): the anti-join probes 62-bit
      // BIGINTs instead of gram strings — same q107 posture
      def grams(df: DataFrame, n: Int) = tokenHashes(df, n)
        .select(explode(array_distinct(TextFunctions.gramHashes(col("ht"), n)))
          .as("g"))
      def novelty(n: Int): DataFrame = {
        // test is distinct'd (its cardinality IS the denominator) and
        // persisted (anti-join probe + count both read it); train stays
        // RAW — LEFT ANTI semantics ignore right-side duplicates, so a
        // distinct there would only add a full extra shuffle of the big
        // side for nothing
        val test = grams(docs.where(col("source") === "src0"), n)
          .distinct().persist()
        val train = grams(docs.where(col("source") =!= "src0"), n)
        test.join(train, Seq("g"), "left_anti").agg(count(lit(1)).as("n_novel"))
          .crossJoin(broadcast(test.agg(count(lit(1)).as("n_test"))))
          .select(lit(n.toLong).as("n"), col("n_test"), col("n_novel"),
            expr("(n_novel * 1000000) div n_test").as("novelty_e6"))
      }
      novelty(2).unionAll(novelty(3))
    }),


    // Dirichlet-smoothed query likelihood (Zhai & Lafferty 2001), μ=2000
    // — the language-modeling retrieval scorer next to q126's BM25: same
    // fixed two-term query, same one-scan per-doc tf extraction and
    // 1-row corpus-stats broadcast; score = Σ_t ln((tf + μ·cf_t/|C|) /
    // (dl + μ)) written with identical op order in both engines (the
    // q127 libm precedent), bounded top-50.
    "q271_dirichlet_ql" -> ((s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val base = t(s, d, "documents").select(col("doc_id"),
        size(toks).cast("long").as("dl"),
        size(filter(toks, x => x === "spark")).cast("long").as("tf1"),
        size(filter(toks, x => x === "fast")).cast("long").as("tf2"))
      val stats = base.agg(sum("dl").as("c"),
        sum("tf1").as("cf1"), sum("tf2").as("cf2"))
      def term(tf: String, cf: String): Column =
        log((col(tf) + lit(2000.0) * col(cf) / col("c")) /
          (col("dl") + lit(2000.0)))
      base.crossJoin(broadcast(stats))
        .where(col("tf1") > 0 || col("tf2") > 0)
        .withColumn("score", term("tf1", "cf1") + term("tf2", "cf2"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("tf1"), col("tf2"), col("dl"),
          floor(col("score") * 1e6).cast("long").as("score_e6"))
    }),


    // Per-document mean negative log-likelihood under the corpus unigram
    // model — the perplexity-style quality score that ranks documents by
    // how "surprising" their tokens are. The NLL fold is order-pinned by
    // token POSITION (q116's entropy lesson: group sums of doubles are
    // merge-order-dependent; folds over a sorted list are not). Join of
    // token positions with unigram counts is linear; per-doc state is the
    // doc's own token list, bounded by document length.
    "q127_perplexity" -> ((s, d) => docNll(s, d)),


    // CCNet-style perplexity partition: rank every document by its
    // unigram-LM avg NLL (q127's per-doc score) and split the corpus into
    // head / middle / tail THIRDS by rank share — the published CCNet
    // quality partition, where "head" (lowest perplexity) feeds
    // pretraining first. Rank-share thresholds instead of score
    // quantiles: integer-exact cross-engine (no interpolated percentile
    // semantics to match) and the ranking runs through the scalable
    // zipWithIndex path, not a single-partition window.
    "q198_ccnet_buckets" -> ((s, d) => {
      // persist the per-doc NLL: it feeds the rank chain AND the corpus
      // count (which deliberately reads nll, not ranked — counting must
      // not replay the sort+zipWithIndex). Harness clearCache releases it.
      val nll = docNll(s, d).select("doc_id", "avg_nll_e6").persist()
      val ranked = graft.operators.Ranking.globalRank(
        nll, "rnk", asc("avg_nll_e6"), asc("doc_id"))
      val tot = nll.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("bucket", when(col("rnk") * 3 <= col("n"), "head")
          .when(col("rnk") * 3 <= col("n") * 2, "middle").otherwise("tail"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(avg_nll_e6) div count(1)").as("mean_nll_e6"),
          min("avg_nll_e6").as("min_nll_e6"),
          max("avg_nll_e6").as("max_nll_e6"))
    }),


    // Incremental append dedup — the production cadence where a NEW batch
    // arrives against an existing fingerprint STORE (here: doc_id < 250 is
    // the store, the rest is the batch): each batch doc is flagged as a
    // duplicate of the store, an intra-batch duplicate (not the batch's
    // first holder of its fingerprint), and gets the composed keep
    // verdict. Scale shape: the store side is a distinct-fingerprint
    // equi-join (the Bloom pre-filter of q109 is the 100-TB variant when
    // the store dwarfs the batch); intra-batch firsts are one key shuffle
    // over the batch only. Nothing rescans the store's documents — only
    // its fingerprint index.
    "q199_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val fp = TextFunctions.fingerprint(col("text"))
      val store = docs.where(col("doc_id") < 250)
        .select(fp.as("fp")).distinct().withColumn("in_store", lit(true))
      val batch = docs.where(col("doc_id") >= 250)
        .select(col("doc_id"), fp.as("fp"))
      val firsts = batch.groupBy("fp").agg(min("doc_id").as("first_id"))
      batch.join(store, Seq("fp"), "left")
        .join(firsts, "fp")
        .select(col("doc_id"),
          coalesce(col("in_store"), lit(false)).as("dup_of_store"),
          (col("doc_id") =!= col("first_id")).as("dup_in_batch"))
        .withColumn("keep", !col("dup_of_store") && !col("dup_in_batch"))
    }),


    // Incremental NEAR-dup — q199's cadence for fuzzy duplicates: a new
    // batch (doc_id >= 400) probes the LSH band-key INDEX of the standing
    // corpus (doc_id < 400). Strictly asymmetric: the corpus never
    // self-joins and its documents are never re-read — only its
    // (band, key) index rows, which a production deployment keeps
    // bucketed by key so the probe is a co-located join. Per batch doc:
    // how many corpus docs share a band bucket, the smallest such id
    // (the canonical "duplicate of"), and the verdict. Intra-batch
    // near-dups are q59/q86's symmetric path, deliberately not rerun
    // here.
    "q259_incremental_neardup" -> ((s, d) => {
      val p = Dedup.MinHashParams()
      val docs = t(s, d, "documents")
      val corpus = Dedup.bandKeysRows(
          docs.where(col("doc_id") < 400), "doc_id", "text", p)
        .select(col("doc").as("old_id"), col("band"), col("key"))
      val batch = Dedup.bandKeysRows(
          docs.where(col("doc_id") >= 400), "doc_id", "text", p)
        .select(col("doc").as("new_id"), col("band"), col("key"))
      val hits = batch.join(corpus, Seq("band", "key"))
        .select("new_id", "old_id").distinct()
        .groupBy("new_id").agg(count(lit(1)).as("n_matches"),
          min("old_id").as("first_match"))
      docs.where(col("doc_id") >= 400).select(col("doc_id").as("new_id"))
        .join(hits, Seq("new_id"), "left")
        .select(col("new_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("first_match"),
          col("first_match").isNotNull.as("is_dup"))
    }),


    // Multi-benchmark contamination report — q107 generalized to SEVERAL
    // eval sets at once (src0 and src1 stand in for two benchmarks): per
    // (training source, benchmark), how many docs cross the 10% shared-
    // shingle threshold and the contamination rate in micro-units. The
    // report a corpus release publishes per benchmark. Scale shape:
    // benchmark shingles ride ONE tagged broadcast (eval sets are tiny
    // next to the corpus), the corpus explodes once, and everything
    // reduces by (doc, bench) then (source, bench) key shuffles.
    "q200_contamination_report" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // hashed shingle identity (gramHash62) — same posture as q107
      def sh(df: DataFrame) = tokenHashes(df, 3)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(TextFunctions.gramHashes(col("ht"), 3)))
            .as("sh"))
      val benches = sh(docs.where(col("source").isin("src0", "src1")))
        .select(col("source").as("bench"), col("sh")).distinct()
      // persisted: the exploded training-shingle stream feeds the per-doc
      // totals AND the benchmark-hit join (harness clearCache releases it)
      val train = sh(docs.where(!col("source").isin("src0", "src1"))).persist()
      val docTotals = train.groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_shingles"))
      val perSource = docTotals.groupBy("source").agg(count(lit(1)).as("n_docs"))
      train.join(broadcast(benches), "sh")
        .groupBy("doc_id", "bench").agg(count(lit(1)).as("n_shared"))
        .join(docTotals, "doc_id")
        .where(col("n_shared") * 10 >= col("n_shingles"))
        .groupBy("source", "bench").agg(count(lit(1)).as("n_contaminated"))
        .join(perSource, "source")
        .select(col("source"), col("bench"), col("n_docs"), col("n_contaminated"),
          expr("(n_contaminated * 1000000) div n_docs").as("rate_e6"))
    }),


    // Integer PageRank (3 fixed iterations, damping 0.85) over the LSH
    // candidate-pair graph — relative centrality inside duplicate
    // clusters. Ranks live in exact micro-units with DIV-truncated
    // contributions, so every value is merge-order-independent and
    // bit-identical across engines: the float-free way to oracle-check an
    // iterative graph algorithm. Each iteration is one join + one key
    // shuffle; the symmetric edge list has no dangling nodes.
    "q132_pagerank" -> ((s, d) => {
      val pairs = Dedup.lshCandidatePairs(
        t(s, d, "documents").where(col("doc_id") < 300), "doc_id", "text")
      // persist the symmetric edge list itself, not just the ed join:
      // edges feeds FOUR consumers (both join sides of ed, deg, ranks
      // seed) and each union branch replays the MinHash pipeline —
      // unpersisted, the LSH subtree ran ~4x per execution
      val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
        .persist()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      // reused by all three iterations (harness clearCache releases it)
      val ed = edges.join(deg, "src").persist()
      var ranks = deg.select(col("src").as("id"), lit(1000000L).as("r"))
      val rounds = 3
      for (rnd <- 1 to rounds) {
        val next = ed.join(ranks, ed("src") === ranks("id"))
          .select(col("dst"), expr("r div d").as("contrib"))
          .groupBy("dst").agg(sum("contrib").as("in_r"))
          .select(col("dst").as("id"),
            expr("150000 + (85 * in_r) div 100").as("r"))
        // generation cut (the q185 lesson): without it each iteration
        // re-plans the whole accumulated lineage and the LSH pair
        // subtree dominates planning, not execution. The LAST round is
        // consumed exactly once (the final select) — an eager cut there
        // is a whole extra materialization pass (the q324 rule).
        ranks = if (rnd < rounds) next.localCheckpoint(true) else next
      }
      ranks.select(col("id").as("doc_id"), col("r").as("rank_e6"))
    }),


    // Two full Lloyd iterations of k-means in EXACT integer arithmetic:
    // vectors and centroids live in micro-units (floor(v*1e6)), centroid
    // update is a TRUNC-divided per-dim mean — Spark `div` and DuckDB `//`
    // both truncate toward zero on integer operands (verified empirically
    // on negative sums; this engine's DuckDB does NOT floor `//` for
    // integers), and assignment is argmin of integer squared distance with
    // a centroid-id tie-break — every intermediate is merge-order-proof,
    // which is what makes an ITERATIVE ML loop oracle-checkable at all
    // (q132's PageRank trick applied to clustering; q82/q98 pioneered the
    // µ-unit centroids). Scale shape per iteration: one explode-aggregate
    // for centroids (k×64 rows, broadcast back) and one argmin over a
    // k-way crossJoin — linear in vectors, no pairwise anything.
    "q145_kmeans" -> ((s, d) => {
      val (cur, cents) = Similarity.lloyd(t(s, d, "embeddings"), 2)
      cur.groupBy("c").agg(count(lit(1)).as("n_assigned"))
        .join(cents.select(col("c"),
          md5(array_join(transform(col("ce"), _.cast("string")), ","))
            .as("cfp")), Seq("c"))
    }),


    // IVF ANN with a k-means-TRAINED codebook + 4-probe — the designated
    // recall path the q117 readout motivates (label-mean ivf2 measured
    // 30–70% recall@10): 2 exact Lloyd rounds (q145 machinery) fit the
    // codebook to the data's clusters, queries probe their 4 nearest
    // cells by integer L2, candidates rank by float cosine. Same recall
    // readout shape as q117 so the artifacts compare directly.
    "q251_ann_ivf_kmeans" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val ids = Seq(100L, 200L)
      val ann = Similarity.ivfKmeansTopK(e, ids, 10, 4)
      val bf = Similarity.bruteForceTopK(e, e.where(col("vec_id").isin(ids: _*)), 10)
        .select(col("query_id"), col("neighbor_id"))
      bf.join(ann.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit("ivfkm4").as("method"), col("query_id"), col("k"),
          col("n_hit"), expr("n_hit * 1000000 DIV k").as("recall_e6"))
    }),


    // Product-quantization ANN (q251's compression-side complement): 4
    // blocks × 16-centroid codebooks trained by one exact integer Lloyd
    // round, corpus ranked by INTEGER asymmetric distance (per-query
    // 64-entry lookup table broadcast, codes joined, 4 adds per vector)
    // — and each ADC hit checked against the exact integer-L2 top-10.
    // Bit-exact end to end: the entire index build and search replay in
    // the oracle, not just the readout.
    "q263_product_quantization" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val ids = Seq(100L, 200L)
      val pq = Similarity.pqTopK(e, ids, 10)
      val ve = e.select(col("vec_id"), expr(
        """transform(embedding,
             v -> cast(floor(cast(v as double) * 1000000.0) as bigint))""")
        .as("ve"))
      val q = ve.where(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("ve").as("qve"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
      val bf = ve.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("dist", expr(
          """aggregate(zip_with(ve, qve, (a, b2) -> (a - b2) * (a - b2)),
             cast(0 as bigint), (acc, x) -> acc + x)"""))
        .withColumn("rn", row_number().over(wb)).where(col("rn") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          lit(1L).as("hit"))
      pq.join(bf, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("rnk"),
          col("adc_dist"), col("hit").isNotNull.as("exact_hit"))
    }),


    // Edit-distance similarity self-join (Ed-Join prefix filtering): all
    // customer-name pairs within edit distance 1 via rarity-ordered
    // positional q-gram candidates + exact levenshtein verify — the
    // string-similarity complement of MinHash (token sets) and cosine
    // (embeddings). The oracle is the ALL-PAIRS form, so a single missed
    // candidate reddens the row: the prefix filter's completeness is
    // what's being checked, not just the verifier.
    "q136_fuzzy_join" -> ((s, d) => {
      // persisted even though consumed once: measured 26.7s unpersisted
      // vs ~3.6s persisted at sf0.1 (same factor as q273 before/after,
      // and q163's persisted path) — the materialization point stops
      // whatever re-execution the un-persisted Ed-Join subtree suffers
      // under AQE. Harness clearCache releases it.
      graft.operators.FuzzyJoin.selfJoin(
        t(s, d, "customer"), "c_custkey", "c_name", k = 1)
        .select(col("id1"), col("id2"), col("ed")).persist()
    }),


    // Count-Min frequency estimation for the corpus term counts: d×w
    // counters built in ONE distributed pass, merged additively (so the
    // estimate is merge-order-independent, unlike Misra-Gries q115 — no
    // nondeterminism to band away). The oracle checks the sketch's hard
    // guarantees against exact counts on the heavy terms: never
    // undercounts; overcounts by at most eps·N. Keys are hash60 longs —
    // a collision only inflates an estimate, never breaks the lower
    // bound.
    "q133_cms_heavy" -> ((s, d) => {
      val eps = 0.001
      val kCap = 50
      val terms = t(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .withColumn("h", TextFunctions.hash60(col("term")))
      val bytes = graft.operators.CountMin.sketchBytes(terms, "h", eps, 0.99, 42)
      val exact = terms.groupBy("term", "h").agg(count(lit(1)).as("c"))
      val tot = exact.agg(sum("c").as("n"))
      exact.crossJoin(broadcast(tot))
        .where(col("c") * kCap > col("n"))
        .withColumn("est", graft.operators.CountMin.estimate(bytes)(col("h")))
        .select(col("term"), col("c"),
          (col("est") >= col("c")).as("no_underestimate"),
          (col("est") <= col("c") + lit(eps) * col("n")).as("within_eps"))
    }),


    // Deterministic weighted k-per-group sample: priority = hash60(text)
    // DIV n_chars, smallest-k kept — longer documents draw smaller
    // priorities in expectation, approximating weight-proportional
    // sampling while staying exactly replayable (the A-ES u^(1/w) float
    // key replaced by an integer surrogate). Runs through the bounded-
    // heap TopKPerKey operator, not a full window sort (q112's shape,
    // with weights).
    "q134_weighted_sample" -> ((s, d) => {
      graft.plans.TopKPerKey(
          t(s, d, "documents").where(col("n_chars") > 0)
            .select(col("doc_id"), col("lang"),
              call_function("div", TextFunctions.hash60(col("text")), col("n_chars"))
                .as("pri")),
          Seq("lang"), Seq(asc("pri"), asc("doc_id")), 10)
        .select(col("lang"), col("doc_id"), col("pri"))
    }),


    // Duplicate-cluster size distribution: the corpus-health histogram a
    // dedup run is judged by (a fat tail of giant clusters means the LSH
    // params or the corpus need attention). Components come from the
    // distributed min-label propagation; two grouped counts after it.
    "q179_dup_cluster_sizes" -> ((s, d) => {
      val pairs = Dedup.lshCandidatePairs(
        t(s, d, "documents").where(col("doc_id") < 300), "doc_id", "text")
      Dedup.connectedComponents(pairs)
        .groupBy("label").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }),


    // k-core graph peeling (3 rounds, k=3) over the LSH pair graph: each
    // round drops nodes below degree 3 and their edges — the community-
    // core extraction that separates dense duplicate clusters from
    // incidental pair noise. Fixed round count keeps it oracle-replayable
    // (the q132 rule for iterative graph ops); each round is one degree
    // aggregation and two semi-joins, all keyed shuffles.
    "q171_kcore" -> ((s, d) => {
      val pairs = Dedup.lshCandidatePairs(
        t(s, d, "documents").where(col("doc_id") < 300), "doc_id", "text")
      // persisted (the q132/q163 pattern): the LSH pair generation would
      // otherwise replay per peeling round. Caller contract: queries that
      // persist rely on the harness's spark.catalog.clearCache() after
      // materialization (Verify/Bench both do); ad-hoc callers embedding
      // these plans should clearCache or unpersist themselves.
      var edges = pairs.select(col("id1").as("a"), col("id2").as("b")).persist()
      for (_ <- 1 to 3) {
        val deg = edges.select(col("a").as("id"))
          .unionAll(edges.select(col("b").as("id")))
          .groupBy("id").agg(count(lit(1)).as("deg"))
        val keep = deg.where(col("deg") >= 3).select("id")
        edges = edges
          .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
          // generation cut (q132/q185 lesson): each round's edge list
          // feeds four consumers next round (two union branches for the
          // degree count and two semi-join probes)
          .localCheckpoint(true)
      }
      edges.select(col("a").as("id"))
        .unionAll(edges.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    }),


    // Confusion matrix + precision/recall/F1 at a fixed score threshold —
    // pure integer counts and integer micro-divisions, the classification
    // eval triplet next to AUC (ranking) and calibration (probabilities).
    // F1 from counts: f1 = 2*tp*1e6 div (2*tp + fp + fn).
    "q166_confusion" -> ((s, d) => {
      val scored = t(s, d, "embeddings").select(
        (element_at(col("embedding"), 1) > 0).as("pred"),
        (col("label") % 2 === 1).as("pos"))
      scored.agg(
          sum(when(col("pred") && col("pos"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred") && !col("pos"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("pred") && col("pos"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("pred") && !col("pos"), 1L).otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("CASE WHEN tp + fp = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE (tp * 1000000) div (tp + fp) END").as("precision_e6"),
          expr("CASE WHEN tp + fn = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE (tp * 1000000) div (tp + fn) END").as("recall_e6"),
          expr("CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE (2 * tp * 1000000) div (2 * tp + fp + fn) END").as("f1_e6"))
    }),


    // Feature hashing (the hashing trick): tokens land in a fixed
    // 1024-dim space by content hash, per-doc counts become the sparse
    // training vector — no vocabulary pass, no driver state, reshard-
    // stable. Output limited to one doc slice for the oracle.
    "q167_feature_hash" -> ((s, d) => {
      t(s, d, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tk"))
        .select(col("doc_id"),
          (TextFunctions.hash60(col("tk")) % 1024).as("dim"))
        .groupBy("doc_id", "dim").agg(count(lit(1)).as("v"))
    }),


    // Temperature softmax over per-type mean scores, exact across
    // engines: each exp term is floored to an integer e9 unit FIRST, the
    // distribution is then ratios of integers (q168 rule: when a float
    // sum's order can't be pinned cheaply, make the terms integers and
    // the sum exact). The max mean is subtracted before exp — the
    // standard softmax stabilization — which here also BOUNDS every term
    // at 1e9 and z at n_types*1e9, so no magnitude of input means can
    // overflow the e9/e6 integer arithmetic (Spark would wrap silently
    // where DuckDB throws). exp-ulp parity between JVM and libm is the
    // same empirical assumption the ln-based oracles make (q116/q127).
    "q168_softmax" -> ((s, d) => {
      val means = t(s, d, "events")
        .select(col("event_type"), floor(col("value") * 100).cast("long").as("v"))
        .groupBy("event_type")
        .agg(expr("sum(v) div count(*)").as("mean_e2"))
      val mx = means.agg(max("mean_e2").as("max_e2"))
      val eterm = floor(exp(
        (col("mean_e2") - col("max_e2")).cast("double") / 10000.0) * 1e9)
        .cast("long")
      val terms = means.crossJoin(broadcast(mx))
        .select(col("event_type"), eterm.as("e_e9"))
      val tot = terms.agg(sum("e_e9").as("z"))
      terms.crossJoin(broadcast(tot))
        .select(col("event_type"),
          expr("(e_e9 * 1000000) div z").as("p_e6"))
    }),


    // L2 vector normalization (embedding prep): v / ||v|| in e6 integer
    // units per dimension, fingerprinted so the oracle compares one hash
    // per vector instead of 64 columns. sqrt is IEEE-exact, so the only
    // pinning needed is the norm's sum order — the established explicit
    // chain on both sides.
    "q169_l2_normalize" -> ((s, d) => {
      val e = t(s, d, "embeddings").where(col("vec_id") < 500)
        // norm2 is the SQUARED norm (dot(v,v)); the unit scale needs sqrt
        .withColumn("nrm", sqrt(Similarity.norm2("embedding")))
      e.select(col("vec_id"),
        when(col("nrm") > 0.0, md5(array_join(
          transform(col("embedding"),
            x => floor(x.cast("double") / col("nrm") * 1e6).cast("long")
              .cast("string")), ",")))
          .as("unit_fp"))
    }),


    // Record-linkage best match: the fuzzy-join candidate pairs resolved
    // to each record's single best counterpart (lowest edit distance,
    // id tiebreak) — blocking + scoring + 1:1 resolution, the full
    // linkage pipeline shape. Symmetric closure of the (id1 < id2) pair
    // stream, then one partitioned window; no re-scoring.
    "q163_best_match" -> ((s, d) => {
      // persisted (the q132 pattern): both union branches read the pair
      // stream, and exchange reuse shares shuffles but NOT the post-
      // shuffle levenshtein verification — unpersisted, that stage would
      // run twice. Harness clearCache releases it.
      val pairs = graft.operators.FuzzyJoin.selfJoin(
        t(s, d, "customer"), "c_custkey", "c_name", k = 1).persist()
      val sym = pairs.select(col("id1").as("src"), col("id2").as("dst"), col("ed"))
        .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst"), col("ed")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(asc("ed"), asc("dst"))
      sym.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("src"), col("dst").as("best_match"), col("ed"))
    }),


    // Classifier calibration table (reliability diagram data): positives
    // fraction per fixed-width score bucket — all integer counts and one
    // integer division, so the oracle is exact. The companion to AUC
    // (q155): AUC says the ranking is right, calibration says the
    // probabilities are.
    "q164_calibration" -> ((s, d) => {
      t(s, d, "embeddings")
        .select(
          // true floor division: `floor(x*1e6) div 1e5` would truncate
          // toward zero, making bucket 0 span (-0.1, 0.1) — double-width,
          // mixing negative and positive scores in one reliability cell
          expr("floor(CAST(embedding[0] AS DOUBLE) * 10)")
            .cast("long").as("bucket"),
          (col("label") % 2 === 1).as("pos"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("frac_e6", expr("(n_pos * 1000000) div n"))
    }),


    // Isotonic (PAV) calibration — the monotone fit sklearn's
    // IsotonicRegression applies on top of q164's raw reliability table.
    // The pool-adjacent-violators solution is computed CLOSED-FORM via
    // the minimax characterization fit_i = max_{j<=i} min_{k>=i}
    // mean(y[j..k]), entirely in integer FRACTION arithmetic: prefix
    // sums make every candidate mean an exact (num, den) pair and every
    // comparison a cross-multiplication — zero floats, so the whole fit
    // replays bit-exactly. O(B³) over B score buckets is trivial because
    // B is bounded by the bucketing (~20), NOT by row count — the
    // distributed work is only the per-bucket aggregation; the collect
    // is the bounded bucket table (the q91 bounded-form rule).
    "q264_isotonic_calibration" -> ((s, d) => {
      val cells = t(s, d, "embeddings")
        .select(expr("floor(CAST(embedding[0] AS DOUBLE) * 10)")
          .cast("long").as("bucket"), (col("label") % 2 === 1).as("pos"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("npos"))
      val wcum = org.apache.spark.sql.expressions.Window
        .orderBy("bucket").rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val withCum = cells
        .withColumn("cp", sum("npos").over(wcum))
        .withColumn("cc", sum("n").over(wcum))
      withCum
        .agg(array_sort(collect_list(struct(col("bucket"), col("n"),
          col("npos"), col("cp"), col("cc")))).as("arr"))
        .select(explode(expr(
          """transform(sequence(1, size(arr)), i -> named_struct(
               'bucket', element_at(arr, i).bucket,
               'n', element_at(arr, i).n,
               'npos', element_at(arr, i).npos,
               'fit', aggregate(
                 transform(sequence(1, i), j -> aggregate(
                   transform(sequence(i, size(arr)), k -> named_struct(
                     'fn', element_at(arr, k).cp - (case when j = 1
                       then cast(0 as bigint)
                       else element_at(arr, j - 1).cp end),
                     'fd', element_at(arr, k).cc - (case when j = 1
                       then cast(0 as bigint)
                       else element_at(arr, j - 1).cc end))),
                   named_struct('fn', cast(2 as bigint), 'fd', cast(1 as bigint)),
                   (mn, f) -> case when f.fn * mn.fd < mn.fn * f.fd
                     then f else mn end)),
                 named_struct('fn', cast(-1 as bigint), 'fd', cast(1 as bigint)),
                 (best, mf) -> case when mf.fn * best.fd > best.fn * mf.fd
                   then mf else best end)))""")).as("r"))
        .select(col("r.bucket").as("bucket"), col("r.n").as("n"),
          col("r.npos").as("npos"), col("r.fit.fn").as("fit_num"),
          col("r.fit.fd").as("fit_den"))
        .withColumn("fit_e6", expr("fit_num * 1000000 div fit_den"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q251_ann_ivf_kmeans" -> annIvfKmeansOracle,

    "q263_product_quantization" -> pqOracle,

    "q179_dup_cluster_sizes" ->
      s"""WITH RECURSIVE $minhashCtes,
         $componentCtes,
         sizes AS (
           SELECT rep_id, count(*) AS cluster_size FROM rep GROUP BY 1)
         SELECT cluster_size, count(*) AS n_clusters
         FROM sizes GROUP BY 1""",

    "q171_kcore" -> {
      // MATERIALIZED is load-bearing: each round references the previous
      // edge set 3x (two degree-union branches + the next prune), so an
      // inlining planner recomputes the whole minhash subtree ~3^i times —
      // measured OOM-at-8GB inlined vs 0.8 s / <4GB materialized.
      def round(i: Int): String =
        s"""d$i AS MATERIALIZED (
             SELECT id, count(*) AS deg FROM (
               SELECT a AS id FROM e${i - 1} UNION ALL SELECT b AS id FROM e${i - 1})
             GROUP BY 1),
           k$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg >= 3),
           e$i AS MATERIALIZED (
             SELECT a, b FROM e${i - 1}
             WHERE a IN (SELECT id FROM k$i) AND b IN (SELECT id FROM k$i))"""
      s"""WITH $minhashCtes,
         e0 AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         ${round(1)},
         ${round(2)},
         ${round(3)}
         SELECT id, count(*) AS deg FROM (
           SELECT a AS id FROM e3 UNION ALL SELECT b AS id FROM e3)
         GROUP BY 1"""
    },

    "q166_confusion" ->
      """WITH s AS (
           SELECT (embedding[1] > 0) AS pred, (label % 2 = 1) AS pos
           FROM embeddings),
         agg AS (
           SELECT
             CAST(sum(CASE WHEN pred AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN pred AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN NOT pred AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN NOT pred AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
           FROM s)
         SELECT tp, fp, fn, tn,
           CASE WHEN tp + fp = 0 THEN CAST(NULL AS BIGINT)
             ELSE (tp * 1000000) // (tp + fp) END AS precision_e6,
           CASE WHEN tp + fn = 0 THEN CAST(NULL AS BIGINT)
             ELSE (tp * 1000000) // (tp + fn) END AS recall_e6,
           CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(NULL AS BIGINT)
             ELSE (2 * tp * 1000000) // (2 * tp + fp + fn) END AS f1_e6
         FROM agg""",

    "q167_feature_hash" -> {
      s"""SELECT doc_id, ${h60("tk")} % 1024 AS dim, count(*) AS v
         FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk
               FROM documents WHERE doc_id < 50)
         GROUP BY 1, 2"""
    },

    "q168_softmax" ->
      """WITH means AS (
           SELECT event_type,
             CAST(sum(v) AS BIGINT) // count(*) AS mean_e2
           FROM (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
                 FROM events)
           GROUP BY 1),
         mx AS (SELECT max(mean_e2) AS max_e2 FROM means),
         terms AS (
           SELECT event_type,
             CAST(floor(exp(CAST(mean_e2 - max_e2 AS DOUBLE) / 10000.0) * 1000000000.0) AS BIGINT) AS e_e9
           FROM means, mx),
         tot AS (SELECT CAST(sum(e_e9) AS BIGINT) AS z FROM terms)
         SELECT event_type, (e_e9 * 1000000) // z AS p_e6
         FROM terms, tot""",

    "q169_l2_normalize" -> {
      s"""WITH n AS (
           SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS nrm
           FROM embeddings WHERE vec_id < 500)
         SELECT vec_id,
           CASE WHEN nrm > 0 THEN md5(array_to_string(
             list_transform(embedding, x ->
               CAST(CAST(floor(CAST(x AS DOUBLE) / nrm * 1000000.0) AS BIGINT) AS VARCHAR)),
             ',')) END AS unit_fp
         FROM n"""
    },

    "q163_best_match" ->
      """WITH pairs AS (
           SELECT a.c_custkey AS src, b.c_custkey AS dst,
             CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS ed
           FROM customer a JOIN customer b
             ON a.c_custkey <> b.c_custkey
            AND abs(len(a.c_name) - len(b.c_name)) <= 1
           WHERE levenshtein(a.c_name, b.c_name) <= 1),
         ranked AS (
           SELECT src, dst, ed,
             row_number() OVER (PARTITION BY src ORDER BY ed, dst) AS rn
           FROM pairs)
         SELECT src, dst AS best_match, ed FROM ranked WHERE rn = 1""",

    "q164_calibration" ->
      """WITH s AS (
           SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 10) AS BIGINT) AS bucket,
             (label % 2 = 1) AS pos
           FROM embeddings)
         SELECT bucket, count(*) AS n,
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           (CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             // count(*) AS frac_e6
         FROM s GROUP BY 1""",

    "q264_isotonic_calibration" ->
      """WITH cells AS (
           SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 10) AS BIGINT)
               AS bucket,
             count(*) AS n,
             CAST(sum(CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS npos
           FROM embeddings GROUP BY 1),
         cum AS (
           SELECT bucket, n, npos,
             CAST(sum(npos) OVER (ORDER BY bucket) AS BIGINT) AS cp,
             CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cc
           FROM cells),
         arr_t AS (
           SELECT list({'bucket': bucket, 'n': n, 'npos': npos,
                        'cp': cp, 'cc': cc} ORDER BY bucket) AS arr
           FROM cum),
         ex AS (
           SELECT unnest(list_transform(range(1, len(arr) + 1), i -> {
             'bucket': arr[i].bucket, 'n': arr[i].n, 'npos': arr[i].npos,
             'fit': list_reduce(
               list_prepend({'fn': CAST(-1 AS BIGINT), 'fd': CAST(1 AS BIGINT)},
                 list_transform(range(1, i + 1), j -> list_reduce(
                   list_prepend({'fn': CAST(2 AS BIGINT),
                                 'fd': CAST(1 AS BIGINT)},
                     list_transform(range(i, len(arr) + 1), k -> {
                       'fn': arr[k].cp - CASE WHEN j = 1 THEN 0
                         ELSE arr[j-1].cp END,
                       'fd': arr[k].cc - CASE WHEN j = 1 THEN 0
                         ELSE arr[j-1].cc END})),
                   (mn, f) -> CASE WHEN f.fn * mn.fd < mn.fn * f.fd
                     THEN f ELSE mn END))),
               (best, mf) -> CASE WHEN mf.fn * best.fd > best.fn * mf.fd
                 THEN mf ELSE best END)})) AS x
           FROM arr_t)
         SELECT x.bucket AS bucket, x.n AS n, x.npos AS npos,
           x.fit.fn AS fit_num, x.fit.fd AS fit_den,
           x.fit.fn * 1000000 // x.fit.fd AS fit_e6
         FROM ex""",

    "q76_dedup_keep" -> dedupKeepOracle,

    "q132_pagerank" -> pagerankOracle,

    "q145_kmeans" -> kmeansOracle,

    "q126_bm25" ->
      """WITH base AS (
           SELECT doc_id, len(w) AS dl,
             len(list_filter(w, x -> x = 'spark')) AS tf1,
             len(list_filter(w, x -> x = 'fast')) AS tf2
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                 FROM documents)),
         stats AS (
           SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
             count(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
             count(CASE WHEN tf2 > 0 THEN 1 END) AS df2
           FROM base),
         scored AS (
           SELECT doc_id, tf1, tf2, dl,
             ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
               / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl / n_docs)))
             + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
               / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl / n_docs)))
               AS score
           FROM base, stats
           WHERE tf1 > 0 OR tf2 > 0)
         SELECT doc_id, tf1, tf2, dl,
           CAST(floor(score * 1000000.0) AS BIGINT) AS score_e6
         FROM scored ORDER BY score DESC, doc_id LIMIT 50""",

    "q127_perplexity" ->
      s"""WITH $nllCtes
         SELECT doc_id, n_tok, avg_nll_e6 FROM nll""",

    "q272_ngram_novelty" ->
      s"""WITH toks AS (
           SELECT source, $tokenHashesSql AS ht FROM documents),
         g2 AS (
           SELECT DISTINCT source, unnest(list_distinct(
             list_transform(range(1, len(ht)),
               i -> ${gramHash62("i", 2)}))) AS g
           FROM toks WHERE len(ht) >= 2),
         g3 AS (
           SELECT DISTINCT source, unnest(list_distinct(
             list_transform(range(1, len(ht) - 1),
               i -> ${gramHash62("i", 3)}))) AS g
           FROM toks WHERE len(ht) >= 3),
         t2 AS (SELECT DISTINCT g FROM g2 WHERE source = 'src0'),
         r2 AS (SELECT DISTINCT g FROM g2 WHERE source <> 'src0'),
         t3 AS (SELECT DISTINCT g FROM g3 WHERE source = 'src0'),
         r3 AS (SELECT DISTINCT g FROM g3 WHERE source <> 'src0'),
         n2 AS (
           SELECT count(*) AS n_test,
             CAST(sum(CASE WHEN r2.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
           FROM t2 LEFT JOIN r2 ON t2.g = r2.g),
         n3 AS (
           SELECT count(*) AS n_test,
             CAST(sum(CASE WHEN r3.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
           FROM t3 LEFT JOIN r3 ON t3.g = r3.g)
         SELECT CAST(2 AS BIGINT) AS n, n_test, n_novel,
           (n_novel * 1000000) // n_test AS novelty_e6 FROM n2
         UNION ALL
         SELECT CAST(3 AS BIGINT) AS n, n_test, n_novel,
           (n_novel * 1000000) // n_test AS novelty_e6 FROM n3""",

    "q271_dirichlet_ql" ->
      """WITH base AS (
           SELECT doc_id, len(w) AS dl,
             len(list_filter(w, x -> x = 'spark')) AS tf1,
             len(list_filter(w, x -> x = 'fast')) AS tf2
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                 FROM documents)),
         stats AS (
           SELECT CAST(sum(dl) AS BIGINT) AS c,
             CAST(sum(tf1) AS BIGINT) AS cf1,
             CAST(sum(tf2) AS BIGINT) AS cf2
           FROM base),
         scored AS (
           SELECT doc_id, tf1, tf2, dl,
             ln((tf1 + 2000.0 * cf1 / c) / (dl + 2000.0))
             + ln((tf2 + 2000.0 * cf2 / c) / (dl + 2000.0)) AS score
           FROM base, stats
           WHERE tf1 > 0 OR tf2 > 0)
         SELECT doc_id, tf1, tf2, dl,
           CAST(floor(score * 1000000.0) AS BIGINT) AS score_e6
         FROM scored ORDER BY score DESC, doc_id LIMIT 50""",

    "q198_ccnet_buckets" ->
      s"""WITH $nllCtes,
         r AS (
           SELECT doc_id, avg_nll_e6,
             row_number() OVER (ORDER BY avg_nll_e6, doc_id) AS rnk,
             count(*) OVER () AS n
           FROM nll)
         SELECT CASE WHEN rnk * 3 <= n THEN 'head'
                     WHEN rnk * 3 <= n * 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           CAST(sum(avg_nll_e6) // count(*) AS BIGINT) AS mean_nll_e6,
           min(avg_nll_e6) AS min_nll_e6,
           max(avg_nll_e6) AS max_nll_e6
         FROM r GROUP BY 1""",

    "q199_incremental_dedup" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
         store AS (SELECT DISTINCT fp FROM f WHERE doc_id < 250),
         batch AS (SELECT doc_id, fp FROM f WHERE doc_id >= 250),
         firsts AS (SELECT fp, min(doc_id) AS first_id FROM batch GROUP BY 1)
         SELECT b.doc_id,
           (s.fp IS NOT NULL) AS dup_of_store,
           (b.doc_id <> fi.first_id) AS dup_in_batch,
           (s.fp IS NULL AND b.doc_id = fi.first_id) AS keep
         FROM batch b
         LEFT JOIN store s ON s.fp = b.fp
         JOIN firsts fi ON fi.fp = b.fp""",

    "q200_contamination_report" ->
      s"""WITH sh AS (
           SELECT doc_id, source, unnest(list_distinct(
             list_transform(range(1, len(ht) - 1),
               i -> ${gramHash62("i", 3)}))) AS sh
           FROM (SELECT doc_id, source, $tokenHashesSql AS ht
                 FROM documents)
           WHERE len(ht) >= 3),
         benches AS (
           SELECT DISTINCT source AS bench, sh FROM sh
           WHERE source IN ('src0', 'src1')),
         train AS (SELECT * FROM sh WHERE source NOT IN ('src0', 'src1')),
         dt AS (
           SELECT doc_id, source, count(*) AS n_shingles
           FROM train GROUP BY 1, 2),
         ps AS (SELECT source, count(*) AS n_docs FROM dt GROUP BY 1),
         hits AS (
           SELECT t.doc_id, b.bench, count(*) AS n_shared
           FROM train t JOIN benches b USING (sh) GROUP BY 1, 2),
         cont AS (
           SELECT d.source, h.bench, count(*) AS n_contaminated
           FROM hits h JOIN dt d USING (doc_id)
           WHERE h.n_shared * 10 >= d.n_shingles
           GROUP BY 1, 2)
         SELECT c.source, c.bench, p.n_docs, c.n_contaminated,
           (c.n_contaminated * 1000000) // p.n_docs AS rate_e6
         FROM cont c JOIN ps p USING (source)""",

    "q136_fuzzy_join" ->
      """SELECT a.c_custkey AS id1, b.c_custkey AS id2,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS ed
         FROM customer a JOIN customer b
           ON a.c_custkey < b.c_custkey
          AND abs(len(a.c_name) - len(b.c_name)) <= 1
         WHERE levenshtein(a.c_name, b.c_name) <= 1""",

    "q133_cms_heavy" ->
      """WITH tc AS (
           SELECT t AS term, count(*) AS c FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS t
             FROM documents)
           GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tc)
         SELECT term, c, TRUE AS no_underestimate, TRUE AS within_eps
         FROM tc, tot WHERE c * 50 > n""",

    "q134_weighted_sample" ->
      """SELECT lang, doc_id, pri FROM (
           SELECT lang, doc_id, pri,
             row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn
           FROM (SELECT lang, doc_id,
                   CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
                     // n_chars AS pri
                 FROM documents WHERE n_chars > 0))
         WHERE rn <= 10""",

    "q98_ann_ivf" -> ivfOracle,

    "q117_ann_recall" -> annRecallOracle,

    "q121_triangles" -> trianglesOracle,

    "q256_link_prediction" -> linkPredictionOracle,

    "q259_incremental_neardup" ->
      s"""WITH ${minhashCtesFor("TRUE")},
         hits AS (
           SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS old_id
           FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
           WHERE a.doc_id < 400 AND b.doc_id >= 400),
         agg AS (
           SELECT new_id, count(*) AS n_matches,
             min(old_id) AS first_match
           FROM hits GROUP BY 1)
         SELECT d.doc_id AS new_id,
           CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
           a.first_match,
           a.first_match IS NOT NULL AS is_dup
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.new_id
         WHERE d.doc_id >= 400""",

    "q107_decontaminate" ->
      s"""WITH toks AS (
           SELECT doc_id, source, $tokenHashesSql AS ht
           FROM documents),
         sh AS (
           SELECT doc_id, source,
             list_distinct(list_transform(range(1, len(ht) - 1),
               i -> ${gramHash62("i", 3)})) AS shs
           FROM toks WHERE len(ht) >= 3),
         bench AS (
           SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE source = 'src0'),
         cand AS (
           SELECT doc_id, unnest(shs) AS sh FROM sh WHERE source <> 'src0')
         SELECT c.doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             * 10 >= count(*) AS contaminated
         FROM cand c LEFT JOIN bench b USING (sh)
         GROUP BY c.doc_id""",

    "q116_entropy" ->
      """WITH tc AS (
           SELECT doc_id, term, count(*) AS c FROM (
             SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
             FROM documents)
           GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             list(c ORDER BY term) AS cs
           FROM tc GROUP BY 1)
         SELECT doc_id, n,
           CAST(floor(list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cs, c ->
                 -(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))),
             (acc, x) -> acc + x) * 1000000.0) AS BIGINT) AS entropy_e6
         FROM agg""",

    "q209_heavy_phrases_by_source" ->
      s"""WITH base AS (
           SELECT doc_id, source, string_split(lower(text), ' ') AS w,
             $tokenHashesSql AS ht
           FROM documents),
         bg AS (
           SELECT doc_id, source, unnest(range(1, len(ht))) AS i, w, ht
           FROM base WHERE len(ht) >= 2),
         bh AS (
           SELECT doc_id, source, i, ${gramHash62("i", 2)} AS g,
             concat(w[i], ' ', w[i+1]) AS p
           FROM bg),
         tc AS (SELECT source, g, count(*) AS c FROM bh GROUP BY 1, 2),
         tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
                 FROM tc GROUP BY 1),
         heavy AS (
           SELECT tc.source, g, c, n FROM tc JOIN tot USING (source)
           WHERE c * 30 > n),
         rep AS (
           SELECT source, g, p FROM (
             SELECT bh.source, bh.g, bh.p, row_number() OVER (
               PARTITION BY bh.source, bh.g
               ORDER BY bh.doc_id, bh.i) AS rn
             FROM bh JOIN heavy ON bh.source = heavy.source
               AND bh.g = heavy.g)
           WHERE rn = 1)
         SELECT heavy.source, p, c, TRUE AS in_sketch, TRUE AS est_in_band
         FROM heavy JOIN rep ON heavy.source = rep.source
           AND heavy.g = rep.g""",

    "q115_heavy_hitters" ->
      """WITH tc AS (
           SELECT t AS term, count(*) AS c FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS t
             FROM documents)
           GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tc)
         SELECT term, c, TRUE AS in_sketch, TRUE AS est_in_band
         FROM tc, tot WHERE c * 50 > n""",

    "q112_group_sample" ->
      """SELECT lang, doc_id, h FROM (
           SELECT lang, doc_id, h,
             row_number() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC)
               AS rn
           FROM (SELECT lang, doc_id,
                   CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
                 FROM documents))
         WHERE rn <= 20""",

    "q542_vocab_drift_curve" ->
      """WITH bt AS (
           SELECT DISTINCT doc_id // 100 AS bkt, tok
           FROM (SELECT doc_id, unnest(string_split(lower(text), ' '))
                   AS tok
                 FROM documents)),
         sizes AS (SELECT bkt, count(*) AS v FROM bt GROUP BY 1),
         inter AS (
           SELECT a.bkt, count(*) AS inter
           FROM bt a JOIN (SELECT bkt - 1 AS bkt, tok FROM bt) b
             ON a.bkt = b.bkt AND a.tok = b.tok
           GROUP BY 1)
         SELECT s1.bkt, s1.v AS v1, s2.v AS v2, inter,
           inter * 1000000 // (s1.v + s2.v - inter) AS jaccard_e6
         FROM sizes s1
         JOIN (SELECT bkt - 1 AS bkt, v FROM sizes) s2 USING (bkt)
         JOIN inter USING (bkt)""",

    "q519_confusion_effect" -> {
      val hits = TextFunctions.langStopwords.map { case (lang, words) =>
        s"${hitsSql(words)} AS h_$lang"
      }.mkString(", ")
      """WITH p AS (
           SELECT lang,
             CASE WHEN mx = 0 THEN 'und'
                  WHEN h_en = mx THEN 'en' WHEN h_es = mx THEN 'es'
                  WHEN h_fr = mx THEN 'fr' ELSE 'de' END AS pred
           FROM (SELECT lang, h_en, h_es, h_fr, h_de,
                   greatest(h_en, h_es, h_fr, h_de) AS mx
                 FROM (SELECT lang, """ + hits + """ FROM documents))),
         cells AS (
           SELECT lang, pred, count(*) AS nxy FROM p GROUP BY 1, 2),
         rws AS (
           SELECT lang, CAST(sum(nxy) AS BIGINT) AS nr
           FROM cells GROUP BY 1),
         cls AS (
           SELECT pred, CAST(sum(nxy) AS BIGINT) AS ncl
           FROM cells GROUP BY 1),
         nn AS (
           SELECT CAST(sum(nxy) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = pred THEN nxy ELSE 0 END)
               AS BIGINT) AS agree
           FROM cells),
         diag AS (
           SELECT CAST(COALESCE(sum(nr * ncl), 0) AS BIGINT) AS sum_rc
           FROM rws r JOIN cls c ON r.lang = c.pred),
         j AS (
           SELECT cells.lang, cells.pred, cells.nxy, rws.nr, cls.ncl, nn.n
           FROM cells JOIN rws USING (lang) JOIN cls USING (pred), nn),
         chi AS (
           SELECT count(DISTINCT lang) AS r,
             count(DISTINCT pred) AS cdim,
             max(n) AS n,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(CAST(nxy AS DOUBLE) * CAST(nxy AS DOUBLE)
                 * CAST(n AS DOUBLE)
                 / (CAST(nr AS DOUBLE) * CAST(ncl AS DOUBLE))
                 ORDER BY lang, pred)), (acc, x) -> acc + x) AS fold
           FROM j),
         chi2t AS (
           SELECT r, cdim, n, fold - CAST(n AS DOUBLE) AS chi2 FROM chi)
         SELECT nn.n, agree,
           CAST(floor(sqrt(chi2 / (CAST(chi2t.n AS DOUBLE)
             * (CAST(least(r, cdim) AS DOUBLE) - 1.0))) * 1000000.0)
             AS BIGINT) AS cramers_v_e6,
           CASE WHEN nn.n * nn.n > sum_rc
             THEN (agree * nn.n - sum_rc) * 1000000
               // (nn.n * nn.n - sum_rc)
             ELSE 0 END AS kappa_e6
         FROM chi2t, nn, diag"""
    },

    "q517_ns_distribution" ->
      """WITH tc AS (
           SELECT tok, count(*) AS c,
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE)
               * sqrt(CAST(count(*) AS DOUBLE))) * 1000000.0) AS BIGINT)
               AS w_e6
           FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
                 FROM documents)
           GROUP BY 1),
         tot AS (
           SELECT CAST(sum(c) AS BIGINT) AS tc,
             CAST(sum(w_e6) AS BIGINT) AS tw
           FROM tc),
         top AS (SELECT * FROM tc ORDER BY c DESC, tok LIMIT 20)
         SELECT tok, c,
           c * 1000000 // tc AS raw_share_e6,
           w_e6 * 1000000 // tw AS ns_share_e6
         FROM top, tot""",

    "q518_hash_collision_audit" -> {
      val h60t = graft.queries.TrainingShared.h60("tok")
      s"""WITH toks AS (
           SELECT DISTINCT tok
           FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
                 FROM documents)),
         ag AS (
           SELECT count(*) AS n_types,
             count(DISTINCT ($h60t)) AS n_hashes
           FROM toks)
         SELECT n_types, n_hashes, n_types - n_hashes AS collisions,
           CAST(floor(CAST(n_types AS DOUBLE)
             * (CAST(n_types AS DOUBLE) - 1.0)
             / 2305843009213693952.0 * 1000000000.0) AS BIGINT)
             AS expected_e9
         FROM ag"""
    },

    "q491_term_burstiness" ->
      """WITH tf AS (
           SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(lower(text), ' '))
                   AS tok
                 FROM documents)
           GROUP BY 1, 2),
         per AS (
           SELECT tok, count(*) AS df,
             CAST(sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS df2,
             CAST(sum(tf) AS BIGINT) AS ctf
           FROM tf GROUP BY 1),
         top AS (SELECT * FROM per ORDER BY ctf DESC, tok LIMIT 20)
         SELECT tok, df, df2, ctf,
           df2 * 1000000 // df AS p_repeat_e6,
           ctf * 1000000 // df AS tf_per_doc_e6
         FROM top""",

    "q482_unique_span_share" -> {
      val cat = (0 to 7).map(k => if (k == 0) "w[i]" else s"w[i+$k]")
        .mkString(", ' ', ")
      s"""WITH spans AS (
           SELECT source, ${h60("sp")} AS h
           FROM (
             SELECT source, unnest(list_transform(range(1, len(w) - 6),
               i -> concat($cat))) AS sp
             FROM (SELECT source, string_split(lower(text), ' ') AS w
                   FROM documents)
             WHERE len(w) >= 8)),
         cnt AS (SELECT h, count(*) AS c FROM spans GROUP BY 1)
         SELECT source, count(*) AS n_spans,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // count(*) AS unique_share_e6
         FROM spans JOIN cnt USING (h) GROUP BY 1"""
    },

    "q547_substr_excise" -> {
      val cat = (0 to 7).map(j => if (j == 0) "w[p]" else s"w[p+$j]")
        .mkString(", ' ', ")
      s"""WITH wd AS (
           SELECT doc_id, string_split(lower(text), ' ') AS w
           FROM documents),
         toks AS (
           SELECT doc_id, unnest(w) AS tok,
             generate_subscripts(w, 1) AS i
           FROM wd),
         occ AS (
           SELECT doc_id, p, ${h60(s"concat($cat)")} AS h,
             ${h60lo(s"concat($cat)")} AS h2
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS p
                 FROM wd WHERE len(w) >= 8)),
         canon AS (
           SELECT h, h2, min({'d': doc_id, 'p': p}) AS m
           FROM occ GROUP BY 1, 2 HAVING count(*) > 1),
         cov AS (
           SELECT DISTINCT doc_id, i FROM (
             SELECT doc_id, unnest(range(p, p + 8)) AS i
             FROM occ JOIN canon USING (h, h2)
             WHERE NOT (doc_id = m.d AND p = m.p))),
         kept AS (
           SELECT t.doc_id, t.i, t.tok
           FROM toks t LEFT JOIN cov
             ON t.doc_id = cov.doc_id AND t.i = cov.i
           WHERE cov.doc_id IS NULL),
         per AS (
           SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY i) AS text_kept
           FROM kept GROUP BY 1)
         SELECT wd.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           coalesce(n_kept, 0) AS n_kept,
           CAST(len(w) AS BIGINT) - coalesce(n_kept, 0) AS n_excised,
           md5(coalesce(text_kept, '')) AS fp
         FROM wd LEFT JOIN per USING (doc_id)
         WHERE CAST(len(w) AS BIGINT) - coalesce(n_kept, 0) > 0"""
    },

    // Full-chain replay of curate -> exciseKept: the MinHash/CC prelude is
    // the SHARED minhashCtesFor/componentCtes pair (anti-drift), fed the
    // exact-dedup canonical survivors of the corpus slice; quality, lang,
    // decontamination, split and the span excision are the same SQL twins
    // the per-stage oracles use (keepRuleSql, q52's CASE, q107's relative
    // rule, q108's hash split, q547's excision CTEs).
    "q548_curation_excise" -> {
      val corpPred = "doc_id < 300 AND source <> 'src0'"
      // every oracle stage sees coalesce(text, '') — Spark's curate
      // coalesces NULL -> '' before ANY stage, so the exact-dedup
      // canonical GROUP BY and the MinHash prelude must hash the same
      // coalesced text the fpt/cw CTEs below already use (raw text would
      // group NULL-text docs apart from ''-text docs and diverge)
      val coalTxt = "coalesce(text, '')"
      val canonPred = s"$corpPred AND doc_id IN (SELECT min(doc_id) " +
        s"FROM documents WHERE $corpPred GROUP BY md5(${normSqlFor(coalTxt)}))"
      val hits = TextFunctions.langStopwords.map { case (lang, words) =>
        s"${hitsSql(words)} AS h_$lang"
      }.mkString(", ")
      val cat8 = (0 to 7).map(j => if (j == 0) "w[p]" else s"w[p+$j]")
        .mkString(", ' ', ")
      s"""WITH RECURSIVE ${minhashCtesFor(canonPred, coalTxt)},
         $componentCtes,
         corp AS (SELECT doc_id, coalesce(text, '') AS text
                  FROM documents WHERE $corpPred),
         cw AS (SELECT doc_id, text,
                  string_split(lower(text), ' ') AS w FROM corp),
         lng AS (
           SELECT doc_id, CASE WHEN mx = 0 THEN 'und'
               WHEN h_en = mx THEN 'en' WHEN h_es = mx THEN 'es'
               WHEN h_fr = mx THEN 'fr' ELSE 'de' END AS lang
           FROM (SELECT doc_id, h_en, h_es, h_fr, h_de,
                   greatest(h_en, h_es, h_fr, h_de) AS mx
                 FROM (SELECT doc_id, $hits FROM corp))),
         fpt AS (SELECT doc_id, md5($normSql) AS fpv FROM corp),
         exg AS (SELECT f.doc_id, g.canon_id FROM fpt f
                 JOIN (SELECT fpv, min(doc_id) AS canon_id
                       FROM fpt GROUP BY 1) g USING (fpv)),
         nl AS (SELECT e.doc_id,
                  (e.doc_id = e.canon_id AND
                   coalesce(r.rep_id, e.canon_id) = e.canon_id) AS is_kept
                FROM exg e LEFT JOIN rep r ON r.doc_id = e.canon_id),
         dbs AS (SELECT DISTINCT concat(w[i], ' ', w[i+1], ' ', w[i+2]) AS shg
                 FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i
                       FROM (SELECT string_split(lower(coalesce(text, '')),
                               ' ') AS w
                             FROM documents WHERE source = 'src0')
                       WHERE len(w) >= 3)),
         dcs AS (SELECT doc_id, count(*) AS n_sh,
                   CAST(sum(CASE WHEN shg IN (SELECT shg FROM dbs)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
                 FROM (SELECT DISTINCT doc_id,
                         concat(w[i], ' ', w[i+1], ' ', w[i+2]) AS shg
                       FROM (SELECT doc_id, w,
                               unnest(range(1, len(w) - 1)) AS i
                             FROM cw WHERE len(w) >= 3))
                 GROUP BY 1),
         flg AS (SELECT cw.doc_id, lng.lang,
                   CASE WHEN ${h60("cw.text")} % 100 < 80 THEN 'train'
                        WHEN ${h60("cw.text")} % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   ($keepRuleSql = 1 AND nl.is_kept AND
                    NOT coalesce(dcs.n_shared * 100 >= dcs.n_sh * 10,
                      FALSE)) AS kept
                 FROM cw JOIN lng USING (doc_id) JOIN nl USING (doc_id)
                   LEFT JOIN dcs USING (doc_id)),
         kd AS MATERIALIZED (
           SELECT cw.doc_id, cw.w, flg.lang, flg.split
           FROM cw JOIN flg USING (doc_id) WHERE flg.kept),
         tk AS (SELECT doc_id, unnest(w) AS tok,
                  generate_subscripts(w, 1) AS i FROM kd),
         oc2 AS (SELECT doc_id, p, ${h60(s"concat($cat8)")} AS h,
                   ${h60lo(s"concat($cat8)")} AS h2
                 FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS p
                       FROM kd WHERE len(w) >= 8)),
         cn2 AS (SELECT h, h2, min({'d': doc_id, 'p': p}) AS m
                 FROM oc2 GROUP BY 1, 2 HAVING count(*) > 1),
         cv2 AS (SELECT DISTINCT doc_id, i FROM (
                   SELECT doc_id, unnest(range(p, p + 8)) AS i
                   FROM oc2 JOIN cn2 USING (h, h2)
                   WHERE NOT (doc_id = m.d AND p = m.p))),
         kp2 AS (SELECT t.doc_id, t.i, t.tok FROM tk t LEFT JOIN cv2
                   ON t.doc_id = cv2.doc_id AND t.i = cv2.i
                 WHERE cv2.doc_id IS NULL),
         per2 AS (SELECT doc_id, count(*) AS n_kept,
                    string_agg(tok, ' ' ORDER BY i) AS text_kept
                  FROM kp2 GROUP BY 1)
         SELECT kd.doc_id, kd.lang, kd.split,
           CAST(len(kd.w) AS BIGINT) AS n_tokens,
           coalesce(per2.n_kept, 0) AS n_kept_tokens,
           CAST(len(kd.w) AS BIGINT) - coalesce(per2.n_kept, 0) AS n_excised,
           md5(coalesce(per2.text_kept, '')) AS fp
         FROM kd LEFT JOIN per2 USING (doc_id)"""
    },

    "q478_langid_confusion" -> {
      val hits = TextFunctions.langStopwords.map { case (lang, words) =>
        s"${hitsSql(words)} AS h_$lang"
      }.mkString(", ")
      """WITH p AS (
           SELECT lang,
             CASE WHEN mx = 0 THEN 'und'
                  WHEN h_en = mx THEN 'en' WHEN h_es = mx THEN 'es'
                  WHEN h_fr = mx THEN 'fr' ELSE 'de' END AS pred_lang
           FROM (SELECT lang, h_en, h_es, h_fr, h_de,
                   greatest(h_en, h_es, h_fr, h_de) AS mx
                 FROM (SELECT lang, """ + hits + """ FROM documents))),
         cells AS (
           SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
         rws AS (
           SELECT lang, CAST(sum(n) AS BIGINT) AS n_row
           FROM cells GROUP BY 1)
         SELECT cells.lang, pred_lang, n,
           n * 1000000 // n_row AS row_share_e6
         FROM cells JOIN rws USING (lang)"""
    },

    "q479_topk_churn" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         tc AS (
           SELECT CASE WHEN doc_id * 2 <= (SELECT mx FROM mx)
               THEN 'h1' ELSE 'h2' END AS half, tok, count(*) AS c
           FROM (SELECT doc_id, unnest(string_split(lower(text), ' '))
                   AS tok
                 FROM documents)
           GROUP BY 1, 2),
         top AS (
           SELECT half, tok FROM (
             SELECT half, tok,
               row_number() OVER (PARTITION BY half
                 ORDER BY c DESC, tok) AS rn
             FROM tc)
           WHERE rn <= 20)
         SELECT count(*) AS overlap,
           count(*) * 1000000 // (40 - count(*)) AS jaccard_e6
         FROM (SELECT tok FROM top WHERE half = 'h1') a
         JOIN (SELECT tok FROM top WHERE half = 'h2') b USING (tok)""",

    "q468_padding_waste" -> {
      val h60 = graft.queries.TrainingShared.h60(
        "concat('pad:', CAST(doc_id AS VARCHAR))")
      s"""WITH docs AS (
           SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS len,
             $h60 AS hv
           FROM documents),
         s1 AS (
           SELECT len, row_number() OVER (ORDER BY len, doc_id) AS r
           FROM docs),
         b1 AS (
           SELECT (r - 1) // 32 AS batch, count(*) AS nb,
             max(len) AS mx, CAST(sum(len) AS BIGINT) AS sl
           FROM s1 GROUP BY 1),
         a1 AS (
           SELECT count(*) AS n_batches,
             CAST(sum(nb * mx) AS BIGINT) AS slots,
             CAST(sum(sl) AS BIGINT) AS total_tokens
           FROM b1),
         s2 AS (
           SELECT len, row_number() OVER (ORDER BY hv, doc_id) AS r
           FROM docs),
         b2 AS (
           SELECT (r - 1) // 32 AS batch, count(*) AS nb,
             max(len) AS mx, CAST(sum(len) AS BIGINT) AS sl
           FROM s2 GROUP BY 1),
         a2 AS (
           SELECT count(*) AS n_batches,
             CAST(sum(nb * mx) AS BIGINT) AS slots,
             CAST(sum(sl) AS BIGINT) AS total_tokens
           FROM b2)
         SELECT 'sorted' AS strategy, n_batches, total_tokens,
           slots - total_tokens AS padded_slots,
           (slots - total_tokens) * 1000000 // slots AS waste_e6
         FROM a1
         UNION ALL
         SELECT 'shuffled', n_batches, total_tokens,
           slots - total_tokens,
           (slots - total_tokens) * 1000000 // slots
         FROM a2"""
    },

    "q466_bm25_stability" ->
      """WITH tf AS (
           SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                 FROM documents)
           GROUP BY 1, 2),
         dl AS (
           SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         stats AS (
           SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
         tt AS (
           SELECT tok, count(*) AS df
           FROM tf GROUP BY 1
           ORDER BY CAST(sum(tf) AS BIGINT) DESC, tok LIMIT 3),
         params AS (
           SELECT * FROM (VALUES
             ('k12_b075', 1.2, 0.75), ('k09_b040', 0.9, 0.40),
             ('k20_b075', 2.0, 0.75), ('k12_b000', 1.2, 0.0))
             t(param, k1, b)),
         contrib AS (
           SELECT param, f.doc_id,
             CAST(floor(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
               / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * (k1 + 1.0))
               / (CAST(tf AS DOUBLE) + k1 * (1.0 - b
                 + b * CAST(dl AS DOUBLE)
                   / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))
               * 1000000.0) AS BIGINT) AS contrib_e6
           FROM tf f JOIN tt USING (tok) JOIN dl USING (doc_id),
             stats, params),
         sc AS (
           SELECT param, doc_id, CAST(sum(contrib_e6) AS BIGINT) AS score_e6
           FROM contrib GROUP BY 1, 2),
         top AS (
           SELECT param, doc_id FROM (
             SELECT param, doc_id,
               row_number() OVER (PARTITION BY param
                 ORDER BY score_e6 DESC, doc_id) AS rn
             FROM sc)
           WHERE rn <= 10)
         SELECT a.param AS p1, b.param AS p2, count(*) AS overlap
         FROM top a JOIN top b
           ON a.doc_id = b.doc_id AND a.param < b.param
         GROUP BY 1, 2""",

    "q443_llr_collocations" ->
      s"""WITH bg AS (
           SELECT w1, w2, count(*) AS k11 FROM (
             SELECT unnest(list_transform(range(1, len(w)),
                 i -> {'w1': w[i], 'w2': w[i+1]}), recursive := true)
             FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)
             WHERE len(w) >= 2)
           GROUP BY 1, 2),
         rr AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS r FROM bg GROUP BY 1),
         cc AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS c FROM bg GROUP BY 1),
         nn AS (SELECT CAST(sum(k11) AS BIGINT) AS n FROM bg),
         j AS (
           SELECT bg.w1, bg.w2, bg.k11, rr.r, cc.c, nn.n,
             rr.r - bg.k11 AS k12, cc.c - bg.k11 AS k21,
             nn.n - rr.r - cc.c + bg.k11 AS k22
           FROM bg JOIN rr USING (w1) JOIN cc USING (w2) CROSS JOIN nn
           WHERE bg.k11 >= 5)
         SELECT w1, w2, k11, r, c, $llrSql AS llr_e6
         FROM j""",

    "q114_bigram_lm" ->
      """WITH bg AS (
           SELECT w1, w2, count(*) AS c12 FROM (
             SELECT unnest(list_transform(range(1, len(w)),
                 i -> {'w1': w[i], 'w2': w[i+1]}), recursive := true)
             FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)
             WHERE len(w) >= 2)
           GROUP BY 1, 2),
         ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY 1)
         SELECT b.w1, b.w2, b.c12, c.c1, b.c12 * 1000000 // c.c1 AS p_e6
         FROM bg b JOIN ctx c USING (w1)
         WHERE b.c12 >= 3""",

    "q261_readability" ->
      """SELECT doc_id, n_words, n_sents, n_syll,
           (206835 * n_sents * n_words - 1015 * n_words * n_words
             - 84600 * n_syll * n_sents) // (n_sents * n_words) AS fre_e3
         FROM (
           SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
             CAST(greatest(len(text) - len(replace(text, '.', '')), 1)
               AS BIGINT) AS n_sents,
             CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
               AS BIGINT) AS n_syll
           FROM documents)""",

    "q262_ppmi" ->
      """WITH toks AS (
           SELECT string_split(lower(text), ' ') AS w FROM documents
           WHERE len(string_split(lower(text), ' ')) >= 2),
         prs AS (
           SELECT unnest(flatten(list_transform(range(1, len(w)), i ->
             CASE WHEN i + 2 <= len(w)
               THEN [{'x': w[i], 'y': w[i+1]}, {'x': w[i], 'y': w[i+2]}]
               ELSE [{'x': w[i], 'y': w[i+1]}] END)), recursive := true)
           FROM toks),
         cc AS (SELECT x, y, count(*) AS c FROM prs GROUP BY 1, 2),
         rowm AS (SELECT x, CAST(sum(c) AS BIGINT) AS row_c FROM cc GROUP BY 1),
         colm AS (SELECT y, CAST(sum(c) AS BIGINT) AS col_c FROM cc GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS np FROM cc)
         SELECT cc.x, cc.y, cc.c, rowm.row_c, colm.col_c,
           cc.c * np * 1000000 // (row_c * col_c) AS ratio_e6
         FROM cc JOIN rowm USING (x) JOIN colm USING (y), tot
         WHERE cc.c >= 5
         ORDER BY ratio_e6 DESC, x, y LIMIT 100""",

    "q258_kneser_ney" ->
      """WITH bg AS MATERIALIZED (
           SELECT w1, w2, count(*) AS c12 FROM (
             SELECT unnest(list_transform(range(1, len(w)),
                 i -> {'w1': w[i], 'w2': w[i+1]}), recursive := true)
             FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)
             WHERE len(w) >= 2)
           GROUP BY 1, 2),
         ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   count(*) AS nf FROM bg GROUP BY 1),
         cont AS (SELECT w2, count(*) AS nc FROM bg GROUP BY 1),
         tot AS (SELECT count(*) AS tt FROM bg)
         SELECT b.w1, b.w2, b.c12, c.c1, c.nf, co.nc,
           greatest(4 * b.c12 - 3, 0) * tt + 3 * c.nf * co.nc AS p_num,
           4 * c.c1 * tt AS p_den,
           (greatest(4 * b.c12 - 3, 0) * tt + 3 * c.nf * co.nc) * 1000000
             // (4 * c.c1 * tt) AS p_e6
         FROM bg b JOIN ctx c USING (w1) JOIN cont co USING (w2), tot
         WHERE b.c12 >= 3""",

    "q190_dup_spans" ->
      """WITH wins AS (
           SELECT doc_id, pos,
             CAST(concat('0x', substr(md5(substring(text, pos, 48)), 1, 15)) AS BIGINT) AS h
           FROM (SELECT doc_id, text, unnest(range(1, len(text) - 46, 8)) AS pos
                 FROM documents WHERE len(text) >= 48)),
         dup AS (SELECT h FROM wins GROUP BY 1 HAVING count(*) > 1),
         spans AS (SELECT doc_id, pos, pos + 47 AS e FROM wins
                   WHERE h IN (SELECT h FROM dup)),
         isl AS (
           SELECT doc_id, pos, e,
             CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
               THEN 1 ELSE 0 END AS new_island
           FROM spans),
         isl2 AS (
           SELECT doc_id, pos, e,
             CAST(sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
           FROM isl)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
         FROM isl2 GROUP BY doc_id, island""",

    "q108_train_split" ->
      """SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM (SELECT lang, n_chars,
                 CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 100 AS h
               FROM documents)
         GROUP BY 1, 2""",

    "q110_inverted_index" ->
      """WITH pairs AS (
           SELECT DISTINCT doc_id,
             unnest(string_split(lower(text), ' ')) AS term
           FROM documents),
         sh AS (
           SELECT term, doc_id % 16 AS shard, count(*) AS cnt,
             md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS sfp
           FROM pairs GROUP BY 1, 2)
         SELECT term, CAST(sum(cnt) AS BIGINT) AS df,
           md5(string_agg(sfp, ',' ORDER BY shard)) AS postings_fp
         FROM sh GROUP BY 1 HAVING sum(cnt) >= 5""",

    "q111_quantize" ->
      """WITH ex AS (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS v
           FROM embeddings),
         dims AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY 1),
         qv AS (
           SELECT vec_id, dim,
             CASE WHEN mx = mn THEN CAST(0 AS BIGINT) ELSE
               least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
                 CAST(floor((CAST(v AS DOUBLE) - CAST(mn AS DOUBLE)) * 255.0
                   / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))) AS BIGINT)))
             END AS q
           FROM ex JOIN dims USING (dim))
         SELECT vec_id, md5(string_agg(CAST(q AS VARCHAR), ',' ORDER BY dim))
             AS qfp,
           CAST(sum(q) AS BIGINT) AS qsum
         FROM qv GROUP BY 1""",

    "q102_line_dedup" ->
      """WITH sent AS (
           SELECT doc_id, i, s
           FROM (SELECT doc_id, unnest(string_split(text, '.')) AS s,
                   generate_subscripts(string_split(text, '.'), 1) AS i
                 FROM documents)),
         cnt AS (SELECT s, count(*) AS n FROM sent GROUP BY 1)
         SELECT doc_id, md5(string_agg(s, '.' ORDER BY i)) AS fp,
           count(*) AS n_kept
         FROM sent JOIN cnt USING (s) WHERE n <= 3
         GROUP BY doc_id""",

    "q106_packing" ->
      """SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS offset_in_bin
         FROM (
           SELECT doc_id, lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             sum(CAST(len(string_split(lower(text), ' ')) AS BIGINT))
               OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM documents)""",

    "q105_source_mix" ->
      """SELECT source, count(*) AS n_kept
         FROM documents
         WHERE CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 1000
               < (CASE WHEN source = 'src0' THEN 100 WHEN source = 'src1' THEN 800
                       WHEN source = 'src2' THEN 500 ELSE 300 END)
         GROUP BY 1""",

    "q103_repetition" ->
      """SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
           CAST(floor((1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
             * 1000000.0) AS BIGINT) AS dup_ratio_e6
         FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)""",

    "q104_curation" -> {
      val hits = TextFunctions.langStopwords.map { case (lang, words) =>
        s"${hitsSql(words)} AS h_$lang"
      }.mkString(", ")
      val stopAll = hitsSql(TextFunctions.langStopwords.flatMap(_._2))
      s"""WITH base AS (
           SELECT doc_id, $hits,
             len(string_split(lower(text), ' ')) AS n_tok,
             $stopAll AS stop_hits,
             md5($normSql) AS fp
           FROM documents),
         scored AS (
           SELECT doc_id,
             CASE WHEN mx = 0 THEN 'und'
                  WHEN h_en = mx THEN 'en' WHEN h_es = mx THEN 'es'
                  WHEN h_fr = mx THEN 'fr' ELSE 'de' END AS lang,
             (n_tok >= 10 AND n_tok <= 100000 AND
              (CASE WHEN n_tok > 0 THEN CAST(stop_hits AS DOUBLE) / n_tok
                    ELSE 0.0 END) > 0.001) AS keep_quality,
             fp
           FROM (SELECT doc_id, h_en, h_es, h_fr, h_de, n_tok, stop_hits, fp,
                   greatest(h_en, h_es, h_fr, h_de) AS mx
                 FROM base)),
         canon AS (SELECT fp, min(doc_id) AS canon_id FROM scored GROUP BY 1)
         SELECT s.doc_id, s.lang, s.keep_quality,
           s.doc_id = c.canon_id AS is_canonical,
           (s.keep_quality AND s.lang = 'en' AND s.doc_id = c.canon_id) AS keep
         FROM scored s JOIN canon c USING (fp)"""
    },

    "q52_lang_id" -> {
      val hits = TextFunctions.langStopwords.map { case (lang, words) =>
        s"${hitsSql(words)} AS h_$lang"
      }.mkString(", ")
      """SELECT doc_id,
           CASE WHEN mx = 0 THEN 'und'
                WHEN h_en = mx THEN 'en' WHEN h_es = mx THEN 'es'
                WHEN h_fr = mx THEN 'fr' ELSE 'de' END AS pred_lang
         FROM (SELECT doc_id, h_en, h_es, h_fr, h_de,
                 greatest(h_en, h_es, h_fr, h_de) AS mx
               FROM (SELECT doc_id, """ + hits + " FROM documents))"
    },

    "q53_quality_score" -> {
      val stopAll = hitsSql(TextFunctions.langStopwords.flatMap(_._2))
      s"""SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(w) AS BIGINT) AS n_tokens,
           round(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS alpha_ratio,
           round(CASE WHEN len(w) > 0
             THEN CAST($stopAll AS DOUBLE) / len(w) ELSE 0.0 END, 6) AS stop_ratio,
           round(CASE WHEN len(w) > 0
             THEN CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w)
             ELSE 0.0 END, 6) AS mean_token_len,
           (len(w) >= 10 AND len(w) <= 100000 AND
            (CASE WHEN len(w) > 0 THEN CAST($stopAll AS DOUBLE) / len(w) ELSE 0.0 END)
              > 0.001) AS keep
         FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents)"""
    },

    "q54_token_count" ->
      """SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_alnum
         FROM documents""",

    "q55_fingerprint" ->
      s"SELECT doc_id, md5($normSql) AS fp FROM documents",

    "q56_exact_dedup" ->
      s"""SELECT md5($normSql) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1""",

    "q57_tonal_score" -> {
      val pos = hitsSql(posWords); val neg = hitsSql(negWords)
      s"""SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           round(CASE WHEN len(w) > 0 THEN CAST(p AS DOUBLE)/len(w) ELSE 0.0 END, 6) AS tf_pos,
           round(CASE WHEN len(w) > 0 THEN CAST(n AS DOUBLE)/len(w) ELSE 0.0 END, 6) AS tf_neg,
           round(CASE WHEN len(w) > 0 THEN CAST(p - n AS DOUBLE)/len(w) ELSE 0.0 END, 6) AS sentiment
         FROM (SELECT doc_id, string_split(lower(text), ' ') AS w,
                 $pos AS p, $neg AS n
               FROM documents)"""
    },

    "q58_jaccard_pairs" ->
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(floor(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
             / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) * 1000000.0) AS BIGINT) AS j_e6
         FROM (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
               FROM documents WHERE doc_id < 100) a
         JOIN (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
               FROM documents WHERE doc_id < 100) b
           ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
             / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) > 0.8""",

    "q59_minhash_lsh" -> minhashOracle,

    "q85_scrub" ->
      """SELECT doc_id,
           regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
             '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g') <> text AS changed,
           md5(regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
             '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g')) AS fp
         FROM documents""",

    "q86_bucketed_neardup" -> {
      s"""WITH b AS (
           SELECT e.vec_id,
             sum(CASE WHEN (${dotSql("e.embedding", "p.embedding")}) > 0
                 THEN (CAST(1 AS BIGINT) << CAST(p.vec_id AS INT)) ELSE 0 END) AS bucket
           FROM embeddings e, embeddings p WHERE p.vec_id < 8
           GROUP BY e.vec_id),
         wb AS (
           SELECT e.vec_id, e.embedding, b.bucket
           FROM embeddings e JOIN b ON e.vec_id = b.vec_id)
         SELECT a.vec_id AS id1, w.vec_id AS id2,
           CAST(floor((${dotSql("a.embedding", "w.embedding")})
             / (sqrt(${dotSql("a.embedding", "a.embedding")})
                * sqrt(${dotSql("w.embedding", "w.embedding")})) * 1000000.0) AS BIGINT) AS cos_e6
         FROM wb a JOIN wb w ON a.bucket = w.bucket AND a.vec_id < w.vec_id
         WHERE (${dotSql("a.embedding", "w.embedding")})
             / (sqrt(${dotSql("a.embedding", "a.embedding")})
                * sqrt(${dotSql("w.embedding", "w.embedding")})) > 0.18"""
    },

    "q266_incremental_semdedup" -> {
      s"""WITH b AS (
           SELECT e.vec_id,
             sum(CASE WHEN (${dotSql("e.embedding", "p.embedding")}) > 0
                 THEN (CAST(1 AS BIGINT) << CAST(p.vec_id AS INT)) ELSE 0 END) AS bucket
           FROM embeddings e, embeddings p WHERE p.vec_id < 8
           GROUP BY e.vec_id),
         wb AS (
           SELECT e.vec_id, e.embedding, b.bucket
           FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         hits AS (
           SELECT n.vec_id AS new_id, count(*) AS n_candidates,
             CAST(floor(max((${dotSql("n.embedding", "o.embedding")})
               / (sqrt(${dotSql("n.embedding", "n.embedding")})
                  * sqrt(${dotSql("o.embedding", "o.embedding")})))
               * 1000000.0) AS BIGINT) AS max_cos_e6
           FROM wb n JOIN wb o ON n.bucket = o.bucket
           WHERE n.vec_id >= 400 AND o.vec_id < 400
           GROUP BY 1)
         SELECT e.vec_id AS new_id,
           CAST(coalesce(h.n_candidates, 0) AS BIGINT) AS n_candidates,
           h.max_cos_e6,
           coalesce(h.max_cos_e6 >= 180000, false) AS is_dup
         FROM embeddings e LEFT JOIN hits h ON e.vec_id = h.new_id
         WHERE e.vec_id >= 400"""
    },

    "q60_simhash" -> simhashOracle,

    "q61_cosine_topk" -> cosineTopkOracle,

    "q62_ann_lsh" -> annLshOracle,

    "q192_set_diversity" -> {
      def mx(set: String) =
        s"""SELECT x.vec_id,
             CAST(floor(max((${dotSql("y.embedding", "x.embedding")})
               / (sqrt(${dotSql("y.embedding", "y.embedding")})
                  * sqrt(${dotSql("x.embedding", "x.embedding")})))
               * 1000000.0) AS BIGINT) AS mx
           FROM $set x JOIN $set y ON y.vec_id <> x.vec_id GROUP BY 1"""
      s"""WITH scored AS (
           SELECT vec_id, embedding,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
               AS score_e6
           FROM embeddings),
         sel AS (
           SELECT vec_id, embedding FROM (
             SELECT vec_id, embedding,
               row_number() OVER (ORDER BY score_e6 DESC, vec_id ASC) AS rnk
             FROM scored) WHERE rnk <= 64),
         rnd AS (
           SELECT vec_id, embedding FROM (
             SELECT vec_id, embedding,
               row_number() OVER (
                 ORDER BY ${h60("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC)
                 AS rnk
             FROM scored) WHERE rnk <= 64),
         selmx AS (${mx("sel")}),
         rndmx AS (${mx("rnd")})
         SELECT 'selected' AS set_name, count(*) AS n,
           CAST(sum(mx) AS BIGINT) // count(*) AS mean_max_cos_e6 FROM selmx
         UNION ALL
         SELECT 'random' AS set_name, count(*) AS n,
           CAST(sum(mx) AS BIGINT) // count(*) AS mean_max_cos_e6 FROM rndmx"""
    },

    "q77_kskip_bigrams" ->
      """SELECT bg, count(*) AS n FROM (
           SELECT unnest(flatten(list_transform(range(1, len(w)),
             i -> list_transform(range(i+1, least(i+3, len(w)) + 1),
               j -> concat(w[i], ' ', w[j]))))) AS bg
           FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)
           WHERE len(w) >= 2)
         GROUP BY 1 ORDER BY n DESC, bg ASC LIMIT 30""",

    "q78_ntile" ->
      """SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
           round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
         FROM (SELECT c_acctbal,
                 ntile(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS decile
               FROM customer)
         GROUP BY 1""",

    "q113_semdedup" -> semdedupOracle(200L, 330000L),

    "q412_filter_disparity" -> {
      val stopAll = hitsSql(TextFunctions.langStopwords.flatMap(_._2))
      s"""WITH base AS (
           SELECT lang,
             (len(w) >= 10 AND len(w) <= 100000 AND
              (CASE WHEN len(w) > 0 THEN CAST($stopAll AS DOUBLE) / len(w)
                ELSE 0.0 END) > 0.001) AS keep
           FROM (SELECT lang, text, string_split(lower(text), ' ') AS w
                 FROM documents)),
         g AS (
           SELECT lang, count(*) AS n,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
           FROM base GROUP BY 1),
         tot AS (
           SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(n_keep) AS BIGINT) AS kt
           FROM g)
         SELECT lang, n, n_keep,
           n_keep * 1000000 // n AS keep_rate_e6,
           kt * 1000000 // nt AS global_rate_e6,
           (n_keep * 1000000 // n) * 1000000
             // greatest(kt * 1000000 // nt, 1) AS parity_ratio_e6,
           (n_keep * 1000000 // n) * 1000000
             // greatest(kt * 1000000 // nt, 1) < 800000 AS adverse_impact
         FROM g, tot"""
    },

    "q79_hash_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 10 = 0""",

    "q82_label_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(dim - 1 AS BIGINT) AS dim,
           CAST(floor(avg(CAST(v AS DOUBLE)) * 1000000.0) AS BIGINT) AS mean_e6,
           count(*) AS n
         FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS dim
               FROM embeddings)
         GROUP BY 1, 2""",

    "q83_tfidf" ->
      """WITH terms AS (
           SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
             unnest(string_split(lower(text), ' ')) AS term
           FROM documents),
         tc AS (
           SELECT doc_id, dl, term, count(*) AS tc
           FROM terms GROUP BY 1, 2, 3),
         df AS (
           SELECT term, count(DISTINCT doc_id) AS df FROM tc GROUP BY 1),
         n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tc)
         SELECT doc_id, term,
           CAST(floor((CAST(tc AS DOUBLE) / dl) * ln(n_docs / df)
             * 1000000000.0) AS BIGINT) AS tfidf_e9
         FROM tc JOIN df USING (term), n
         ORDER BY tfidf_e9 DESC, doc_id ASC, term ASC LIMIT 50""",

    "q84_chunking" ->
      """SELECT doc_id,
           CAST(ci - 1 AS BIGINT) AS chunk_idx,
           CAST(starts[ci] AS BIGINT) AS start,
           CAST(len(list_slice(w, starts[ci], starts[ci] + 31)) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(w, starts[ci], starts[ci] + 31), ' ')) AS chunk_fp
         FROM (
           SELECT doc_id, w, range(1, len(w) + 1, 16) AS starts,
             unnest(range(1, len(range(1, len(w) + 1, 16)) + 1)) AS ci
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
           WHERE len(w) >= 1)""",

    "q63_cosine_neardup" -> {
      s"""SELECT a.vec_id AS id1, b.vec_id AS id2,
           CAST(floor((${dotSql("a.embedding", "b.embedding")})
             / (sqrt(${dotSql("a.embedding", "a.embedding")})
                * sqrt(${dotSql("b.embedding", "b.embedding")})) * 1000000.0) AS BIGINT) AS cos_e6
         FROM (SELECT * FROM embeddings WHERE vec_id < 200) a
         JOIN (SELECT * FROM embeddings WHERE vec_id < 200) b ON a.vec_id < b.vec_id
         WHERE (${dotSql("a.embedding", "b.embedding")})
             / (sqrt(${dotSql("a.embedding", "a.embedding")})
                * sqrt(${dotSql("b.embedding", "b.embedding")})) > 0.25"""
    }
  )
}
