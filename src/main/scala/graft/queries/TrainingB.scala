package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}
import graft.queries.TrainingShared._

/** Training-data pipeline operators: distribution shift, mixtures, decontamination, graph/linkage and incremental-dedup families (second quarter of the Training inventory). Query/oracle pairs stay in
  * the same file so engine and oracle change together.
  */
private[queries] object TrainingB {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Population stability index between the hash-split train and test
    // score distributions — the drift gate run before every model
    // refresh. Fixed n_chars bins; per-bin contribution (p-q)*ln(p/q)
    // floored to integer e12 and summed associatively (q152's shape);
    // bins empty on either side are counted, not silently folded in.
    "q165_psi" -> ((s, d) => {
      val h = TextFunctions.hash60(col("text")) % 100
      val binned = t(s, d, "documents")
        .select(when(h < 80, lit("train")).otherwise(lit("test")).as("split"),
          least(expr("n_chars div 100"), lit(9L)).as("bin"))
      val cells = binned.groupBy("bin").agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("cp"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("cq"))
      val tot = cells.agg(sum("cp").as("np"), sum("cq").as("nq"))
      val p = col("cp").cast("double") / col("np").cast("double")
      val q = col("cq").cast("double") / col("nq").cast("double")
      cells.crossJoin(broadcast(tot))
        .select(
          when(col("cp") > 0 && col("cq") > 0,
            floor((p - q) * log(p / q) * 1e12).cast("long")).as("c_e12"),
          when(col("cp") === 0 || col("cq") === 0, 1L).otherwise(0L).as("empty"))
        .agg(count(lit(1)).as("n_bins"), sum("empty").as("n_onesided"),
          sum("c_e12").as("psi_e12"))
    }),


    // Retrieval-quality metrics (MRR, NDCG@10) of a quantized ANN system
    // against exact-cosine ground truth: "how much does int6 quantization
    // hurt ranking" — the eval that decides whether the cheap index is
    // good enough to ship. Truth = exact cosine top-10 with graded
    // relevance 10..1; system = ranking by INTEGER dot product of
    // floor(x*64) quantized vectors (exact in both engines, so the system
    // ranking is bit-reproducible). DCG terms are floored to integer e9
    // units per position (associative sum, q152's trick); MRR and the
    // final NDCG ratio are integer divisions.
    "q160_rank_metrics" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val ids = Seq(100L, 200L)
      val qs = e.where(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
      val cand = e.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("nrm", Similarity.norm2("embedding"))
        .withColumn("qn", Similarity.norm2("qemb"))
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
      val truth = cand
        .withColumn("cos", Similarity.cosineWithNorms(
          Similarity.dot("embedding", "qemb"), col("nrm"), col("qn")))
        .withColumn("rnk", row_number().over(wT))
        .where(col("rnk") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (lit(11L) - col("rnk")).as("rel"), col("rnk"))
      val quant = (c: Column) => transform(c,
        x => floor(x.cast("double") * 64).cast("long"))
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("iscore"), asc("vec_id"))
      val sys = cand
        .withColumn("iscore", aggregate(
          zip_with(quant(col("embedding")), quant(col("qemb")), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
        .withColumn("srnk", row_number().over(wS))
        .where(col("srnk") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("srnk"))
      // identical discount expression on both sides: rel / (ln(r+1)/ln(2))
      def dcgTerm(rel: Column, rnk: Column): Column =
        floor(rel.cast("double") /
          (log(rnk.cast("double") + 1.0) / log(lit(2.0))) * 1e9).cast("long")
      val dcg = sys
        .join(truth.select(col("query_id"), col("neighbor_id"), col("rel")),
          Seq("query_id", "neighbor_id"), "left")
        .withColumn("rel0", coalesce(col("rel"), lit(0L)))
        .groupBy("query_id")
        .agg(sum(dcgTerm(col("rel0"), col("srnk"))).as("dcg_e9"),
          min(when(col("rel0") > 0, col("srnk"))).as("first_rel"),
          sum(when(col("rel0") > 0, 1L).otherwise(0L)).as("n_hit"))
      val idcg = truth.groupBy("query_id")
        .agg(sum(dcgTerm(col("rel"), col("rnk"))).as("idcg_e9"))
      dcg.join(idcg, "query_id")
        .select(col("query_id"), col("n_hit"),
          expr("CASE WHEN first_rel IS NULL THEN CAST(0 AS BIGINT) " +
            "ELSE 1000000 div first_rel END").as("mrr_e6"),
          expr("(dcg_e9 * 1000000) div idcg_e9").as("ndcg_e6"))
    }),


    // Exact ROC AUC by the rank-sum (Mann-Whitney) identity: rank every
    // example by score through the scalable global-rank path (no single-
    // partition window), then AUC = (sum of positive ranks - np(np+1)/2)
    // / (np*nn) — all integer arithmetic until one truncating division,
    // so the oracle matches exactly. Ties in score are broken by id
    // (deterministic surrogate for the 0.5-credit convention; both
    // engines rank identically so parity is exact). Score = first
    // embedding dim in micro-units; positives = odd labels.
    "q155_auc" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(
        col("vec_id"),
        floor(element_at(col("embedding"), 1).cast("double") * 1e6)
          .cast("long").as("score_e6"),
        (col("label") % 2 === 1).as("pos"))
      val ranked = graft.operators.Ranking.globalRank(
        e, "rnk", asc("score_e6"), asc("vec_id"))
      ranked.agg(
          sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"),
          sum(when(col("pos"), col("rnk")).otherwise(0L)).as("sumr"))
        .select(col("np"), col("nn"),
          // single-class guard: np*nn = 0 -> NULL in both engines (Spark
          // ANSI integral divide by zero would throw; DuckDB // 0 is NULL)
          expr("CASE WHEN np * nn = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE ((sumr - (np * (np + 1)) div 2) * 1000000) div (np * nn) END")
            .as("auc_e6"))
    }),


    // Tokenizer vocabulary build: corpus term frequencies above a min-count
    // cutoff, IDs assigned by global frequency rank (count desc, token asc)
    // through the scalable range-sort ranking operator — no single-partition
    // window, so a 100-TB corpus's multi-million-term vocab ranks
    // distributed (the q91 lesson applied to vocab construction).
    "q150_vocab_build" -> ((s, d) => {
      val tc = t(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .where(col("freq") >= 2)
      graft.operators.Ranking.globalRank(tc, "id", desc("freq"), asc("token"))
        .select(col("token"), col("freq"), col("id"))
    }),


    // BPE merge-step candidates: adjacent character-pair counts weighted by
    // word frequency — the statistic a byte-pair-encoding trainer computes
    // each round to pick the next merge. Words are collapsed to (word,
    // freq) FIRST, so the per-character explode runs over the distinct
    // vocabulary, not the corpus (the map-side collapse that makes BPE
    // rounds corpus-size-independent). Top 20 by count, pair-lexicographic
    // tiebreak.
    "q151_bpe_pairs" -> ((s, d) => {
      val wf = t(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("f"))
      wf.select(col("f"),
          explode(transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum("f").as("cnt"))
        .orderBy(desc("cnt"), asc("pair"))
        .limit(20)
    }),


    // Corpus-scale BPE ENCODE (train_bert.py's tokenizer data-prep step):
    // train 8 merge rules on the collapsed (word, freq) vocabulary
    // (BpeTrainer.trainLocal — one vocab collect, delta-maintained pair
    // counts, zero per-merge cluster jobs), then apply the merge
    // table to the corpus via BpeTrainer.encode and report per-document
    // token stats. Scale shape: encoding runs once per DISTINCT word (the
    // vocabulary, not the corpus), the tokenized vocab is a broadcast dim
    // joined back to the exploded corpus, and the merge table itself is
    // literal ranks inside the encode expression — the whole corpus pass
    // is map-side. Oracle: the 8 training rounds are replayed as
    // macro-generated SQL (argmax pair + greedy positional merge with the
    // run-parity rule for l=r merges), so the learned rules — not just
    // the stats — are cross-checked.
    "q193_bpe_encode" -> ((s, d) => {
      val words = t(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
      val vocab = words.groupBy("w").agg(count(lit(1)).as("f"))
      val (merges, _) = graft.operators.BpeTrainer.trainLocal(vocab, "w", "f", 8)
      val wtoks = graft.operators.BpeTrainer
        .encode(vocab.select(col("w")), "w", merges)
        .select(col("w"), size(col("toks")).as("ntok"))
      words.join(broadcast(wtoks), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("ntok").as("n_tokens"),
          max("ntok").cast("long").as("max_word_toks"))
    }),


    // Multilingual temperature sampling (the XLM-R / mBERT mixture rule:
    // sample language l with q_l ∝ p_l^α, α = 0.3, flattening the size
    // distribution so low-resource languages are up-sampled). N cancels
    // in q_l = n_l^α / Σ n_l^α; each n^α is floored to an integer e9
    // unit BEFORE the cross-language sum, so the normalization is an
    // exact integer division in both engines (a double Σ pow would be
    // association-order-dependent), and boost_e3 = q/p is a division of
    // the two already-truncated integers. Scale shape: one key-shuffle
    // groupBy (#langs rows) + a 1-row broadcast — corpus pass is
    // map-side countable.
    "q194_temperature_mix" -> ((s, d) => {
      val perLang = t(s, d, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("pow_e9",
          floor(pow(col("n_docs").cast("double"), 0.3) * 1e9).cast("long"))
      val tot = perLang.agg(sum("n_docs").as("n_total"), sum("pow_e9").as("spow_e9"))
      perLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"),
          expr("(n_docs * 1000000) div n_total").as("p_e6"),
          expr("(pow_e9 * 1000000) div spow_e9").as("q_e6"))
        .withColumn("boost_e3", expr("(q_e6 * 1000) div p_e6"))
    }),


    // MinHash estimator accuracy — the Broder estimate measured against
    // ground truth: for every LSH candidate pair, signature agreement
    // ĵ = |{i : sig_i(A) = sig_i(B)}| / numPerms vs the exact
    // distinct-shingle Jaccard. This is the calibration a pipeline runs
    // before trusting an LSH threshold on a new corpus. Signatures come
    // from the same exploded min-aggregate path as banding (inlining 32
    // re-hashes into one expression is the measured codegen blowup), the
    // candidate set bounds the quadratic term, and exact Jaccard touches
    // only candidate pairs' shingle sets.
    "q195_minhash_accuracy" -> ((s, d) => {
      val p = Dedup.MinHashParams()
      val docs = t(s, d, "documents").where(col("doc_id") < 300)
      val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", p)
      val sig = Dedup.signatures(docs, "doc_id", "text", p)
      val sa = sig.toDF(sig.columns.map(c => if (c == "doc") "id1" else s"a_$c"): _*)
      val sb = sig.toDF(sig.columns.map(c => if (c == "doc") "id2" else s"b_$c"): _*)
      val sh = docs.where(size(TextFunctions.tokens(col("text"))) >= p.shingleSize)
        .select(col("doc_id"),
          array_distinct(Dedup.shingles(col("text"), p.shingleSize)).as("shs"))
      val nEq = (0 until p.numPerms)
        .map(i => when(col(s"a_s$i") === col(s"b_s$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      pairs
        .join(sa, "id1").join(sb, "id2")
        .withColumn("n_eq", nEq)
        .select(col("id1"), col("id2"), col("n_eq"))
        .join(sh.select(col("doc_id").as("id1"), col("shs").as("sh1")), "id1")
        .join(sh.select(col("doc_id").as("id2"), col("shs").as("sh2")), "id2")
        .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
        .withColumn("uni",
          size(col("sh1")).cast("long") + size(col("sh2")).cast("long") - col("inter"))
        .select(col("id1"), col("id2"),
          expr(s"(n_eq * 1000000) div ${p.numPerms}").as("est_e6"),
          expr("(inter * 1000000) div uni").as("true_e6"),
          abs(expr(s"(n_eq * 1000000) div ${p.numPerms}") -
            expr("(inter * 1000000) div uni")).as("err_e6"))
    }),


    // Gopher-style quality rule suite (the published pretraining-corpus
    // format heuristics: word-count bounds, mean-word-length bounds,
    // symbol-to-word ratio, alphabetic-word fraction, stopword
    // presence) — each rule a NAMED boolean so per-rule pass rates are
    // auditable, not just the final verdict. Every comparison is an
    // integer cross-multiplication (no float ratios), so the oracle
    // replays the booleans exactly. Map-side only — scales trivially.
    "q196_gopher_rules" -> ((s, d) => {
      val w = TextFunctions.tokens(col("text"))
      val nW = size(w).cast("long")
      val sumLen = aggregate(transform(w, t => length(t).cast("long")),
        lit(0L), (acc, x) => acc + x)
      val nHash = (length(col("text")) -
        length(regexp_replace(col("text"), "#", ""))).cast("long")
      val nEllipsis = ((length(col("text")) -
        length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
      val nAlphaW = size(filter(w, t => t.rlike("[a-z]"))).cast("long")
      val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val nStops = size(array_intersect(array_distinct(w),
        array(gopherStops.map(lit): _*))).cast("long")
      t(s, d, "documents").select(col("doc_id"), nW.as("n_words"),
        (nW >= 50L && nW <= 100000L).as("rule_word_count"),
        (sumLen >= nW * 3L && sumLen <= nW * 10L).as("rule_mean_word_len"),
        ((nHash + nEllipsis) * 10L <= nW).as("rule_symbol_ratio"),
        (nAlphaW * 10L >= nW * 8L).as("rule_alpha_words"),
        (nStops >= 2L).as("rule_stopwords"))
        .withColumn("keep",
          col("rule_word_count") && col("rule_mean_word_len") &&
            col("rule_symbol_ratio") && col("rule_alpha_words") &&
            col("rule_stopwords"))
    }),


    // DSIR importance weights (data selection via hashed-ngram importance
    // resampling): hashed bigram features (60-bit md5 mod 8192 buckets),
    // target distribution = the src0 slice, raw = everything else;
    // per-bucket log-likelihood ratio delta_e9 = floor(1e9·(ln p̂_t −
    // ln p̂_r)) with add-1 smoothing, and a doc's weight is the INTEGER
    // sum of its bigram occurrences' deltas — associative, map-side
    // combinable. Scale shape: the corpus pass is one explode + one
    // (doc, bucket) key shuffle; the 8192-row ratio table is a broadcast
    // dim; totals are a 1-row broadcast. The single float op (the ln)
    // happens once per BUCKET, not per row.
    "q197_dsir_weights" -> ((s, d) => {
      val nBuckets = 8192L
      val docs = t(s, d, "documents")
      // persisted (the q163 pattern): the exploded bigram stream feeds the
      // bucket counts AND the per-doc counts, and the tiny bucket-count
      // frame feeds totals AND deltas — unpersisted, the corpus explode
      // would run 4x (measured ~2x wall on the sf0.1 bench). A pre-
      // aggregated (doc, source, bucket) variant was measured SLOWER
      // (3.1s → 4.6s at sf0.1): distinct (doc, bucket) is nearly the raw
      // occurrence count here, so the extra wide-key hash aggregate buys
      // no compression. Harness clearCache releases both.
      // bigram buckets via the winnowing trick: one md5 per TOKEN
      // (reused by both bigrams spanning it) + a Horner step mod 2^31-1
      // instead of one md5 per bigram STRING — same map-side shape,
      // ~half the hashed bytes and no bigram string materialization
      val toks = TextFunctions.tokens(col("text"))
      val big = docs.where(size(toks) >= 2)
        .select(col("doc_id"), col("source"),
          transform(toks,
            tk => pmod(TextFunctions.hash60(tk), lit(1073741824L))).as("ht"))
        .select(col("doc_id"), col("source"),
          explode(expr(s"""transform(sequence(1, size(ht) - 1),
            i -> ((ht[i-1] * $WinnowB + ht[i]) % $WinnowP) % $nBuckets)"""))
            .as("bucket"))
        .persist()
      val bc = big.groupBy("bucket").agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("cr"))
        .persist()
      val tot = bc.agg(sum("ct").as("nt"), sum("cr").as("nr"))
      val delta = bc.crossJoin(broadcast(tot)).select(col("bucket"),
        floor((log((col("ct") + 1L).cast("double") /
            (col("nt") + nBuckets).cast("double")) -
          log((col("cr") + 1L).cast("double") /
            (col("nr") + nBuckets).cast("double"))) * 1e9)
          .cast("long").as("delta_e9"))
      big.where(col("source") =!= "src0")
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
        .join(broadcast(delta), "bucket")
        .groupBy("doc_id").agg(sum("c").as("n_bigrams"),
          sum(col("c") * col("delta_e9")).as("logw_e9"))
    }),


    // Gopher-style REPETITION rule suite (the companion to q196's format
    // rules; q103 covers only the distinct-word ratio): per document, the
    // occurrence share of the single most frequent bigram and the share
    // of 5-gram occurrences that are duplicated — with the published-
    // threshold verdicts (top 2-gram ≤ 20%, duplicate 5-grams ≤ 15%) as
    // integer cross-multiplications. Scale shape: two generator explodes
    // and (doc, gram) key shuffles — per-doc state never leaves its key.
    "q201_repetition_rules" -> ((s, d) => {
      // Per-doc gram-repetition stats computed ENTIRELY map-side (the
      // q83 sorted-runs trick, upgraded with gramHash62): sort each
      // doc's 62-bit gram hashes and count the runs — max run length =
      // top-gram count, occurrences in runs >1 = duplicated-gram mass.
      // No (doc, gram) rows ever exist, no explode shuffle, no per-gram
      // md5; the only exchange left is whatever reads the output. Both
      // steps are native kernels (gramHashes, sortedRunStats).
      val ht = col("ht")
      def runStats(k: Int) =
        TextFunctions.sortedRunStats(TextFunctions.gramHashes(ht, k))
      val n5 = greatest(size(ht) - 4, lit(0)).cast("long")
      tokenHashes(t(s, d, "documents"), 2)
        .select(col("doc_id"),
          (size(ht) - 1).cast("long").as("n_bigrams"),
          runStats(2).getField("mx").as("top_bigram_c"),
          n5.as("n_5grams"),
          // a doc of fewer than 5 tokens has no 5-gram and no singleton run
          (n5 - runStats(5).getField("sgl")).as("dup_5gram_occ"))
        .withColumn("top_bigram_frac_e6",
          expr("(top_bigram_c * 1000000) div n_bigrams"))
        .withColumn("dup_5gram_frac_e6",
          expr("CASE WHEN n_5grams > 0 THEN (dup_5gram_occ * 1000000) div n_5grams ELSE 0 END"))
        .withColumn("rule_top_bigram", col("top_bigram_c") * 5L <= col("n_bigrams"))
        .withColumn("rule_dup_5gram",
          col("dup_5gram_occ") * 20L <= col("n_5grams") * 3L)
        .withColumn("keep", col("rule_top_bigram") && col("rule_dup_5gram"))
    }),


    // Per-source Zipf fit — the corpus-health diagnostic (a natural
    // corpus has slope ≈ −1; template/boilerplate-heavy sources flatten
    // or steepen): OLS of ln(freq) on ln(rank) over each source's top-100
    // terms. The top-k cut runs through the TopKPerKey bounded-heap
    // operator (no per-source global sort); each term's ln products are
    // floored to integer units BEFORE the per-source sums (associative,
    // order-proof), and the closed-form slope/intercept are one pinned
    // double expression over the six integer sums. Sums stay < 2^53, so
    // the int→double conversion is exact in both engines.
    "q202_zipf_fit" -> ((s, d) => {
      val tc = t(s, d, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tk"))
        .groupBy("source", "tk").agg(count(lit(1)).as("c"))
      val top = graft.plans.TopKPerKey(
        tc, Seq("source"), Seq(desc("c"), asc("tk")), k = 100)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("c"), asc("tk"))
      val ranked = top.withColumn("r", row_number().over(w).cast("long"))
        .select(col("source"),
          floor(log(col("r").cast("double")) * 1e9).cast("long").as("x_e9"),
          floor(log(col("c").cast("double")) * 1e9).cast("long").as("y_e9"),
          floor(log(col("r").cast("double")) * log(col("c").cast("double")) * 1e12)
            .cast("long").as("xy_e12"),
          floor(log(col("r").cast("double")) * log(col("r").cast("double")) * 1e12)
            .cast("long").as("xx_e12"))
      val sums = ranked.groupBy("source").agg(
        count(lit(1)).as("n"), sum("x_e9").as("sx"), sum("y_e9").as("sy"),
        sum("xy_e12").as("sxy"), sum("xx_e12").as("sxx"))
      val slope = (col("n").cast("double") * (col("sxy").cast("double") / 1e12) -
        (col("sx").cast("double") / 1e9) * (col("sy").cast("double") / 1e9)) /
        (col("n").cast("double") * (col("sxx").cast("double") / 1e12) -
          (col("sx").cast("double") / 1e9) * (col("sx").cast("double") / 1e9))
      sums.select(col("source"), col("n").as("n_terms"),
        floor(slope * 1e6).cast("long").as("slope_e6"),
        floor(((col("sy").cast("double") / 1e9) / col("n").cast("double") -
          slope * (col("sx").cast("double") / 1e9) / col("n").cast("double")) * 1e6)
          .cast("long").as("intercept_e6"))
    }),


    // Language-ID confidence margin — the production companion of q52:
    // per-language stopword scores sorted, best vs runner-up, and a
    // low-confidence flag (margin < 2 or no signal) marking docs a real
    // pipeline routes to a heavier classifier. Map-side only; the score
    // sort is a 4-element in-row array sort.
    "q203_langid_margin" -> ((s, d) => {
      val hits = TextFunctions.langStopwords.map { case (_, ws) =>
        TextFunctions.stopwordHits(col("text"), ws).cast("long")
      }
      val sorted = sort_array(array(hits: _*), asc = false)
      t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.langId(col("text")).as("pred_lang"),
          element_at(sorted, 1).as("best"),
          element_at(sorted, 2).as("second"))
        .withColumn("margin", col("best") - col("second"))
        .withColumn("confident", col("best") > 0L && col("margin") >= 2L)
    }),


    // Stratified eval-set draw: per (lang, length-bucket) stratum take
    // the k=5 content-hash-smallest docs — a deterministic, reshard-
    // stable balanced evaluation sample (the q108/q105 hash-sampling
    // principle applied per stratum). The per-stratum cut runs through
    // the TopKPerKey bounded-heap operator — no per-stratum sort, no
    // global sort, scales to any stratum count.
    "q204_eval_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          expr("n_chars div 100").as("len_bucket"),
          TextFunctions.hash60(col("text")).as("h"))
      graft.plans.TopKPerKey(
          docs, Seq("lang", "len_bucket"), Seq(asc("h"), asc("doc_id")), k = 5)
        .select("doc_id", "lang", "len_bucket")
    }),


    // Hard-negative mining (contrastive-training data prep): for each
    // query vector, the top-5 most-similar embeddings with a DIFFERENT
    // label — the negatives that actually move a contrastive loss. Same
    // broadcast + per-query bounded window shape as q61; the label
    // inequality rides the broadcast join condition, and self is excluded
    // by its own label.
    "q205_hard_negatives" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id").isin(10L, 20L, 30L))
        .select(col("vec_id").as("query_id"), col("embedding").as("qemb"),
          col("label").as("qlabel"))
        .withColumn("qn", Similarity.norm2("qemb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
      e.withColumn("nrm", Similarity.norm2("embedding"))
        .crossJoin(broadcast(q))
        .where(col("label") =!= col("qlabel"))
        .withColumn("cos", Similarity.cosineWithNorms(
          Similarity.dot("embedding", "qemb"), col("nrm"), col("qn")))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select(col("query_id"), col("vec_id").as("neg_id"), col("rnk"),
          floor(col("cos") * 1e6).cast("long").as("cos_e6"))
    }),


    // Seedlist keyword tagging (the reference's pre-model baseline
    // classifier, `check_presence_seedlist_keyword.py:24-78`): flag docs
    // matching ANY seed pattern — gap regexes first, then plain n-gram
    // containment, exactly the reference's regex_match_string order.
    // Pure codegen column ops (RLIKE + Contains) — map-side only, no
    // shuffle, the shape that tags 100 TB at scan speed. Per-family hit
    // counts keep the flag auditable.
    "q210_seedlist_tag" -> ((s, d) => {
      val (rx, ng, flag) = seedlistCols
      t(s, d, "documents").select(col("doc_id"),
        rx.as("n_regex_hits"), ng.as("n_ngram_hits"),
        flag.as("seedlist_keyword"))
    }),


    // Regex-feature linear scorer (the reference's expansion step,
    // `lr_prediction.py:22-27`: presence features over the seedlist
    // patterns through K trained logistic models, predict_proba > 0.5).
    // Weights are a fixture dim (training is offline, F10 posture); see
    // operators/LinearScorer for the exact-integer threshold design.
    "q342_lr_expansion" -> ((s, d) => {
      import s.implicits._
      val models = lrModelRows.toDF("model_id", "w_e6", "b_e6")
      graft.operators.LinearScorer.score(t(s, d, "documents"), col("text"),
        seedRegexes, seedNgrams, models, col("doc_id"))
    }),


    // Stupid Backoff bigram LM scoring (Brants et al. 2007 — the
    // web-scale LM that drops normalization so every probe is a count
    // ratio): score the src0 slice against the LM trained on everything
    // else. Per distinct doc bigram (h1,h2): if the bigram is in the
    // train table, s_e6 = c12·1e6 div c1; else back off to the unigram,
    // s_e6 = 2·c2·1e6 div (5·N) (the canonical α=0.4 as the exact
    // fraction 2/5); unseen both ways scores 0. Doc score = occurrence-
    // weighted mean in e6 trunc division — every step integer, so the
    // oracle replays bit-for-bit (no ln, unlike q127: Stupid Backoff's
    // whole point is staying in ratio space). Tokens/bigrams are
    // gramHash62/token-hash keyed — no gram strings anywhere. Scale
    // shape: train tables are keyed aggregates of the train scan; the
    // probe joins per DISTINCT doc bigram (pre-aggregated with counts)
    // against the bigram and unigram tables — three keyed equi-joins,
    // nothing broadcast-unbounded, nothing quadratic.
    "q343_stupid_backoff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def toks(df: DataFrame) = tokenHashes(df, 1)
      val train = toks(docs.where(col("source") =!= "src0")).persist()
      val uni = train.select(explode(col("ht")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
      val nTot = train.select(explode(col("ht")).as("h"))
        .agg(count(lit(1)).as("n_tot"))
      val biTrain = train
        .where(size(col("ht")) >= 2)
        .select(explode(TextFunctions.gramHashes(col("ht"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c12"))
      val probe = toks(docs.where(col("source") === "src0"))
        .where(size(col("ht")) >= 2)
        .select(col("doc_id"), posexplode(TextFunctions.gramHashes(col("ht"), 2))
          .as(Seq("i0", "g")), col("ht"))
        .select(col("doc_id"), col("g"), element_at(col("ht"), col("i0") + 1).as("h1"),
          element_at(col("ht"), col("i0") + 2).as("h2"))
        .groupBy("doc_id", "g", "h1", "h2").agg(count(lit(1)).as("occ"))
      probe
        .join(biTrain, Seq("g"), "left")
        .join(uni.select(col("h").as("h1"), col("c").as("c1")), Seq("h1"), "left")
        .join(uni.select(col("h").as("h2"), col("c").as("c2")), Seq("h2"), "left")
        .crossJoin(broadcast(nTot))
        .withColumn("s_e6", expr("""CASE
          WHEN c12 IS NOT NULL AND c1 IS NOT NULL THEN (c12 * 1000000) div c1
          WHEN c2 IS NOT NULL THEN (2 * c2 * 1000000) div (5 * n_tot)
          ELSE CAST(0 AS BIGINT) END"""))
        .groupBy("doc_id")
        .agg(sum("occ").as("n_bigrams"),
          expr("sum(occ * s_e6) div sum(occ)").as("score_e6"))
    }),


    // fastText-style hashed bag-of-tokens classifier (Joulin et al.
    // 2016): each token hashes into one of 256 feature buckets, a doc's
    // feature vector is its bucket counts, and 3 linear class scores
    // pick an argmax label. Weights are a DETERMINISTIC FORMULA dim
    // (training offline, F10/q342 posture): w_e6(cls, b) =
    // ((cls·1000003 + b·7919) mod 2001 − 1000)·1000 — replayed
    // symbolically by the oracle, no literal table to drift. All
    // arithmetic integer; argmax ties break to the lowest class id via
    // max_by on the (score, -cls) struct. Scale shape: one map-side
    // explode + (doc, bucket) count agg, a broadcast 768-row weight
    // dim, one keyed re-aggregation per doc — the linear-classifier
    // fan-out pattern that tags a corpus at scan speed.
    "q344_hashed_bag_score" -> ((s, d) => {
      val x = tokenHashes(t(s, d, "documents"), 1)
        .select(col("doc_id"), explode(expr("transform(ht, h -> h % 256)"))
          .as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("x"))
      val wts = s.range(0, 3).select(col("id").as("cls"))
        .crossJoin(s.range(0, 256).select(col("id").as("b")))
        .select(col("cls"), col("b"),
          expr("((cls * 1000003 + b * 7919) % 2001 - 1000) * 1000").as("w_e6"))
      x.join(broadcast(wts), "b")
        .groupBy("doc_id", "cls").agg(sum(expr("x * w_e6")).as("score_e6"))
        .groupBy("doc_id")
        .agg(expr("max_by(cls, named_struct('s', score_e6, 'c', -cls))")
          .as("best_cls"),
          max("score_e6").as("best_score_e6"))
    }),


    // Temperature-scaled multilingual mixture (the mT5 / UniMax
    // sampling-rate shape, Xue et al. 2021 §3.1 with τ=2): language
    // sampling weight ∝ c_l^(1/2). floor(sqrt(c)) is exact in both
    // engines (sqrt IS correctly rounded; the floor lands on an
    // integer), so shares and the token-budget allocation are pure
    // integer trunc divisions; the UniMax-style cap alloc ≤ c_l (never
    // oversample past one epoch) is a single least() — the one-round
    // form, no iterative redistribution (documented divergence: UniMax
    // proper redistributes the capped surplus; at these shares the
    // fixed point is reached in one round). Scale shape: one token-count
    // groupBy by lang, then arithmetic on a #langs-row frame with a
    // 1-row broadcast total.
    "q345_temperature_mix" -> ((s, d) => {
      val counts = t(s, d, "documents")
        .select(col("lang"), size(TextFunctions.tokens(col("text")))
          .cast("long").as("n"))
        .groupBy("lang").agg(sum("n").as("c"))
        .withColumn("s", floor(sqrt(col("c").cast("double"))).cast("long"))
      val tot = counts.agg(sum("s").as("st"), sum("c").as("ct"))
      counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("c"), col("s"),
          expr("(c * 1000000) div ct").as("p_e6"),
          expr("(s * 1000000) div st").as("q_e6"),
          least(expr("(50000 * s) div st"), col("c")).as("alloc_tokens"))
    }),


    // Mergeable quantile sketch (MRL compactors — see QuantileSketchAgg):
    // per-returnflag price deciles as a partial→merge→final aggregate,
    // the way a 100 TB percentile runs without q14's exact
    // percentile_approx state or a full sort. Like the q115/q209 MG
    // pattern, the ESTIMATES are merge-order-dependent, so the output
    // asserts the sketch's deterministic guarantee instead: each decile
    // estimate's EXACT rank (one extra indicator pass against the tiny
    // broadcast estimate frame) must sit within the MRL band
    // 2·L·n/(k−1) + k of its target rank — theorem-true for any merge
    // tree, so the oracle replays the verdicts as literal TRUE, and any
    // sketch regression flips a hash-checked cell.
    "q346_quantile_sketch" -> ((s, d) => {
      val kCap = 1024
      val li = t(s, d, "lineitem").select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") * 100).cast("long").as("v"))
        .persist() // sketch pass + exact-rank pass
      val sk = li.groupBy("flag").agg(
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.QuantileSketchAgg(
            org.apache.spark.sql.GraftSqlBridge.expression(col("v")), kCap)
            .toAggregateExpression()).as("ests"),
        count(lit(1)).as("n"))
      val est = sk.select(col("flag"), col("n"),
          posexplode(col("ests")).as(Seq("d0", "est")))
        .select(col("flag"), col("n"), (col("d0") + 1).cast("long").as("d"),
          col("est"))
      li.join(broadcast(est), "flag")
        .groupBy("flag", "d", "n", "est")
        .agg(sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("rnk"))
        .select(col("flag"), col("d"), col("n"),
          expr(s"""abs(rnk - greatest(1L, (d * n) div 10)) <=
            (2 * (cast(ceil(log2(cast(2 * n as double) / $kCap)) as bigint) + 2)
              * n) div ${kCap - 1} + $kCap""").as("in_band"))
    }),


    // Keyword-based recall along the rank cut (the reference's
    // model-evaluation step, `recall/estimate_recall.py:64-77`: rank by
    // model score, cut at top-k, report the share of seedlist-positive
    // docs captured). The model score is a deterministic stand-in (hits
    // of the positive tonal list — BERT inference itself is out of
    // engine scope, SURVEY §2.10 F10). Rank assignment uses the scalable
    // globalRank (range-partitioned sort + zipWithIndex, q91's pattern);
    // the k grid and the positives total ride 1-row/4-row broadcasts.
    "q211_keyword_recall" -> ((s, d) => {
      import s.implicits._
      val (_, _, flag) = seedlistCols
      val docs = t(s, d, "documents").select(col("doc_id"),
        flag.as("pos"),
        TextFunctions.stopwordHits(col("text"), posWords).cast("long")
          .as("score"))
        .persist()
      val ranked = graft.operators.Ranking.globalRank(
        docs, "rnk", desc("score"), asc("doc_id"))
      val ks = Seq(10L, 50L, 100L, 250L).toDF("topk")
      val tot = docs.agg(sum("pos").as("n_positives"))
      ranked.crossJoin(broadcast(ks)).where(col("rnk") <= col("topk"))
        .groupBy("topk").agg(sum("pos").as("n_captured"))
        .crossJoin(broadcast(tot))
        .select(col("topk"), col("n_captured"), col("n_positives"),
          expr("n_captured * 1000000 div n_positives").as("recall_e6"))
    }),


    // SemDeDup — semantic (embedding-space) near-duplicate pruning in the
    // published shape (Abbas et al. 2023, arXiv:2303.09540): k-means the
    // embeddings, compute pairwise cosine ONLY within each cluster, and
    // among semantic duplicates (cos >= tau) keep the example LEAST
    // similar to its centroid (the paper's keep-low-prototypicality
    // rule; ties by id). One centroid step seeded from labels + integer
    // argmin assignment reuse q145's exact-integer k-means machinery, so
    // every similarity is a deterministic integer micro-unit. Scale
    // shape: the quadratic is confined to clusters (at corpus scale k
    // grows so cluster size stays bounded — the paper's own trick);
    // centroids ride a broadcast; the pair join shuffles on cluster id
    // only. The engine's lexical complement is q59/q76 MinHash dedup.
    "q212_semdedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val TauE6 = 250000L
      def idot(a: String, b: String) = expr(
        s"aggregate(zip_with($a, $b, (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)")
      val ve = t(s, d, "embeddings").select(col("vec_id"),
        expr("""transform(embedding,
                  v -> cast(floor(cast(v as double) * 1000000.0) as bigint))""")
          .as("ve"),
        col("label").cast("long").as("c"))
      val cents = ve.select(col("c"), posexplode(col("ve")).as(Seq("dim", "v")))
        .groupBy("c", "dim").agg(expr("sum(v) div count(1)").as("cv"))
        .groupBy("c")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
          x => x.getField("cv")).as("ce"))
      val assigned = ve.drop("c").crossJoin(broadcast(cents))
        .withColumn("dist", expr(
          """aggregate(zip_with(ve, ce, (a, b) -> (a - b) * (a - b)),
             cast(0 as bigint), (acc, x) -> acc + x)"""))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("c"))))
        .where(col("rn") === 1)
        .withColumn("n2", idot("ve", "ve"))
        .withColumn("centsim_e6", floor(idot("ve", "ce").cast("double")
          / (sqrt(col("n2").cast("double"))
            * sqrt(idot("ce", "ce").cast("double"))) * 1e6).cast("long"))
        .select(col("vec_id"), col("ve"), col("c"), col("n2"), col("centsim_e6"))
        .persist()
      val x = assigned.select(col("c"), col("vec_id").as("id_x"),
        col("ve").as("ve_x"), col("n2").as("n2_x"), col("centsim_e6").as("cs_x"))
      val y = assigned.select(col("c"), col("vec_id").as("id_y"),
        col("ve").as("ve_y"), col("n2").as("n2_y"), col("centsim_e6").as("cs_y"))
      val dropped = x.join(y, Seq("c")).where(col("id_x") =!= col("id_y"))
        .withColumn("cos_e6", floor(idot("ve_x", "ve_y").cast("double")
          / (sqrt(col("n2_x").cast("double")) * sqrt(col("n2_y").cast("double")))
          * 1e6).cast("long"))
        .where(col("cos_e6") >= TauE6)
        .where(col("cs_y") < col("cs_x") ||
          (col("cs_y") === col("cs_x") && col("id_y") < col("id_x")))
        .select(col("id_x").as("vec_id")).distinct()
        .withColumn("drp", lit(1L))
      assigned.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("c"), col("centsim_e6"),
          (lit(1L) - coalesce(col("drp"), lit(0L))).as("keep"))
    }),


    // Weighted sampling WITHOUT replacement, one distributed pass — the
    // Efraimidis-Spirakis exponential-race (key = ln(u)/w, take the k
    // largest per stratum), with the uniform u derived from the content
    // hash so the draw is deterministic and reshard-stable (the same
    // principle as q79/q204's hash sampling, now with WEIGHTS — the
    // mixture-sampling primitive that consumes q197's DSIR importance
    // weights; here w = n_chars, length-proportional). The per-source
    // cut runs through the TopKPerKey bounded heap: no per-stratum sort,
    // no global sort, fixed memory per key — the shape that draws a
    // weighted sample from 100 TB in one pass. Keys are floored to e9
    // integers BEFORE ordering so both engines rank identical values.
    "q215_weighted_draw" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        floor(
          log((TextFunctions.hash60(col("text")) % 1000000L + 1L)
            .cast("double") / lit(1000001.0d))
            / col("n_chars").cast("double") * 1e9)
          .cast("long").as("key_e9"))
      graft.plans.TopKPerKey(
          docs, Seq("source"), Seq(desc("key_e9"), asc("doc_id")), k = 10)
        .select("source", "doc_id", "key_e9")
    }),


    // Vocabulary coverage / OOV rate per source: the top-V-term
    // vocabulary (q150's build, cut with TakeOrderedAndProject — a
    // bounded limit, not a global sort; V=20 against this corpus's
    // 31-term vocabulary so the OOV tail is non-trivial) broadcast
    // against the token stream; per source, the share of token
    // occurrences outside the vocabulary. The tokenizer-health metric a training pipeline
    // tracks per corpus slice before committing to a vocab size.
    "q216_oov_rate" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tk"))
        .persist()
      val vocab = tok.groupBy("tk").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("tk")).limit(20)
        .select(col("tk"), lit(1L).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("tk"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          expr("n_oov * 1000000 div n_tokens").as("oov_e6"))
    }),


    // Jaro-Winkler best-match linkage: per customer, the highest-JW
    // partner within a blocking bucket — the prefix-favoring complement
    // of q163's levenshtein linkage, scored by the engine's native
    // codegen graft_jaro_winkler (byte-level, bit-identical to DuckDB's
    // builtin, so floored e6 scores hash-compare). Blocking bounds the
    // quadratic (fixed bucket width -> pair count linear in customers);
    // the per-id argmax runs through the TopKPerKey bounded heap; ranks
    // compare FLOORED integer scores so both engines order identically.
    "q217_jw_linkage" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          expr("c_custkey div 100").as("bkt"))
      val a = c.toDF("id1", "name1", "bkt")
      val b = c.toDF("id2", "name2", "bkt")
      val pairs = a.join(b, Seq("bkt")).where(col("id1") =!= col("id2"))
        .select(col("id1"), col("id2"),
          floor(TextFunctions.jaroWinkler(col("name1"), col("name2")) * 1e6)
            .cast("long").as("jw_e6"))
      graft.plans.TopKPerKey(
          pairs, Seq("id1"), Seq(desc("jw_e6"), asc("id2")), k = 1)
        .select("id1", "id2", "jw_e6")
    }),


    // Composed entity resolution (EntityResolution.resolve): q273's
    // blocking → q217's Jaro-Winkler scoring at a 0.98 threshold →
    // one-pass per-block union-find (bucketedComponents — matches are
    // block-confined by construction) → canonical entity per
    // record with entity sizes. Hash-checked end to end against a
    // recursive-CTE transitive closure — the record-linkage counterpart
    // of the curation/GPS/mixture compositions.
    "q299_entity_resolution" -> ((s, d) => {
      graft.operators.EntityResolution.resolve(
        t(s, d, "customer").select(col("c_custkey"), col("c_name"),
          expr("c_custkey div 100").as("bkt")),
        "c_custkey", "c_name", "bkt", 980000L)
    }),


    // Label-noise screening (the confident-learning intuition, integer
    // form): assign every embedding to its nearest LABEL-MEAN centroid
    // by exact integer L2 on micro-unit vectors; a vector whose nearest
    // centroid is another label's is a noise suspect. Per label: count,
    // disagreements, noise rate in e6 — the triage list an annotation
    // team re-reviews. k-way broadcast argmin, linear in vectors (the
    // q145/q82 machinery), every intermediate merge-order-proof.
    "q274_label_noise" -> ((s, d) => {
      val ve = t(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"), expr(
          """transform(embedding,
               v -> cast(floor(cast(v as double) * 1000000.0) as bigint))""")
          .as("ve"))
      val cents = ve.select(col("label").as("c"),
          posexplode(col("ve")).as(Seq("dim", "v")))
        .groupBy("c", "dim").agg(expr("sum(v) div count(1)").as("cv"))
        .groupBy("c")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
          x => x.getField("cv")).as("ce"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("dist"), col("c"))
      ve.crossJoin(broadcast(cents))
        .withColumn("dist", expr(
          """aggregate(zip_with(ve, ce, (a, b2) -> (a - b2) * (a - b2)),
             cast(0 as bigint), (acc, x) -> acc + x)"""))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .groupBy("label").agg(count(lit(1)).as("n"),
          sum(when(col("c") =!= col("label"), 1L).otherwise(0L))
            .as("n_disagree"))
        .withColumn("noise_e6", expr("(n_disagree * 1000000) div n"))
    }),


    // Blocking-quality report for the q217 linkage blocking — the two
    // numbers every record-linkage design doc must publish (Christen
    // 2012): REDUCTION RATIO (how much of the quadratic pair space the
    // blocking prunes; from bucket sizes, no pair materialization) and
    // PAIR COMPLETENESS (what fraction of true ed<=1 matches the
    // blocking keeps; truth from the Ed-Join prefix filter, q136's
    // machinery). Exact integers and two e6 divisions.
    "q273_blocking_quality" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          expr("c_custkey div 100").as("bkt"))
      val nTotal = c.agg(count(lit(1)).as("n"))
        .select(expr("n * (n - 1) div 2").as("n_all_pairs"))
      val nBlocked = c.groupBy("bkt").agg(count(lit(1)).as("sz"))
        .agg(sum(expr("sz * (sz - 1) div 2")).as("n_blocked_pairs"))
      val truth = graft.operators.FuzzyJoin.selfJoin(
          t(s, d, "customer"), "c_custkey", "c_name", k = 1)
        .select(col("id1"), col("id2")).persist()
      val truthStats = truth.agg(count(lit(1)).as("n_true"),
        sum(when(expr("id1 div 100") === expr("id2 div 100"), 1L)
          .otherwise(0L)).as("n_true_blocked"))
      nTotal.crossJoin(broadcast(nBlocked)).crossJoin(broadcast(truthStats))
        .select(col("n_all_pairs"), col("n_blocked_pairs"),
          col("n_true"), col("n_true_blocked"),
          expr("((n_all_pairs - n_blocked_pairs) * 1000000) div n_all_pairs")
            .as("reduction_ratio_e6"),
          expr("(n_true_blocked * 1000000) div n_true")
            .as("pair_completeness_e6"))
    }),


    // Corpus datasheet per source — the "datasheets for datasets"
    // summary a curator publishes with a release: volume (docs, tokens,
    // mean length), language mix, quality-keep rate, and exact-dup rate,
    // every rate in integer micro-units. One persisted doc-level pass
    // feeds two aggregates (per-source core stats; fingerprint dup
    // groups) joined on source — the whole report costs two key-shuffles
    // regardless of corpus size. Composes the q53 keep verdict and the
    // q55/q56 fingerprint.
    "q220_datasheet" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_toks"),
          TextFunctions.qualityScore(col("text")).getField("keep").as("keep"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .persist()
      val core = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum("n_chars").as("sum_chars"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      val dups = docs.groupBy("source", "fp").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"))
      core.join(dups, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("sum_chars * 100 div n_docs").as("mean_chars_e2"),
          expr("n_en * 1000000 div n_docs").as("en_e6"),
          expr("n_keep * 1000000 div n_docs").as("keep_e6"),
          expr("n_dup_docs * 1000000 div n_docs").as("dup_e6"))
    }),


    // Class-balanced downsampling: equalize label counts to the MINORITY
    // class size by keeping each label's hash-order-smallest rows — the
    // deterministic, reshard-stable undersampling a classifier-training
    // prep runs (same hash-draw principle as q79/q204, with the cut size
    // DERIVED from the data: min class count rides a 1-row broadcast).
    // Scale shape: k is dynamic (min class count), so the TopKPerKey
    // literal-k heap doesn't apply and a per-label row_number window
    // would rank ALL embeddings in #labels tasks; the keyed PrefixScan
    // assigns the per-label hash ranks on range partitions instead —
    // and at 100 TB k itself is data-sized, which would overflow a
    // bounded per-key heap anyway. Output proves balance: every label
    // contributes exactly min-class-count rows.
    "q222_class_balance" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"),
        col("label").cast("long").as("label"),
        TextFunctions.hash60(col("vec_id").cast("string")).as("h"))
      val mn = e.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(min("n").as("k"))
      val ranked = graft.operators.PrefixScan.scanLongKeyed(e, Seq("label"),
        Seq(graft.operators.PrefixScan.KeyedScanCol("rnk", "", "count")),
        asc("h"), asc("vec_id"))
      ranked.crossJoin(broadcast(mn))
        .where(col("rnk") <= col("k"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("vec_id")).as("id_sum"))
    }),


    // Contrastive triplet mining: per anchor, the most-similar SAME-label
    // embedding (positive) and the most-similar DIFFERENT-label one (the
    // q205 hard negative), with the triplet margin — the training-pair
    // construction a metric-learning / embedding-finetune pipeline feeds
    // on. One broadcast of the anchors, one scan of the corpus, both
    // argmaxes through per-anchor bounded windows on FLOORED integer
    // scores (both engines rank identical values); margin < 0 flags the
    // triplets that actually carry gradient.
    "q223_triplets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id").isin(10L, 20L, 30L))
        .select(col("vec_id").as("anchor_id"), col("embedding").as("qemb"),
          col("label").as("qlabel"))
        .withColumn("qn", Similarity.norm2("qemb"))
      val scored = e.withColumn("nrm", Similarity.norm2("embedding"))
        .crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("anchor_id"))
        .withColumn("cos_e6", floor(Similarity.cosineWithNorms(
          Similarity.dot("embedding", "qemb"), col("nrm"), col("qn")) * 1e6)
          .cast("long"))
        .withColumn("same", col("label") === col("qlabel"))
        .persist()
      def top(sameLabel: Boolean, idName: String, cosName: String) = {
        val w = Window.partitionBy("anchor_id")
          .orderBy(desc("cos_e6"), asc("vec_id"))
        scored.where(col("same") === sameLabel)
          .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("anchor_id"), col("vec_id").as(idName),
            col("cos_e6").as(cosName))
      }
      top(sameLabel = true, "pos_id", "pos_cos_e6")
        .join(top(sameLabel = false, "neg_id", "neg_cos_e6"), Seq("anchor_id"))
        .withColumn("margin_e6", col("pos_cos_e6") - col("neg_cos_e6"))
    }),


    // Asymmetric containment over the LSH candidate pairs: |A∩B| / |A|
    // and / |B| on distinct shingle sets — the quote-expansion /
    // subset-document case symmetric Jaccard (q58/q195) under-scores: a
    // doc fully contained in a longer one has low Jaccard but
    // containment 1.0. Candidates come from the banded LSH buckets (the
    // q59 path), so the pair set is bounded; sets join in by doc id.
    "q224_containment" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 300)
      val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      val p = Dedup.MinHashParams()
      val sh = docs
        .where(size(TextFunctions.tokens(col("text"))) >= p.shingleSize)
        .select(col("doc_id"),
          array_distinct(Dedup.shingles(col("text"), p.shingleSize)).as("shs"))
      pairs
        .join(sh.select(col("doc_id").as("id1"), col("shs").as("sa")), Seq("id1"))
        .join(sh.select(col("doc_id").as("id2"), col("shs").as("sb")), Seq("id2"))
        .select(col("id1"), col("id2"),
          size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
          size(col("sa")).cast("long").as("na"),
          size(col("sb")).cast("long").as("nb"))
        .withColumn("cont_a_e6", expr("inter * 1000000 div na"))
        .withColumn("cont_b_e6", expr("inter * 1000000 div nb"))
        .withColumn("contained",
          greatest(col("cont_a_e6"), col("cont_b_e6")) >= 800000L)
    }),


    // Community detection by synchronous label propagation over the LSH
    // candidate-pair graph, 3 rounds, fully deterministic: each node
    // adopts the most frequent neighbor label, ties broken by the
    // SMALLEST label (the raw LPA coin-flip would never oracle-check).
    // Complements the graph family (q121 triangles, q132 PageRank, q171
    // k-core, q76's connected components): LPA finds majority
    // communities, not mere reachability. Per round: one key-join + one
    // keyed count + a per-node argmax window; generation cut between
    // rounds (the q132/q145 lesson). Output is per-node, so a single
    // flipped label reddens the row.
    "q225_label_prop" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.lshCandidatePairs(
        t(s, d, "documents").where(col("doc_id") < 300), "doc_id", "text")
      val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
        .unionAll(pairs.select(col("id2").as("a"), col("id1").as("b")))
        .persist()
      var lab = edges.select(col("a").as("id")).distinct()
        .withColumn("lb", col("id"))
      val rounds = 3
      for (rnd <- 1 to rounds) {
        val nb = edges
          .join(lab.select(col("id").as("b"), col("lb").as("nlb")), Seq("b"))
          .groupBy("a", "nlb").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("a").orderBy(desc("c"), asc("nlb"))
        val next = nb.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("a").as("id"), col("nlb").as("lb"))
        // lazy final round (the q324 rule): the last generation's only
        // consumer is the final select, which runs once
        lab = if (rnd < rounds) next.localCheckpoint(true) else next
      }
      lab.select(col("id").as("doc_id"), col("lb").as("community"))
    }),


    // Join-key skew diagnostics: the measurement that decides whether a
    // key needs q100's salting BEFORE the job falls over — per-key
    // fan-in on the fact side, bucketed into log2 bands (how bad is the
    // tail), plus the top-5 heaviest keys with their share of all rows
    // in e6 micro-units. Two keyed aggregates and a TakeOrdered cut;
    // runs on the orders fact keyed by customer.
    "q226_skew_diagnostics" -> ((s, d) => {
      val counts = t(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("c")).persist()
      val tot = counts.agg(sum("c").as("n_rows"))
      val bands = counts
        // length(bin(c)) - 1 == floor(log2 c) in EXACT integer arithmetic —
        // float log2 can land a hair under an integer at powers of two and
        // floor differently per engine
        .select(expr("cast(length(bin(c)) - 1 as bigint)").as("log2_band"))
        .groupBy("log2_band").agg(count(lit(1)).as("n_keys"))
        .select(lit("band").as("kind"), col("log2_band").as("k"),
          col("n_keys").as("v"))
      val top = counts.orderBy(desc("c"), asc("o_custkey")).limit(5)
        .crossJoin(broadcast(tot))
        .select(lit("top_key").as("kind"), col("o_custkey").as("k"),
          expr("c * 1000000 div n_rows").as("v"))
      bands.unionByName(top)
    }),


    // Embedding sparsification: keep the top-m absolute-value dims per
    // vector as (idx, value) pairs — the memory-reduction step before an
    // inverted-index / sparse-ANN build (8 of 64 dims ≈ 8× smaller
    // candidates). Map-side only: an in-row struct sort (|v| desc, idx
    // asc on floored integers) and a slice; the retained-energy fraction
    // says what the cut cost. Sparse pairs are fingerprinted (md5 of the
    // ordered idx:val list) for the cross-engine compare — the q145
    // list-fingerprint trick.
    "q228_sparsify" -> ((s, d) => {
      val m = 8
      t(s, d, "embeddings").select(col("vec_id"),
        expr(s"""slice(array_sort(
            zip_with(embedding, sequence(0, ${Similarity.Dim - 1}),
              (v, i) -> struct(
                cast(floor(abs(cast(v as double)) * 1000000.0) as bigint) as a,
                i as idx,
                cast(floor(cast(v as double) * 1000000.0) as bigint) as ve6)),
            (x, y) -> case when x.a > y.a then -1 when x.a < y.a then 1
                           when x.idx < y.idx then -1 else 1 end),
          1, $m)""").as("top"),
        expr(s"""aggregate(
            transform(embedding,
              v -> cast(floor(abs(cast(v as double)) * 1000000.0) as bigint)),
            cast(0 as bigint), (acc, x) -> acc + x * x)""").as("total_en"))
        .select(col("vec_id"),
          md5(concat_ws(",", expr(
            "transform(top, t -> concat(cast(t.idx as string), ':', cast(t.ve6 as string)))")))
            .as("sparse_fp"),
          expr("aggregate(transform(top, t -> t.a * t.a), cast(0 as bigint), (acc, x) -> acc + x)")
            .as("kept_en"),
          col("total_en"))
        .select(col("vec_id"), col("sparse_fp"),
          expr("kept_en * 1000 div (total_en div 1000)").as("kept_energy_e6"))
    }),


    // Cross-source duplication matrix — which sources carry the same
    // content (syndication / mirror forensics, the provenance question
    // q220's within-source dup rate can't answer). The fingerprint is
    // the BAG-OF-WORDS canonicalization (sorted distinct tokens) — the
    // order-insensitive tier between q55's exact normalization and
    // q58's Jaccard, catching reorder-paraphrase syndication. Distinct
    // (source, fp) pairs self-join on the fingerprint (keyed shuffle);
    // with S sources the output is at most S², never corpus-sized.
    "q229_source_overlap" -> ((s, d) => {
      val bow = md5(array_join(
        array_sort(array_distinct(TextFunctions.tokens(col("text")))), " "))
      val fps = t(s, d, "documents")
        .select(col("source"), bow.as("fp"))
        .distinct().persist()
      fps.select(col("source").as("src_a"), col("fp"))
        .join(fps.select(col("source").as("src_b"), col("fp")), Seq("fp"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared_fps"))
    }),


    // Inter-event burstiness per user: coefficient of variation of
    // inter-arrival gaps — CV ≈ 1 is Poisson, ≫ 1 is bursty, the
    // behavioral statistic bot-detection and capacity models start
    // from. Gaps via a per-user lag window (keyed); mean and variance
    // from exact integer sums with one pinned double tail (the q146
    // OLS recipe); gaps are truncated to whole SECONDS before squaring —
    // µs² of a month-long gap overflows int64, seconds² never does at
    // this horizon; users need ≥ 3 events for a defined variance.
    "q230_burstiness" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("tm"), col("event_id"))
      val gaps = t(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tm"))
        .withColumn("prev", lag("tm", 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("user_id"), expr("(tm - prev) div 1000000").as("g"))
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), sum("g").as("sg"),
          sum(expr("g * g")).as("sgg"))
        .where(col("n_gaps") >= 2 && col("sg") > 0)
        .select(col("user_id"), col("n_gaps"),
          expr("sg div n_gaps").as("mean_gap_s"),
          floor(
            sqrt((col("sgg").cast("double") * col("n_gaps").cast("double")
              - col("sg").cast("double") * col("sg").cast("double"))
              / (col("n_gaps").cast("double") * col("n_gaps").cast("double")))
            / (col("sg").cast("double") / col("n_gaps").cast("double")) * 1e6)
            .cast("long").as("cv_e6"))
    }),


    // Equi-width histogram of a continuous column per group — the
    // profiling readout q170's summary stats don't give (shape, not
    // just moments). Global [min, max] rides a 1-row broadcast; bin
    // assignment is exact integer arithmetic on micro-unit values
    // ((v - mn) * B div (mx - mn + 1), so the max lands in the last
    // bin); counts roll up map-side. One scan + one keyed aggregate at
    // any scale.
    "q231_histogram" -> ((s, d) => {
      val B = 20L
      val ev = t(s, d, "events").select(col("event_type"),
        floor(col("value") * 1e6).cast("long").as("v_e6"))
      val bounds = ev.agg(min("v_e6").as("mn"), max("v_e6").as("mx"))
      ev.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          expr(s"(v_e6 - mn) * $B div (mx - mn + 1)").as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
    }),


    // Exact weighted median per group (the reference's
    // population-weighted wealth percentile generalized — W7's cumsum
    // applied to weights): within each part-brand, the retail price at
    // which the cumulative SIZE-weight first reaches half the group
    // total — lower weighted median, deterministic. One keyed window
    // cumsum + a per-group total join + an argmin by the crossing
    // point; nothing global.
    "q232_weighted_median" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = t(s, d, "part").select(col("p_brand"),
        floor(col("p_retailprice") * 100).cast("long").as("price_c"),
        col("p_size").cast("long").as("w"), col("p_partkey"))
      val w = Window.partitionBy("p_brand")
        .orderBy(col("price_c"), col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = p.withColumn("cw", sum("w").over(w))
      val tot = p.groupBy("p_brand").agg(sum("w").as("tw"))
      val w2 = Window.partitionBy("p_brand").orderBy(col("cw"), col("p_partkey"))
      cum.join(tot, Seq("p_brand"))
        .where(col("cw") * 2L >= col("tw"))
        .withColumn("rn", row_number().over(w2)).where(col("rn") === 1)
        .select(col("p_brand"), col("price_c").as("wmedian_c"), col("tw"))
    }),


    // A/B lift with CUPED variance reduction — the experimentation-
    // platform adjustment (Deng et al. 2013): per user, pre-period and
    // post-period value sums; theta = cov(pre, post) / var(pre) from
    // exact integer micro-unit sums (the q146 one-pass recipe, one
    // pinned double tail); adjusted post = post - theta * (pre -
    // mean_pre); report per-variant adjusted means and the lift.
    // Variant assignment is the deterministic user-id parity; the
    // moment row is a 1-row broadcast. Two keyed aggregates + map-side
    // arithmetic at any scale.
    "q233_cuped" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 1e6).cast("long").as("v_e6"))
      val span = ev.agg(min("day").as("d0"))
      val per = ev.crossJoin(broadcast(span))
        .select(col("user_id"),
          when(col("day") < col("d0") + 15L, col("v_e6")).otherwise(0L).as("pre"),
          when(col("day") >= col("d0") + 15L, col("v_e6")).otherwise(0L).as("post"))
        .groupBy("user_id")
        .agg(sum("pre").as("pre"), sum("post").as("post"))
        .withColumn("variant", col("user_id") % 2L)
        .persist()
      val m = per.agg(count(lit(1)).as("n"), sum("pre").as("sx"),
        sum("post").as("sy"), sum(expr("pre div 1000 * (pre div 1000)")).as("sxx"),
        sum(expr("pre div 1000 * (post div 1000)")).as("sxy"))
      val theta = (col("sxy").cast("double") * col("n").cast("double")
        - (col("sx").cast("double") / 1e3) * (col("sy").cast("double") / 1e3))
        ./(col("sxx").cast("double") * col("n").cast("double")
          - (col("sx").cast("double") / 1e3) * (col("sx").cast("double") / 1e3))
      per.crossJoin(broadcast(m))
        .withColumn("adj_e6", col("post").cast("double") -
          theta * (col("pre").cast("double") -
            col("sx").cast("double") / col("n").cast("double")))
        .groupBy("variant")
        .agg(count(lit(1)).as("n_users"),
          floor(avg(floor(col("adj_e6")).cast("long").cast("double")))
            .cast("long").as("adj_mean_e6"))
    }),


    // Sample-ratio mismatch check — the FIRST gate of any A/B readout
    // (a biased assignment invalidates everything downstream): chi2 of
    // observed variant user counts against the 50/50 design, in exact
    // micro-units ((o-e)² with e = n/2 cross-multiplied to avoid the
    // fraction), flagged at the conventional chi2 > 3.84 (alpha 0.05,
    // 1 df) via integer cross-multiplication. One distinct + one
    // 2-group aggregate.
    "q234_srm_check" -> ((s, d) => {
      // hash-based assignment (how real platforms bucket): organically
      // NEAR 50/50, so the chi2 is non-zero and the flag has a real
      // decision to make (id-parity would be exactly balanced -> chi2 0)
      val users = t(s, d, "events").select(col("user_id")).distinct()
        .withColumn("variant",
          TextFunctions.hash60(col("user_id").cast("string")) % 2L)
      val counts = users.groupBy("variant").agg(count(lit(1)).as("o"))
      val tot = counts.agg(sum("o").as("n"))
      // chi2 = sum (o - n/2)^2 / (n/2) = sum (2o - n)^2 / (2n)
      counts.crossJoin(broadcast(tot))
        .select(col("variant"), col("o"), col("n"),
          expr("(2 * o - n) * (2 * o - n)").as("dev2"))
        .groupBy()
        .agg(any_value(col("n")).as("n_users"),
          sum("dev2").as("sum_dev2"))
        .select(col("n_users"),
          expr("sum_dev2 * 1000000 div (2 * n_users)").as("chi2_e6"),
          // srm iff chi2 > 3.84  <=>  sum_dev2 * 100 > 384 * 2 * n
          expr("cast(sum_dev2 * 100 > 384 * 2 * n_users as bigint)")
            .as("srm_flag"))
    }),


    // Difference-in-differences — the 2x2 causal readout (treat/control
    // x pre/post): DID = (T_post - T_pre) - (C_post - C_pre) on
    // per-cell mean outcomes in exact micro-units (sums and counts
    // exact; each mean one trunc div; the DID one integer subtraction
    // chain). Same deterministic id-parity assignment and day split as
    // q233; one keyed aggregate over (variant, period).
    "q235_did" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 1e6).cast("long").as("v_e6"))
      val span = ev.agg(min("day").as("d0"))
      val cells = ev.crossJoin(broadcast(span))
        .select((col("user_id") % 2L).as("variant"),
          (col("day") >= col("d0") + 15L).cast("long").as("post"),
          col("v_e6"))
        .groupBy("variant", "post")
        .agg(sum("v_e6").as("sv"), count(lit(1)).as("n"))
        .select(col("variant"), col("post"),
          expr("sv div n").as("mean_e6"))
      val wide = cells.groupBy()
        .agg(sum(when(col("variant") === 1L && col("post") === 1L,
            col("mean_e6"))).as("t_post"),
          sum(when(col("variant") === 1L && col("post") === 0L,
            col("mean_e6"))).as("t_pre"),
          sum(when(col("variant") === 0L && col("post") === 1L,
            col("mean_e6"))).as("c_post"),
          sum(when(col("variant") === 0L && col("post") === 0L,
            col("mean_e6"))).as("c_pre"))
      wide.select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
        ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
          .as("did_e6"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q194_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         p AS (SELECT lang, n_docs,
                 CAST(floor(pow(CAST(n_docs AS DOUBLE), 0.3) * 1e9) AS BIGINT)
                   AS pow_e9
               FROM c),
         t AS (SELECT sum(n_docs) AS n_total, sum(pow_e9) AS spow_e9 FROM p)
         SELECT lang, n_docs,
           CAST((n_docs * 1000000) // n_total AS BIGINT) AS p_e6,
           CAST((pow_e9 * 1000000) // spow_e9 AS BIGINT) AS q_e6,
           CAST((((pow_e9 * 1000000) // spow_e9) * 1000)
             // ((n_docs * 1000000) // n_total) AS BIGINT) AS boost_e3
         FROM p, t""",

    "q195_minhash_accuracy" -> {
      val p = Dedup.MinHashParams()
      val eqSum = (0 until p.numPerms)
        .map(i => s"(CASE WHEN sa.sig$i = sb.sig$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $minhashCtes,
         pairs AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         eq AS (
           SELECT p.id1, p.id2, CAST($eqSum AS BIGINT) AS n_eq
           FROM pairs p
           JOIN sig sa ON sa.doc_id = p.id1
           JOIN sig sb ON sb.doc_id = p.id2),
         shd AS (SELECT doc_id, list_distinct(shingles) AS shs FROM sh),
         j AS (
           SELECT e.id1, e.id2, e.n_eq,
             CAST(len(list_intersect(x.shs, y.shs)) AS BIGINT) AS inter,
             CAST(len(x.shs) + len(y.shs)
               - len(list_intersect(x.shs, y.shs)) AS BIGINT) AS uni
           FROM eq e
           JOIN shd x ON x.doc_id = e.id1
           JOIN shd y ON y.doc_id = e.id2)
         SELECT id1, id2,
           (n_eq * 1000000) // ${p.numPerms} AS est_e6,
           (inter * 1000000) // uni AS true_e6,
           abs((n_eq * 1000000) // ${p.numPerms}
             - (inter * 1000000) // uni) AS err_e6
         FROM j"""
    },

    "q196_gopher_rules" ->
      """WITH f AS (
           SELECT doc_id,
             string_split(lower(text), ' ') AS w,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(string_split(lower(text), ' '),
               t -> len(t))) AS BIGINT) AS sum_len,
             CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
             CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT)
               AS n_ellipsis,
             CAST(len(list_filter(string_split(lower(text), ' '),
               t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha_w,
             CAST(len(list_intersect(list_distinct(string_split(lower(text), ' ')),
               ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS n_stops
           FROM documents)
         SELECT doc_id, n_words,
           (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
           (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
             AS rule_mean_word_len,
           ((n_hash + n_ellipsis) * 10 <= n_words) AS rule_symbol_ratio,
           (n_alpha_w * 10 >= n_words * 8) AS rule_alpha_words,
           (n_stops >= 2) AS rule_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
             AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
             AND ((n_hash + n_ellipsis) * 10 <= n_words)
             AND (n_alpha_w * 10 >= n_words * 8)
             AND (n_stops >= 2)) AS keep
         FROM f""",

    "q197_dsir_weights" ->
      s"""WITH toks AS (
           SELECT doc_id, source, string_split(lower(text), ' ') AS w
           FROM documents),
         tokh AS (
           SELECT doc_id, source,
             list_transform(w, t -> ${h60("t")} % 1073741824) AS ht
           FROM toks WHERE len(w) >= 2),
         bk AS (
           SELECT doc_id, source,
             unnest(list_transform(range(1, len(ht)),
               i -> ((ht[i] * $WinnowB + ht[i+1]) % $WinnowP) % 8192))
               AS bucket
           FROM tokh),
         bc AS (
           SELECT bucket,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
           FROM bk GROUP BY 1),
         tt AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
         dl AS (
           SELECT bucket,
             CAST(floor((ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 8192 AS DOUBLE))
               - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 8192 AS DOUBLE))) * 1e9)
               AS BIGINT) AS delta_e9
           FROM bc, tt),
         dc AS (
           SELECT doc_id, bucket, count(*) AS c
           FROM bk WHERE source <> 'src0' GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(sum(c * delta_e9) AS BIGINT) AS logw_e9
         FROM dc JOIN dl USING (bucket) GROUP BY 1""",

    "q203_langid_margin" -> {
      val hits = TextFunctions.langStopwords.map { case (lang, words) =>
        s"${hitsSql(words)} AS h_$lang"
      }.mkString(", ")
      s"""WITH h AS (SELECT doc_id, $hits FROM documents),
         s AS (
           SELECT doc_id, h_en, h_es, h_fr, h_de,
             greatest(h_en, h_es, h_fr, h_de) AS mx,
             list_sort([h_en, h_es, h_fr, h_de], 'DESC') AS sc
           FROM h)
         SELECT doc_id,
           CASE WHEN mx = 0 THEN 'und'
                WHEN h_en = mx THEN 'en' WHEN h_es = mx THEN 'es'
                WHEN h_fr = mx THEN 'fr' ELSE 'de' END AS pred_lang,
           CAST(sc[1] AS BIGINT) AS best,
           CAST(sc[2] AS BIGINT) AS second,
           CAST(sc[1] - sc[2] AS BIGINT) AS margin,
           (sc[1] > 0 AND sc[1] - sc[2] >= 2) AS confident
         FROM s"""
    },

    "q204_eval_sample" ->
      s"""WITH f AS (
           SELECT doc_id, lang, n_chars // 100 AS len_bucket,
             ${h60("text")} AS h
           FROM documents),
         r AS (
           SELECT doc_id, lang, len_bucket,
             row_number() OVER (PARTITION BY lang, len_bucket
                                ORDER BY h, doc_id) AS rn
           FROM f)
         SELECT doc_id, lang, len_bucket FROM r WHERE rn <= 5""",

    "q205_hard_negatives" ->
      s"""WITH q AS (
           SELECT vec_id AS query_id, embedding AS qemb, label AS qlabel
           FROM embeddings WHERE vec_id IN (10, 20, 30)),
         c AS (
           SELECT q.query_id, e.vec_id,
             (${dotSql("e.embedding", "q.qemb")})
               / (sqrt(${dotSql("e.embedding", "e.embedding")})
                  * sqrt(${dotSql("q.qemb", "q.qemb")})) AS cos
           FROM embeddings e, q WHERE e.label <> q.qlabel),
         r AS (
           SELECT query_id, vec_id AS neg_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
           FROM c)
         SELECT query_id, neg_id, rnk,
           CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
         FROM r WHERE rnk <= 5""",

    "q210_seedlist_tag" -> {
      val (rx, ng, flag) = seedlistSql
      s"""SELECT doc_id, $rx AS n_regex_hits, $ng AS n_ngram_hits,
           $flag AS seedlist_keyword
         FROM documents"""
    },

    "q342_lr_expansion" -> {
      val feats =
        seedRegexes.map(p => s"CAST(regexp_matches(lower(text), '$p') AS BIGINT)") ++
        seedNgrams.map(p => s"CAST(contains(lower(text), '$p') AS BIGINT)")
      val vals = lrModelRows.map { case (id, ws, b) =>
        s"($id, ${ws.mkString("[", ", ", "]")}, $b)"
      }.mkString(", ")
      val logit = feats.zipWithIndex // DuckDB lists are 1-based
        .map { case (f, i) => s"w_e6[${i + 1}] * $f" }.mkString(" + ")
      s"""WITH m(model_id, w_e6, b_e6) AS (VALUES $vals)
         SELECT doc_id, CAST(model_id AS BIGINT) AS model_id,
           CAST($logit + b_e6 AS BIGINT) AS logit_e6,
           CAST(($logit + b_e6) > 0 AS BIGINT) AS pred
         FROM documents CROSS JOIN m"""
    },

    "q343_stupid_backoff" ->
      s"""WITH docs AS (
           SELECT doc_id, source, $tokenHashesSql AS ht FROM documents),
         train AS (SELECT ht FROM docs WHERE source <> 'src0'),
         uni AS (
           SELECT h, count(*) AS c
           FROM (SELECT unnest(ht) AS h FROM train) GROUP BY 1),
         nt AS (
           SELECT count(*) AS n_tot
           FROM (SELECT unnest(ht) AS h FROM train)),
         bi AS (
           SELECT g, count(*) AS c12 FROM (
             SELECT unnest(list_transform(range(1, len(ht)),
               i -> ${gramHash62("i", 2)})) AS g
             FROM train WHERE len(ht) >= 2)
           GROUP BY 1),
         probe AS (
           SELECT doc_id, g, h1, h2, count(*) AS occ FROM (
             SELECT doc_id,
               unnest(list_transform(range(1, len(ht)),
                 i -> ${gramHash62("i", 2)})) AS g,
               unnest(list_transform(range(1, len(ht)), i -> ht[i])) AS h1,
               unnest(list_transform(range(1, len(ht)), i -> ht[i+1])) AS h2
             FROM docs WHERE source = 'src0' AND len(ht) >= 2)
           GROUP BY 1, 2, 3, 4),
         scored AS (
           SELECT doc_id, occ, CAST(CASE
             WHEN b.c12 IS NOT NULL AND u1.c IS NOT NULL
               THEN (b.c12 * 1000000) // u1.c
             WHEN u2.c IS NOT NULL
               THEN (2 * u2.c * 1000000) // (5 * nt.n_tot)
             ELSE 0 END AS BIGINT) AS s_e6
           FROM probe p
           LEFT JOIN bi b USING (g)
           LEFT JOIN uni u1 ON p.h1 = u1.h
           LEFT JOIN uni u2 ON p.h2 = u2.h
           CROSS JOIN nt)
         SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
           CAST(sum(occ * s_e6) // sum(occ) AS BIGINT) AS score_e6
         FROM scored GROUP BY 1""",

    "q344_hashed_bag_score" ->
      s"""WITH x AS (
           SELECT doc_id, b, count(*) AS x FROM (
             SELECT doc_id,
               unnest(list_transform($tokenHashesSql, h -> h % 256)) AS b
             FROM documents)
           GROUP BY 1, 2),
         wts AS (
           SELECT cls.range AS cls, bb.range AS b,
             ((cls.range * 1000003 + bb.range * 7919) % 2001 - 1000) * 1000
               AS w_e6
           FROM range(0, 3) cls CROSS JOIN range(0, 256) bb),
         sc AS (
           SELECT doc_id, cls, CAST(sum(x.x * w_e6) AS BIGINT) AS score_e6
           FROM x JOIN wts USING (b) GROUP BY 1, 2),
         r AS (
           SELECT doc_id, cls, score_e6, row_number() OVER (
             PARTITION BY doc_id ORDER BY score_e6 DESC, cls ASC) AS rn
           FROM sc)
         SELECT doc_id, CAST(cls AS BIGINT) AS best_cls,
           score_e6 AS best_score_e6
         FROM r WHERE rn = 1""",

    "q346_quantile_sketch" ->
      """WITH c AS (
           SELECT l_returnflag AS flag, count(*) AS n
           FROM lineitem GROUP BY 1)
         SELECT flag, CAST(d.range AS BIGINT) AS d, n, TRUE AS in_band
         FROM c CROSS JOIN range(1, 10) d""",

    "q345_temperature_mix" ->
      """WITH cnt AS (
           SELECT lang,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS c
           FROM documents GROUP BY 1),
         sq AS (
           SELECT lang, c,
             CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS s
           FROM cnt),
         tt AS (
           SELECT CAST(sum(s) AS BIGINT) AS st, CAST(sum(c) AS BIGINT) AS ct
           FROM sq)
         SELECT lang, c, s,
           CAST((c * 1000000) // ct AS BIGINT) AS p_e6,
           CAST((s * 1000000) // st AS BIGINT) AS q_e6,
           CAST(least((50000 * s) // st, c) AS BIGINT) AS alloc_tokens
         FROM sq, tt""",

    "q211_keyword_recall" -> {
      val (_, _, flag) = seedlistSql
      s"""WITH f AS (
           SELECT doc_id, $flag AS pos,
             ${hitsSql(posWords)} AS score
           FROM documents),
         r AS (
           SELECT pos, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
           FROM f),
         tot AS (SELECT sum(pos) AS n_positives FROM f),
         ks AS (SELECT * FROM (VALUES (10), (50), (100), (250)) v(topk))
         SELECT CAST(topk AS BIGINT) AS topk,
           CAST(sum(pos) AS BIGINT) AS n_captured,
           CAST(any_value(n_positives) AS BIGINT) AS n_positives,
           CAST((sum(pos) * 1000000) // any_value(n_positives) AS BIGINT)
             AS recall_e6
         FROM r, ks, tot WHERE rnk <= topk GROUP BY topk"""
    },

    "q212_semdedup" -> {
      val rng = s"range(1, ${Similarity.Dim + 1})"
      def idot(a: String, b: String) =
        s"CAST(list_sum(list_transform($rng, i -> $a[i] * $b[i])) AS BIGINT)"
      s"""WITH ve AS (
           SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS ve,
             CAST(label AS BIGINT) AS c
           FROM embeddings),
         cent AS (
           SELECT c, list(cv ORDER BY dim) AS ce FROM (
             SELECT c, dim, CAST(sum(v) AS BIGINT) // count(*) AS cv
             FROM (SELECT c, generate_subscripts(ve, 1) AS dim, unnest(ve) AS v
                   FROM ve)
             GROUP BY c, dim)
           GROUP BY c),
         a AS (
           SELECT vec_id, ve, c, n2,
             CAST(floor(CAST(dotc AS DOUBLE)
               / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE)))
               * 1e6) AS BIGINT) AS centsim_e6
           FROM (
             SELECT v.vec_id, v.ve, ct.c,
               ${idot("v.ve", "v.ve")} AS n2,
               ${idot("v.ve", "ct.ce")} AS dotc,
               ${idot("ct.ce", "ct.ce")} AS cn2,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform($rng,
                   i -> (v.ve[i] - ct.ce[i]) * (v.ve[i] - ct.ce[i]))), ct.c)
                 AS rn
             FROM ve v CROSS JOIN cent ct)
           WHERE rn = 1),
         drp AS (
           SELECT DISTINCT x.vec_id
           FROM a x JOIN a y ON x.c = y.c AND x.vec_id <> y.vec_id
           WHERE CAST(floor(CAST(${idot("x.ve", "y.ve")} AS DOUBLE)
               / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
               * 1e6) AS BIGINT) >= 250000
             AND (y.centsim_e6 < x.centsim_e6
               OR (y.centsim_e6 = x.centsim_e6 AND y.vec_id < x.vec_id)))
         SELECT a.vec_id, a.c, a.centsim_e6,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM a LEFT JOIN drp d ON a.vec_id = d.vec_id"""
    },

    "q215_weighted_draw" ->
      s"""WITH k AS (
           SELECT doc_id, source,
             CAST(floor(ln(CAST(${h60("text")} % 1000000 + 1 AS DOUBLE)
                 / 1000001.0)
               / CAST(n_chars AS DOUBLE) * 1e9) AS BIGINT) AS key_e9
           FROM documents),
         r AS (
           SELECT source, doc_id, key_e9,
             row_number() OVER (PARTITION BY source
                                ORDER BY key_e9 DESC, doc_id) AS rn
           FROM k)
         SELECT source, doc_id, key_e9 FROM r WHERE rn <= 10""",

    "q216_oov_rate" ->
      """WITH tok AS (
           SELECT source, unnest(string_split(lower(text), ' ')) AS tk
           FROM documents),
         vc AS (
           SELECT tk, row_number() OVER (ORDER BY count(*) DESC, tk) AS rn
           FROM tok GROUP BY tk),
         v AS (SELECT tk FROM vc WHERE rn <= 20)
         SELECT source, count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST((sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) * 1000000)
             // count(*) AS BIGINT) AS oov_e6
         FROM tok LEFT JOIN v ON tok.tk = v.tk
         GROUP BY source""",

    "q217_jw_linkage" ->
      """WITH c AS (
           SELECT c_custkey AS id, c_name AS name, c_custkey // 100 AS bkt
           FROM customer),
         p AS (
           SELECT a.id AS id1, b.id AS id2,
             CAST(floor(jaro_winkler_similarity(a.name, b.name) * 1e6)
               AS BIGINT) AS jw_e6
           FROM c a JOIN c b ON a.bkt = b.bkt AND a.id <> b.id),
         r AS (
           SELECT id1, id2, jw_e6,
             row_number() OVER (PARTITION BY id1
                                ORDER BY jw_e6 DESC, id2) AS rn
           FROM p)
         SELECT id1, id2, jw_e6 FROM r WHERE rn = 1""",

    "q220_datasheet" -> {
      val stopAll = hitsSql(TextFunctions.langStopwords.flatMap(_._2))
      s"""WITH f AS (
           SELECT doc_id, source, lang, n_chars,
             CAST(len(w) AS BIGINT) AS n_toks,
             (len(w) >= 10 AND len(w) <= 100000 AND
              (CASE WHEN len(w) > 0 THEN CAST($stopAll AS DOUBLE) / len(w)
                    ELSE 0.0 END) > 0.001) AS keep,
             md5($normSql) AS fp
           FROM (SELECT doc_id, source, lang, n_chars, text,
                   string_split(lower(text), ' ') AS w
                 FROM documents)),
         core AS (
           SELECT source, count(*) AS n_docs, sum(n_toks) AS n_tokens,
             sum(n_chars) AS sum_chars,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
             sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep
           FROM f GROUP BY 1),
         dups AS (
           SELECT source,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup_docs
           FROM (SELECT source, fp, count(*) AS c FROM f GROUP BY 1, 2)
           GROUP BY 1)
         SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((sum_chars * 100) // n_docs AS BIGINT) AS mean_chars_e2,
           CAST((n_en * 1000000) // n_docs AS BIGINT) AS en_e6,
           CAST((n_keep * 1000000) // n_docs AS BIGINT) AS keep_e6,
           CAST((n_dup_docs * 1000000) // n_docs AS BIGINT) AS dup_e6
         FROM core JOIN dups USING (source)"""
    },

    "q222_class_balance" ->
      s"""WITH e AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
             ${h60("CAST(vec_id AS VARCHAR)")} AS h
           FROM embeddings),
         mn AS (
           SELECT min(n) AS k
           FROM (SELECT label, count(*) AS n FROM e GROUP BY 1)),
         r AS (
           SELECT vec_id, label,
             row_number() OVER (PARTITION BY label
                                ORDER BY h, vec_id) AS rnk
           FROM e)
         SELECT label, count(*) AS n_kept,
           CAST(sum(vec_id) AS BIGINT) AS id_sum
         FROM r, mn WHERE rnk <= k GROUP BY label""",

    "q223_triplets" ->
      s"""WITH q AS (
           SELECT vec_id AS anchor_id, embedding AS qemb, label AS qlabel
           FROM embeddings WHERE vec_id IN (10, 20, 30)),
         c AS (
           SELECT q.anchor_id, e.vec_id, (e.label = q.qlabel) AS same,
             CAST(floor((${dotSql("e.embedding", "q.qemb")})
               / (sqrt(${dotSql("e.embedding", "e.embedding")})
                  * sqrt(${dotSql("q.qemb", "q.qemb")})) * 1e6) AS BIGINT)
               AS cos_e6
           FROM embeddings e, q WHERE e.vec_id <> q.anchor_id),
         p AS (
           SELECT anchor_id, vec_id AS pos_id, cos_e6 AS pos_cos_e6
           FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                   ORDER BY cos_e6 DESC, vec_id) AS rn
                 FROM c WHERE same) WHERE rn = 1),
         n AS (
           SELECT anchor_id, vec_id AS neg_id, cos_e6 AS neg_cos_e6
           FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                   ORDER BY cos_e6 DESC, vec_id) AS rn
                 FROM c WHERE NOT same) WHERE rn = 1)
         SELECT p.anchor_id, p.pos_id, p.pos_cos_e6, n.neg_id, n.neg_cos_e6,
           p.pos_cos_e6 - n.neg_cos_e6 AS margin_e6
         FROM p JOIN n USING (anchor_id)""",

    "q224_containment" ->
      s"""WITH $minhashCtes,
         pairs AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         shd AS (SELECT doc_id, list_distinct(shingles) AS shs FROM sh)
         SELECT p.id1, p.id2,
           CAST(len(list_intersect(x.shs, y.shs)) AS BIGINT) AS inter,
           CAST(len(x.shs) AS BIGINT) AS na,
           CAST(len(y.shs) AS BIGINT) AS nb,
           (len(list_intersect(x.shs, y.shs)) * 1000000) // len(x.shs)
             AS cont_a_e6,
           (len(list_intersect(x.shs, y.shs)) * 1000000) // len(y.shs)
             AS cont_b_e6,
           (greatest(
              (len(list_intersect(x.shs, y.shs)) * 1000000) // len(x.shs),
              (len(list_intersect(x.shs, y.shs)) * 1000000) // len(y.shs))
            >= 800000) AS contained
         FROM pairs p
         JOIN shd x ON x.doc_id = p.id1
         JOIN shd y ON y.doc_id = p.id2""",

    "q225_label_prop" -> {
      def iter(prev: String, next: String) =
        s"""$next AS (
           SELECT id, lb FROM (
             SELECT t.a AS id, t.nlb AS lb,
               row_number() OVER (PARTITION BY t.a
                                  ORDER BY t.c DESC, t.nlb) AS rn
             FROM (SELECT e.a, p.lb AS nlb, count(*) AS c
                   FROM edges e JOIN $prev p ON p.id = e.b
                   GROUP BY e.a, p.lb) t)
           WHERE rn = 1)"""
      s"""WITH $minhashCtes,
         cand AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         edges AS MATERIALIZED (
           SELECT id1 AS a, id2 AS b FROM cand
           UNION ALL SELECT id2 AS a, id1 AS b FROM cand),
         l0 AS (SELECT DISTINCT a AS id, a AS lb FROM edges),
         ${iter("l0", "l1")},
         ${iter("l1", "l2")},
         ${iter("l2", "l3")}
         SELECT id AS doc_id, lb AS community FROM l3"""
    },

    "q226_skew_diagnostics" ->
      """WITH c AS (
           SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1),
         tot AS (SELECT sum(c) AS n_rows FROM c),
         bands AS (
           SELECT 'band' AS kind,
             CAST(length(bin(c)) - 1 AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS v
           FROM c GROUP BY 2),
         top AS (
           SELECT 'top_key' AS kind, o_custkey AS k,
             CAST((c * 1000000) // n_rows AS BIGINT) AS v
           FROM c, tot ORDER BY c DESC, o_custkey LIMIT 5)
         SELECT * FROM bands UNION ALL SELECT * FROM top""",

    "q228_sparsify" ->
      """WITH d0 AS (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS idx,
             unnest(embedding) AS x
           FROM embeddings),
         d AS (
           SELECT vec_id, idx,
             CAST(floor(abs(CAST(x AS DOUBLE)) * 1000000.0) AS BIGINT) AS a,
             CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS ve6
           FROM d0),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY vec_id
                                        ORDER BY a DESC, idx) AS rn
           FROM d),
         tot AS (
           SELECT vec_id, CAST(sum(a * a) AS BIGINT) AS total_en
           FROM d GROUP BY 1),
         kept AS (
           SELECT vec_id,
             md5(string_agg(idx || ':' || ve6, ',' ORDER BY rn)) AS sparse_fp,
             CAST(sum(a * a) AS BIGINT) AS kept_en
           FROM r WHERE rn <= 8 GROUP BY 1)
         SELECT k.vec_id, k.sparse_fp,
           (k.kept_en * 1000) // (t.total_en // 1000) AS kept_energy_e6
         FROM kept k JOIN tot t USING (vec_id)""",

    "q229_source_overlap" ->
      s"""WITH fps AS (
           SELECT DISTINCT source,
             md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fp
           FROM documents)
         SELECT a.source AS src_a, b.source AS src_b,
           count(*) AS n_shared_fps
         FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
         GROUP BY 1, 2""",

    "q230_burstiness" ->
      """WITH g AS (
           SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id)) // 1000000 AS g
           FROM events),
         a AS (
           SELECT user_id, count(*) AS n_gaps,
             CAST(sum(g) AS BIGINT) AS sg, CAST(sum(g * g) AS BIGINT) AS sgg
           FROM g WHERE g IS NOT NULL GROUP BY 1)
         SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_s,
           CAST(floor(
             sqrt((CAST(sgg AS DOUBLE) * CAST(n_gaps AS DOUBLE)
               - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
               / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)))
             / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) * 1e6)
             AS BIGINT) AS cv_e6
         FROM a WHERE n_gaps >= 2 AND sg > 0""",

    "q231_histogram" ->
      """WITH ev AS (
           SELECT event_type,
             CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
           FROM events),
         b AS (SELECT min(v_e6) AS mn, max(v_e6) AS mx FROM ev)
         SELECT event_type,
           (v_e6 - mn) * 20 // (mx - mn + 1) AS bin, count(*) AS n
         FROM ev, b GROUP BY 1, 2""",

    "q232_weighted_median" ->
      """WITH p AS (
           SELECT p_brand, CAST(floor(p_retailprice * 100) AS BIGINT)
               AS price_c,
             CAST(p_size AS BIGINT) AS w, p_partkey
           FROM part),
         c AS (
           SELECT p_brand, price_c, p_partkey, w,
             sum(w) OVER (PARTITION BY p_brand ORDER BY price_c, p_partkey
                          ROWS UNBOUNDED PRECEDING) AS cw
           FROM p),
         t AS (SELECT p_brand, CAST(sum(w) AS BIGINT) AS tw FROM p GROUP BY 1),
         r AS (
           SELECT c.p_brand, c.price_c, t.tw,
             row_number() OVER (PARTITION BY c.p_brand
                                ORDER BY c.cw, c.p_partkey) AS rn
           FROM c JOIN t USING (p_brand) WHERE c.cw * 2 >= t.tw)
         SELECT p_brand, price_c AS wmedian_c, tw FROM r WHERE rn = 1""",

    "q233_cuped" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
           FROM events),
         span AS (SELECT min(day) AS d0 FROM ev),
         per AS (
           SELECT user_id,
             CAST(sum(CASE WHEN day < d0 + 15 THEN v_e6 ELSE 0 END)
               AS BIGINT) AS pre,
             CAST(sum(CASE WHEN day >= d0 + 15 THEN v_e6 ELSE 0 END)
               AS BIGINT) AS post,
             user_id % 2 AS variant
           FROM ev, span GROUP BY user_id),
         m AS (
           SELECT count(*) AS n, CAST(sum(pre) AS BIGINT) AS sx,
             CAST(sum(post) AS BIGINT) AS sy,
             CAST(sum((pre // 1000) * (pre // 1000)) AS BIGINT) AS sxx,
             CAST(sum((pre // 1000) * (post // 1000)) AS BIGINT) AS sxy
           FROM per),
         adj AS (
           SELECT variant,
             CAST(floor(CAST(post AS DOUBLE)
               - ((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                   - (CAST(sx AS DOUBLE) / 1e3) * (CAST(sy AS DOUBLE) / 1e3))
                  / (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                   - (CAST(sx AS DOUBLE) / 1e3) * (CAST(sx AS DOUBLE) / 1e3)))
                 * (CAST(pre AS DOUBLE)
                    - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT) AS a
           FROM per, m)
         SELECT variant, count(*) AS n_users,
           CAST(floor(avg(CAST(a AS DOUBLE))) AS BIGINT) AS adj_mean_e6
         FROM adj GROUP BY variant""",

    "q234_srm_check" ->
      s"""WITH u AS (
           SELECT DISTINCT user_id,
             ${h60("CAST(user_id AS VARCHAR)")} % 2 AS variant
           FROM events),
         c AS (SELECT variant, count(*) AS o FROM u GROUP BY 1),
         t AS (SELECT sum(o) AS n FROM c),
         d AS (
           SELECT CAST((2 * o - n) * (2 * o - n) AS BIGINT) AS dev2,
             CAST(n AS BIGINT) AS n
           FROM c, t)
         SELECT any_value(n) AS n_users,
           CAST((sum(dev2) * 1000000) // (2 * any_value(n)) AS BIGINT)
             AS chi2_e6,
           CAST(sum(dev2) * 100 > 384 * 2 * any_value(n) AS BIGINT)
             AS srm_flag
         FROM d""",

    "q235_did" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
           FROM events),
         span AS (SELECT min(day) AS d0 FROM ev),
         cells AS (
           SELECT user_id % 2 AS variant,
             CAST(day >= d0 + 15 AS BIGINT) AS post,
             CAST(sum(v_e6) AS BIGINT) // count(*) AS mean_e6
           FROM ev, span GROUP BY 1, 2),
         w AS (
           SELECT
             sum(CASE WHEN variant = 1 AND post = 1 THEN mean_e6 END) AS t_post,
             sum(CASE WHEN variant = 1 AND post = 0 THEN mean_e6 END) AS t_pre,
             sum(CASE WHEN variant = 0 AND post = 1 THEN mean_e6 END) AS c_post,
             sum(CASE WHEN variant = 0 AND post = 0 THEN mean_e6 END) AS c_pre
           FROM cells)
         SELECT CAST(t_pre AS BIGINT) AS t_pre, CAST(t_post AS BIGINT) AS t_post,
           CAST(c_pre AS BIGINT) AS c_pre, CAST(c_post AS BIGINT) AS c_post,
           CAST((t_post - t_pre) - (c_post - c_pre) AS BIGINT) AS did_e6
         FROM w""",

    "q201_repetition_rules" ->
      s"""WITH toks AS (
           SELECT doc_id, $tokenHashesSql AS ht FROM documents),
         bi AS (
           SELECT doc_id, g, count(*) AS c FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(ht)),
               i -> ${gramHash62("i", 2)})) AS g
             FROM toks WHERE len(ht) >= 2)
           GROUP BY 1, 2),
         bia AS (
           SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram_c
           FROM bi GROUP BY 1),
         fv AS (
           SELECT doc_id, g, count(*) AS c FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(ht) - 3),
               i -> ${gramHash62("i", 5)})) AS g
             FROM toks WHERE len(ht) >= 5)
           GROUP BY 1, 2),
         fva AS (
           SELECT doc_id, sum(c) AS n_5grams,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_5gram_occ
           FROM fv GROUP BY 1),
         j AS (
           SELECT b.doc_id, b.n_bigrams, b.top_bigram_c,
             coalesce(f.n_5grams, 0) AS n_5grams,
             coalesce(f.dup_5gram_occ, 0) AS dup_5gram_occ
           FROM bia b LEFT JOIN fva f USING (doc_id))
         SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, top_bigram_c,
           CAST(n_5grams AS BIGINT) AS n_5grams,
           CAST(dup_5gram_occ AS BIGINT) AS dup_5gram_occ,
           CAST((top_bigram_c * 1000000) // n_bigrams AS BIGINT)
             AS top_bigram_frac_e6,
           CAST(CASE WHEN n_5grams > 0
                THEN (dup_5gram_occ * 1000000) // n_5grams ELSE 0
           END AS BIGINT) AS dup_5gram_frac_e6,
           (top_bigram_c * 5 <= n_bigrams) AS rule_top_bigram,
           (dup_5gram_occ * 20 <= n_5grams * 3) AS rule_dup_5gram,
           ((top_bigram_c * 5 <= n_bigrams)
             AND (dup_5gram_occ * 20 <= n_5grams * 3)) AS keep
         FROM j""",

    "q202_zipf_fit" ->
      """WITH tc AS (
           SELECT source, tk, count(*) AS c FROM (
             SELECT source, unnest(string_split(lower(text), ' ')) AS tk
             FROM documents)
           GROUP BY 1, 2),
         top AS (
           SELECT source, c,
             row_number() OVER (PARTITION BY source ORDER BY c DESC, tk) AS r
           FROM tc QUALIFY r <= 100),
         terms AS (
           SELECT source,
             CAST(floor(ln(CAST(r AS DOUBLE)) * 1e9) AS BIGINT) AS x_e9,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT) AS y_e9,
             CAST(floor(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)) * 1e12)
               AS BIGINT) AS xy_e12,
             CAST(floor(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) * 1e12)
               AS BIGINT) AS xx_e12
           FROM top),
         sums AS (
           SELECT source, count(*) AS n, sum(x_e9) AS sx, sum(y_e9) AS sy,
             sum(xy_e12) AS sxy, sum(xx_e12) AS sxx
           FROM terms GROUP BY 1),
         sl AS (
           SELECT source, n, sx, sy,
             (CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
               - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
             / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
               - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9))
               AS slope
           FROM sums)
         SELECT source, n AS n_terms,
           CAST(floor(slope * 1e6) AS BIGINT) AS slope_e6,
           CAST(floor(((CAST(sy AS DOUBLE) / 1e9) / CAST(n AS DOUBLE)
             - ((slope * (CAST(sx AS DOUBLE) / 1e9)) / CAST(n AS DOUBLE)))
             * 1e6) AS BIGINT) AS intercept_e6
         FROM sl""",

    "q165_psi" ->
      s"""WITH binned AS (
           SELECT CASE WHEN ${h60("text")} % 100 < 80 THEN 'train' ELSE 'test' END AS split,
             least(n_chars // 100, 9) AS bin
           FROM documents),
         cells AS (
           SELECT bin,
             CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
             CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS cq
           FROM binned GROUP BY 1),
         tot AS (
           SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cq) AS BIGINT) AS nq
           FROM cells),
         c AS (
           SELECT
             CASE WHEN cp > 0 AND cq > 0 THEN
               CAST(floor((CAST(cp AS DOUBLE) / CAST(np AS DOUBLE) - CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE))
                 * ln((CAST(cp AS DOUBLE) / CAST(np AS DOUBLE)) / (CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE)))
                 * 1000000000000.0) AS BIGINT) END AS c_e12,
             CASE WHEN cp = 0 OR cq = 0 THEN 1 ELSE 0 END AS empty
           FROM cells, tot)
         SELECT count(*) AS n_bins,
           CAST(sum(empty) AS BIGINT) AS n_onesided,
           CAST(sum(c_e12) AS BIGINT) AS psi_e12
         FROM c""",

    "q160_rank_metrics" -> {
      def cos(a: String, b: String) =
        s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
      val dcgTerm = (rel: String, rnk: String) =>
        s"CAST(floor(CAST($rel AS DOUBLE) / (ln(CAST($rnk AS DOUBLE) + 1.0) / ln(2.0)) * 1000000000.0) AS BIGINT)"
      s"""WITH q AS (
           SELECT vec_id AS query_id, embedding AS qemb
           FROM embeddings WHERE vec_id IN (100, 200)),
         truth AS (
           SELECT query_id, neighbor_id, 11 - rnk AS rel, rnk FROM (
             SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 ${cos("e.embedding", "q.qemb")} DESC, e.vec_id ASC) AS rnk
             FROM embeddings e, q WHERE e.vec_id <> q.query_id)
           WHERE rnk <= 10),
         sys AS (
           SELECT query_id, neighbor_id, srnk FROM (
             SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 (${iDotSql("e.embedding", "q.qemb")}) DESC, e.vec_id ASC) AS srnk
             FROM embeddings e, q WHERE e.vec_id <> q.query_id)
           WHERE srnk <= 10),
         dcg AS (
           SELECT s.query_id,
             CAST(sum(${dcgTerm("coalesce(t.rel, 0)", "s.srnk")}) AS BIGINT) AS dcg_e9,
             min(CASE WHEN t.rel > 0 THEN s.srnk END) AS first_rel,
             CAST(sum(CASE WHEN t.rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
           FROM sys s LEFT JOIN truth t
             ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
           GROUP BY 1),
         idcg AS (
           SELECT query_id,
             CAST(sum(${dcgTerm("rel", "rnk")}) AS BIGINT) AS idcg_e9
           FROM truth GROUP BY 1)
         SELECT d.query_id, d.n_hit,
           CASE WHEN d.first_rel IS NULL THEN CAST(0 AS BIGINT)
             ELSE 1000000 // d.first_rel END AS mrr_e6,
           (d.dcg_e9 * 1000000) // i.idcg_e9 AS ndcg_e6
         FROM dcg d JOIN idcg i USING (query_id)"""
    },

    "q155_auc" ->
      """WITH scored AS (
           SELECT vec_id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0) AS BIGINT) AS score_e6,
             (label % 2 = 1) AS pos
           FROM embeddings),
         ranked AS (
           SELECT pos, row_number() OVER (ORDER BY score_e6, vec_id) AS rnk
           FROM scored),
         agg AS (
           SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn,
             CAST(sum(CASE WHEN pos THEN rnk ELSE 0 END) AS BIGINT) AS sumr
           FROM ranked)
         SELECT np, nn,
           CASE WHEN np * nn = 0 THEN CAST(NULL AS BIGINT)
             ELSE ((sumr - (np * (np + 1)) // 2) * 1000000) // (np * nn) END AS auc_e6
         FROM agg""",

    "q150_vocab_build" ->
      """WITH tc AS (
           SELECT t AS token, count(*) AS freq FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS t
             FROM documents)
           GROUP BY 1)
         SELECT token, freq, row_number() OVER (ORDER BY freq DESC, token) AS id
         FROM tc WHERE freq >= 2""",

    "q151_bpe_pairs" ->
      """WITH wf AS (
           SELECT w, count(*) AS f FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS w
             FROM documents)
           WHERE length(w) >= 2 GROUP BY 1),
         pairs AS (
           SELECT f, unnest(list_transform(range(1, length(w)),
             i -> substr(w, CAST(i AS INT), 2))) AS pair
           FROM wf)
         SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
         FROM pairs GROUP BY 1
         ORDER BY cnt DESC, pair LIMIT 20""",

    "q193_bpe_encode" -> bpeEncodeOracle,

    "q274_label_noise" ->
      s"""WITH ve AS MATERIALIZED (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS ve
           FROM embeddings),
         flat AS (
           SELECT label, unnest(ve) AS v, generate_subscripts(ve, 1) AS dim
           FROM ve),
         cm AS (
           SELECT label AS c, dim, CAST(sum(v) AS BIGINT) // count(*) AS cv
           FROM flat GROUP BY 1, 2),
         centv AS (SELECT c, list(cv ORDER BY dim) AS ce FROM cm GROUP BY 1),
         asg AS (
           SELECT vec_id, label, c FROM (
             SELECT ve.vec_id, ve.label, centv.c,
               row_number() OVER (PARTITION BY ve.vec_id
                 ORDER BY ${il2Sql("ve.ve", "centv.ce", 64)}, centv.c) AS rn
             FROM ve, centv) WHERE rn = 1)
         SELECT label, count(*) AS n,
           CAST(sum(CASE WHEN c <> label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_disagree,
           (CAST(sum(CASE WHEN c <> label THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000) // count(*) AS noise_e6
         FROM asg GROUP BY 1""",

    "q273_blocking_quality" ->
      """WITH n AS (SELECT count(*) AS n FROM customer),
         tot AS (SELECT n * (n - 1) // 2 AS n_all_pairs FROM n),
         blk AS (
           SELECT CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS n_blocked_pairs
           FROM (SELECT c_custkey // 100 AS bkt, count(*) AS sz
                 FROM customer GROUP BY 1)),
         truth AS (
           SELECT a.c_custkey AS id1, b.c_custkey AS id2
           FROM customer a JOIN customer b
             ON a.c_custkey < b.c_custkey
            AND abs(len(a.c_name) - len(b.c_name)) <= 1
           WHERE levenshtein(a.c_name, b.c_name) <= 1),
         ts AS (
           SELECT count(*) AS n_true,
             CAST(sum(CASE WHEN id1 // 100 = id2 // 100 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_true_blocked
           FROM truth)
         SELECT n_all_pairs, n_blocked_pairs, n_true, n_true_blocked,
           ((n_all_pairs - n_blocked_pairs) * 1000000) // n_all_pairs
             AS reduction_ratio_e6,
           (n_true_blocked * 1000000) // n_true AS pair_completeness_e6
         FROM tot, blk, ts""",


    "q299_entity_resolution" ->
      """WITH RECURSIVE c AS (
           SELECT c_custkey AS id, c_name AS name, c_custkey // 100 AS bkt
           FROM customer),
         m AS (
           SELECT a.id AS id1, b.id AS id2
           FROM c a JOIN c b ON a.bkt = b.bkt AND a.id < b.id
           WHERE CAST(floor(jaro_winkler_similarity(a.name, b.name) * 1e6)
             AS BIGINT) >= 980000),
         edges AS (
           SELECT id1 AS src, id2 AS dst FROM m
           UNION SELECT id2, id1 FROM m),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e
             ON r.dst = e.src WHERE e.dst <> r.src),
         rep AS (
           SELECT src AS id, least(src, min(dst)) AS entity
           FROM reach GROUP BY src),
         ent AS (
           SELECT c.id, c.name, c.bkt, coalesce(rep.entity, c.id) AS entity
           FROM c LEFT JOIN rep USING (id)),
         sz AS (SELECT entity, count(*) AS n_entity FROM ent GROUP BY 1)
         SELECT id, name, bkt, entity, (entity = id) AS is_canonical,
           n_entity
         FROM ent JOIN sz USING (entity)"""
  )
}
