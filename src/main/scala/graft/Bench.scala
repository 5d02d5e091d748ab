package graft

import graft.core.GraftSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Queries run in a fixed order after a warm-up pass (JVM/codegen warm-up
  * otherwise lands on whichever query goes first). Each timing is a full
  * action (`count`) over the query's DataFrame.
  *
  * Each query is timed on EVERY pass (default 3, SPARK_GRAFT_BENCH_PASSES)
  * and the per-query MINIMUM is reported. Two noise sources motivate this:
  * (a) this box is a VM on an oversubscribed host — /proc/stat shows CPU
  * steal arriving in bursts that can inflate whichever query they land on
  * by 10-50x (measured: the same query 135.9s in one full run, 7.0s in the
  * next, 3.0s in isolation), and a burst is unlikely to hit the same query
  * in every pass; (b) a first execution pays one-off codegen/JIT compile
  * that says nothing about the engine's throughput. The min is the
  * standard estimator for "time the machine can do it in" under
  * asymmetric, strictly-additive noise.
  */
object Bench {

  /** Representative slice of the inventory: one per operator family. */
  val headline: Seq[String] = Seq(
    "q01_agg_sum", // hash aggregate
    "q03_join_inner", // shuffle join + agg
    "q08_join_broadcast", // broadcast dim joins
    "q09_count_distinct", // exact distinct
    "q13_argmax", // window argmax
    "q17_global_rank", // global ranking
    "q18_rolling_time", // time-range rolling window
    "q23_dedup_key", // dedup by derived key
    "q24_topk", // TakeOrderedAndProject
    "q29_explode_words", // explode + agg
    "q31_winsorize", // percentile + clip
    "q43_haversine", // trig-heavy join
    "q46_spatial_join", // two-phase spatial join
    "q47_stop_detection", // flatMapGroups sequence op
    "q48_day_split", // sequence+explode
    "q49_daily_home", // rolling + argmax labeling core
    "q52_lang_id", // text HOF pipeline
    "q55_fingerprint", // md5 normalize
    "q59_minhash_lsh", // MinHash + LSH self-join
    "q60_simhash", // nested HOF bit ops
    "q61_cosine_topk", // brute-force ANN
    "q62_ann_lsh", // bucketed ANN
    "q66_sessionize", // lag + cumsum sessionization
    "q76_dedup_keep", // distributed min-label connected components
    "q80_asof_join", // as-of join (union + window)
    "q83_tfidf", // corpus TF-IDF
    "q84_chunking", // sliding-window chunking
    "q95_topk_per_key", // custom physical operator (bounded heaps)
    "q96_tz_localize", // tz-offset broadcast localization
    "q98_ann_ivf", // IVF ANN (codebook + nProbe cells)
    "q99_approx_sketches", // HLL distinct + t-digest percentile
    "q100_salted_join", // skew-safe salted big-big join
    "q106_packing", // sequence packing on the keyed PrefixScan
    "q107_decontaminate", // broadcast n-gram overlap vs benchmark set
    "q109_bloom_semijoin", // Bloom pre-filter semi-join reduction
    "q115_heavy_hitters", // Misra-Gries custom TypedImperativeAggregate
    "q118_star_join", // TPC-H Q5 shape: 2 facts + 3 broadcast dims
    "q123_session_window", // native session-window aggregation
    "q126_bm25", // BM25 lexical retrieval (1-row stats broadcast)
    "q127_perplexity", // unigram NLL: join + order-pinned fold
    "q132_pagerank", // 3-iteration integer PageRank on the LSH graph
    "q141_tpch_q3", // TPC-H Q3: filtered fact-fact join + bounded top-k
    "q147_corr_matrix", // one-pass 14-sum correlation matrix
    "q150_vocab_build", // vocab frequencies + scalable global rank
    "q153_radius_join", // k-ring candidate cells + exact refine
    "q155_auc", // rank-sum AUC via range-sort + zipWithIndex
    "q157_ewma", // bounded-frame window fold (dyadic EWMA)
    "q163_best_match", // fuzzy-join linkage + best-match resolution
    "q184_macro_f1_kappa", // confusion-cell eval reduction
    "q185_global_factor_index", // iterative integer factor extraction
    "q187_bootstrap_eval", // balanced bootstrap explode + per-fold eval
    "q188_factor_fit", // per-series factor fit diagnostics
    "q190_dup_spans", // substring-dup span masking (gaps-and-islands)
    "q191_topic_sentiment", // per-(country, topic) z-scored daily index
    "q192_set_diversity", // mean-max cosine diversity vs random baseline
    "q193_bpe_encode", // corpus BPE encode with broadcast merge ranks
    "q197_dsir_weights", // hashed-bigram importance weights
    "q198_ccnet_buckets", // perplexity head/middle/tail partition
    "q200_contamination_report", // multi-benchmark contamination rates
    "q201_repetition_rules", // Gopher repetition rules (bigram/5-gram)
    "q202_zipf_fit", // per-source Zipf slope over TopKPerKey top-100
    "q206_tpch_q7", // TPC-H Q7 shape: 5-table join, 2 broadcast dims
    "q207_autocorr", // per-series ACF lags 1-3, integer sums + lag join
    "q209_heavy_phrases_by_source", // grouped Misra-Gries sketch merge
    "q212_semdedup", // cluster-confined pairwise cosine pruning
    "q214_tpch_q17", // decorrelated scalar subquery (per-part avg)
    "q217_jw_linkage", // codegen Jaro-Winkler over blocked pairs
    "q219_table_reconcile", // bucket-fingerprint pruned table diff
    "q222_class_balance", // keyed-scan ranks + broadcast min-class cut
    "q225_label_prop", // 3-round LPA over the LSH pair graph
    "q242_gps_pipeline", // composed 5-stage GPS DAG (geocode→tz→stops→label)
    "q243_od_flows", // origin-destination flow matrix (per-user lag window)
    "q247_mmr_rerank", // greedy MMR over per-query bounded pools
    "q249_doremi_mixture", // domain mixture reweighting off the NLL scan
    "q250_training_mix", // composed mix: gate -> shares -> budget fill
    "q251_ann_ivf_kmeans", // trained-codebook IVF + recall readout
    "q254_quantile_transform", // keyed-scan CDF transform
    "q255_tpch_q21", // Q21 shape: exists/not-exists collapsed to one agg
    "q256_link_prediction", // wedge-join CN/RA scores over the LSH graph
    "q257_spearman", // keyed-scan rank correlation
    "q258_kneser_ney", // KN-smoothed bigram LM (4 marginals off one agg)
    "q260_kaplan_meier", // KM survival curves (order-pinned prefix product)
    "q262_ppmi", // skip-gram co-occurrence PPMI ratios
    "q263_product_quantization", // PQ codebooks + integer ADC search
    "q265_theil_sen", // robust slope: median of bounded pairwise pool
    "q269_pit_join", // SCD2 point-in-time dimension probe
    "q271_dirichlet_ql", // LM retrieval scorer next to BM25
    "q272_ngram_novelty", // held-out n-gram novelty vs train slice
    "q273_blocking_quality", // reduction ratio + pair completeness
    "q274_label_noise", // centroid-disagreement noise screening
    "q276_conformal", // split-conformal order statistic + coverage
    "q277_bleu_pairs", // clipped n-gram precision over adjacent pairs
    "q278_js_divergence", // per-source unigram JSD drift vs corpus
    "q279_tpch_q5", // 6-table co-located-nation join
    "q282_tpch_q8", // market share: exact-decimal national volume split
    "q283_tpch_q4", // EXISTS as semi-join with residual date condition
    "q284_winnowing", // MOSS fingerprint selection + sharing counts
    "q294_clustering_coeff", // wedge-join tightness over the LSH graph
    "q295_khop_bfs", // 3-hop frontier expansion, lineage-cut per hop
    "q299_entity_resolution", // blocking -> JW -> CC composition
    "q302_winnow_matches", // capped fingerprint-bucket pair matching
    "q303_hits", // integer HITS iterations over the LSH graph
    "q305_tpch_q19", // disjunctive predicate pushdown + broadcast dim
    "q311_psm_att", // propensity-score 1-NN matching + ATT readout
    "q313_rake", // RAKE keyphrase extraction (phrase windows + degree)
    "q316_modularity", // community modularity over the LSH graph
    "q317_ohlc_bars", // total-order open/close OHLC windows
    "q319_lead_lag_ccf", // lead-lag CCF vs the market series
    "q320_assortativity", // degree-degree correlation over the LSH graph
    "q321_mutual_nn", // cell-confined reciprocal top-1 mining
    "q324_trustrank", // seeded trust propagation, 3 integer rounds
    "q325_item_cf", // item-item CF cosine off user count vectors
    "q329_delta_encoding", // keyed lag delta encoding
    "q326_umass_coherence", // top-term co-document coherence
    "q328_burrows_delta", // stylometric source-pair distance
    "q330_journey_trigrams", // event-type trigram paths per user
    "q331_negative_sampling", // cumulative-table draws, celled equi-probe
    "q333_good_turing", // count-of-counts re-estimation
    "q339_mase", // MASE scaled forecast error
    "q340_kendall_tau", // Kendall tau-b vs the market series
    "q341_tpch_q1", // the canonical lineitem pricing summary
    "q342_lr_expansion", // regex features x K broadcast linear models
    "q343_stupid_backoff", // count-ratio bigram LM scoring vs train corpus
    "q344_hashed_bag_score", // fastText-style hashed-bag linear argmax
    "q71_wealth_percentile", // PrefixScan cumulative share (r8 rewrite)
    "q176_rfm", // 3x globalRank exact-ntile quintiles (r8 rewrite)
    "q248_token_budget_fill", // two-level distributed prefix sum (r8 rewrite)
    "q346_quantile_sketch", // MRL mergeable decile sketch + exact-rank audit
    "q347_mutual_nn_scaled", // mutual NN with corpus-scaled cell count
    "q348_hard_negatives", // in-cell triplet mining with margins
    "q350_rrf_fusion", // dense+sparse reciprocal-rank fusion
    "q352_margin_ratio", // Artetxe-Schwenk ratio-margin pair scoring
    "q353_tokenizer_fertility", // bytes/token + tokens/word per group
    "q354_cell_balance", // IVF occupancy skew + exact pair workload
    "q355_phash_neardup", // perceptual-hash Hamming-LSH candidates
    "q356_phash_scaled", // 120-bit phash, corpus-scaled 30-bit bands
    "q357_frame_energy", // VAD-shape frame energy + voiced islands
    "q360_mauve_cells", // MAUVE-shape cell-histogram JS divergence
    "q361_simhash_neardup", // simhash Hamming-LSH banded pairing
    "q363_margin_calibration", // same-label rate per margin bin
    "q365_dedup_method_agreement", // pair-set Jaccard across 3 families
    "q366_lsh_s_curve", // empirical vs theoretical banding S-curve
    "q367_dedup_keep_best", // quality-aware component representative
    "q369_join_cardinality", // exact vs System-R join size estimate
    "q371_split_leakage", // cross-fold near-dup leak audit
    "q372_effective_tokens", // post-dedup dataset size accounting
    "q373_component_folds", // leakage-free fold assignment + proof
    "q376_novelty_curve", // per-decile first-occurrence novelty
    "q383_jl_distortion", // JL projection concentration histogram
    "q387_fs_weights", // Fellegi-Sunter m/u from labeled LSH pairs
    "q388_neyman_allocation", // Neyman stratified allocation + exact draw
    "q389_prf_expansion", // RM3 pseudo-relevance-feedback expansion
    "q390_knn_shapley", // closed-form KNN-Shapley data valuation
    "q391_wasserstein", // exact pairwise W1 drift between types
    "q392_removal_attribution", // Markov removal effects, 12 int rounds
    "q393_rho_selection", // reference-model excess-NLL selection
    "q394_cluster_nmi", // Lloyd purity + NMI external validation
    "q396_silhouette", // simplified silhouette on integer L2
    "q398_fs_em", // unsupervised FS EM on the 16-pattern frame
    "q399_hill_tail", // Hill tail-index over per-type top-k order stats
    "q400_histogram_split", // histogram Gini split-finder
    "q401_chi2_independence", // source x lang chi-square + Cramer's V
    "q402_ips_eval", // inverse-propensity off-policy evaluation
    "q403_rdd", // regression-discontinuity local linear fit
    "q404_sprt", // sequential probability-ratio test readout
    "q113_semdedup", // SemDeDup: celled cosine pairs -> CC -> keep-outlier
    "q78_ntile", // global decile stats via range-sort rank (no window)
    "q405_lsh_param_tuner", // (b,r) banding grid vs measured pair density
    "q406_bradley_terry", // BT strengths from histogram-derived wins
    "q407_scd2_history", // SCD-2 versioned dimension build
    "q408_packing_efficiency", // concat-and-chunk split/waste audit
    "q409_theil_sen", // median-of-pairwise-slopes robust trend
    "q410_kcenter_coreset", // greedy k-center coreset (10 incremental rounds)
    "q411_ece", // expected calibration error, 10-bin reliability
    "q412_filter_disparity", // per-lang quality-filter 80%-rule audit
    "q413_cusum", // prefix-identity CUSUM drift monitor
    "q414_kaplan_meier", // right-censored KM survival curve
    "q415_brier_decomposition", // Murphy REL/RES/UNC split
    "q416_map_at_k", // MAP@10 binary-relevance retrieval eval
    "q417_good_turing", // frequency-of-frequency GT re-estimation
    "q418_mantel_haenszel", // stratified pooled odds ratio
    "q419_mcnemar", // paired-classifier discordance test
    "q420_dedup_mixture_shift", // per-source share shift from keep-one dedup
    "q421_containment", // asymmetric shingle containment on LSH pairs
    "q422_risk_coverage", // selective-prediction risk-coverage curve
    "q423_fleiss_kappa", // multi-rater chance-corrected agreement
    "q424_confident_joint", // cleanlab confident-joint label-noise estimate
    "q425_krippendorff_alpha", // agreement with missing ratings
    "q426_cochran_q", // k-classifier keep-rate difference test
    "q427_kruskal_wallis", // k-sample midrank test, tie-corrected
    "q428_capture_recapture", // Chapman estimate of missed near-dups
    "q429_eb_shrinkage", // beta-binomial shrunk per-source keep rates
    "q430_jackknife_ratio", // delete-one-stratum ratio variance
    "q431_anova_oneway", // F + eta-squared from group sums
    "q432_brown_forsythe", // robust variance-homogeneity test
    "q433_cohens_d", // pairwise pooled-SD effect sizes
    "q434_facility_location", // greedy submodular exemplar selection
    "q435_markov_entropy_rate", // journey-chain bits-per-step
    "q436_weighted_jaccard", // IDF-weighted candidate rerank
    "q437_quantile_normalization", // map source dists onto global
    "q438_kendall_w", // concordance of the three quality judges
    "q439_rbo", // top-weighted ranking overlap
    "q440_rendezvous_sharding", // HRW resharding movement audit
    "q441_kmv_sketch", // bottom-k distinct estimate vs exact
    "q442_priority_sampling", // weight-sensitive subset-sum sample
    "q443_llr_collocations", // Dunning G-squared bigram collocations
    "q444_sse_changepoint", // least-squares single breakpoint
    "q445_ipf_raking", // two-margin sample calibration
    "q446_l_moments", // decimal-exact rank-weighted L-stats
    "q447_dalenius_hodges", // cum-sqrt-f strata construction
    "q448_nb_overdispersion", // per-user count model fit
    "q449_cochran_armitage", // ordered dose-response trend test
    "q450_cronbach_alpha", // rater internal consistency
    "q451_log_rank", // two-cohort survival-curve test
    "q452_zonemap_skipping", // min/max skipping by physical layout
    "q453_bloom_fpr", // measured vs rho^3 predicted FP rate
    "q454_dawid_skene", // EM label aggregation with rater confusion
    "q455_variance_ratio", // random-walk diagnostic on the daily index
    "q456_ljung_box", // joint 5-lag whiteness test
    "q457_runs_test", // sign-run randomness diagnostic
    "q458_permutation_entropy", // ordinal-pattern complexity
    "q459_mmd_linear", // O(n) two-sample embedding test
    "q460_davies_bouldin", // centroid-based cluster validity
    "q461_systematic_pps", // stride-walk weighted sample + HH estimate
    "q462_cascade_filter", // two-stage filter recall/cost audit
    "q463_durbin_watson", // trend-residual serial correlation
    "q464_multiprobe_lsh", // Hamming-1 probe recall vs exact bucket
    "q465_dedup_threshold_sweep", // corpus impact per Jaccard cut
    "q466_bm25_stability", // top-10 overlap across (k1, b)
    "q467_condorcet_fusion", // Copeland + Borda committee ranking
    "q468_padding_waste", // length-bucketed vs shuffled batch padding
    "q469_design_effect", // user-cluster ICC and Kish DEFF
    "q470_poststratified_mean", // population-reweighted sample mean
    "q471_speculative_acceptance", // draft/target acceptance + speedup
    "q472_mi_feature_ranking", // metadata MI vs the keep label
    "q473_compaction_planner", // target-size file packing manifest
    "q474_session_gap_sweep", // session counts per gap threshold
    "q475_retention_policy", // rows/users kept per TTL window
    "q476_audience_overlap", // user-set Jaccard per type pair
    "q477_isotropy", // mean paired cosine + mean-energy ratio
    "q478_langid_confusion", // stopword classifier vs labeled lang
    "q479_topk_churn", // head-vocabulary drift between halves
    "q480_fk_integrity", // star-schema orphan audit
    "q481_id_continuity", // surrogate-key gap audit
    "q482_unique_span_share", // memorization-risk span tail
    "q483_successive_halving", // budgeted filter-config search
    "q484_source_ablation", // leave-one-source-out metric deltas
    "q485_block_bootstrap", // autocorrelation-aware variance ratio
    "q486_trimmed_mean_curve", // tail-sensitivity of the mean
    "q487_mann_kendall", // nonparametric monotone-trend test
    "q488_record_counts", // running-max records vs harmonic expectation
    "q489_friedman", // blocked repeated-measures rank test
    "q490_tail_model_lr", // Pareto vs lognormal tail verdict
    "q491_term_burstiness", // Church-Gale adaptation table
    "q492_turning_points", // local-extrema randomness check
    "q493_wilcoxon_signed_rank", // paired daily-means rank test
    "q494_pettitt", // rank-based changepoint via prefix identity
    "q495_generalized_esd", // iterative formal outlier sequence
    "q496_leverage_audit", // trend-line influence table
    "q497_ratio_efficiency", // auxiliary-variable design decision
    "q498_seed_sensitivity", // hash-sample variance vs binomial
    "q499_median_ci", // order-statistic distribution-free CI
    "q500_gumbel_return_level", // weekly-peak extreme-value planning
    "q501_sen_slope_ci", // rank-bounded Theil-Sen confidence interval
    "q502_interrupted_ts", // segmented slope/level decomposition
    "q503_sign_test", // assumption-free paired comparison
    "q504_kish_ess", // weighting penalty of calibration
    "q505_boxcox_grid", // power-transform selection, pow-free grid
    "q506_pacf", // Durbin-Levinson partial autocorrelations
    "q507_topsis", // multi-criteria closeness-to-ideal ranking
    "q508_rater_shapley", // exact 3-player LF contribution split
    "q509_pinball_loss", // asymmetric quantile forecast eval
    "q510_synthetic_control", // two-donor counterfactual gap
    "q511_bartlett", // parametric variance-homogeneity test
    "q512_jonckheere", // ordered-groups trend from histograms
    "q513_filter_smd", // what the quality filter selects FOR
    "q514_capping_impact", // mass touched/removed per cap
    "q515_qini_uplift", // incremental-keeps uplift by score decile
    "q516_morans_i", // grid-cell spatial autocorrelation
    "q517_ns_distribution", // unigram^0.75 sampling table, pow-free
    "q518_hash_collision_audit", // birthday check on hash60
    "q519_confusion_effect", // Cramer's V + multiclass kappa
    "q520_dfbeta", // delete-one-day slope influence
    "q521_xbar_chart", // Shewhart x-bar/R stability verdict
    "q522_p_chart", // binomial attribute chart, unequal n
    "q523_jarque_bera", // moment-based normality gate
    "q524_process_capability", // Cp/Cpk vs the commissioning band
    "q525_g_chart", // rare-event inter-arrival monitoring
    "q526_or_ci", // Woolf log-OR confidence interval
    "q527_weekend_effect", // parametric + nonparametric panel
    "q528_hodges_lehmann", // Walsh-average pseudo-median
    "q529_tost_equivalence", // two one-sided equivalence verdict
    "q530_bland_altman", // score-agreement limits + coverage
    "q531_mcc", // imbalance-honest 2x2 correlation
    "q532_youden", // optimal-cutpoint sweep with J curve
    "q533_brier_skill", // probability skill vs climatology
    "q534_somers_d", // ordinal association = 2*AUC - 1, exact
    "q535_score_ks", // credit-scoring max CDF separation
    "q536_lin_ccc", // concordance vs Pearson agreement gap
    "q537_ppv_at_prevalence", // Bayes re-pricing at deployment rates
    "q538_bowker_symmetry", // directional confusion bias test
    "q539_oos_r2", // honest holdout R2 of the fitted trend
    "q540_abc_analysis", // Pareto classes with exact boundaries
    "q541_top_share", // concentration shares + p99/p50 ratio
    "q542_vocab_drift_curve", // adjacent-window vocabulary Jaccard
    "q543_max_drawdown", // one keyed PrefixScan (sum + maxsum monoid)
    "q544_record_highs", // keyed exclusive-max scan record counts
    "q545_burst_islands", // keyed lag + scan gaps-and-islands
    "q546_hot_split_join", // production big-big skew: hot-key split join
    "q547_substr_excise", // ExactSubstr span-excision dedup (Lee et al.)
    "q548_curation_excise", // composed curate -> exciseKept chain
    "q549_stats_skipping", // zone-map file pruning through TxTable.readWhere
    "q550_zorder_clustering", // OPTIMIZE ZORDER + both-dimension pruned reads
    "q551_bloom_skipping", // per-file Bloom point-lookup pruning
    "q552_change_data_feed", // net per-commit row deltas (CDF)
    "q553_delete_update", // file-pruned copy-on-write DELETE/UPDATE
    "q554_incremental_replication", // CDF-driven TxSync replica
    "q555_connector_read", // format("graft") pruned read + time travel
    "q558_streaming_replication", // readStream→writeStream exactly-once
    "q559_partitioned_table", // hive-partitioned connector ingest + prune
    "q560_partitioned_dml") // partitioned DELETE/UPDATE/MERGE + CDF

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle partitions default to the thread count; on a larger-than-
    // bench dataset they should scale with the data (a real cluster would
    // size them to ~128-200 MB of shuffle data each) — the knob exists so
    // the sf1 scale proof can measure exactly that.
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = GraftSession
      .builder(s"local[$cpus]", shufflePartitions.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val qs = SparkEntry.queries
    // optional subset (comma-separated names) — e.g. the scale-proof run
    // at target/sf1 times only the heavy bucketed-path queries
    val selected = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(headline)
    // fail fast on typos: the per-query try below would otherwise time the
    // NoSuchElementException as a fabricated ~0s result
    selected.filterNot(qs.contains) match {
      case Seq() =>
      case bad => sys.error(s"unknown bench queries: ${bad.mkString(", ")}")
    }
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // warm-up: JIT, codegen cache, parquet footer reads
    Seq("q01_agg_sum", "q52_lang_id", "q61_cosine_topk")
      .foreach(n => try qs(n)(spark, sfDir).count() catch { case _: Throwable => })

    // A throwing query must NOT be timed: the failure returns in
    // milliseconds and would read as a flattering ~0 s entry (observed
    // when a fixture was missing a dim table). Failures surface as -1
    // plus an explicit "failed" list in the JSON.
    def onePass(): Seq[(String, Option[Double])] = selected.map { name =>
      val t0 = System.nanoTime()
      val ok = try { qs(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.release(spark) // untimed
      name -> (if (ok) Some(dt) else None)
    }
    val all = (1 to passes).map(_ => onePass())
    val results = selected.map { name =>
      val ts = all.flatMap(_.toMap.apply(name))
      name -> (if (ts.isEmpty) -1.0 else ts.min)
    }
    val failed = results.collect { case (n, v) if v < 0 => n }
    val qjson = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val fjson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      f""""passes":$passes,"queries":$qjson,"failed":$fjson,""" +
      f""""sf":"$sfDir"}""")
    spark.stop()
  }
}
