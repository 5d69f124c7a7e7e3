package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N× scale soak of the heavy operators (default 10× = sf1-equivalent
  * volume; round 6 runs 100× for the second decade of scaling
  * evidence).
  *
  * The driver ships no sf1 testdata, so this main REPLICATES sf0.1
  * into `target/sfsoak` once (load-test input only — correctness
  * oracles always run on driver-generated data):
  *
  *  - `lineitem`: 10 key-disjoint copies (orderkey+partkey shifted) —
  *    the co-occurrence/pagerank graphs scale linearly in |E|, the
  *    honest model of "10× more orders about 10× more parts". A DENSER
  *    graph instead (shared partkeys) would grow wedges quadratically —
  *    a different experiment than a scale-up.
  *  - `part`: 10 brand-disjoint copies (fuzzy-join blocks are per
  *    brand, so candidate volume scales linearly like fresh data).
  *  - `documents`: copies 1-4 EXACT duplicates (ids shifted), copies
  *    5-9 NEAR duplicates (one sentinel token appended) — the
  *    crawl-corpus shape: dedup state ×10, LSH verify pairs grow
  *    within dup groups, exactly the skew dedup must absorb.
  *
  * Run: `sbt "runMain graft.SoakScale"` (optionally args: copies).
  * Prints per-query wall seconds and row counts; exits non-zero if a
  * query failed. Findings land in NEXT.md.
  */
object SoakScale {

  val Heavy = Seq("q_triangles", "q_fuzzy_join", "q_dedup_clusters",
    "q_pagerank", "q_curation",
    // round-5 additions with uncapped corpus scans: containment rides
    // the dup-heavy band join, span decontamination winnows every doc
    "q_containment", "q_decontaminate_spans",
    // round-6 additions: the 5-stage curation (full-corpus winnow after
    // LSH) and the ANN multi-table pass over the replicated embeddings
    "q_curation_spans", "q_ann_multitable",
    // late round-6: coverage-gated span policy (adds the per-doc count
    // window to the winnow chain)
    "q_curation_spancov",
    // round-6 continuation: LM train+score over the full corpus (the
    // vocab-sized model join path), the 4-stage curation with the LM
    // gate, 4-round LPA at 10x |E|, BPE train+encode (vocab-sized
    // iterations + one corpus join), and the bloom-pruned big-big join
    "q_lm_score", "q_curation_lm", "q_label_prop", "q_bpe_encode",
    "q_bloom_join",
    // late round 6: integer batch-perceptron training (3 passes over
    // the persisted doc_id-partitioned count table) and PMI
    // collocations (two corpus-wide count aggregates) — both uncapped
    "q_perceptron", "q_collocations",
    // round-6 final session: the new graph family (iterative k-core
    // peel, BFS relaxation, wedge-bound link features), full-corpus
    // paragraph dedup, the Gram pass of the integer PCA, the basket
    // pair join, and the corpus-wide gram stream of phrase search —
    // all uncapped by construction
    "q_kcore", "q_bfs", "q_link_pred", "q_para_dedup", "q_pca_power",
    "q_assoc_rules", "q_phrase_search",
    // round-6 session 5: integer HITS and min-plus SSSP over the 10x
    // |E| graph, chi-square stump + KS windows over the value support,
    // RRF's three lang-partitioned rankings, posting-table boolean
    // retrieval, and the OLS sufficient-statistics scan
    "q_hits", "q_sssp", "q_stump", "q_ks_drift", "q_rrf",
    "q_bool_search", "q_linreg",
    // session-5 continuation: endpoint-degree correlation over the
    // full edge list, the CC+quality keeper (dup-heavy corpus), the
    // budget cut's per-lang quality windows, sketch certificate over
    // the replicated candidates, trimmed mean on the cents support
    "q_assortativity", "q_canonical_keeper", "q_budget_cut",
    "q_minhash_acc", "q_trimmed_mean", "q_degree_dist",
    // closing wave (documents-based — events are straight copies in
    // the soak input, so event-window queries can't scale here):
    // corpus-wide type explode, the dup-family histogram (quadratic
    // families by construction), md5 dup rate, hash negatives,
    // per-lang fertility/confusion/diversity rollups
    "q_vocab_coverage", "q_cluster_sizes", "q_dup_rate",
    "q_neg_sample", "q_fertility", "q_langid_acc", "q_diversity",
    "q_winsorize",
    // round 7: the iterative truss peel over the 10x edge list, the
    // corpus-token CMS build, three whole-edge-list graph metrics, the
    // basket co-occurrence CF join, per-token burstiness, the
    // lang-x-source chi2 scaffold, perceptron AUC's score-support
    // walk, the 3-pass DQ audit, the money-digit scan, and two
    // events-scan statistics (copies multiply rows, so scan cost is
    // honest even though the distribution repeats)
    "q_ktruss", "q_cms_topk", "q_modularity", "q_richclub",
    "q_item_cf", "q_burstiness", "q_chi2_indep", "q_auc",
    "q_dq_checks", "q_benford", "q_bootstrap", "q_mannwhitney",
    // round 7, v2 events replicas (id-shifted copies = Nx fresh users
    // over the same calendar): the per-user-state family becomes an
    // honest scale probe — funnel stage chain, cohort matrices,
    // session windows, last-touch attribution, survival reductions
    "q_funnel", "q_retention", "q_cohort_ltv", "q_sessionize",
    "q_session_conversion", "q_attribution", "q_kaplan_meier",
    "q_rfm", "q_event_paths",
    // round 7, late waves: whole-edge-list cohesion metrics, the
    // posting-join MAP eval, the LSH-riding leakage audit, and the
    // windowed/latency funnel family over v2 (fresh-user) replicas
    "q_clustering_coef", "q_conductance", "q_transitivity", "q_map",
    "q_split_leakage", "q_funnel_window", "q_time_to_convert",
    "q_seq_mining", "q_markov_stationary", "q_cuped", "q_qte",
    "q_ab_srm", "q_ngram_novelty", "q_eb_smoothing", "q_peak_concurrency",
    "q_dup_inflation",
    // round 8: PQ codebook train + encode + ADC over the replicated
    // embeddings (code table grows linearly, LUT stays query-sized),
    // the corpus-wide co-occurrence count under vocab-bounded
    // TextRank iterations, and the daily-count scan under the
    // Holt-Winters fold
    "q_ann_pq", "q_textrank", "q_holt_winters",
    // round 9: IVFADC over the replicated embeddings (coarse assign,
    // residual Lloyd train and the code table grow linearly; the
    // probed ADC join reads ~nprobe/ncells of the codes), the
    // Lloyd-refined plain-PQ chain, and both MMR fronts (exact-cross
    // candidate stage vs the LSH code probe — the greedy fold itself
    // is query-bounded either way)
    "q_ann_ivfpq", "q_ann_pq_lloyd", "q_mmr", "q_mmr_ann",
    // round 9, session waves: the ADC shortlist + exact-refine probe,
    // both scalar-compressed code scans (sign-bit pack, per-dim SQ8
    // explode) and their truth-certified recall pass, the corpus
    // trigram/bigram LM passes (Good-Turing, Kneser-Ney), RAKE's
    // tokenize + per-doc phrase windows, the 50-probe exact retrieval
    // evals (MRR, silhouette over the k-means fit), three fact-table
    // statistics (ANOVA, Brown-Forsythe, Kruskal-Wallis rank walk),
    // the 10-root BFS harmonic centrality over the 10x edge list, and
    // the daily decomposition scan
    "q_ann_pq_refine", "q_ann_hamming", "q_ann_hamming_refine",
    "q_ann_sq8", "q_ann_quant_recall",
    "q_good_turing", "q_kneser_ney", "q_rake", "q_mrr", "q_silhouette",
    "q_anova", "q_levene", "q_kruskal_wallis", "q_harmonic_centrality",
    "q_decompose", "q_label_model",
    // round 9, session 9c: exact Brandes over the 10x edge list (the
    // 10-root forward/backward frontier sweeps), the per-source KMV
    // sketch build + vocab-join certificate over the replicated
    // corpus, the 200-round permutation spine over the user table,
    // the per-user lifetime walks (log-rank), the span-corruption
    // rebuild of every doc, and the small-stat scans
    "q_betweenness", "q_kmv_overlap", "q_permutation_test", "q_logrank",
    "q_span_corrupt", "q_welch_ttest", "q_mcnemar", "q_did", "q_ar1",
    // 9c second wave: per-user reduces (Cochran Q, CMH, Shapley mask),
    // calendar-support series ops (SAX, DTW pairs, changepoint walk),
    // the token heavy-change counts, the QI-group audit, and the
    // three hop-bounded LOF passes over the replicated embeddings
    "q_cochran_q", "q_cmh", "q_shapley", "q_sax", "q_dtw",
    "q_changepoint", "q_heavy_change", "q_ldiversity", "q_lof",
    // round 9, session 9d: user-keyed causal reduces (IV, IPW cells,
    // RDD bandwidth fit), the conformal residual histogram, per-user
    // Viterbi folds (xN fresh users = xN sequences), calendar-support
    // detectors/filters (Kalman, Page-Hinkley, Friedman ranks, Hurst
    // chunks, UCB replay), corpus-pair evals (ROUGE grams, MAP@10
    // probes over the replicated embeddings), and DBSCAN's label-block
    // candidate pass + CC over the replicated corpus
    "q_iv_wald", "q_ipw", "q_conformal", "q_friedman", "q_rdd_sharp",
    "q_viterbi", "q_kalman", "q_page_hinkley", "q_hurst", "q_ucb",
    "q_tost", "q_map_at_k", "q_rouge", "q_dbscan",
    // 9d second wave: calendar-support series diagnostics (lag joins,
    // residual/deviation passes, the 7-alpha SES replay, strided
    // discord windows), group-stat reduces (effect sizes, F, Mood,
    // runs), support-walk ranks (Cliff's delta midranks), the 10-root
    // BFS closeness, the user-support pseudonym audit, the per-source
    // corpus rollup, the broadcast-probe kNN eval, and the calibrated
    // classifier's Brier/gains bucket tables
    "q_crosscorr", "q_granger", "q_var_es", "q_croston",
    "q_durbin_watson", "q_ljung_box", "q_runs_test", "q_kendall_tau",
    "q_jarque_bera", "q_grubbs", "q_effect_size", "q_f_test",
    "q_mood_median", "q_ses_grid", "q_discord", "q_closeness",
    "q_pseudonymize", "q_dataset_card", "q_knn_class", "q_brier",
    "q_lift_gains", "q_single_linkage", "q_sample_size", "q_needleman",
    "q_forecast_eval", "q_cem", "q_tukey_fences", "q_qq_octiles",
    "q_vocab_tail", "q_cross_val", "q_l1_centroid", "q_robust_z",
    "q_uplift", "q_hodges_lehmann", "q_kappa", "q_mcc", "q_cronbach",
    "q_partial_corr",
    // round 10: the pruned-layout IVFADC scan + its exact-refine stage
    // over the replicated codes, greedy k-center's k linear passes,
    // the 10-root eccentricity BFS, the SCC closure's fact scan (the
    // orders/customer dims are straight copies in the soak input, so
    // only copy-0 edges survive the join — the lineitem scan is the
    // honest scale axis), the day-pair Theil-Sen and the Huber re-fit
    // over xN daily volumes, the corpus readability scan, the
    // shortlist rank-fusion/agreement pair (Borda, RBO), Slope One's
    // co-rater self-join over xN fresh users, the user-day Allen
    // census, and the 50-probe graded ERR retrieval pass
    "q_ann_ivfpq_pruned", "q_ann_ivfpq_refine", "q_kcenter",
    "q_eccentricity", "q_scc", "q_theil_sen", "q_huber",
    "q_readability", "q_borda", "q_rbo", "q_slope_one", "q_allen",
    "q_err",
    // round 10, wave 3: the 4-sweep polish's fact scan, the weekday
    // capture lists over xN fresh users, the windowed type-token
    // tokenize pass, and the 3-lag autocovariance joins
    "q_median_polish", "q_capture_recapture", "q_mattr", "q_pacf",
    // round 10, wave 4: journey-window transition extraction (xN fresh
    // users), the per-type 200-round permutation spine, and the
    // element-quantized drift explode over the replicated embeddings
    "q_removal_effect", "q_fdr_bh", "q_embed_drift",
    // round 10, wave 5: the (node, feature) split search over the
    // replicated corpus and the two (cohort, action) policy aggregates
    "q_tree2", "q_ips_eval",
    // round 10, wave 6: the urgent-orderer selection scan, the
    // per-user paired-diff reduce + |diff|-support rank walk, and the
    // contingency cells
    "q_disparate_impact", "q_wilcoxon_signed", "q_cramers_v",
    // round 10, wave 7: the 30-day fan-out distinct over xN fresh
    // users, the contingency raking scan, the tokenize budget scan
    "q_dau_mau", "q_ipf", "q_mixture_plan",
    // round 10, wave 8: two support-walk distribution tests and the
    // half-split token-ranking drift monitor (tokenize scans)
    "q_cvm", "q_energy_dist", "q_vocab_drift",
    // round 10, wave 9: the 54-probe sliced-distance scan, the
    // day-spine SPC walk, the per-segment sufficient-stats fact scan
    "q_knn_impute", "q_we_rules", "q_simpson",
    // round 10, wave 10: the moment scan, the bucket-cell scan, and
    // Moran's two part-keyed edge joins over the 10x co-purchase graph
    "q_mmd", "q_trend_test", "q_moran",
    // round 10, wave 11: the per-user lifetime reduce under the RMST
    // fold, and two customer/fact scans into stratum-bounded tables
    "q_rmst", "q_post_strat", "q_jackknife_ratio",
    // round 10 continuation (10b): drift/eval scans (PSI bins, MI
    // cells, value-support EMD walk, day-spine SPRT/SES/periodogram/
    // Yule-Walker/cointegration folds — events scans scale xN),
    // survival reduces over xN fresh users, the top-201 Hill
    // TakeOrdered, econ fact scans (matched baskets, brand OLS, Theil
    // rollup, ABC bins, monthly drawdown), tokenize scans (Yule K,
    // Heaps checkpoints, hashing-trick audit), per-user causal reduces
    // (AIPW psi fold, support-matching, 64-round RANSAC probe), the
    // ALS sweeps and COEC rollups over xN events, the JL projection
    // explode over replicated embeddings, and the FD count-distinct
    // audits
    "q_psi", "q_mutual_info", "q_drawdown", "q_nelson_aalen",
    "q_competing_risks", "q_hill", "q_price_index", "q_elasticity",
    "q_theil", "q_periodogram", "q_yule_walker", "q_sprt", "q_yule_k",
    "q_heaps", "q_dp_histogram", "q_aipw", "q_matching_att", "q_ransac",
    "q_als_rank1", "q_fd_check", "q_abc_analysis", "q_wasserstein",
    "q_tracking_signal", "q_cointegration", "q_random_projection",
    "q_position_bias", "q_feature_hashing",
    // 10b wave 10: user-day count-model scan, within-user pairwise
    // comparison explode (≤40² per user), and the Greenwood-extended
    // KM reduce over xN fresh users
    "q_negbin", "q_bradley_terry", "q_greenwood",
    // 10b wave 11: the support-union quantile merge walk, 3 greedy
    // max-coverage aggregates over the distinct (user, article) pairs,
    // and the per-user Mahalanobis probe under a TakeOrdered top-10
    "q_quantile_norm", "q_turf", "q_mahalanobis",
    // 10b wave 12: 4 Borůvka rounds over the 10x/100x co-purchase
    // edge list — per-round cost is two label joins + one per-comp
    // struct-min + 6 comp-sized pointer jumps
    "q_boruvka",
    // 10b wave 13: the probe-bounded LCS pair DP (per-user reduce is
    // the data-sized part), the (user, day) ICC moments scan, and the
    // monthly block-maxima scan under the Gumbel fit
    "q_lcs_sim", "q_icc", "q_gumbel",
    // 10b waves 14-16: the day-spine adstock folds + OLS, the rater
    // rank scaffold, the margin-walk Fisher test, three event scans
    // (Fano windows, bigram lag, cumulative OLS moments), the
    // contingency residual scaffold, the article-day decay fit, and
    // the (brand, day) demand-moment scan
    "q_adstock", "q_kendall_w", "q_fisher_exact", "q_fano",
    "q_entropy_rate", "q_seg_regression", "q_chi2_residuals",
    "q_content_halflife", "q_safety_stock",
    // 10b wave 17: the unpivoted weighted-moment balance pass and the
    // 3x(scan + aggregate) Weiszfeld iterations over per-user points
    "q_balance_smd", "q_geomedian",
    // 10b waves 18-19: the split-sample eval triple (corpus scans into
    // source-bounded walks/grids), the rater-contest scaffold, and the
    // per-user covariate moment pass
    "q_pr_auc", "q_decision_curve", "q_hosmer_lemeshow", "q_copeland",
    "q_vif",
    // 10b wave 20: the lineitem-orders lead-time scan into the
    // calendar-span-bounded median-rank walk
    "q_weibull",
    // round 11: 3 Luby MIS rounds over the 10x/100x symmetrized edge
    // list (active-active restriction + per-node min + anti join per
    // round) and the broadcast-eval-probe decontamination corpus pass
    "q_mis", "q_decontaminate_embed",
    // round-11 waves: the corpus tokenize + (source, token) LOO
    // aggregate, the per-source lexicographic prefix window, and the
    // distinct-type hash-bucket rollup
    "q_source_loo", "q_prefix_cache", "q_birthday_collision",
    // round-12 backfill (r11 VERDICT item 1): the r11 waves 2-8 whose
    // x10/x100 exponents were never recorded. Most are support-bounded
    // walks off one data-sized scan (rater grids, day spines,
    // contingency cells, shortlist pairs) — the soak proves the scan
    // is the only thing that grows
    "q_krippendorff", "q_event_study", "q_binomial_test", "q_bartlett",
    "q_turning_points", "q_spectral_entropy", "q_page_trend",
    "q_propensity_overlap", "q_rouge_l", "q_cheb_bound", "q_lsh_scurve",
    "q_consistent_hashing", "q_cox", "q_meta_analysis",
    "q_markov_absorption", "q_dedup_survivorship", "q_switchback",
    "q_context_fit",
    // round 12: the FFD packing fold — per-bucket collect + HOF fold;
    // the tokenize scan and the 32-bucket collect are the scale axes
    "q_pack_ffd",
    // round-12 waves: the BFD fold (same scaffold), the daily-spine
    // econometrics trio (one daily aggregate + calendar scalars), the
    // hash-group Hoeffding reduce, the posting-gap compression audit
    // (tokenize + distinct-posting shuffle), the lag-join HAC
    // variance, the bucketed pad audit (tokenize scan), and the
    // draft fold over two TakeOrdered shortlists
    "q_pack_bestfit", "q_chow_test", "q_breusch_pagan",
    "q_cooks_distance", "q_hoeffding_bound", "q_index_size",
    "q_newey_west", "q_length_buckets", "q_team_draft",
    // round 12: 3 greedy maximal-matching rounds over the canonical
    // 10x/100x edge list (both-endpoint min + twice-count matched
    // detection + matched-vertex anti joins per round)
    "q_matching",
    // round-12 wave 5: the 200-round placebo-DiD permutation spine
    // over xN fresh users, the per-type Holm permutation machinery,
    // and the customer-scan E-value cells
    "q_placebo_test", "q_holm_bonferroni", "q_evalue",
    // round-12 wave 6: per-type events scans (Wilson CI), the
    // per-weekday pair walk (calendar²-bounded after one daily agg),
    // and the 6-cell BM25 grid over the memoized per-doc term table
    "q_wilson_ci", "q_seasonal_mk", "q_bm25_sweep",
    // round-12 wave 7: the per-user day-lag growth ledger (xN fresh
    // users in the v2 replicas), the distinct-pair interaction audit,
    // and the per-source ln-moment fit (tokenize scan)
    "q_growth_accounting", "q_interaction_coverage", "q_length_lognormal",
    // round-12 wave 8: the BY permutation spine, the 4-row MDE grid
    // off one events aggregate, and the brand-keyed mix-shift scan
    "q_benjamini_yekutieli", "q_mde", "q_mix_shift",
    // round 13: the epoch-order tokenize scan + (epoch, shard)
    // exchange + in-shard sort, and its manifest aggregate — both
    // linear in the replicated corpus
    "q_train_order", "q_train_manifest",
    // round-13 wave 1: the LM-scoring corpus pass behind the DoReMi
    // reweighting, the gram-first novelty curve (ExactSubstr index as
    // a curve), and the stratified-allocation orders scan
    "q_doremi_weights", "q_novelty_curve", "q_neyman_alloc",
    // round-13 wave 2: the per-doc array-metric Gopher gates, the
    // PPS scan, and the 3-pass perceptron cartography (3 trainings +
    // 3 count-table scorings — the q_cross_val shape)
    "q_gopher_rules", "q_pps_sample", "q_data_map",
    // round-13 wave 3: per-source BPE rollup off the memoized 8-merge
    // model, the train-order adjacency windows, and the tokenize-scan
    // epochs planner
    "q_bpe_compression", "q_shuffle_runs", "q_effective_epochs",
    // round-13 wave 4: the per-source head-vocab rank windows, the
    // quality-grid scan, and the (source, gram) repetition aggregate
    "q_source_overlap", "q_quality_frontier", "q_source_repetition",
    // round-13 wave 5: the position-scored LM corpus pass and the two
    // per-source token-rank windows — all tokenize-scan linear
    "q_surprisal_curve", "q_nucleus_vocab", "q_token_gini",
    // round-13 wave 6: the hashed-gradient moment pass, the 8-round
    // greedy gram-coverage selection, and the embedding moment scan
    "q_grad_noise", "q_max_coverage", "q_embed_dispersion",
    // round-13 wave 7: the LM tercile windows, the clip-grid norm
    // scan, and the 5-model OvR scores pass (the perceptron_ovr shape)
    "q_ccnet_buckets", "q_grad_clip", "q_label_noise",
    // round-13 wave 8: the six-gate Venn (lang/quality/exact/LSH/LM/
    // gopher flags — the LSH verify stage dominates on the dup-heavy
    // replica) and the one-count planning lattice
    "q_filter_attribution", "q_compute_plan",
    // round-13 wave 9: the eval-gradient broadcast pass, the 5-model
    // OvR margin windows, and the three-LM cross-fitted scoring
    "q_grad_align", "q_margin_sample", "q_rho_selection",
    // round-13 wave 10: the one-chain BPE prefix curve (type-bounded),
    // the vocab-bounded KL rollup, and the 8-round densest peel over
    // the x|E| co-occurrence graph (pair with q_pagerank for the memo)
    "q_bpe_curve", "q_source_kl", "q_densest",
    // round-13 wave 11: 8 h-index rounds (|E|-row windows), 4 LTM
    // rounds (|E|-row semi joins), and the 3-subset md5 distinct —
    // graph pair runs ride the 96g/pagerank convention
    "q_coreness", "q_cascade", "q_dup_scaling")

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GRAFT_BENCH_ONLY=q_a,op_b reruns a subset (resume after a fix
    // without repaying the full suite)
    val registry = SparkEntry.queries
    val queries = Bench.select(Heavy.map(n => n -> registry(n)) ++ Ops,
      sys.env.get("GRAFT_BENCH_ONLY"))
    // v2: events are id-shifted (not straight copies) — new dir name so
    // stale v1 replicas can't mix into a v2 measurement
    val out = s"target/sfsoakv2_x$copies"
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    if (!new java.io.File(s"$out/_DONE").exists()) replicate(spark, src, out, copies)
    Console.err.println(s"soak input: $out ($copies x $src)")
    // memo recording stays off: each line is the query's wall time
    val pass = Bench.timePass(spark, out, queries)
    graft.sources.SessionMemo.evict(spark, dupIndexKey(out))
    spark.stop()
    if (pass.failed.nonEmpty) sys.exit(1)
  }

  private def docs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  /** The gram-first index of the soak corpus minus the original-id
    * batch, memoized so `op_dup_incr_probe` reuses what
    * `op_dup_incr_index` built; evicted after the pass.
    */
  private def dupIndexKey(dir: String) = ("soak_dup_incr_index", dir)
  private def dupIndex(spark: SparkSession, dir: String): DataFrame =
    graft.sources.SessionMemo(spark, dupIndexKey(dir)) {
      graft.ops.Dedup.gramFirstTable(docs(spark, dir).filter(col("doc_id") >= 1000000L)).persist()
    }

  /** Operators whose registry queries cap their input by construction,
    * run over the ENTIRE soak corpus.
    */
  private val Ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // One-sided containment at its PRODUCTION asymmetry (q_containment_
    // onesided caps its probe by construction, so the harness query
    // cannot scale): probe = the original-id batch (5k docs), corpus =
    // 8-doc megas over the ENTIRE soak corpus — posting build is
    // corpus-sized, candidates stay probe-sized, the dup-heavy copies
    // stress the df cap exactly like crawl boilerplate.
    "op_containment_1s" -> { (spark, dir) =>
      val d = docs(spark, dir)
      val mega = d.groupBy(expr("doc_id div 8").as("g"))
        .agg(array_join(
          transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), " ").as("text"))
        .select((col("g") + 100000000L).as("doc_id"), col("text"))
      graft.ops.Dedup.containmentVersusCorpus(d.filter(col("doc_id") < 1000000L), mega, 0.9)
    },
    // Repetition stats (q_repetition caps its probe at doc_id < 400):
    // token explode, gram unpivot and gram-count shuffle all grow
    // linearly with the corpus — the shape that must stay scan-like at
    // 100 TB.
    "op_repetition_full" -> ((spark, dir) => graft.ops.TextOps.repetitionStats(docs(spark, dir))),
    // Incremental span dedup at its production asymmetry: a FIXED
    // original-id delta batch probed against the gram-first index of
    // the REST of the soak corpus (the replica copies). The claim
    // under test: per-batch cost is delta-sized — growing the corpus
    // x10 → x100 moves the index build (linear in corpus) but leaves
    // the probe join ~flat, because the index is distinct-gram-sized
    // and the probe shuffles only batch grams.
    "op_dup_incr_index" -> dupIndex,
    "op_dup_incr_probe" -> { (spark, dir) =>
      graft.ops.Dedup.duplicateSpansVersusCorpus(
        docs(spark, dir).filter(col("doc_id") < 1000000L), dupIndex(spark, dir))
    },
    // Duplicate-substring spans (q_dedup_spans caps its probe at
    // doc_id < 300): the replicated copies are exact duplicates, so
    // nearly every non-first doc must come back as one whole-doc span —
    // the dup-heavy shape where the first-occurrence aggregate's
    // map-side combine earns its keep. Strip adds the token-rebuild pass.
    "op_dup_spans_full" -> ((spark, dir) => graft.ops.Dedup.duplicateSpans(docs(spark, dir))),
    "op_dup_strip_full" -> ((spark, dir) => graft.ops.Dedup.stripDuplicateSpans(docs(spark, dir))))

  private def replicate(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    // Shift spans are floored at 1M: q_curation PLANTS copies at
    // doc_id+10000/+20000 on whatever input it reads, so a raw
    // max+1 span (~2k at sf0.1) would land planted ids inside the next
    // copy's range — colliding doc_ids with different texts, which
    // breaks the min-id dedup contract and pollutes the measurement.
    def span(df: DataFrame, c: String): Long =
      math.max(df.agg(max(col(c).cast("long"))).head.getLong(0) + 1, 1000000L)
    // `copies` copies of table `t`: copy i shifts each `ids` column by i
    // spans, and copies after the first are `mutate`d
    def writeCopies(t: String, ids: String*)(
        mutate: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val df = spark.read.parquet(s"$src/$t.parquet")
      val spans = ids.map(c => c -> span(df, c))
      (0 until copies).map { i =>
        val s = spans.foldLeft(df) { case (d, (c, w)) => d.withColumn(c, col(c) + lit(i * w)) }
        if (i == 0) s else mutate(s, i)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    writeCopies("lineitem", "l_orderkey", "l_partkey")()
    writeCopies("part", "p_partkey")((d, i) =>
      d.withColumn("p_brand", concat(col("p_brand"), lit(s"#$i"))))
    // copies 1-4 exact duplicates of the originals, 5-9 near duplicates
    writeCopies("documents", "doc_id")((d, i) =>
      if (i < 5) d else d.withColumn("text", concat(col("text"), lit(s" soakcopy$i"))))
    // embeddings: vec_id-shifted copies with ONE coordinate nudged per
    // copy (varying dim and magnitude). Plain copies would be
    // DEGENERATE for ANN (identical vectors pile into identical LSH
    // codes; scaling a vector is a cosine no-op) — the nudge keeps each
    // copy a distinct near-cluster of the original, the shape a grown
    // embedding corpus actually has.
    writeCopies("embeddings", "vec_id")((d, i) =>
      d.withColumn("embedding", transform(col("embedding"), (x, j) =>
        when(j === lit(i % 16), x + lit((0.05f * ((i / 16) + 1)))).otherwise(x))))
    // events: id-shifted copies (event_id AND user_id), so the copies
    // are 10x FRESH USERS over the same calendar — per-user state
    // (funnel stages, sessions, cohorts, attribution) grows 10x while
    // the day/week support stays calendar-bounded, exactly the shape a
    // grown product would have. ts itself is untouched (nano-as-long:
    // the conf below must be set BEFORE the read; the copy lands as
    // plain INT64, which Tables.table handles identically).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    writeCopies("events", "event_id", "user_id")()
    // remaining tables: straight copies (dims the heavy five don't
    // stress).
    Seq("region", "nation", "customer", "supplier", "orders")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    new java.io.File(s"$out/_DONE").createNewFile()
    ()
  }
}
